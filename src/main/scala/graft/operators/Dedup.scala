package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.functions.TextFunctions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (content fingerprint), exact-similarity via an
  * inverted shingle index, MinHash+LSH, and SimHash.
  *
  * Scale design notes (target: 100 TB of documents, 1000 executors):
  *   - Signatures (MinHash, SimHash) are single-projection expressions —
  *     zero shuffles to compute; the only shuffles are the groupBy/join
  *     on *candidate keys* (fingerprint, band hash), which is the
  *     theoretical minimum communication for the problem.
  *   - Candidate generation is always index-based (equi-join on a short
  *     key); nothing here is O(n²) in documents.
  *   - `maxDocFreq` optionally drops ubiquitous shingles before the
  *     inverted-index join — the standard skew guard when a boilerplate
  *     shingle would otherwise create a quadratic hot key.
  *   - The banded families (MinHash, SimHash, pHash) share one index
  *     layout, [[BandIndex]]: each family supplies only its banded
  *     projection and its pair score. The pair walks run one native
  *     kernel each (plans.JaccardBucketPairs / PackedBucketPairs) on one
  *     path: ids must be bigint, and any other id type is refused up
  *     front rather than cast.
  */
object Dedup {
  import BandIndex.BandPlan

  /** Named defaults shared between the Spark operators and the DuckDB
    * oracle templates (the `queries` gate families): deriving the oracle's
    * constants from the same definitions keeps the two sides in lockstep —
    * changing a default here regenerates the matching oracle SQL instead
    * of silently desynchronizing the gate. */
  val DefaultShingleN = 3
  val DefaultMinhashK = 64
  val DefaultMinhashBands = 16
  val DefaultMinhashThreshold = 0.5
  val DefaultCandThreshold = 0.3
  val DefaultSimhashBits = 64
  /** 4 × 16-bit bands (round 13; was 8 × 8): losslessness at the
    * DefaultMaxHamming = 3 contract needs only > 3 bands (pigeonhole),
    * and the RETURNED set is filtered to ≤ 3 regardless — so the four
    * extra bands of the 8 × 8 cut bought nothing while capping the
    * (band, bkey) universe at 8·2^8 = 2,048 (the structural ceiling the
    * round-12 verdict flagged for pHash, measured here too: 1,209 of
    * 2,048 occupied at sf0.1, hottest 1,338 — random 8-bit collisions,
    * not duplication). 4 × 16 is equally lossless with a 262,144-key
    * universe: identical final pairs (both schemes lossless ⊆ the exact
    * Hamming filter), ~256× fewer random collisions, half the band
    * rows. Beyond ~67M docs, [[BandIndex.planFor]] climbs to the
    * 2 × 32 multiprobe rung. */
  val DefaultSimhashBands = 4
  val DefaultSimhashPlan: BandPlan = BandPlan(DefaultSimhashBits, DefaultSimhashBands)
  val DefaultMaxHamming = 3

  /** Default skew-guard posture for the inverted-index join: drop
    * shingles present in more than 10% of documents (boilerplate — a
    * quadratic hot key in the posting-list join), but never drop a
    * shingle shared by ≤ `MinDocFreqFloor` docs (tiny corpora and genuine
    * duplicate groups must keep their evidence). Relative, so the guard
    * survives a 100× corpus scale-up where any absolute cutoff goes
    * stale. */
  val DefaultMaxDocFreqFraction = 0.1
  val MinDocFreqFloor = 5L

  /** Hot-bucket occupancy guard (ON by default): an LSH band bucket
    * with more members than this switches from exact pair enumeration
    * (O(m²) candidate structs inside ONE aggregation row — an executor
    * OOM when a 100k-member boilerplate cluster lands in one bucket) to
    * survivor-pairs + representative chains, bounding per-bucket work
    * at O(cap² + m). The floor is above any bucket the gated fixtures
    * produce (OccupancyProbe: minhash bands max 4; simhash bands max
    * 1338 at sf0.1 — SimHash slices are far more collision-prone), so
    * at tested scales the guard is dormant and every cross-engine gate
    * takes the bit-identical exact branch — the same floor-off
    * contract as the doc-freq guard above. A boundary-sized exact
    * bucket costs cap²/2 compact ~50 B pair structs (~100 MB
    * transient), which is the accepted worst case for keeping the
    * sf0.1 gates exact. */
  val DefaultMaxBucket = 2048

  /** Span-dedup posture: index 8-token positional shingles and report
    * shared runs of at least 12 tokens. 8 is long enough that chance
    * collisions are negligible yet short enough that any 12-token
    * duplicated span contains ≥5 matching shingles on one diagonal. */
  val DefaultSpanK = 8
  val DefaultMinSpanTokens = 12

  /** Exact dedup groups by content fingerprint (md5 of the raw text).
    * One hash-aggregate; map-side partial aggregation keeps the shuffle
    * proportional to the number of *distinct* documents. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("canonical_id"))

  /** Near-duplicate pairs by exact n-gram Jaccard, generated through an
    * inverted shingle index (shingle → posting list) instead of a
    * cartesian product: docs sharing no shingle are never paired.
    * Jaccard is |common| / (|A| + |B| - |common|) — computed from
    * counts, so the expensive array ops happen once per document, not
    * per pair. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, threshold: Double = DefaultMinhashThreshold,
      maxDocFreq: Option[Long] = None,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction)): DataFrame = {
    // explode_OUTER + null-drop, NOT explode: InferFiltersFromGenerate
    // infers (size(sh) > 0 AND isnotnull(sh)) from a non-outer explode
    // and predicate pushdown SUBSTITUTES the whole shingle HOF tree into
    // that filter with the split() re-inlined per element_at reference —
    // an O(tokens²) re-tokenization per document evaluated on every
    // source row (measured 6.1 s vs 0.3 s for this projection alone at
    // sf0.1). The outer form is excluded from that rule; empty-shingle
    // docs surface as one null row, dropped here (and a null could
    // never join/aggregate into a pair anyway).
    val sh = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), shinglesFromTokens(col("toks"), n).as("sh"))
      .select(col("doc"), size(col("sh")).as("n_sh"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    // Skew guard (ON by default): drop shingles whose posting list
    // exceeds the limit — min of the absolute cap and the relative cap,
    // the latter floored at MinDocFreqFloor. The relative limit is a
    // 1-row broadcast computed IN-PLAN from count(docs): no driver-side
    // action, and the fraction stays meaningful at any corpus size.
    // Guarding under-counts `common` for pairs sharing a dropped shingle
    // (na/nb keep the full shingle counts), so it can only LOWER a
    // pair's jaccard — prune-only, never inventing pairs.
    val posting = (maxDocFreq, maxDocFreqFraction) match {
      case (None, None) => sh
      case (abs, frac) =>
        val limitDf = {
          val base = frac match {
            case Some(f) =>
              df.select(greatest(lit(MinDocFreqFloor.toDouble),
                count(lit(1)).cast("double") * f).as("df_limit"))
            case None =>
              df.sparkSession.range(1).select(lit(Double.MaxValue).as("df_limit"))
          }
          abs match {
            case Some(a) => base.select(least(col("df_limit"), lit(a.toDouble)).as("df_limit"))
            case None    => base
          }
        }
        // materialize the raw posting once (lazy localCheckpoint — the
        // positionalPosting recipe): the guard consumes it twice (the
        // doc-freq aggregate and the keep join), and without the pin
        // the full tokenize→shingle scan runs once per consumer
        val shc = sh.localCheckpoint(eager = false)
        val keep = shc.groupBy("s").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(limitDf))
          .filter(col("df") <= col("df_limit")).select("s")
        shc.join(keep, "s")
    }
    // materialize the GUARDED posting once too: the self-join below
    // consumes it on both sides, and exchange reuse cannot unify them
    // (the aggregate's partial phase runs below its exchange) — without
    // the pin the whole posting pipeline executes twice per call
    // (dd_ngram_jaccard's first-ever wall clock, round 14: 7.96 s, was
    // dominated by exactly this)
    val postingC = posting.localCheckpoint(eager = false)
    val a = postingC.as("a")
    val b = postingC.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(
        col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Cross-corpus decontamination: training documents that CONTAIN a
    * large part of some eval/benchmark document — containment =
    * |shingles(train) ∩ shingles(eval)| / |shingles(EVAL)|, the
    * asymmetric overlap a decontamination pass keys on (an eval answer
    * quoted verbatim inside a much longer training document scores 1.0
    * here while symmetric Jaccard stays low). Same inverted-index +
    * relative skew-guard shape as ngramJaccardPairs — nothing
    * cross-corpus is all-pairs; the guard drops shingles ubiquitous in
    * the EVAL corpus (prune-only: it can only lower containment). */
  def contaminationPairs(
      train: DataFrame, evalCorpus: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, threshold: Double = 0.5,
      maxDocFreq: Option[Long] = None,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame = {
    // Postings carry the 60-bit md5 shingle KEY (TextFunctions.shingleKey
    // — the span family's convention since round 9), not the n-token
    // string: the cross-corpus join and the doc-freq guard exchange 8 B
    // per posting instead of 40–80 B, and the key stays oracle-
    // recomputable (('0x' || substr(md5(s),1,15))::BIGINT in DuckDB).
    // `fast = true` swaps xxhash64 for production corpora without a
    // cross-engine gate. The containment DENOMINATOR stays the pre-hash
    // distinct-shingle count (n_sh), so a (negligible, spec-bounded)
    // key collision can only perturb `common` identically cross-engine.
    //
    // The eval side is always broadcast (the production asymmetry: eval/
    // benchmark suites are orders of magnitude smaller than the training
    // corpus, and the doc-freq guard prunes them further): the guarded
    // eval posting rides to every task, so the train posting — the
    // 100 TB side — NEVER shuffles, and the per-(train, eval) match
    // counts collapse in the map-side partial aggregate before the only
    // exchange (pair-sized, not match-sized). A shuffled join would
    // exchange the shingle-match set raw — quadratic-ish in
    // common-phrase density — which profiling showed was this
    // operator's entire >2×-DuckDB gap at sf0.1 (7.5 s → scan-bound).
    contaminationPairsFromIndex(
      train,
      evalPostingIndex(evalCorpus, idCol, textCol, n,
        maxDocFreq, maxDocFreqFraction, fast),
      idCol, textCol, n, threshold, fast)
  }

  /** The EVAL side of [[contaminationPairs]] as a PERSISTABLE index —
    * the decontamination family's entry in the frozen-index convention
    * every other dedup modality carries (BandIndex.build,
    * spanPostingIndex, …): guarded (eval_id, n_sh, h) posting rows,
    * plain columns storable and re-readable as parquet. Eval suites
    * change rarely while training corpora ingest continuously, so
    * production builds this once per benchmark release and every train
    * batch — the O(Δ) side BY CONSTRUCTION here, since the train corpus
    * is always the probe — searches the frozen index. The doc-freq
    * guard and n_sh denominators are build-time decisions, frozen with
    * the index (re-judged only at rebuild). */
  def evalPostingIndex(
      evalCorpus: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN,
      maxDocFreq: Option[Long] = None,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame = {
    // explode_OUTER + null-drop (the ngramJaccardPairs rationale —
    // InferFiltersFromGenerate's pushed filter re-evaluates the shingle
    // tree with split() inlined per reference, O(tokens²)/doc)
    val e0 = evalCorpus
      .select(col(idCol).as("eval_id"), tokens(col(textCol)).as("toks"))
      .select(col("eval_id"), shinglesFromTokens(col("toks"), n).as("sh"))
      .select(col("eval_id"), size(col("sh")).as("n_sh"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("eval_id"), col("n_sh"), shingleKey(col("s"), fast).as("h"))
    (maxDocFreq, maxDocFreqFraction) match {
      case (None, None) => e0
      case (abs, frac) =>
        val limitDf = {
          val base = frac match {
            case Some(f) =>
              evalCorpus.select(greatest(lit(MinDocFreqFloor.toDouble),
                count(lit(1)).cast("double") * f).as("df_limit"))
            case None =>
              evalCorpus.sparkSession.range(1).select(lit(Double.MaxValue).as("df_limit"))
          }
          abs match {
            case Some(a) => base.select(least(col("df_limit"), lit(a.toDouble)).as("df_limit"))
            case None    => base
          }
        }
        // materialize the eval posting projection ONCE (lazy
        // localCheckpoint — the positionalPosting recipe): the guard
        // consumes it twice (doc-freq aggregate + keep join) and the
        // aggregate's partial phase runs below its exchange, so without
        // the checkpoint the eval tokenize→shingle→md5 scan runs once
        // per consumer (the round-13 verdict's measured cost shape for
        // this operator).
        val e0c = e0.localCheckpoint(eager = false)
        val keep = e0c.groupBy("h").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(limitDf))
          .filter(col("df") <= col("df_limit")).select("h")
        e0c.join(keep, "h")
    }
  }

  /** [[contaminationPairs]] against an already-built (possibly
    * parquet-reloaded) [[evalPostingIndex]] — the per-ingest search:
    * the train batch pays one tokenize→shingle→key scan and one
    * broadcast equi-join; the eval corpus is never
    * re-read. Same output contract as the full operator — layout must
    * not change results (proven by the shared oracle of the _idx gate,
    * the convention every persisted index here follows). */
  def contaminationPairsFromIndex(
      train: DataFrame, evalIndex: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, threshold: Double = 0.5,
      fast: Boolean = false): DataFrame = {
    val t = train
      .select(col(idCol).as("train_id"), tokens(col(textCol)).as("toks"))
      .select(col("train_id"), shinglesFromTokens(col("toks"), n).as("sh"))
      .select(col("train_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("train_id"), shingleKey(col("s"), fast).as("h"))
    val e = evalIndex.select(col("eval_id"), col("n_sh"), col("h"))
    t.join(broadcast(e), "h")
      .groupBy(col("train_id"), col("eval_id"), col("n_sh"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", col("common").cast("double") / col("n_sh"))
      .filter(col("containment") >= threshold)
      .select("train_id", "eval_id", "containment")
  }

  /** The pair walks need bigint ids: fail fast, naming the column,
    * rather than casting (a cast could silently merge distinct ids). */
  private[operators] def requireLongId(df: DataFrame, idCol: String, op: String): Unit = {
    val t = df.schema(idCol).dataType
    require(t == org.apache.spark.sql.types.LongType,
      s"$op needs a bigint id column, but '$idCol' is ${t.catalogString}")
  }

  /** The banded LSH index rows (`doc, sig, band, bkey`) minhashPairs
    * buckets on — exposed as the occupancy-observability surface (feed
    * to `Occupancy.stats(_, cap, "band", "bkey")` to see the skew regime
    * the hot-bucket guard would face). `carry` names columns of `df`
    * passed through after `doc` (the streaming twin's event time); the
    * default carries none. */
  def minhashBanded(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK,
      bands: Int = DefaultMinhashBands,
      fast: Boolean = false, carry: Seq[String] = Nil): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // codegen'd Catalyst expression (graft.plans.MinHashSignature) —
    // bit-identical to the test-side HOF reference
    // ReferenceModels.minhashSignature, but the k×n loop compiles
    // instead of interpreting. `fast` swaps the md5-derived base hash
    // for xxhash64 (the production mode when no cross-engine oracle is
    // needed; see TextFunctions.baseHash).
    val sigCol = NativeFunctions.minhash(shinglesFromTokens(col("toks"), n), k, fast)
    val kept = carry.map(col)
    val sig = df
      .select(col(idCol).as("doc") +: kept :+ tokens(col(textCol)).as("toks"): _*)
      // docs shorter than the shingle width have NO shingles; left in,
      // they would all share the identity signature and spuriously pair
      // with each other at est_jaccard = 1.0
      .filter(size(col("toks")) >= n)
      .select(col("doc") +: kept :+ sigCol.as("sig"): _*)
    // band keys in one projection: each signature slice rendered as a
    // string (not hashed — the join key must be recomputable by the
    // DuckDB oracle, and the slice itself is exactly as shuffle-compact
    // at r=4 components)
    // posexplode_OUTER + null-drop (see packedSignatureBanded): a
    // non-outer generate's inferred filter would substitute the full
    // graft_minhash expression and re-evaluate it twice more per row
    sig.select(col("doc") +: kept :+ col("sig") :+
      posexplode_outer(transform(sequence(lit(0), lit(bands - 1)), i =>
        array_join(slice(col("sig"), i * r + 1, lit(r)).cast("array<string>"), "_")))
        .as(Seq("band", "bkey")): _*)
      .filter(col("band").isNotNull)
  }

  /** MinHash + LSH near-duplicate pairs. k-component signatures are cut
    * into `bands` bands of k/bands rows; documents colliding in any band
    * become candidates; candidates are scored by signature-estimated
    * Jaccard. With k=64, bands=16 (r=4) the LSH S-curve crosses ~0.5 —
    * tuned for finding ≥0.8-similar training-corpus duplicates. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK,
      bands: Int = DefaultMinhashBands,
      threshold: Double = DefaultMinhashThreshold,
      fast: Boolean = false,
      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    maxBucket.foreach(cap => require(cap >= 2, "maxBucket must be >= 2"))
    requireLongId(df, idCol, "minhashPairs")
    val r = k / bands
    // the walk scores by estimated Jaccard and pushes the threshold
    // inside the loop; the Filter below keeps the plan's contract explicit
    BandIndex.pairs(minhashBanded(df, idCol, textCol, n, k, bands, fast),
      (ms, band) => NativeFunctions.jaccardPairs(ms, band, r,
        maxBucket.getOrElse(-1), threshold))
      .filter(col("score") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("score").as("est_jaccard"))
  }

  /** INCREMENTAL MinHash dedup: near-duplicate pairs between a NEW
    * batch (`delta`) and an EXISTING corpus — the shape a 100 TB
    * pipeline actually runs on every ingest, where re-banding the whole
    * corpus daily is the difference between O(|delta|) and O(|corpus|)
    * signature work. The corpus side is its banded index
    * (`BandIndex.build(minhashBanded(corpus))`, built in-plan, persisted
    * as parquet, or a `BandIndex.write` table — plain columns, so the
    * stored index IS that DataFrame); the delta pays one signature
    * projection and one [[BandIndex.probe]]. Within-delta duplicates
    * are `minhashPairs(delta)`, composable on top. The band cut must
    * match the index's. */
  def minhashPairsIncremental(
      delta: DataFrame, corpusIndex: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK,
      bands: Int = DefaultMinhashBands,
      threshold: Double = DefaultMinhashThreshold,
      fast: Boolean = false): DataFrame =
    BandIndex.probe(minhashBanded(delta, idCol, textCol, n, k, bands, fast),
      corpusIndex, estJaccard)
      .filter(col("score") >= threshold)
      .select(col("delta_id"), col("corpus_id"), col("score").as("est_jaccard"))

  /** MinHash LSH candidates re-ranked by *exact* n-gram Jaccard — the
    * standard production dedup pipeline: LSH bounds the candidate set
    * (recall), the exact join-back gives precision. `candThreshold` is
    * the permissive signature-estimate cut; `threshold` is the exact
    * cut. Cost: the shingle arrays are joined back only for candidate
    * pairs (≪ n²). */
  def minhashPairsVerified(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK,
      bands: Int = DefaultMinhashBands,
      candThreshold: Double = DefaultCandThreshold,
      threshold: Double = DefaultMinhashThreshold): DataFrame = {
    val cands = minhashPairs(df, idCol, textCol, n, k, bands, candThreshold)
      .select("doc_a", "doc_b")
    val sh = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), shinglesFromTokens(col("toks"), n).as("sh"))
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edge-count bound under which [[duplicateClusters]] resolves the
    * component labels ON THE DRIVER (union-find over the collected edge
    * list) instead of running the distributed propagation loop.
    * Near-duplicate pair graphs are overwhelmingly TINY relative to
    * their corpus (duplicate groups of a few members), while every
    * propagation round costs ~3 scheduled jobs plus a driver re-plan —
    * measured at sf0.1 as ~1.5-2 s of dd_clusters' 2.5-3 s wall for a
    * graph of a few hundred edges. The bound keeps the union-find input
    * broadcast-sized (16 B/pair ⇒ ≤ ~1.6 MB), the same scale contract as
    * the IVF centroid / Bloom-filter driver collects; past it the loop
    * runs unchanged. */
  val CcDriverMaxEdges: Long = 200000L

  /** Connected components over a near-duplicate pair graph → duplicate
    * CLUSTERS with a canonical representative (the minimum doc id in the
    * component) — what a production dedup actually keeps/drops, beyond
    * raw pairs. A graph of long ids with at most [[CcDriverMaxEdges]]
    * directed edges (half as many pairs) resolves in one driver-side
    * union-find pass over the pairs, fetched by ONE bounded action: each
    * partition returns at most `CcDriverMaxEdges / 2 + 1` pairs, so the
    * fetch never holds more than that per partition and a graph over the
    * bound shows as more pairs than it allows. The fallback builds the
    * symmetric edge list, stages it and runs [[propagateLabels]]; it
    * runs when the ids are not bigint (decided from the schema, before
    * any job) or the graph is over the bound (the pairs are then
    * computed again for the staging). Both return the same converged
    * min-label components (differential-spec'd in
    * DuplicateClustersDriverSpec). `maxIters` bounds the loop only. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    def loop(): DataFrame = propagateLabels(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(eager = true), maxIters)
    val ab = pairs.select(col("doc_a"), col("doc_b"))
    if (!ab.schema.forall(_.dataType == LongType)) return loop()
    val maxPairs = CcDriverMaxEdges / 2
    val bound = (maxPairs + 1).toInt
    val es = ab.as[(Long, Long)].mapPartitions(_.take(bound)).collect()
    if (es.length > maxPairs) return loop()
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var i = 0
    while (i < es.length) {
      val (s, d) = es(i)
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val rs = find(s); val rd = find(d)
      if (rs != rd) parent.put(math.max(rs, rd), math.min(rs, rd))
      i += 1
    }
    // component label = min member id: with min-root unions the root
    // IS the component minimum
    val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) { val doc = it.next(); labels += ((doc, find(doc))) }
    labels.toSeq.toDF("doc_id", "cluster_id")
  }

  /** Distributed connected components over symmetric (src, dst) edges:
    * iterative min-label propagation — each round every doc takes the
    * min of its own label and its neighbors' labels, so labels converge
    * to the component minimum in O(graph diameter) rounds. Each round is
    * one shuffle join + one aggregation over the EDGE list (never
    * materializing anything quadratic); a pin + a driver-side
    * convergence count per round bounds lineage — the standard
    * structure of distributed iterative graph algorithms (GraphX's
    * connected components does the same under the hood). Near-dup
    * components are overwhelmingly tiny (duplicate groups), so rounds ≈
    * 2-4 in practice; `maxIters` is a runaway bound, not a tuning knob.
    * Output (doc_id, cluster_id). */
  private[operators] def propagateLabels(edges: DataFrame, maxIters: Int): DataFrame = {
    // localCheckpoint per round, not persist: caching truncates
    // recomputation but NOT the logical plan, which otherwise grows
    // exponentially across rounds (each round references the previous
    // labels twice) until even rendering it for AQE OOMs the driver —
    // the standard iterative-algorithm failure GraphX solves the same
    // way.
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .localCheckpoint(eager = true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("doc"))
        .agg(min("label").as("nlabel"))
      val next = labels.withColumnRenamed("label", "old")
        .join(neighborMin, "doc")
        .select(col("doc"), least(col("old"), col("nlabel")).as("label"), col("old"))
        .localCheckpoint(eager = true)
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("doc", "label")
      iter += 1
    }
    labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
  }

  /** O(Δ) duplicate-cluster MAINTENANCE — the ingest twin of
    * [[duplicateClusters]], completing the incremental family for the
    * clustering stage (pairs have *PairsIncremental; the labels a
    * curation pipeline persists need merging too, not a full re-run of
    * label propagation over 100 TB of edges): given the standing
    * corpus's persisted (doc_id, cluster_id) labels and the NEW pairs a
    * delta introduced (delta↔corpus and delta↔delta — the incremental
    * pair operators' output), returns updated labels over
    * labels ∪ delta docs, row-for-row equal to a from-scratch
    * [[duplicateClusters]] over the union pair graph.
    *
    * Why equality holds: old components are already collapsed to their
    * min-id label, so the union graph's components are exactly the
    * label-level components of the NEW edges (each old component one
    * node, each previously-unseen doc its own node), and the merged
    * component minimum is the min over those labels — which min-label
    * propagation over the label graph computes. New pairs between two
    * members of one old component collapse to a self-loop and drop.
    *
    * Scale shape: everything delta-sized happens on the label graph
    * (≤ 2·|new pairs| nodes — [[duplicateClusters]] over it is the
    * tiny-graph loop); the corpus-sized `labels` frame is touched by
    * ONE projection with the (label → merged label) mapping joined as
    * a broadcast — the standing labels never shuffle. Dormant posture
    * (a delta with no new pairs) returns the labels unchanged without
    * any join at all. */
  def mergeClustersIncremental(labels: DataFrame, newPairs: DataFrame,
      maxIters: Int = 25): DataFrame = {
    val parts = clusterMergeParts(labels, newPairs, maxIters)
    val freshLabels =
      parts.fresh.select(col("doc").as("doc_id"), col("doc").as("cluster_id"))
    if (parts.mapping.isEmpty) return labels.unionByName(freshLabels)
    // ONE broadcast-mapped projection rewrites affected labels; the
    // standing labels never shuffle
    labels.unionByName(freshLabels)
      .join(broadcast(parts.mapping), col("cluster_id") === col("old_lab"), "left")
      .select(col("doc_id"),
        coalesce(col("new_lab"), col("cluster_id")).as("cluster_id"))
  }

  /** The delta-sized building blocks of the incremental cluster merge,
    * shared by [[mergeClustersIncremental]] and the keep-best state
    * maintenance: `mapping (old_lab, new_lab)` — the label-level
    * component collapse the new pairs induce; `nodeLab (doc, lab)` —
    * each delta-touched doc's PRE-merge label; `fresh (doc)` —
    * previously-unseen docs. All three are ≤ 2·|new pairs| rows and
    * checkpointed; the corpus `labels` frame contributes one streaming
    * inner probe against a broadcast node set and never shuffles. */
  private[operators] case class ClusterMergeParts(
      mapping: DataFrame, nodeLab: DataFrame, fresh: DataFrame)

  private[operators] def clusterMergeParts(labels: DataFrame,
      newPairs: DataFrame, maxIters: Int = 25): ClusterMergeParts = {
    val lab = labels.select(col("doc_id").as("doc"), col("cluster_id"))
    // current label of every node the delta touches: the standing
    // labels STREAM past a broadcast of the (delta-sized) node set —
    // an inner probe, never an outer join that would have to broadcast
    // or shuffle the corpus side; unseen nodes self-label from the
    // (tiny × tiny) anti join on the probe result
    val nodes = newPairs.select(col("doc_a").as("doc"))
      .union(newPairs.select(col("doc_b").as("doc"))).distinct()
      .localCheckpoint(eager = false)
    val matched = lab.join(broadcast(nodes), Seq("doc"))
      .localCheckpoint(eager = false) // ≤ |nodes| rows
    val fresh = nodes
      .join(broadcast(matched.select(col("doc"))), Seq("doc"), "left_anti")
      .localCheckpoint(eager = false)
    val nodeLab = matched.select(col("doc"), col("cluster_id").as("lab"))
      .unionByName(fresh.select(col("doc"), col("doc").as("lab")))
      .localCheckpoint(eager = false)
    // label-level edges: tiny, so the iterative propagation is cheap
    val labelEdges = newPairs
      .join(broadcast(nodeLab.select(col("doc").as("doc_a"), col("lab").as("la"))), Seq("doc_a"))
      .join(broadcast(nodeLab.select(col("doc").as("doc_b"), col("lab").as("lb"))), Seq("doc_b"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")).distinct()
      .localCheckpoint(eager = false)
    val mapping =
      if (labelEdges.isEmpty)
        labelEdges.select(col("doc_a").as("old_lab"), col("doc_b").as("new_lab"))
      else duplicateClusters(labelEdges, maxIters)
        .select(col("doc_id").as("old_lab"), col("cluster_id").as("new_lab"))
        .localCheckpoint(eager = false)
    ClusterMergeParts(mapping, nodeLab, fresh)
  }

  // ---- PACKED (≤ 64-bit) signature family ----------------------------
  //
  // A signature short enough for one long (SimHash, the 63-bit
  // perceptual hash) should never ride the array machinery: packing bit
  // i of the signature into bit i of a LONG shrinks the shuffled payload
  // from a ~250-byte bit-array struct to 8 bytes, turns the Hamming
  // score into bit_count(a XOR b) (one instruction span vs a 63-element
  // zip), and turns band keys into shift+mask integers instead of joined
  // strings. The band-b key covers signature positions [b·r, b·r+r) —
  // the same position partition as contiguous array slices — so the
  // candidate set, survivor logic, and scores are identical bit-for-bit
  // to the bit-array form and an oracle written against either matches.
  // The band cut is a [[BandIndex.BandPlan]].

  /** Band-explode a PRECOMPUTED signature table whose signature is
    * packed into one long (`sigCol`, bit i = signature position i,
    * `plan.bits` ≤ 64) into the family's (doc, sig, band, bkey) rows at
    * `plan`'s band cut, with integer `bkey` — so non-text modalities
    * (the perceptual image hash) ride the same index as SimHash. A full
    * 64-bit signature may put bit 63 in the sign position — safe
    * throughout: xor and bit_count are sign-agnostic, and the band
    * slice is an ARITHMETIC shift masked to r bits, whose kept positions
    * [0, r) carry the true bits [b·r, b·r+r) for every band that tiles
    * the word (sign fill only reaches positions ≥ 64 − b·r, all masked
    * away). Multiprobe never changes these rows. `carry` names columns
    * of `sigs` passed through after `doc` (the streaming twins' event
    * time); the default carries none. */
  def packedSignatureBanded(sigs: DataFrame, idCol: String, sigCol: String,
      plan: BandPlan, carry: Seq[String] = Nil): DataFrame = {
    val r = plan.r
    val kept = carry.map(col)
    val mask = (1L << r) - 1
    // posexplode_OUTER + null-drop: a non-outer generate feeds
    // InferFiltersFromGenerate, and pushdown substitutes `sig`'s whole
    // defining expression (a full signature computation) into the
    // inferred (size > 0, isnotnull) filter — two extra signature
    // evaluations per row (see ngramJaccardPairs). The band array is
    // never empty (bands ≥ 1), so the filter drops nothing.
    sigs.select(col(idCol).as("doc") +: kept :+ col(sigCol).cast("long").as("sig"): _*)
      .select(col("doc") +: kept :+ col("sig") :+
        posexplode_outer(transform(sequence(lit(0), lit(plan.bands - 1)), b =>
          call_function("shiftright", col("sig"), (b * r).cast("int"))
            .bitwiseAND(lit(mask))))
          .as(Seq("band", "bkey")): _*)
      .filter(col("band").isNotNull)
  }

  private val hamming: (Column, Column) => Column = (a, b) => bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs over a precomputed packed signature table,
    * Hamming-scored. At a plan without flips this is the banded
    * candidate walk ([[BandIndex.pairs]] — one bucket pass,
    * first-colliding-band dedup, hot-bucket cap) with slices and score
    * fused into long bit arithmetic; a multiprobe plan runs
    * [[BandIndex.probePairs]] with the cap on the exact side. Output
    * (doc_a, doc_b, score = Hamming distance). `maxScore` (when set)
    * keeps only pairs with `score <= maxScore` — inside the walk, so
    * non-qualifying pairs are never materialized as rows. */
  def packedSignaturePairs(sigs: DataFrame, idCol: String, sigCol: String,
      plan: BandPlan,
      maxBucket: Option[Int] = Some(DefaultMaxBucket),
      maxScore: Option[Int] = None): DataFrame = {
    maxBucket.foreach(cap => require(cap >= 2, "maxBucket must be >= 2"))
    requireLongId(sigs, idCol, "packedSignaturePairs")
    val banded = packedSignatureBanded(sigs, idCol, sigCol, plan)
    if (plan.flips == 0)
      BandIndex.pairs(banded, (ms, band) => NativeFunctions.packedPairs(ms, band,
        plan.r, maxBucket.getOrElse(-1), maxScore.getOrElse(-1)))
    else {
      val ps = BandIndex.probePairs(banded, plan, maxBucket, hamming)
      maxScore.fold(ps)(m => ps.filter(col("score") <= m))
    }
  }

  /** O(Δ) ingest of packed delta signatures against a packed banded
    * index built AT THE SAME BAND CUT (`BandIndex.build(
    * packedSignatureBanded(corpus, …, plan))` or its persisted form):
    * the delta's rows expand to their `plan.flips` probe sets read-side
    * ([[BandIndex.multiprobe]]), so a bucketed index still shuffles
    * nothing corpus-side. Output (delta_id, corpus_id, score = Hamming
    * distance); threshold at the caller. */
  def packedSignaturePairsIncremental(deltaSigs: DataFrame,
      corpusIndex: DataFrame, idCol: String, sigCol: String,
      plan: BandPlan): DataFrame =
    BandIndex.probe(
      BandIndex.multiprobe(packedSignatureBanded(deltaSigs, idCol, sigCol, plan), plan),
      corpusIndex, hamming)

  /** The Hamming families' shared tail: refuse a plan that is lossy at
    * `maxHamming` (pigeonhole: bands·(flips+1) must exceed it), keep the
    * pairs within it, and name the score `hamming`. */
  private[operators] def withinHamming(plan: BandPlan, maxHamming: Int)(
      scored: DataFrame): DataFrame = {
    require(plan.losslessMaxHamming >= maxHamming,
      s"plan $plan is lossy at maxHamming=$maxHamming " +
        s"(covers <= ${plan.losslessMaxHamming})")
    scored.filter(col("score") <= maxHamming).withColumnRenamed("score", "hamming")
  }

  /** SimHash near-duplicate pairs: 64-bit token-weight signatures,
    * banded at `plan` for candidate generation (a pair within
    * `maxHamming` of each other must agree on at least one band when
    * bands > maxHamming, or within `flips` bits on one band under
    * multiprobe), then exact Hamming filter. The default 4 × 16 plan
    * serves up to ~67M docs; [[BandIndex.planFor]] picks the rung for a
    * corpus size.
    *
    * PACKED execution (round 13): the signature rides one long through
    * banding and the bucket walk — identical candidates, survivors and
    * scores to the bit-array form by the packed machinery's position-
    * partition contract (spec-anchored differentially), but each
    * surviving pair costs one XOR+POPCNT instead of a 64-element
    * interpreted zip and each band key is a shift+mask integer instead
    * of a joined string. Measured at sf0.1: the array walk spent 27s of
    * dd_simhash's 31s inside the interpreted per-pair lambdas. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      plan: BandPlan = DefaultSimhashPlan,
      maxHamming: Int = DefaultMaxHamming, minTokens: Int = 1,
      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    packedSignaturePairs(
      simhashPackedSigs(df, idCol, textCol, plan.bits, minTokens),
      "doc", "sig", plan, maxBucket, maxScore = Some(maxHamming))
      .transform(withinHamming(plan, maxHamming))

  /** (doc, sig: long) packed SimHash signatures — the 64 classic
    * SimHash votes folded into one long (bit i = signature position i). */
  private def simhashPackedSigs(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int, minTokens: Int): DataFrame = {
    // codegen'd Catalyst expression (graft.plans.SimHash64) —
    // bit-identical to the test-side ReferenceModels' HOF SimHash by
    // differential spec, but the 64-vote loop compiles instead of
    // interpreting 64 per-bit expression trees per token (profiled at
    // ~5 s of dd_simhash's 6 s at sf0.1; the md5 calls themselves — the
    // cross-engine-verifiability anchor — are negligible).
    require(bits == 64, s"SimHash signatures are 64 bits; bits = $bits is not supported")
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      // degenerate-doc guard: tokens('') = [''] so every empty/whitespace
      // doc would share one signature, spuriously pairing at hamming 0 —
      // and at scale a mass of degenerate docs is one LSH bucket with a
      // B² pair blowup. Require ≥ minTokens non-empty tokens.
      .filter(size(array_remove(col("toks"), "")) >= minTokens)
      .select(col("doc"), NativeFunctions.simhash64(col("toks")).as("sig"))
  }

  /** INCREMENTAL SimHash dedup: near-duplicate (delta, corpus) pairs by
    * signature Hamming distance — [[minhashPairsIncremental]]'s shape
    * (spans have [[sharedSpansIncremental]]). The corpus side is its
    * banded index at the same `plan` cut (`BandIndex.build(
    * simhashBanded(corpus))` or its persisted form — the build-time cap
    * is load-bearing here: an r-bit band key has ≤ 2^r values); the delta
    * pays one signature pass and one [[BandIndex.probe]], multiprobed
    * when the plan has flips. */
  def simhashPairsIncremental(
      delta: DataFrame, corpusIndex: DataFrame, idCol: String, textCol: String,
      plan: BandPlan = DefaultSimhashPlan,
      maxHamming: Int = DefaultMaxHamming, minTokens: Int = 1): DataFrame =
    packedSignaturePairsIncremental(
      simhashPackedSigs(delta, idCol, textCol, plan.bits, minTokens),
      corpusIndex, "doc", "sig", plan)
      .transform(withinHamming(plan, maxHamming))

  /** SimHash's banded index rows — the occupancy-observability surface,
    * mirroring `minhashBanded`, and the rows a SimHash index is built
    * from. SimHash bands are far more collision-prone than MinHash bands
    * (an r-bit slice has ≤ 2^r distinct values and real token
    * distributions skew them), so this is the projection to watch on
    * clustered corpora. PACKED layout since round 13: (doc, sig: long,
    * band, bkey: long) — the pHash index shape; a persisted pre-round-13
    * array-form index is rebuilt, not read. */
  def simhashBanded(
      df: DataFrame, idCol: String, textCol: String,
      plan: BandPlan = DefaultSimhashPlan,
      minTokens: Int = 1): DataFrame =
    packedSignatureBanded(
      simhashPackedSigs(df, idCol, textCol, plan.bits, minTokens),
      "doc", "sig", plan)

  /** Per-duplicate-cluster representative selection — the "keep the
    * BEST copy" finalization a curation pipeline actually wants
    * (min-id or first-seen representatives silently discard the
    * best-written member of each duplicate group): connected components
    * over `pairs`, each component keeping its maximum-quality member
    * (ties to the smaller id), unclustered documents keeping themselves.
    *
    * One kept row per cluster: (doc_id, cluster_size, quality_score).
    *
    * Scale shape: quality is the single-pass TextAnalysis projection;
    * the component labels ride `duplicateClusters` (edge-list min-label
    * propagation — never quadratic); the argmax is a map-side-combinable
    * `max` over a 2-field struct, NOT a window — a pathological
    * million-member duplicate cluster costs O(1) aggregation state per
    * task, not an O(cluster) sort partition. */
  def keepBestPerCluster(
      docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame =
    keepBestState(docs, idCol, textCol, pairs)
      .select(col("doc_id"), col("cluster_size"), col("quality_score"))

  /** [[keepBestPerCluster]] WITH the cluster key — the PERSISTABLE form
    * of the survivor set: (cluster_id, doc_id = best member,
    * quality_score, cluster_size), one row per cluster including
    * singletons (cluster_id = own id). This is the state
    * [[keepBestStateIncremental]] maintains under ingest; the plain
    * keep-best view is its cluster_id-free projection. */
  def keepBestState(
      docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame =
    keepBestStateScored(
      TextAnalysis.qualityScore(docs, idCol, textCol)
        .select(col(idCol).cast("long").as("doc_id"), col("quality_score")),
      pairs)

  /** [[keepBestState]] with a CALLER-SUPPLIED quality frame
    * (`doc_id`, `quality_score`) — the modality-agnostic core: text
    * passes the heuristic quality projection, image curation passes
    * decoded pixel counts ([[PerceptualHash]]'s keep-largest), any
    * other signal (model score, recency) rides the same per-cluster
    * argmax. One row per cluster incl. singletons. */
  def keepBestStateScored(scored: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("doc_id").as("cdoc"), col("cluster_id"))
    scored
      .select(col("doc_id").cast("long").as("doc_id"), col("quality_score"))
      .join(clusters, col("doc_id") === col("cdoc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"),
        col("quality_score"))
      .groupBy("cid")
      .agg(
        count(lit(1)).as("cluster_size"),
        // lexicographic struct max = (max quality, then max -id = min id)
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nid")))
          .as("best"))
      .select(
        col("cid").as("cluster_id"),
        (-col("best.nid")).as("doc_id"),
        col("best.q").as("quality_score"),
        col("cluster_size"))
  }

  /** O(Δ) keep-best MAINTENANCE — the survivor set a curation pipeline
    * actually persists, updated under ingest without re-scoring the
    * corpus: given the standing [[keepBestState]], the standing pair
    * labels ([[duplicateClusters]] over the old pair graph), a NEW
    * document batch, and the new pairs it introduced, returns the
    * updated state — row-for-row equal to a from-scratch
    * [[keepBestState]] over corpus ∪ delta.
    *
    * Why equality holds: a merged component's best is the (quality,
    * −id)-max over its members, and the old per-cluster bests DOMINATE
    * their members — so max(old component bests, delta member scores)
    * is the merged best; sizes add (old per-cluster counts + delta
    * members). Quality is a per-document closed form (no corpus
    * statistics), so delta scores computed alone equal full-run scores.
    *
    * Scale shape: only the delta is scored; the merge mapping and node
    * labels are the delta-sized [[clusterMergeParts]]; the standing
    * state streams twice (a broadcast semi/anti split into affected vs
    * untouched rows) and only the AFFECTED rows — bounded by the
    * delta's reach — enter the re-aggregation. The corpus text is
    * never read. */
  def keepBestStateIncremental(
      state: DataFrame, labels: DataFrame,
      delta: DataFrame, idCol: String, textCol: String,
      newPairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val parts = clusterMergeParts(labels, newPairs, maxIters)
    // each delta-touched node's POST-merge cluster
    val nodeNew = parts.nodeLab
      .join(broadcast(parts.mapping), col("lab") === col("old_lab"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("new_lab"), col("lab")).as("cid"))
      .localCheckpoint(eager = false)
    val deltaRows = TextAnalysis.qualityScore(delta, idCol, textCol)
      .select(col(idCol).cast("long").as("doc_id"), col("quality_score"))
      .join(broadcast(nodeNew), Seq("doc_id"), "left")
      .select(coalesce(col("cid"), col("doc_id")).as("cid"),
        col("doc_id"), col("quality_score"), lit(1L).as("cluster_size"))
    val affectedKeys = parts.mapping.select(col("old_lab")).distinct()
    val untouched = state
      .join(broadcast(affectedKeys), col("cluster_id") === col("old_lab"), "left_anti")
    val affected = state
      .join(broadcast(parts.mapping), col("cluster_id") === col("old_lab"))
      .select(col("new_lab").as("cid"), col("doc_id"),
        col("quality_score"), col("cluster_size"))
    val merged = affected.unionByName(deltaRows)
      .groupBy("cid")
      .agg(
        sum("cluster_size").as("cluster_size"),
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nid")))
          .as("best"))
      .select(col("cid").as("cluster_id"), (-col("best.nid")).as("doc_id"),
        col("best.q").as("quality_score"), col("cluster_size"))
    untouched.unionByName(merged)
  }

  /** Shared-SPAN detection — the "duplicated substring" dedup family
    * (contiguous copied passages across otherwise-distinct documents:
    * boilerplate headers, quoted paragraphs, licence blocks), which
    * document-level Jaccard/MinHash misses whenever the copied span is a
    * small fraction of both documents.
    *
    * Method: positional k-token shingle inverted index → equi-join on
    * the shingle string → matches at constant diagonal (posA − posB)
    * with consecutive positions are one shared run; gaps-and-islands
    * (pos − row_number per diagonal) merges them into maximal spans of
    * length run + k − 1. Output: one row per document pair with at least
    * one shared span ≥ `minSpanTokens` — (doc_a, doc_b, n_spans,
    * max_span, start_a, start_b), the start columns locating the longest
    * span (ties: earliest in a, then earliest in b).
    *
    * Scale shape (100 TB): candidate generation is the same inverted-
    * index equi-join as `ngramJaccardPairs` — never O(n²) in documents —
    * with the same relative doc-freq skew guard ON by default (a
    * boilerplate shingle present in >10% of docs is dropped BEFORE the
    * join; a span whose interior crosses only dropped shingles splits or
    * disappears, i.e. the guard under-reports, never invents). The
    * gaps-and-islands window partitions by (pair, diagonal) — bounded by
    * the shorter document's length, never corpus-sized — and the final
    * per-pair argmax is a map-side-combinable struct `max`, not a second
    * window.
    *
    * Residual-cost note (round-12 re-profile at sf0.1, warmed JVM, each
    * stage timed on its own): sharedSpans measures 1.97 s, of which the
    * posting projection ALONE — tokenize → positional shingles →
    * shingle hash, before ANY join or fold — is 1.28 s (65%); the
    * match join + island fold + per-pair argmax is the remaining
    * ~0.7 s. The md5-vs-xxhash delta inside the posting pass is
    * ~0.22 s (the deliberate cross-engine verifiability trade
    * documented at [[graft.functions.TextFunctions.baseHash]]); the
    * bulk is the tokenize/shingle scan itself, which every formulation
    * of the problem pays. Re-cutting the match shuffle (packing
    * (diag, pos) into one long) targets only the minor 0.7 s region —
    * measured, then deliberately NOT taken: the span gates' 2×-DuckDB
    * residual is scan-bound, not shuffle-bound. Production corpora
    * without a DuckDB gate should pass `fast = true` (xxhash64, ≈10×
    * cheaper per shingle). Cross-SF scaling stays sublinear (the
    * committed bench artifact's `scaling` field). */
  def sharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame =
    spanFold(selfSpanMatches(df, idCol, textCol, k, maxDocFreqFraction, fast),
      k, minSpanTokens)

  /** INCREMENTAL shared-span detection: maximal duplicated token runs
    * between a NEW batch (`delta`) and an EXISTING corpus — the span
    * twin of [[minhashPairsIncremental]], closing the "span family is
    * full-corpus only" gap: per ingest the new batch pays O(|delta|)
    * shingle work against the corpus's persistable positional posting
    * index (which IS the corpus-side [[positionalPosting]] DataFrame:
    * plain (doc, pos, h) columns, storable and re-readable as parquet —
    * nothing here recomputes corpus text).
    *
    * Guard convention mirrors [[contaminationSpans]]: the relative
    * doc-freq prune is computed over the CORPUS side (the persisted
    * index stores its own doc-freqs); the delta side ships unguarded —
    * a shingle is boilerplate by corpus evidence, not by what one new
    * batch happens to contain. Re-ingested docs (same id on both
    * sides) are filtered at the join like `minhashPairsIncremental`.
    * Output: (delta_id, corpus_id, n_spans, max_span, start_delta,
    * start_corpus); with the guard off, the normalized pairs equal the
    * cross-split subset of the full-corpus [[sharedSpans]] run
    * (DedupSpec). */
  def sharedSpansIncremental(
      delta: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame =
    sharedSpansIncrementalFromIndex(
      delta,
      spanPostingIndex(corpus, idCol, textCol, k, maxDocFreqFraction, fast),
      idCol, textCol, k, minSpanTokens, fast)

  /** The corpus side of [[sharedSpansIncremental]] as a PERSISTABLE
    * index: positional postings with the doc-freq guard applied at
    * BUILD time — plain (doc, pos, h) columns, storable and re-readable
    * as parquet (DedupSpec proves the round trip), so an ingest loop
    * pays the corpus shingle pass and guard once per corpus version. */
  def spanPostingIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame =
    positionalPosting(corpus, idCol, textCol, k, maxDocFreqFraction, fast)

  /** Persist the span posting index as a BUCKETED-and-sorted table on
    * the 60-bit shingle key — the shuffle-elimination layout for the
    * O(Δ) ingest loop: every subsequent
    * [[sharedSpansIncrementalFromIndex]] run against
    * `spark.table(table)` shuffles ONLY the delta's postings; the
    * corpus side — the overwhelming bulk at 100 TB — is read bucket-
    * in-place with no exchange (SpanIndexBucketingSpec asserts exactly
    * one h-partitioned exchange in the executed join). The bucket
    * shuffle is paid once here, at index-persist time, like the
    * occupancy caps. */
  def writeSpanPostingIndexBucketed(
      corpus: DataFrame, idCol: String, textCol: String,
      table: String, nBuckets: Int, path: Option[String] = None,
      k: Int = DefaultSpanK,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): Unit =
    graft.store.Bucketing.writeBucketed(
      spanPostingIndex(corpus, idCol, textCol, k, maxDocFreqFraction, fast),
      table, "h", nBuckets, path)

  /** [[sharedSpansIncremental]] against an already-built (possibly
    * persisted-and-reloaded) [[spanPostingIndex]]. */
  def sharedSpansIncrementalFromIndex(
      delta: DataFrame, corpusIndex: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      fast: Boolean = false): DataFrame = {
    val d = positionalPosting(delta, idCol, textCol, k, None, fast)
    val matches = d.as("d").join(corpusIndex.as("c"),
        col("d.h") === col("c.h") && col("d.doc") =!= col("c.doc"))
      .select(
        col("d.doc").as("doc_a"), col("c.doc").as("doc_b"),
        col("d.pos").as("pa"), col("c.pos").as("pb"))
    spanFold(matches, k, minSpanTokens)
      .select(
        col("doc_a").as("delta_id"), col("doc_b").as("corpus_id"),
        col("n_spans"), col("max_span"),
        col("start_a").as("start_delta"), col("start_b").as("start_corpus"))
  }

  /** Positional shingle posting list (doc, pos, h) with the relative
    * doc-freq skew guard. The shingle string itself is hashed to the
    * 60-bit `TextFunctions.shingleKey` IN THIS PROJECTION and never
    * leaves the map side: the k-token string (40–80 B) was the join key
    * exchanged twice per shingle position, and the 8 B key carries the
    * same equi-join (collisions negligible and mirrored bit-for-bit by
    * the DuckDB oracle's md5 expression; `fast` = xxhash64 for
    * production). Positional shingles repeat within a document, so the
    * doc-freq here must be count(DISTINCT doc) — unlike the Jaccard
    * index, whose per-doc-distinct posting lists make plain count()
    * equal. */
  private def positionalPosting(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDocFreqFraction: Option[Double], fast: Boolean = false): DataFrame = {
    // posexplode_OUTER + null-drop (the ngramJaccardPairs rationale):
    // the non-outer form feeds InferFiltersFromGenerate, whose pushed
    // (size > 0, isnotnull) filter re-evaluates the key array twice
    // more per row. Outer emits one null row for a shingle-less doc,
    // dropped here. The keys come from the NATIVE positionalShingleKeys
    // (plans.SpanKeys — round 15): same values as the former
    // shingleKey(positionalShingles(...)) composition, without the
    // interpreted per-position concat_ws lambda or the intermediate
    // shingle strings.
    val sh = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"),
        posexplode_outer(positionalShingleKeys(col("toks"), k, fast)).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
      .select(col("doc"), col("pos"), col("h"))
    maxDocFreqFraction match {
      case None => sh
      case Some(f) =>
        // materialize the posting projection ONCE (lazy localCheckpoint,
        // the bm25 convention): the guard consumes it twice — the
        // doc-freq aggregate and the keep join — and the aggregate's
        // map-side partial-distinct phase runs BELOW its exchange, so
        // exchange reuse can never unify the two consumers; without the
        // checkpoint the full tokenize→shingle→md5 scan runs once per
        // consumer (measured 3 corpus scans per sharedSpans execution —
        // the dominant cost of every span gate at sf0.1). At corpus
        // scale the checkpoint is a disk-backed (doc, pos, h) spill of
        // ~24 B/shingle — strictly cheaper than re-hashing the corpus.
        val shc = sh.localCheckpoint(eager = false)
        val limitDf = df.select(greatest(lit(MinDocFreqFloor.toDouble),
          count(lit(1)).cast("double") * f).as("df_limit"))
        val keep = shc.groupBy("h").agg(countDistinct("doc").as("df"))
          .crossJoin(broadcast(limitDf))
          .filter(col("df") <= col("df_limit")).select("h")
        shc.join(keep, "h")
    }
  }

  /** Corpus self-join shingle matches (doc_a < doc_b), on the hashed
    * shingle key. */
  private def selfSpanMatches(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDocFreqFraction: Option[Double], fast: Boolean = false): DataFrame = {
    // pin the GUARDED posting too (the ngramJaccardPairs recipe):
    // positionalPosting checkpoints the raw posting, but its guard JOIN
    // runs once per self-join side without this — the whole keep-join
    // executed twice per call
    val posting = positionalPosting(df, idCol, textCol, k, maxDocFreqFraction, fast)
      .localCheckpoint(eager = false)
    val a = posting.as("a")
    val b = posting.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(
        col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
  }

  /** Sentinel for "no open run/region" in the span folds: match
    * positions and interval starts are non-negative, so Long.MinValue
    * can never collide with real state. */
  private val NoRun = Long.MinValue

  /** Maximal shared spans from (doc_a, doc_b, pa, pb) shingle matches:
    * one row per island of consecutive matches on a diagonal, length
    * ≥ `minSpanTokens`.
    *
    * ONE exchange: matches group to (pair, diagonal), the sorted
    * position list folds into islands in-row (higher-order `aggregate`
    * over primitive longs — a new island opens exactly when the
    * position is not `prev + 1`), and islands explode back to rows.
    * This replaces the former sort-based row_number window + second
    * aggregate — same answer, one fewer pass over the (large) match
    * set, and downstream pair/doc groupings run over island rows that
    * are orders of magnitude fewer than matches.
    *
    * The grouping key is (pair, DIAGONAL), deliberately not the bare
    * pair: per-group in-row state is then one diagonal's positions —
    * bounded by the shorter document's shingle count, the exact bound
    * the old window partition had. A bare-pair grouping would hold ALL
    * of a pair's matches in one aggregation buffer row, and two long
    * documents sharing a within-doc-repeated rare shingle (n
    * repetitions each ⇒ n² matches; the doc-freq guard counts DISTINCT
    * docs, so within-doc repeats pass it) would overflow the single
    * row where the per-diagonal split spreads the same n² matches over
    * ~2n−1 bounded groups. */
  private def spanIslands(matches: DataFrame, k: Int, minSpanTokens: Int): DataFrame = {
    // close the open run (if any) onto the done list of (s, e) positions
    def close(done: Column, cs: Column, cp: Column): Column =
      when(cs === NoRun, done).otherwise(concat(done,
        array(struct(cs.as("s"), cp.as("e")))))
    val acc0 = struct(
      typedLit(Seq.empty[(Long, Long)])
        .cast("array<struct<s:bigint,e:bigint>>").as("done"),
      lit(NoRun).as("cs"), lit(NoRun).as("cp"))
    val islands = aggregate(
      col("ms"), acc0,
      (a, x) =>
        when(x === a.getField("cp") + 1L, struct(
          a.getField("done").as("done"),
          a.getField("cs").as("cs"), x.as("cp")))
          .otherwise(struct(
            close(a.getField("done"), a.getField("cs"), a.getField("cp"))
              .as("done"),
            x.as("cs"), x.as("cp"))),
      a => close(a.getField("done"), a.getField("cs"), a.getField("cp")))
    matches
      .withColumn("diag", (col("pa") - col("pb")).cast("long"))
      .groupBy("doc_a", "doc_b", "diag")
      // array_distinct: the fold below assumes strictly increasing
      // positions (x == prev would close-and-reopen the run, splitting
      // one island into two and inflating n_spans/coverage silently).
      // Internal producers can never emit a duplicate (pa, diag) for a
      // pair — one (doc, pos) posting has exactly one h — but a
      // hand-built or externally persisted posting index with duplicate
      // (doc, h, pos) rows could; dedup in-row, where it is one pass
      // over an already-sorted primitive array (no-op on clean input,
      // so every gate hash is unchanged)
      .agg(array_distinct(array_sort(collect_list(col("pa").cast("long")))).as("ms"))
      // outer + null-drop: keeps InferFiltersFromGenerate from running
      // the island fold twice more per (pair, diagonal) row; a
      // no-island group's empty array becomes one null row, dropped
      .select(col("doc_a"), col("doc_b"), col("diag"), explode_outer(islands).as("isl"))
      .filter(col("isl").isNotNull)
      .select(
        col("doc_a"), col("doc_b"),
        col("isl.s").cast("int").as("start_a"),
        (col("isl.s") - col("diag")).cast("int").as("start_b"),
        (col("isl.e") - col("isl.s") + lit(k.toLong)).as("span_len"))
      .filter(col("span_len") >= minSpanTokens)
  }

  /** Shared span-fold: matches → one row per pair with ≥1 maximal span;
    * the per-pair longest-span pick is a map-side-combinable struct max,
    * not a second window. Package-visible: the streaming span twin's
    * finalization (StreamingSpanDedup.spansFromMatches) folds its match
    * sink with EXACTLY this operator so the two postures cannot drift. */
  private[graft] def spanFold(matches: DataFrame, k: Int, minSpanTokens: Int): DataFrame = {
    val spans = spanIslands(matches, k, minSpanTokens)
    spans
      .groupBy("doc_a", "doc_b")
      .agg(
        count(lit(1)).as("n_spans"),
        // lexicographic struct max = (longest, then earliest a, earliest b)
        max(struct(col("span_len").as("l"),
          (-col("start_a")).as("na"), (-col("start_b")).as("nb"))).as("best"))
      .select(
        col("doc_a"), col("doc_b"), col("n_spans"),
        col("best.l").as("max_span"),
        (-col("best.na")).as("start_a"), (-col("best.nb")).as("start_b"))
  }

  /** SPAN-level cross-corpus decontamination: maximal eval passages
    * (≥ `minSpanTokens` contiguous tokens) quoted verbatim inside
    * training documents — the finer-grained sibling of
    * `contaminationPairs`, catching a short eval answer embedded in a
    * long training document whose whole-document containment stays
    * below any reasonable threshold. Output one row per contaminated
    * (train, eval) pair: longest quoted span and its position in each.
    *
    * Same inverted-index shape as `contaminationPairs` (nothing is
    * all-pairs) with its guard convention: the doc-freq prune is
    * computed over the EVAL corpus (drop shingles in >10% of eval docs
    * — boilerplate, not leakage), floored at `MinDocFreqFloor`;
    * prune-only, so spans can only shrink or vanish, never appear. */
  def contaminationSpans(
      train: DataFrame, evalCorpus: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame = {
    val t = positionalPosting(train, idCol, textCol, k, None, fast)
    val e = positionalPosting(evalCorpus, idCol, textCol, k, maxDocFreqFraction, fast)
    // t.doc =!= e.doc: an id collision across the two corpora would
    // otherwise report a full-length diagonal-0 self-span as
    // contamination (ids are disjoint in the gated split, but the
    // operator shouldn't rely on that).
    // broadcast(e): the contaminationPairs asymmetry — eval/benchmark
    // suites are orders of magnitude smaller than the training corpus
    // and guard-pruned further, so the train posting (the 100 TB side)
    // never shuffles for this join.
    val matches = t.as("t").join(broadcast(e.as("e")),
        col("t.h") === col("e.h") && col("t.doc") =!= col("e.doc"))
      .select(
        col("t.doc").as("doc_a"), col("e.doc").as("doc_b"),
        col("t.pos").as("pa"), col("e.pos").as("pb"))
    spanFold(matches, k, minSpanTokens)
      .select(
        col("doc_a").as("train_id"), col("doc_b").as("eval_id"),
        col("n_spans"), col("max_span"),
        col("start_a").as("start_train"), col("start_b").as("start_eval"))
  }

  /** Per-document DUPLICATED-TOKEN FRACTION — the curation signal
    * "what fraction of this document lies inside a span shared with
    * some other document" (boilerplate/copied-passage rate; documents
    * above a threshold get dropped or span-trimmed in the standard
    * substring-dedup recipe). Every shared span ≥ `minSpanTokens`
    * contributes its interval to BOTH endpoint documents; overlapping
    * intervals merge (sweep: an interval opens a new covered region iff
    * it starts past the running max end) so double-counting is
    * impossible. Output one row per document: (doc_id, n_tokens,
    * dup_tokens, dup_fraction), zero for untouched documents.
    *
    * Scale shape: the interval union is one per-document aggregation
    * (see [[mergedIntervals]]) holding one interval per (partner,
    * diagonal) span — bounded by the doc's duplication degree, which
    * the doc-freq guard bounds in turn. */
  /** Interval union per doc: (doc, s0, e0) rows → one row per doc with
    * the DISJOINT merged regions (`ivs`) and total covered length
    * (`covered`), as ONE aggregation — `array_sort` orders the
    * (s0, e0) pairs in-row, then a single higher-order fold sweeps
    * them (an interval opens a new region iff it starts past the
    * running max end). Duplicate intervals are HARMLESS to the fold —
    * a duplicate sorts adjacent to its twin and s0 < the open region's
    * end (spans are non-empty), so it re-extends the region by nothing
    * — which is why a plain collect_list suffices where the old
    * window-sweep needed a load-bearing distinct (tie-ordering there
    * could double-count). Replaces the former distinct → flag-window →
    * running-sum-window → re-aggregate pipeline: one exchange instead
    * of two and no sort-based window passes. Per-doc in-row state is
    * the doc's interval list — bounded by its duplication degree,
    * exactly what the old per-doc window partition held. */
  private def mergedIntervals(intervals: DataFrame): DataFrame = {
    def close(done: Column, cs: Column, ce: Column): Column =
      when(cs === NoRun, done).otherwise(concat(done,
        array(struct(cs.as("s0"), ce.as("e0")))))
    val acc0 = struct(
      typedLit(Seq.empty[(Long, Long)])
        .cast("array<struct<s0:bigint,e0:bigint>>").as("done"),
      lit(NoRun).as("cs"), lit(NoRun).as("ce"))
    val merged = aggregate(
      col("__iv"), acc0,
      (a, x) => when(x.getField("s0") > a.getField("ce"), struct(
        close(a.getField("done"), a.getField("cs"), a.getField("ce")).as("done"),
        x.getField("s0").as("cs"), x.getField("e0").as("ce")))
        .otherwise(struct(
          a.getField("done").as("done"), a.getField("cs").as("cs"),
          greatest(a.getField("ce"), x.getField("e0")).as("ce"))),
      a => close(a.getField("done"), a.getField("cs"), a.getField("ce")))
    intervals
      .groupBy("doc")
      .agg(array_sort(collect_list(struct(
        col("s0").cast("long").as("s0"),
        col("e0").cast("long").as("e0")))).as("__iv"))
      .select(col("doc"), merged.as("ivs"))
      .select(col("doc"), col("ivs"),
        aggregate(col("ivs"), lit(0L),
          (t, iv) => t + (iv.getField("e0") - iv.getField("s0"))).as("covered"))
  }

  def duplicatedTokenFraction(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame = {
    val islands = spanIslands(
      selfSpanMatches(df, idCol, textCol, k, maxDocFreqFraction, fast),
      k, minSpanTokens)
    // no distinct needed: mergedIntervals' sweep fold is duplicate-proof
    // (see its scaladoc), so both endpoint projections feed it raw
    val intervals = islands
      .select(col("doc_a").as("doc"), col("start_a").as("s0"),
        (col("start_a") + col("span_len")).as("e0"))
      .unionByName(islands.select(col("doc_b").as("doc"), col("start_b").as("s0"),
        (col("start_b") + col("span_len")).as("e0")))
    val dup = mergedIntervals(intervals)
      .select(col("doc"), col("covered").as("dup_tokens"))
    df.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(dup, col("doc_id") === col("doc"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_fraction"))
  }

  /** Span TRIMMING — the remediation half of substring dedup (dropping
    * whole documents over a dup-fraction threshold wastes their unique
    * text; the standard alternative removes just the copied passages):
    * for every shared span the pair's min-id document is the canonical
    * copy and the max-id side's occurrence is removed. Removal
    * intervals merge per document (same sweep as
    * `duplicatedTokenFraction`) and the trimmed text keeps exactly the
    * uncovered token positions. Output one row per document:
    * (doc_id, trimmed, removed_tokens) — untouched documents pass
    * through byte-identical.
    *
    * Scale shape: everything up to the merged regions is the span
    * pipeline (inverted index, never all-pairs); the per-doc interval
    * list is bounded by the doc's duplication degree, and the
    * reconstruction is a pure projection over (tokens × intervals)
    * higher-order functions — no shuffle beyond the span machinery's
    * own. A doc that is only ever the pair's min-id keeps everything,
    * so a duplicate CHAIN a<b<c resolves to exactly one surviving
    * copy. */
  def trimSharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = DefaultSpanK, minSpanTokens: Int = DefaultMinSpanTokens,
      maxDocFreqFraction: Option[Double] = Some(DefaultMaxDocFreqFraction),
      fast: Boolean = false): DataFrame = {
    val islands = spanIslands(
      selfSpanMatches(df, idCol, textCol, k, maxDocFreqFraction, fast),
      k, minSpanTokens)
    val removals = islands
      .select(col("doc_b").as("doc"), col("start_b").as("s0"),
        (col("start_b") + col("span_len")).as("e0"))
    val ivs = mergedIntervals(removals)
      .select(col("doc"), col("ivs"), col("covered").as("removed"))
    val toks = tokens(col("text"))
    val kept = array_join(
      transform(
        filter(
          transform(toks, (t, i) => struct(t.as("t"), i.cast("long").as("i"))),
          s => !exists(col("ivs"), iv =>
            s.getField("i") >= iv.getField("s0") && s.getField("i") < iv.getField("e0"))),
        s => s.getField("t")), " ")
    df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .join(ivs, col("doc_id") === col("doc"), "left")
      .select(
        col("doc_id"),
        when(col("ivs").isNull, col("text")).otherwise(kept).as("trimmed"),
        coalesce(col("removed"), lit(0L)).as("removed_tokens"))
  }
}
