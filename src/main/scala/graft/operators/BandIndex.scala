package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.Bucketing

/** The banded-signature index of the MinHash, SimHash and pHash
  * near-duplicate families — the one place that knows its layout.
  *
  * An index is a frame of `(doc, sig, band, bkey)` rows: one row per
  * document and band, `bkey` being the band's slice of the signature.
  * The families differ only in how they compute those rows (their
  * `*Banded` projections) and how they score a pair; everything else
  * lives here:
  *   - [[pairs]]: all pairs of one frame, one grouped bucket walk;
  *   - [[build]]: the key-stable per-bucket occupancy cap, applied when
  *     an index is built (capping is idempotent);
  *   - [[write]] / [[append]]: the persisted layout, bucketed and sorted
  *     on the fused band key `bb`;
  *   - [[probe]]: the O(Δ) delta × corpus join;
  *   - [[multiprobe]] / [[probePairs]]: flipped-key probing for the
  *     wide-band rungs of a [[BandPlan]], chosen by [[planFor]].
  *
  * A production ingest loop builds (and caps) the corpus index once per
  * corpus version, persists it with [[write]], grows it with [[append]],
  * and serves every delta batch with [[probe]]: the delta pays one
  * signature projection and one equi-join, and a bucketed corpus side
  * shuffles nothing. */
object BandIndex {

  /** A banded Hamming-search plan over a packed `bits`-bit signature:
    * `bands` contiguous slices of r = bits/bands bits, plus `flips`-bit
    * multiprobe on the probing side. Lossless for maxHamming <
    * bands·(flips+1); bucket universe bands·2^r. */
  final case class BandPlan(bits: Int, bands: Int, flips: Int = 0) {
    require(bits >= 1 && bits <= 64, s"packed signatures hold 1 to 64 bits, got $bits")
    require(bands >= 1 && bits % bands == 0, s"bands must divide $bits, got $bands")
    // only the genuinely undefined case is rejected: bands = 1 over a
    // full 64-bit signature would need an unmasked (1L << 64) word;
    // bands = 1 with bits <= 63 has a well-defined mask
    require(bands >= 2 || bits <= 63,
      "bands = 1 requires bits <= 63 (a 64-bit single band key would need an unmasked word)")
    /** Band width in bits. */
    def r: Int = bits / bands
    /** Total (band, bkey) bucket universe — the quantity that must
      * scale with the corpus for the guard cap to stay dormant. */
    def keyspace: Long = bands.toLong << r
    /** Probe rows each signature ships through the candidate join
      * (exact key + flipped keys, per band). */
    def probesPerRow: Long = bands.toLong * (1L + flipMasks(r, flips).length)
    /** The largest Hamming radius this plan's candidate walk covers
      * losslessly (pigeonhole over bands with ≤ flips in-band misses). */
    def losslessMaxHamming: Int = bands * (flips + 1) - 1
  }

  /** Corpus-scaled band plan for a packed `bits`-bit signature searched
    * at Hamming ≤ `maxHamming`. A fine cut has a fixed bucket CEILING —
    * losslessness by pigeonhole alone needs > maxHamming bands, so the
    * 63-bit pHash at ≤ 8 is stuck with 9 × 7 bits = 1,152 buckets, and
    * at ≥ 10⁷ rows every bucket is hot regardless of bit balance and the
    * guard cap degrades recall corpus-wide. The ladder therefore holds,
    * per flips level 0..2, the fewest bands (≥ 2, dividing `bits`) that
    * stay lossless with that many in-band flips — wider bands, bought
    * back by multiprobe — and the chosen rung is the first (fewest
    * probe rows) whose bucket universe keeps the EXPECTED occupancy at
    * or under `targetBucketSize`. At the families' default radii:
    *
    *   pHash (63 bits, ≤ 8)
    *     n ≤ ~295k → 9 × 7,  flips 0 —     1,152 buckets,   9 probes/row
    *     n ≤ ~918k → 7 × 9,  flips 1 —     3,584 buckets,  70 probes/row
    *     beyond    → 3 × 21, flips 2 — 6,291,456 buckets, 696 probes/row
    *   SimHash (64 bits, ≤ 3)
    *     n ≤ ~67M  → 4 × 16, flips 0 —   262,144 buckets,   4 probes/row
    *     beyond    → 2 × 32, flips 1 —    8.59e9 buckets,  66 probes/row
    *
    * Every rung returns the IDENTICAL final pair set (lossless
    * candidates ⊆ the exact Hamming filter), so the plan is a free scale
    * knob — gates share one oracle across rungs. Past the last rung the
    * hot-bucket cap and the `*Banded` occupancy pre-flight govern.
    * Expected occupancy assumes ~uniform keys; biased keys concentrate,
    * which the occupancy probe detects. */
  def planFor(bits: Int, corpusSize: Long, maxHamming: Int,
      targetBucketSize: Int = 256): BandPlan = {
    require(corpusSize >= 0, s"corpusSize must be >= 0, got $corpusSize")
    require(targetBucketSize >= 1, "targetBucketSize must be >= 1")
    val ladder = (0 to 2).flatMap { f =>
      (2 to bits).find(b => bits % b == 0 && b * (f + 1) > maxHamming)
        .map(BandPlan(bits, _, f))
    }.distinctBy(_.bands)
    require(ladder.nonEmpty,
      s"no lossless plan with <= 2 flips exists for maxHamming=$maxHamming")
    val needed = (corpusSize + targetBucketSize - 1) / targetBucketSize
    ladder.find(_.keyspace >= needed).getOrElse(ladder.last)
  }

  /** Candidate pairs of one banded frame: group each LSH bucket once
    * and enumerate member pairs in-row with a native pair walk
    * (`walk(ms, band)` — plans.JaccardBucketPairs /
    * plans.PackedBucketPairs). This beats the natural self-join on
    * (band,bkey), which computes the signature plan twice (Spark cannot
    * reuse the exchange into a broadcast build side) — one pass + one
    * shuffle instead.
    *
    * A pair colliding in SEVERAL bands must still be emitted once.
    * Rather than a `dropDuplicates` — a second full shuffle of the
    * candidate set, the largest intermediate in the whole dedup — each
    * pair is kept only in its FIRST colliding band, decided IN-ROW from
    * the signatures both members carry: bands `0 until band` must
    * disagree on their `r`-wide slices. Exact-once by construction, zero
    * extra exchanges. The symmetric score is computed in-row too, so
    * the emitted candidate is (doc_a, doc_b, score), never both
    * signatures.
    *
    * Hot-bucket guard (the walk's `cap`): a bucket with m > cap members
    * would otherwise materialize O(m²) candidates inside one
    * aggregation row — the executor-OOM regime when a boilerplate
    * near-dup cluster (routine in web crawls) lands in one bucket. Above
    * the cap the bucket switches to survivor-pairs + representative
    * chains: the `cap` lowest-id members (deterministic and key-stable —
    * bucket membership alone decides) enumerate pairs exactly, every
    * remaining member CHAINS to the bucket representative (the min doc).
    * Per-bucket work becomes O(cap² + m), and connectivity is preserved
    * — every member stays linked to the rep, so `duplicateClusters`
    * resolves a capped cluster to exactly the same component. The price
    * is pair-level completeness among non-survivors, which is the right
    * trade in the regime that triggers it: a bucket only grows hot when
    * near-identical documents share band slices, where chain scores
    * match pair scores.
    *
    * Guard/keep interaction, stated precisely: `keep` assumes the FIRST
    * colliding band represented the pair, so a pair of non-survivors
    * whose first collision is a hot band exists only through that
    * band's chains — a later COLD collision of the same pair is still
    * suppressed by `keep`. If such a pair's chain scores fall below the
    * caller's threshold, its component can split. This requires a hot
    * bucket whose members are NOT mutually similar — with md5-derived
    * r-component slices that is a degenerate banding, not a boilerplate
    * cluster — and is the irreducible approximation of bounding bucket
    * work in-row. When NO band bucket exceeds the cap (every gated
    * fixture; the dormancy spec), results are bit-identical to the
    * unguarded plan.
    *
    * The walks are compiled loops because Catalyst higher-order
    * functions are not whole-stage-codegen'd: a lambda walk paid an
    * interpreted eval + struct allocation per candidate pair (~800
    * ns/pair measured at sf0.1 — ≈2 s of dd_phash's 2.6-3.7 s wall). */
  def pairs(banded: DataFrame, walk: (Column, Column) => Column): DataFrame =
    banded.groupBy("band", "bkey")
      .agg(collect_list(struct(col("doc"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      // outer + null-drop: a non-outer explode's inferred filter
      // (InferFiltersFromGenerate) re-evaluates the whole pair walk
      // twice more per bucket row (see Dedup.ngramJaccardPairs); an
      // all-suppressed bucket's empty array becomes one null row,
      // dropped here
      .select(explode_outer(walk(col("ms"), col("band"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.score").as("score"))

  /** Key-stable per-bucket occupancy cap — the index-side version of
    * the bucket walk's hot-bucket guard: a hot bucket's members are
    * sampled to `cap` by (xxhash64(doc), doc) rank, bounding the
    * per-bucket probe fan-out at |delta bucket|·cap instead of
    * |delta bucket|·|corpus bucket|. SimHash makes this load-bearing,
    * not hygienic: an r-bit band key has ≤ 2^r values, so on a large
    * corpus every doc shares a band bucket with many others, and an
    * unguarded ingest joins against O(n) rows per delta doc. Costs one
    * shuffle of the index, paid ONCE when the index is built (the capped
    * index is what gets stored — capping is idempotent). Dormant
    * (pass-through, bit-identical) while every bucket fits the cap,
    * which holds for every gated fixture; in the guard-active regime the
    * result is a key-stable subsample of the uncapped pair set, exactly
    * like the bucket walk under its own guard. `keys`/`doc` name the
    * bucket and member columns, so other bucketed indexes (the
    * embedding hyperplane index) share the same cap. */
  def build(banded: DataFrame, maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket),
      keys: Seq[String] = Seq("band", "bkey"), doc: String = "doc"): DataFrame =
    maxBucket match {
      case None => banded
      case Some(cap) =>
        require(cap >= 2, "maxBucket must be >= 2")
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(xxhash64(col(doc)), col(doc))
        banded.withColumn("__r", row_number().over(w))
          .filter(col("__r") <= cap).drop("__r")
    }

  /** Single-column band join key `bb` = band ':' bkey — bijective with
    * (band, bkey): band is a plain integer and ':' occurs in neither
    * part (a MinHash bkey joins numeric components with '_', a packed
    * bkey is an integer), so an equi-join on `bb` produces exactly the
    * (band, bkey) join's rows while giving the persisted bucketed
    * layout ONE column to bucket-and-sort on (Spark's bucketed scan
    * satisfies a join's distribution only through its bucket column). */
  private def withBandKey(df: DataFrame): DataFrame =
    if (df.columns.contains("bb")) df
    else df.withColumn("bb", concat_ws(":", col("band"), col("bkey")))

  /** Persist an index as a BUCKETED-and-sorted table on `bb`: every
    * later [[probe]] against `spark.table(table)` shuffles ONLY the
    * delta's band rows; the corpus index — the overwhelming bulk — is
    * read bucket-in-place with no exchange. Pass a [[build]]-capped
    * index so the stored index is the guarded one. */
  def write(index: DataFrame, table: String, nBuckets: Int,
      path: Option[String] = None): Unit =
    Bucketing.writeBucketed(withBandKey(index), table, "bb", nBuckets, path)

  /** APPEND a batch's band rows into a table written by [[write]], with
    * the build-time decisions FROZEN: the occupancy cap is not re-run
    * (appends can push a bucket past it; rebuilding — idempotent over
    * the stored index — re-caps), and the layout is preserved so probes
    * stay delta-only-exchange. The batch must be banded at the index's
    * band cut. */
  def append(banded: DataFrame, table: String, nBuckets: Int): Unit =
    Bucketing.appendBucketed(withBandKey(banded), table, "bb", nBuckets)

  /** The delta × corpus band join: probing rows meet index rows on the
    * band key, and identical-id pairs drop there (the cheapest point,
    * before any collapse) — a re-ingested doc is not its own
    * duplicate. Output (delta_id, sig_d, corpus_id, sig_c) per colliding
    * band. */
  private def bandMatches(probes: DataFrame, index: DataFrame,
      key: Seq[String]): DataFrame = {
    def side(df: DataFrame, id: String, sig: String): DataFrame =
      df.select(col("doc").as(id) +: col("sig").as(sig) +: key.map(col): _*)
    side(probes, "delta_id", "sig_d").join(side(index, "corpus_id", "sig_c"), key)
      .filter(col("delta_id") =!= col("corpus_id"))
  }

  /** O(Δ) search of a delta's banded (or [[multiprobe]]d) rows against
    * an index — built in-plan, or persisted and reloaded (parquet or a
    * [[write]] table). The join runs on the fused `bb` key; a stored
    * `bb` column (the bucketed layout) carries the scan's bucket
    * partitioning into the join, so the corpus side shuffles ZERO rows.
    * A pair colliding in several bands surfaces once, collapsed by a
    * map-side-combinable max — the score is signature-determined, so
    * identical on every colliding band. Join skew on a hot bucket spills
    * and AQE-splits like any equi-join; the index's build-time cap
    * bounds it. Output (delta_id, corpus_id, score). */
  def probe(delta: DataFrame, index: DataFrame,
      score: (Column, Column) => Column): DataFrame =
    bandMatches(withBandKey(delta), withBandKey(index), Seq("bb"))
      .groupBy("delta_id", "corpus_id")
      .agg(max(score(col("sig_d"), col("sig_c"))).as("score"))

  // ---- MULTIPROBE over packed band keys -------------------------------
  //
  // Multiprobe (the multi-probe LSH idea — Lv et al., VLDB'07 — applied
  // to Hamming bands) trades probe volume for keyspace: cut FEWER, WIDER
  // bands and additionally probe every key within `flips` bit-flips of
  // the own band key. A pair within Hamming h differs by ≤ ⌊h/bands⌋
  // bits in its best band (pigeonhole), so flips ≥ ⌊h/bands⌋ regains
  // losslessness while the bucket universe grows exponentially in the
  // band width. The INDEX side stores exact keys only — identical
  // layout at the same band cut, including the bucketed-on-`bb` form —
  // so multiprobe is purely a READ-side knob: the expansion happens on
  // the (delta-sized) probing rows, never in the stored index.

  /** All non-zero XOR masks of an `r`-bit key with popcount ≤ `flips`,
    * driver-computed (r + r(r−1)/2 masks at flips = 2 — plan-literal
    * sized, never data-sized). `key ^ mask` over these enumerates
    * exactly the keys within Hamming ≤ flips of `key`. */
  private[graft] def flipMasks(r: Int, flips: Int): Array[Long] = {
    require(r >= 1 && r <= 62, s"band width must be in [1,62], got $r")
    require(flips >= 0 && flips <= 2,
      s"multiprobe supports flips in [0,2] (probe volume is C(r,flips)), got $flips")
    val ms = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (flips >= 1) { var i = 0; while (i < r) { ms += (1L << i); i += 1 } }
    if (flips >= 2)
      for (i <- 0 until r; j <- (i + 1) until r) ms += ((1L << i) | (1L << j))
    ms.toArray
  }

  /** Probing rows of a packed banded frame at `plan`: each row's band
    * key expanded to its multiprobe set (the own key plus every key
    * within `plan.flips` bit-flips). Output (doc, sig, band, bkey) like
    * the exact form — `bkey` now enumerates probe targets. A plan
    * without flips returns the frame unchanged. */
  def multiprobe(banded: DataFrame, plan: BandPlan): DataFrame =
    if (plan.flips == 0) banded
    else {
      val masks = typedLit(0L +: flipMasks(plan.r, plan.flips).toSeq)
      // outer + null-drop (see Dedup.packedSignatureBanded); the mask
      // array is a non-empty literal, so nothing drops
      banded
        .select(col("doc"), col("sig"), col("band"),
          explode_outer(transform(masks, m => col("bkey").bitwiseXOR(m))).as("bkey"))
        .filter(col("bkey").isNotNull)
    }

  /** All pairs of one packed banded frame at a multiprobe `plan`: the
    * frame's [[multiprobe]]d rows join its own [[build]]-capped exact
    * rows on (band, bkey) — the capped side keeps its window
    * partitioning, so the join adds no exchange there. Both directions
    * of a qualifying pair collide (only the cap can drop one), hence
    * the (least, greatest) collapse; scores are signature-determined,
    * so the max is the pair's score. Output (doc_a, doc_b, score). */
  def probePairs(banded: DataFrame, plan: BandPlan, maxBucket: Option[Int],
      score: (Column, Column) => Column): DataFrame = {
    // the banded projection is STAGED and shared by the exact and probe
    // sides: both subtrees otherwise re-run the full signature lineage —
    // for pHash that is the corpus DECODE pass, measured as ~7 s of
    // dd_phash_multiprobe's ~10 s task time at sf0.1 (Spark reuses
    // exchanges, not projection subtrees). 24 B/row, one cheap pin.
    val staged = banded.localCheckpoint(eager = false)
    bandMatches(multiprobe(staged, plan), build(staged, maxBucket), Seq("band", "bkey"))
      .groupBy(least(col("delta_id"), col("corpus_id")).as("doc_a"),
        greatest(col("delta_id"), col("corpus_id")).as("doc_b"))
      .agg(max(score(col("sig_d"), col("sig_c"))).as("score"))
  }
}
