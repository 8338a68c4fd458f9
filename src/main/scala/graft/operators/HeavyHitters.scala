package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact heavy hitters over word n-gram phrases via the two-phase
  * sketch-then-verify pattern: a bounded-memory Misra–Gries candidate
  * pass, then an exact count of ONLY the candidates. The output is
  * EXACTLY the set of n-grams with true count ≥ ⌈φ·N⌉ (N = total
  * n-gram occurrences) with their exact counts — the sketch bounds
  * memory and shuffle, never the answer, which is why the gate can be
  * hash-compared against a plain GROUP-BY/HAVING oracle.
  *
  * Why not one big `groupBy(gram).count()`? For UNIGRAMS over a
  * bounded vocabulary that IS the right plan (map-side partial
  * aggregation collapses hot keys before the exchange). But the
  * n-gram key space grows with the corpus (5-grams over 100 TB ≈ one
  * distinct key per occurrence), so the full aggregate shuffles and
  * materializes a corpus-sized distinct-key table to report what is,
  * by definition, a tiny result. The two-phase plan shuffles:
  *
  *   - phase 1: one summary row per input partition — ≤ `capacity`
  *     grams plus a local total. Shuffle: O(partitions × capacity).
  *   - phase 2: only occurrences of CANDIDATE grams survive the
  *     broadcast semi-join below the exact-count aggregate, so the
  *     exchange carries ≤ capacity × partitions distinct keys however
  *     large the corpus is.
  *
  * Two corpus scans total (candidates, then verification) — the
  * classic trade: at 100 TB a re-scan is strictly cheaper than
  * materializing every distinct n-gram through an exchange.
  *
  * Correctness of the candidate superset (the property the
  * verification phase turns into exactness): Misra–Gries with
  * `capacity` counters over a partition of n_p items retains every
  * item with local count > n_p/capacity. For any gram g with global
  * count ≥ φ·N, some partition has count_p(g)/n_p ≥ count(g)/N ≥ φ
  * (an average is ≤ its max), so g survives in that partition
  * whenever capacity > 1/φ. `heavyHitters` enforces
  * capacity ≥ 2/φ (defense ×2) and the union of per-partition
  * survivors is therefore a superset of the true answer; phase 2
  * discards the false positives with exact counts.
  * HeavyHittersSpec drives the compress path with tiny capacities and
  * randomized skewed streams and checks both the per-partition bound
  * and end-to-end equality with the exact aggregate.
  *
  * Reference anchor: the reference engine exposes only exact GROUP BY
  * aggregation (notebooks' top-N value counts); this operator is the
  * scale path for the same question, per the LLM-pipeline brief.
  */
object HeavyHitters {

  /** One Misra–Gries summary per input partition: the local occurrence
    * total plus the surviving (gram, lower-bound count) pairs. Arrays,
    * not maps: product-encodable, and the decrement credit is not
    * carried — phase 2 recounts exactly, so only KEY survival matters. */
  private[operators] case class MgSummary(
      total: Long, grams: Array[String], counts: Array[Long])

  /** The Misra–Gries fold: consume `it` into the live counter map `m`
    * (≤ `capacity` entries on exit), returning the number of items
    * consumed. Classic frequent-items step: increment a held counter,
    * else occupy a free slot, else decrement ALL counters (zeros
    * evict — amortized O(1) per item, O(capacity) memory). Shared by
    * the per-partition batch pass below and the streaming twin's
    * per-shard state update (StreamingHeavyHitters), so the two
    * postures run the identical algorithm by construction. */
  private[graft] def mgUpdate(
      m: mutable.HashMap[String, Long], it: Iterator[String],
      capacity: Int): Long = {
    var total = 0L
    while (it.hasNext) {
      val g = it.next()
      total += 1L
      val held = m.getOrElse(g, -1L)
      if (held >= 0L) m.update(g, held + 1L)
      else if (m.size < capacity) m.update(g, 1L)
      else {
        // decrement step: every counter loses 1; zeros evict. This is
        // the O(capacity) amortized branch — each eviction pays back
        // `capacity` prior increments.
        val dead = mutable.ArrayBuffer.empty[String]
        m.mapValuesInPlace { (k, v) => if (v == 1L) { dead += k; 0L } else v - 1L }
        dead.foreach(m.remove)
      }
    }
    total
  }

  private[operators] def misraGries(
      it: Iterator[String], capacity: Int): MgSummary = {
    val m = new mutable.HashMap[String, Long]()
    val total = mgUpdate(m, it, capacity)
    val kept = m.toArray
    MgSummary(total, kept.map(_._1), kept.map(_._2))
  }

  /** Candidate phase as a DataFrame of one MgSummary row per partition
    * of `grams`. mapPartitions is the honest tool here — Misra–Gries
    * IS per-partition imperative state; no composition of relational
    * operators expresses "k counters with global decrement". */
  private[operators] def mgSummaries(
      grams: Dataset[String], capacity: Int): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    grams.mapPartitions(it => Iterator.single(misraGries(it, capacity))).toDF()
  }

  /** Word n-grams of `textCol` as a Dataset[String], space-joined —
    * the same tokenize → positional-shingle pipeline the span/dedup
    * family uses (tokens then sliding window), kept as plain columns
    * so the scan is codegen'd end to end. */
  private[graft] def gramStream(
      df: DataFrame, textCol: String, n: Int): Dataset[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(TextFunctions.tokens(col(textCol)).as("toks"))
      // outer + null-drop: skips InferFiltersFromGenerate, whose pushed
      // (size > 0) filter re-tokenizes per element_at reference (see
      // Dedup.ngramJaccardPairs)
      .select(explode_outer(TextFunctions.positionalShingles(col("toks"), n)).as("gram"))
      .filter(col("gram").isNotNull)
      .as[String]
  }

  /** Exact heavy hitters: every word `n`-gram of `textCol` whose
    * occurrence count is ≥ ⌈φ·N⌉, with exact counts, ordered
    * (count desc, gram) — deterministic total order.
    *
    * @param phi      relative frequency threshold (0 < φ < 1)
    * @param capacity Misra–Gries counters per partition; must exceed
    *                 2/φ for the superset guarantee (defaulted from φ)
    */
  def heavyHitters(
      df: DataFrame, textCol: String, n: Int = 2, phi: Double = 0.001,
      capacity: Int = 0): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1), got $phi")
    val cap = if (capacity > 0) capacity else math.ceil(2.0 / phi).toInt
    require(cap > 1.0 / phi,
      s"capacity $cap breaks the superset guarantee for phi=$phi (needs > ${1 / phi})")

    val grams = gramStream(df, textCol, n)
    // phase 1 — one bounded summary row per partition, COLLECTED in one
    // job (≤ partitions × capacity entries — sketch-sized, the bounded
    // driver-collect convention the IVF probe unions use): the total
    // and the candidate set both come out of the same collect. The
    // round-12 form instead localCheckpoint'ed the summaries and built
    // two broadcast inputs from them — 3 extra scheduling windows per
    // execution for what is driver-sized state, which the round-12
    // plan audit measured as this operator's dominant residual (1.6s
    // at 20× a sub-second DuckDB, dispersion max 4.5s — stage-count,
    // not scan cost; the two corpus scans are the designed trade and
    // stay). Phase 2 below is the only other job.
    val (total, cands) = collectSummaries(grams, cap)
    verifyExactCollected(grams, cands, total, phi)
  }

  /** Phase-1 terminal: run the per-partition sketches and collect the
    * (global total, distinct candidate grams) — bounded by
    * partitions × capacity however large the corpus is. */
  private def collectSummaries(
      grams: Dataset[String], capacity: Int): (Long, Seq[String]) = {
    val rows = mgSummaries(grams, capacity).collect()
    (rows.map(_.getLong(0)).sum,
      rows.flatMap(_.getSeq[String](1)).distinct.toSeq)
  }

  /** [[verifyExact]] with the phase-1 outputs as driver values: the
    * candidate list broadcasts as a literal local relation and the
    * threshold folds to a constant — one job, no auxiliary exchanges. */
  private def verifyExactCollected(
      grams: Dataset[String], candidates: Seq[String], total: Long,
      phi: Double): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    val thr = math.ceil(phi * total).toLong
    grams.toDF()
      .join(broadcast(candidates.toDF("gram")), Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(col("cnt").desc, col("gram"))
  }

  /** Phase 2 — exact verification: re-scan the gram stream, keep only
    * candidate occurrences (broadcast semi-join BELOW the aggregate,
    * so the exchange carries candidate keys only), count exactly,
    * threshold against the global total. Shared with the streaming
    * twin's finalization (StreamingHeavyHitters). */
  private[graft] def verifyExact(
      grams: Dataset[String], candidates: DataFrame, totalDf: DataFrame,
      phi: Double): DataFrame =
    grams.toDF()
      .join(broadcast(candidates), "gram")
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totalDf))
      .filter(col("cnt") >= ceil(lit(phi) * col("n_total")))
      .select(col("gram"), col("cnt"))
      .orderBy(col("cnt").desc, col("gram"))

  // ------------------------------------------------------------------
  // Persisted candidate index + exact O(Δ)-ingest incremental search —
  // the build-once posture of the MinHash/SimHash/span/IVF-PQ
  // indexes: build once over the corpus, serve thresholds from
  // the index alone, ingest deltas without re-counting the corpus.
  // ------------------------------------------------------------------

  /** Index layout: a [[graft.store.Snapshot]]-versioned pair —
    * `v<N>/candidates/` parquet (gram, cnt): EXACT corpus counts for
    * the full Misra–Gries candidate superset (every gram with corpus
    * count > N/capacity is present; phase 2 counted them exactly, the
    * threshold is NOT applied at build time) — plus a `v<N>/_hh_meta
    * .txt` sidecar (gramN, capacity, total) IN THE SAME VERSION. The
    * sidecar is load-bearing, not documentation: a reader supplying
    * its own n/capacity/φ could silently search under a weaker
    * guarantee than the index was built with (the `_lsh_meta.txt`
    * lesson), so every consumer derives them from the index and
    * VALIDATES φ against the built capacity. Versioning through the
    * snapshot pointer makes counts+total change TOGETHER: a flat layout
    * that wrote candidates then meta as two separate steps could, after
    * a crash between them, serve new counts against a stale total
    * (wrong thresholds) — under the pointer, a reader resolves one
    * version of BOTH or (mid-crash) the previous version of both. */
  private val MetaFile = "_hh_meta.txt"

  private[operators] case class HhMeta(gramN: Int, capacity: Int, total: Long)

  private def metaText(m: HhMeta): String =
    s"gramN ${m.gramN}\ncapacity ${m.capacity}\ntotal ${m.total}\n"

  private[operators] def readMeta(spark: SparkSession, path: String): HhMeta = {
    val text = graft.store.Snapshot.readSidecar(spark, path, MetaFile)
      .getOrElse(sys.error(s"no heavy-hitters index committed at $path"))
    val kv = text.linesIterator.filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" ", 2); k -> v }.toMap
    HhMeta(kv("gramN").toInt, kv("capacity").toInt, kv("total").toLong)
  }

  /** The CURRENT snapshot's candidate counts. */
  private def readCandidates(spark: SparkSession, path: String): DataFrame =
    graft.store.Storage.readParquet(spark,
      graft.store.Snapshot.currentPath(spark, path, "candidates")
        .getOrElse(sys.error(s"no heavy-hitters index committed at $path")))

  /** Publish counts+meta as ONE snapshot commit (atomic pointer
    * rename), then vacuum to the current + previous version — the
    * previous stays as the in-flight readers' grace window. */
  private def commitIndex(spark: SparkSession, path: String,
      counts: DataFrame, m: HhMeta): Unit = {
    graft.store.Snapshot.commit(spark, path,
      Map("candidates" -> counts), Map(MetaFile -> metaText(m)))
    graft.store.Snapshot.vacuum(spark, path, keep = 2)
  }

  /** Build the persisted candidate index over `df`. Same two scans as
    * [[heavyHitters]]; the only difference is that the exact candidate
    * counts persist UNTHRESHOLDED, so any φ with capacity > 1/φ can be
    * served later from the index alone. */
  def buildIndex(
      df: DataFrame, textCol: String, indexPath: String, n: Int = 2,
      capacity: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grams = gramStream(df, textCol, n)
    val (total, cands) = collectSummaries(grams, capacity)
    val counts = grams.toDF()
      .join(broadcast(cands.toDF("gram")), "gram")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
    commitIndex(spark, indexPath, counts, HhMeta(n, capacity, total))
    readCandidates(spark, indexPath)
  }

  /** Serve exact heavy hitters at `phi` from the index ALONE — no
    * corpus access at all (the threshold read is why the index stores
    * the unthresholded superset). Requires capacity > 1/φ, validated
    * against the sidecar. */
  def heavyHittersFromIndex(
      spark: SparkSession, indexPath: String, phi: Double): DataFrame = {
    val m = readMeta(spark, indexPath)
    require(phi > 0 && phi < 1 && m.capacity > 1.0 / phi,
      s"index built with capacity ${m.capacity} cannot serve phi=$phi " +
        s"exactly (needs capacity > ${1 / phi})")
    readCandidates(spark, indexPath)
      .filter(col("cnt") >= math.ceil(phi * m.total).toLong)
      .orderBy(col("cnt").desc, col("gram"))
  }

  /** Exact heavy hitters over corpus ∪ delta, touching the corpus text
    * only for grams that PROVABLY might newly cross the threshold —
    * usually none, making ingest O(Δ):
    *
    *   - indexed grams: exact corpus count from the index + one exact
    *     delta count — no corpus access;
    *   - non-indexed grams have corpus count ≤ ⌊N/capacity⌋ (the MG
    *     bound), so a gram can newly cross T′ = ⌈φ·(N+M)⌉ only if its
    *     exact delta count ≥ T′ − ⌊N/capacity⌋. The candidates for
    *     that test come from the delta's OWN MG pass (anything
    *     crossing needs delta frequency ≥ φ > 1/capacity, so the
    *     delta sketch retains it); the survivors — a bounded set,
    *     collected like IVF probe ids — trigger ONE corpus re-count
    *     restricted to exactly those grams, skipped entirely when the
    *     set is empty (HeavyHittersSpec plants both postures).
    *
    * The union of the three exact sources then thresholds at T′ — the
    * output equals the from-scratch [[heavyHitters]] over
    * corpus ∪ delta row for row (the gate shares the plain oracle). */
  def heavyHittersIncremental(
      corpus: DataFrame, delta: DataFrame, textCol: String,
      indexPath: String, phi: Double): DataFrame = {
    val spark = delta.sparkSession
    val m = readMeta(spark, indexPath)
    require(phi > 0 && phi < 1 && m.capacity > 1.0 / phi,
      s"index built with capacity ${m.capacity} cannot serve phi=$phi " +
        s"exactly (needs capacity > ${1 / phi})")
    val idx = readCandidates(spark, indexPath)

    val dGrams = gramStream(delta, textCol, m.gramN)
    val (dTotal, dCandSeq) = collectSummaries(dGrams, m.capacity)
    val thr = math.ceil(phi * (m.total + dTotal)).toLong
    val bound = m.total / m.capacity

    // one delta scan counts BOTH the indexed grams and the delta's own
    // candidates exactly (their union is the complete crosser superset);
    // LEFT SEMI keeps each occurrence at most once under overlapping
    // candidate rows, so the union needs no `.distinct()` exchange
    import spark.implicits._
    val dCand = dCandSeq.toDF("gram")
    val allCand = idx.select("gram").union(dCand)
    val dCounts = dGrams.toDF()
      .join(broadcast(allCand), Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("d_cnt"))
      .localCheckpoint(eager = false)

    // fresh possible crossers: bounded (≤ the delta sketch size), so
    // the collect is model-state-sized — and empty means NO corpus job
    val fresh = dCounts.join(idx.select("gram"), Seq("gram"), "left_anti")
      .filter(col("d_cnt") + lit(bound) >= thr)
      .select("gram").collect().map(_.getString(0))
    val corpusCounts =
      if (fresh.isEmpty) idx
      else {
        import spark.implicits._
        val freshDf = fresh.toSeq.toDF("gram")
        val recount = gramStream(corpus, textCol, m.gramN).toDF()
          .join(broadcast(freshDf), "gram")
          .groupBy("gram").agg(count(lit(1)).as("cnt"))
        // grams absent from the corpus entirely still need a row so the
        // delta count below can carry them over the threshold alone
        idx.unionByName(freshDf.join(recount, Seq("gram"), "left")
          .select(col("gram"), coalesce(col("cnt"), lit(0L)).as("cnt")))
      }

    corpusCounts.join(dCounts, Seq("gram"), "left")
      .select(col("gram"),
        (col("cnt") + coalesce(col("d_cnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(col("cnt").desc, col("gram"))
  }
}
