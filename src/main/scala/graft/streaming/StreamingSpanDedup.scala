package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.HorizonBuckets.{Arrival, Member}

/** Streaming SPAN-level duplicate detection — the arrival-time twin of
  * `Dedup.sharedSpans` (copied-passage dedup). Its siblings are the
  * notice twins of `StreamingDedup` (MinHash, embedding, SimHash,
  * pHash) and the curation twin `StreamingCuration`.
  *
  * Architecture — the two-sink split StreamingCuration established,
  * because a span verdict is NOT per-shingle-decidable: an island of
  * consecutive diagonal matches spans MANY shingle keys, so no single
  * stateful group can see a whole span. Instead:
  *
  *   1. [[spanMatchStream]] (streaming, ONE stateful operator): the
  *      positional shingle posting index lives in [[HorizonBuckets]]
  *      state keyed by the 60-bit shingle key; each arriving document's
  *      postings emit one match row per earlier in-horizon posting of
  *      the same key — exactly the rows `Dedup.selfSpanMatches`'
  *      equi-join produces, restricted to (later arrival, earlier
  *      arrival). Sink them.
  *   2. [[spansFromMatches]] (batch, at finalization): gaps-and-islands
  *      fold of the match sink via the SAME `Dedup.spanFold` the batch
  *      operator uses — maximal spans ≥ `minSpanTokens` per (new, old)
  *      pair. All of one document's matches against earlier documents
  *      are emitted in that document's micro-batch, so the fold needs
  *      no cross-batch state and is exact.
  *
  * The projection (tokenize → positional shingles → 60-bit key) is the
  * batch operator's own zero-shuffle, codegen'd projection; the only
  * stateful shuffle keys on the shingle key. The posting cap
  * [[DefaultMaxPostings]] stands in for the batch doc-freq guard, a
  * corpus fraction a stream cannot compute: a boilerplate shingle key
  * must not accumulate O(corpus) postings or emit O(occupancy) matches
  * per arrival. Like the batch guard, the cap UNDER-reports — spans can
  * only shrink or vanish, never appear. */
object StreamingSpanDedup {

  /** Postings kept per shingle key. */
  val DefaultMaxPostings = 64

  case class SpanMatch(
      doc_id: Long, event_time: java.sql.Timestamp,
      matched_doc_id: Long, pos_new: Int, pos_old: Int)

  /** Positional shingle matches of each arriving document against every
    * earlier in-horizon arrival — the streaming half. `docs` is a
    * STREAMING DataFrame carrying `idCol`, `textCol`, and event-time
    * `timeCol`; `horizonMinutes` is both the watermark and the dedup
    * memory. Emits one [[SpanMatch]] per (new posting, stored posting)
    * key collision — EVERY earlier in-horizon posting, not the first
    * only, because the island fold needs the full diagonal structure;
    * feed the sink to [[spansFromMatches]]. */
  def spanMatchStream(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      k: Int = Dedup.DefaultSpanK, maxPostings: Int = DefaultMaxPostings,
      fast: Boolean = false): DataFrame = {
    require(horizonMinutes >= 1)
    import spark.implicits._
    import graft.functions.TextFunctions._

    val posted = docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"), col("event_time"),
        tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("event_time"),
        // outer + null-drop: skips InferFiltersFromGenerate's
        // re-tokenizing pushed filter; native positionalShingleKeys =
        // the batch posting's exact key values (see
        // Dedup.positionalPosting)
        posexplode_outer(positionalShingleKeys(col("toks"), k, fast)).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
      .select(col("h").as("key"), col("doc_id"), col("event_time"), col("pos").as("payload"))
      .as[Arrival[Long, Int]]

    // deterministic within-batch order: (event_time, doc, pos)
    val order = Ordering.by((m: Member[Int]) => (m.arrivalMs, m.doc, m.payload))
    HorizonBuckets(posted, horizonMinutes * 60 * 1000L, maxPostings, order) { (a, earlier) =>
      earlier.map(m =>
        SpanMatch(a.doc, new java.sql.Timestamp(a.arrivalMs), m.doc, a.payload, m.payload))
    }.toDF()
  }

  /** Batch finalization over the match sink: maximal shared spans
    * ≥ `minSpanTokens` per (doc, earlier doc) pair — `Dedup.spanFold`
    * verbatim, so streaming and batch span semantics cannot drift.
    * Output: (doc_id, matched_doc_id, n_spans, max_span, start_new,
    * start_old), one row per pair with at least one qualifying span. */
  def spansFromMatches(
      matches: DataFrame,
      k: Int = Dedup.DefaultSpanK,
      minSpanTokens: Int = Dedup.DefaultMinSpanTokens): DataFrame =
    Dedup.spanFold(
      matches.select(
        col("doc_id").as("doc_a"), col("matched_doc_id").as("doc_b"),
        col("pos_new").as("pa"), col("pos_old").as("pb")),
      k, minSpanTokens)
      .select(
        col("doc_a").as("doc_id"), col("doc_b").as("matched_doc_id"),
        col("n_spans"), col("max_span"),
        col("start_a").as("start_new"), col("start_b").as("start_old"))
}
