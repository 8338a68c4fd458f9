package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming SPAN-level duplicate detection — the arrival-time twin of
  * `Dedup.sharedSpans` (copied-passage dedup), completing the streaming
  * twin family (MinHash: `StreamingDedup.minhashDupStream`; embeddings:
  * `embeddingDupStream`; curation: `StreamingCuration`).
  *
  * Architecture — the two-sink split StreamingCuration established,
  * because a span verdict is NOT per-shingle-decidable: an island of
  * consecutive diagonal matches spans MANY shingle keys, so no single
  * stateful group can see a whole span. Instead:
  *
  *   1. [[spanMatchStream]] (streaming, ONE stateful operator): the
  *      positional shingle posting index lives in state keyed by the
  *      60-bit shingle key; each arriving document's postings emit one
  *      match row per earlier in-horizon posting of the same key —
  *      exactly the rows `Dedup.selfSpanMatches`' equi-join produces,
  *      restricted to (later arrival, earlier arrival). Sink them.
  *   2. [[spansFromMatches]] (batch, at finalization): gaps-and-islands
  *      fold of the match sink via the SAME `Dedup.spanFold` the batch
  *      operator uses — maximal spans ≥ `minSpanTokens` per (new, old)
  *      pair. All of one document's matches against earlier documents
  *      are emitted in that document's micro-batch, so the fold needs
  *      no cross-batch state and is exact.
  *
  * Scale/state contract, mirroring the sibling twins: the projection
  * (tokenize → positional shingles → 60-bit key) is the batch
  * operator's own zero-shuffle, codegen'd projection; the only stateful
  * shuffle keys on the shingle key; state per key is the in-horizon
  * posting list, watermark-pruned each visit, reclaimed whole by
  * EventTimeTimeout, and capped at `maxPostings` most-recent entries —
  * the streaming form of the batch doc-freq guard (a boilerplate
  * shingle key must not accumulate O(corpus) postings or emit
  * O(occupancy) matches per arrival; like the batch guard, the cap
  * UNDER-reports — spans can only shrink or vanish, never appear). */
object StreamingSpanDedup {

  case class PostRow(h: Long, doc_id: Long, event_time: java.sql.Timestamp, pos: Int)
  case class PostingState(members: List[(Long, Long, Int)]) // (doc, arrivalMs, pos)
  case class SpanMatch(
      doc_id: Long, event_time: java.sql.Timestamp,
      matched_doc_id: Long, pos_new: Int, pos_old: Int)

  /** Positional shingle matches of each arriving document against every
    * earlier in-horizon arrival — the streaming half. `docs` is a
    * STREAMING DataFrame carrying `idCol`, `textCol`, and event-time
    * `timeCol`; `horizonMinutes` is both the watermark and the dedup
    * memory. Emits one [[SpanMatch]] per (new posting, stored posting)
    * key collision; feed the sink to [[spansFromMatches]]. */
  def spanMatchStream(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      k: Int = Dedup.DefaultSpanK, maxPostings: Int = 64,
      fast: Boolean = false): DataFrame = {
    require(horizonMinutes >= 1)
    require(maxPostings >= 2, "maxPostings must be >= 2")
    import spark.implicits._
    import graft.functions.TextFunctions._
    val horizonMs = horizonMinutes * 60 * 1000L

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
      .select(col("h"), col("doc_id"), col("event_time"), col("pos"))
      .as[PostRow]

    posted
      .groupByKey(_.h)
      .flatMapGroupsWithState[PostingState, SpanMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[PostRow], state: GroupState[PostingState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // newest-first list: arrivals prepend in ascending order, so
            // the posting cap keeps the most recent entries
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_._2 >= wm - horizonMs)
            val out = List.newBuilder[SpanMatch]
            // deterministic within-batch order: (event_time, doc, pos)
            rows.toSeq.sortBy(e => (e.event_time.getTime, e.doc_id, e.pos)).foreach { e =>
              val t = e.event_time.getTime
              // EVERY earlier in-horizon posting matches (unlike the
              // notice twins' first-match-only: the island fold needs
              // the full diagonal structure) — bounded by the cap
              members.foreach { case (d, at, p) =>
                if (d != e.doc_id && at <= t && t - at <= horizonMs)
                  out += SpanMatch(e.doc_id, e.event_time, d, e.pos, p)
              }
              members = ((e.doc_id, t, e.pos) :: members).take(maxPostings)
            }
            state.update(PostingState(members))
            val newest = members.iterator.map(_._2).max
            state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
            out.result().iterator
          }
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
