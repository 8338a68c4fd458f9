package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.pipeline.SchemaRegistry

/** Structured Streaming extension of the medallion pipeline. The
  * reference processes daily batches (no true streaming — SURVEY.md
  * §2.F); the same landing layout naturally generalizes to a file-source
  * stream: new date-suffixed drops are discovered incrementally and
  * flow through identical transforms into the trusted layer.
  *
  * Components:
  *   - `eventsStream`: file-source stream over landing JSONL with the
  *     registry schema (schema must be explicit for streams).
  *   - `trustedSink`: partitioned parquet sink with checkpointing —
  *     exactly-once into the same trusted layout batch queries read.
  *   - `watchTimePerMinute`: event-time tumbling-window aggregation with
  *     a watermark bounding state.
  *   - `sessionize`: gap-based session assignment via
  *     flatMapGroupsWithState — the stateful primitive the reference's
  *     pre-assigned session_id column sidesteps.
  *
  * Scale: the file source lists incrementally (maxFilesPerTrigger
  * throttles backfill); state size is bounded by watermark/timeout, and
  * keys partition across executors — the standard recipe at cluster
  * scale.
  */
object StreamingIngest {

  /** Landing events as an unbounded stream. */
  def eventsStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(SchemaRegistry.events.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(s"$landingDir/*.jsonl")

  /** Write a stream into the trusted layout (append, checkpointed). */
  def trustedSink(df: DataFrame, trustedRoot: String, checkpoint: String,
      ingestionDate: String): StreamingQuery =
    df.withColumn(SchemaRegistry.PartitionCol, lit(ingestionDate))
      .writeStream
      .format("parquet")
      .option("path", trustedRoot)
      .option("checkpointLocation", checkpoint)
      .partitionBy(SchemaRegistry.PartitionCol)
      .outputMode(OutputMode.Append)
      .start()

  /** Tumbling-window watch-time aggregation with a watermark. The
    * reference's string ISO timestamps parse to event time here (this is
    * the one deliberate divergence from the string-comparison semantics:
    * streaming windows need real timestamps). */
  def watchTimePerMinute(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", to_timestamp(col("timestamp")))
      .withWatermark("event_time", "10 minutes")
      .filter(col("event_name") === "watch_time")
      .groupBy(
        window(col("event_time"), "1 minute").as("w"),
        col("user_id"))
      .agg(sum(col("value")).as("watch_seconds"),
        count(lit(1)).as("watch_events"))
      .select(col("w.start").as("window_start"), col("user_id"),
        col("watch_seconds"), col("watch_events"))

  /** Batch twin of `sessionize`: gap-based sessions via lag + a running
    * sum of session-start flags — the standard window formulation. Kept
    * semantically in lockstep with the streaming path and asserted equal
    * on the same fixture (StreamingIngestSpec), which anchors the
    * stateful flatMapGroupsWithState logic to a closed-form definition:
    * the streaming output must equal this batch result minus each user's
    * final session (which the stream correctly holds open in state). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionizeCore(
      events.withColumn("event_time", to_timestamp(col("timestamp")))
        .select(col("user_id"), col("event_time")),
      gapMinutes)

  /** `sessionizeBatch` over a timestamp-TYPED time column (the events
    * parquet shape) — same core, no string parse. Oracle-gated as
    * `op_sessionize`. */
  def sessionizeEvents(events: DataFrame, tsCol: String,
      gapMinutes: Int = 30): DataFrame =
    sessionizeCore(
      events.select(col("user_id"), col(tsCol).cast("timestamp").as("event_time")),
      gapMinutes)

  /** Gap-based sessions via lag + a running sum of session-start flags
    * over (user_id, event_time). Deterministic under timestamp TIES
    * without a tiebreak column: tied rows compute the same gap to the
    * group's predecessor whichever of them the window visits first
    * (equal event_time ⇒ equal lag diff), so the per-session
    * (start, end, count) aggregate is tie-order invariant even though
    * individual lag values are not. */
  private def sessionizeCore(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60 * 1000L
    val w = Window.partitionBy("user_id").orderBy("event_time")
    events
      .withColumn("prev", lag("event_time", 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_millis(col("event_time")) - unix_millis(col("prev")) > gapMs, 1)
          .otherwise(0))
      .withColumn("sess_no", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_no")
      .agg(
        min("event_time").as("session_start"),
        max("event_time").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
  }

  case class SessionEvent(user_id: String, event_time: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, events: Long)
  case class SessionOut(
      user_id: String, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization: events for a user belong to one session
    * until a silence of `gapMinutes`; a session closes either when a
    * later event arrives past the gap, or when the *event-time watermark*
    * passes last+gap (EventTimeTimeout — processing-time timeouts would
    * make the engine spin empty micro-batches polling wall-clock).
    * State per key is three longs — bounded, and reclaimed by the
    * watermark. */
  def sessionize(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val typed = events
      .withColumn("event_time", to_timestamp(col("timestamp")))
      .withWatermark("event_time", "1 minute")
      .select(col("user_id"), col("event_time"))
      .as[SessionEvent]

    val gapMs = gapMinutes * 60 * 1000L
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.events))
          } else {
            val sorted = rows.toSeq.sortBy(_.event_time.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.event_time.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, events = s.events + 1))
                case Some(s) =>
                  closed ::= SessionOut(user,
                    new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.events)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close via watermark once last+gap is passed (must stay
              // ahead of the current watermark or Spark rejects it)
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }.toDF()
  }
}
