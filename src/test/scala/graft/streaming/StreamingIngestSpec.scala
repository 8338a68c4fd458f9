package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.fixtures.StreamProFixture
import graft.pipeline.SchemaRegistry

class StreamingIngestSpec extends SparkSpecBase {

  lazy val landing: String = {
    val dir = Files.createTempDirectory("graft-stream")
    StreamProFixture.writeLanding(dir)
    s"$dir/landing"
  }

  test("file-source stream ingests landing JSONL into the trusted parquet layout") {
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val stream = StreamingIngest.eventsStream(spark, landing)
    assert(stream.isStreaming)
    val q = StreamingIngest.trustedSink(stream, out, ckpt,
      StreamProFixture.IngestionDate)
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() > 1000)
    assert(written.columns.contains(SchemaRegistry.PartitionCol))
    // partition directory layout matches the batch pipeline's
    assert(new java.io.File(
      s"$out/${SchemaRegistry.PartitionCol}=${StreamProFixture.IngestionDate}").exists())
  }

  test("windowed watch-time aggregation with watermark produces per-minute totals") {
    val out = Files.createTempDirectory("graft-stream-agg").toString
    val ckpt = Files.createTempDirectory("graft-stream-agg-ckpt").toString
    val agg = StreamingIngest.watchTimePerMinute(
      StreamingIngest.eventsStream(spark, landing))
    val q = agg.writeStream
      .format("memory").queryName("watch_per_min")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("watch_per_min")
    // watermark closed all windows (fixture data is bounded)
    assert(rows.count() > 0)
    val u78 = rows.filter(col("user_id") === "user_78")
      .agg(sum("watch_seconds")).collect()(0).getDouble(0)
    // user_78 watches 39.0 (first session) + 9 × 6.0 subsequent = 93.0,
    // but append mode only emits windows the watermark has passed: the
    // final session (day 4, 12:00) sits within the 10-minute watermark
    // of max event time and is correctly held back in state → 87.0.
    assert(u78 === 39.0 + 8 * 6.0)
  }

  test("gap-based sessionization emits closed sessions with bounded state") {
    val events = spark.read.schema(SchemaRegistry.events.schema)
      .json(s"$landing/*.jsonl")
      .filter(col("user_id") === "user_1")
    // batch DataFrame through the same code path requires a stream: feed
    // via a memory-less micro-batch by writing to a temp dir stream
    val dir = Files.createTempDirectory("graft-sess-src")
    events.coalesce(1).write.mode("overwrite").json(dir.toString)
    val stream = spark.readStream.schema(SchemaRegistry.events.schema)
      .json(dir.toString)
    val ckpt = Files.createTempDirectory("graft-sess-ckpt").toString
    val sessions = StreamingIngest.sessionize(spark, stream, gapMinutes = 30)
    val q = sessions.writeStream
      .format("memory").queryName("sessions")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    // fixture: user_1 has 10 sessions (5 days × 2), each a burst of
    // events ≤ minutes apart, 6h gaps between bursts → ≥9 closed
    // sessions emitted (the final one may still be open in state)
    val n = spark.table("sessions").count()
    assert(n >= 9, s"expected ≥9 closed sessions, got $n")
    assert(spark.table("sessions").filter(col("n_events") <= 0).count() === 0)
  }

  test("checkpointed kill/restart: session state recovers, sink stays exactly-once, output equals batch") {
    val events = spark.read.schema(SchemaRegistry.events.schema)
      .json(s"$landing/*.jsonl")
      .filter(col("user_id").isin("user_6", "user_7"))
    val batch = StreamingIngest.sessionizeBatch(events, gapMinutes = 30).collect()
      .map(r => (r.getAs[String]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").getTime,
        r.getAs[java.sql.Timestamp]("session_end").getTime,
        r.getAs[Long]("n_events")))

    // cut INSIDE a non-final session of user_6 (events sit at consecutive
    // minutes, so start+90s leaves events on both sides): the session
    // must be stitched together from state RESTORED across the restart
    val u6 = batch.filter(_._1 === "user_6").sortBy(_._2)
    val splitSession = u6(u6.length / 2)
    val cutMs = splitSession._2 + 90 * 1000L
    val cut = new java.sql.Timestamp(cutMs)
    val ts = to_timestamp(col("timestamp"))
    assert(events.filter(ts < cut && ts >= lit(new java.sql.Timestamp(splitSession._2))).count() > 0)
    assert(events.filter(ts > cut && ts <= lit(new java.sql.Timestamp(splitSession._3))).count() > 0)

    val srcDir = Files.createTempDirectory("graft-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val out = Files.createTempDirectory("graft-restart-out").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(SchemaRegistry.events.schema).json(srcDir)
      val q = StreamingIngest.sessionize(spark, stream, gapMinutes = 30)
        .writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    // phase 1: only pre-cut events exist; query drains them and dies
    events.filter(ts < cut).coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    // phase 2: the rest lands while the query is down; a NEW query on the
    // same checkpoint+sink resumes from recovered offsets AND state
    events.filter(ts >= cut).coalesce(1).write.mode("append").json(srcDir)
    runOnce()

    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").getTime,
        r.getAs[java.sql.Timestamp]("session_end").getTime,
        r.getAs[Long]("n_events")))
    // exactly-once: no duplicate session rows across the restart
    assert(emitted.length === emitted.toSet.size, "sink duplicated rows across restart")
    // the cut session was reassembled whole from restored state
    assert(emitted.toSet.contains(splitSession),
      s"split session $splitSession not stitched; got ${emitted.toSet}")
    // full equivalence with the batch anchor, minus each user's final
    // session (held open on bounded input — same contract as the
    // no-restart equality test)
    val finals = batch.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert(emitted.toSet === batch.toSet -- finals,
      "restarted stream must emit exactly the batch sessions minus held-open finals")
  }

  test("streaming sessionize equals the batch window formulation (minus held-open finals)") {
    val events = spark.read.schema(SchemaRegistry.events.schema)
      .json(s"$landing/*.jsonl")
      .filter(col("user_id").isin("user_1", "user_2", "user_3"))
    val dir = Files.createTempDirectory("graft-sess-eq-src")
    events.coalesce(1).write.mode("overwrite").json(dir.toString)
    val stream = spark.readStream.schema(SchemaRegistry.events.schema)
      .json(dir.toString)
    val ckpt = Files.createTempDirectory("graft-sess-eq-ckpt").toString
    val q = StreamingIngest.sessionize(spark, stream, gapMinutes = 30)
      .writeStream
      .format("memory").queryName("sessions_eq")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("user_id"),
      r.getAs[java.sql.Timestamp]("session_start").getTime,
      r.getAs[java.sql.Timestamp]("session_end").getTime,
      r.getAs[Long]("n_events"))
    val streamed = spark.table("sessions_eq").collect().map(key).toSet
    val batch = StreamingIngest.sessionizeBatch(events, gapMinutes = 30)
      .collect().map(key).toSet
    // the stream must emit EXACTLY the batch sessions, except each user's
    // final session, which stays open (the watermark never passes
    // last+gap on bounded input) — the closed-form anchor for the
    // stateful path
    val heldOpen = batch -- streamed
    assert(streamed.subsetOf(batch),
      s"stream invented sessions: ${streamed -- batch}")
    assert(heldOpen.size === 3, s"expected 3 held-open finals, got $heldOpen")
    val finals = batch.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert(heldOpen === finals)
  }
}
