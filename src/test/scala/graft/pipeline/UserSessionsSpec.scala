package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSpecBase
import graft.fixtures.StreamProFixture
import graft.store.{LayerPaths, Snapshot}

/** The gold `gold_user_sessions` table, committed by each ingestion
  * date, equals a rebuild from all trusted events: after a second date,
  * after a rerun of a date, after a rerun that drops a user, and after a
  * date whose own build failed. A failed events load keeps the previous
  * snapshot current, and a failed build is reported in the result. */
class UserSessionsSpec extends SparkSpecBase {
  import UserSessionsSpec._

  private val Day1 = StreamProFixture.IngestionDate
  private val Day2 = "2025-09-10"

  private def gold(root: String): String = LayerPaths(root).goldTable(UserSessions.Table)

  private def run(root: String, date: String): Seq[JobResult] =
    Pipeline.run(spark, Pipeline.Config(root, date))

  /** The hostile fixture plus user_300, whose only session falls on
    * 2025-04-01, as the first date; the second date's drop copies the
    * other tables and holds `day2` events. */
  private def lake(day2: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-gold")
    StreamProFixture.writeHostileLanding(dir)
    val landing = dir.resolve("landing")
    append(landing.resolve(s"events_$Day1.jsonl"),
      Seq(event("2025-04-01T08:00:00", "user_300", "user_300_sess_0_0", 4.0, "video_2")))
    for (t <- Seq("users", "videos", "devices"))
      Files.copy(landing.resolve(s"${t}_$Day1.csv"), landing.resolve(s"${t}_$Day2.csv"))
    writeEvents(dir, day2)
    dir.toString
  }

  private def writeEvents(dir: Path, lines: Seq[String]): Unit =
    Files.write(dir.resolve("landing").resolve(s"events_$Day2.jsonl"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def table(): DataFrame = spark.table(UserSessions.ViewName)

  private def rebuild(): DataFrame = UserSessions.facts(spark.table("trusted_events"))

  private def assertRebuilt(): Unit = {
    val (got, want) = (rows(table()), rows(rebuild()))
    assert(got === want)
  }

  private def fact(user: String, column: String): Any =
    table().where(col("user_id") === user).select(column).collect().head.get(0)

  /** user_300 returns the day after its first session; user_1 gains an
    * earlier session, which moves its first session and date; user_400
    * is new; one event has no user. */
  private val SecondDay: Seq[String] = Seq(
    event("2025-04-02T09:00:00", "user_300", "user_300_sess_1_0", 6.0, "video_3"),
    event("2025-03-30T05:00:00", "user_1", "user_1_sess_-1_0", 20.0, "video_4"),
    event("2025-04-03T07:00:00", "user_400", "user_400_sess_0_0", 31.0, "video_6"),
    event("2025-04-03T07:00:00", null, "ghost_sess_9_0", 1.0, "video_6"))

  lazy val twoDays: String = {
    val root = lake(SecondDay)
    assert(run(root, Day1).forall(_.success))
    assert(fact("user_300", "returned_day1") === 0)
    assert(run(root, Day2).forall(_.success))
    root
  }

  test("after two ingestion dates the table equals a rebuild from scratch") {
    twoDays
    assertRebuilt()
    assert(Snapshot.currentVersion(spark, gold(twoDays)) === Some(1L))
    assert(fact("user_300", "returned_day1") === 1)
    assert(fact("user_1", "first_session_id") === "user_1_sess_-1_0")
    assert(fact("user_1", "first_session_date") === "2025-03-30")
    assert(fact("user_400", "first_session_positive_watch_time") === 31.0)
    assert(table().where(col("user_id").isNull).count() === 0)
  }

  test("a rerun of a date leaves the table unchanged; one that drops a user recomputes it") {
    twoDays
    val before = rows(table())
    assert(run(twoDays, Day2).forall(_.success))
    assert(rows(table()) === before)
    // rerun the second date without user_400's event: the partition it
    // was in is overwritten, and its row goes with it
    writeEvents(java.nio.file.Paths.get(twoDays), SecondDay.filterNot(_.contains("user_400")))
    assert(run(twoDays, Day2).forall(_.success))
    assertRebuilt()
    assert(table().where(col("user_id") === "user_400").count() === 0)
    assert(rows(table()).length === before.length - 1)
  }

  test("a failed events load keeps the previous snapshot current") {
    val root = lake(SecondDay :+ """{"user_id": "user_1", "session_id": "user_1_sess_9_0", "value": "abc"}""")
    assert(run(root, Day1).forall(_.success))
    val before = rows(table())
    spark.catalog.dropTempView(UserSessions.ViewName)
    assert(run(root, Day2).last.failedTables === Seq("events"))
    assert(Snapshot.currentVersion(spark, gold(root)) === Some(0L))
    assert(rows(table()) === before)
  }

  test("a failed gold build fails the result; the next date's build repairs the table") {
    val root = lake(SecondDay)
    // a file where the gold table's directory goes makes its commit fail
    val blocker = Files.createDirectories(java.nio.file.Paths.get(gold(root)).getParent)
      .resolve(UserSessions.Table)
    Files.write(blocker, Array[Byte]())
    spark.catalog.dropTempView(UserSessions.ViewName)
    val day1 = run(root, Day1)
    assert(day1.last.failedTables === Seq(UserSessions.ViewName))
    assert(!day1.last.success)
    assert(day1.last.recordsProcessed > 0)
    assert(spark.table("trusted_events").count() > 0)
    assert(!spark.catalog.tableExists(UserSessions.ViewName))
    Files.delete(blocker)
    assert(run(root, Day2).forall(_.success))
    assertRebuilt()
    assert(fact("user_105", "total_sessions") === 2L) // a first-date user
  }
}

object UserSessionsSpec {

  def event(ts: String, user: String, session: String, watch: Double, video: String): String = {
    def q(v: String) = if (v == null) "null" else s""""$v""""
    s"""{"timestamp": ${q(ts)}, "account_id": "acct_g", "video_id": "$video", "user_id": ${q(user)}, "event_name": "watch_time", "value": $watch, "device": "mobile", "app_version": "2.0.1", "device_os": "iOS", "network_type": "wifi", "ip": "10.0.0.2", "country": "US", "session_id": ${q(session)}}"""
  }

  def append(file: Path, lines: Seq[String]): Unit = Files.write(file,
    lines.mkString("\n", "\n", "").getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)

  /** Rows ordered by user, doubles (also inside arrays and structs)
    * rounded to 9 decimal places: sums may add in another order. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => normalized(r).asInstanceOf[Seq[Any]])
      .sortBy(r => Option(r.head).map(_.toString).getOrElse(""))

  private def normalized(v: Any): Any = v match {
    case d: Double if !d.isNaN && !d.isInfinite => BigDecimal(d).setScale(9, RoundingMode.HALF_UP)
    case r: Row => r.toSeq.map(normalized)
    case s: scala.collection.Seq[_] => s.map(normalized).toSeq
    case other => other
  }
}
