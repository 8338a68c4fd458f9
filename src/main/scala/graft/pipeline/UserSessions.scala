package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.{Snapshot, Storage}

/** Gold layer: `gold_user_sessions`, one row per user holding every
  * per-user fact the notebook's Q1–Q3 statements derive from
  * `trusted_events` (beyond the reference, whose notebook re-aggregates
  * the events on every statement). The statements read this table
  * instead of shuffling the events on user_id each time.
  *
  * Columns, all over the user's events of every ingestion date:
  *   - `first_session_id`, `first_session_date`: `MIN(session_id)` and
  *     the date of `MIN(timestamp)`, compared as strings like the cells;
  *   - `first_session_positive_watch_time` (Q1): sum of the first
  *     session's positive watch values, NULL when there is none;
  *   - `first_session_watch_time`, `total_sessions`, `returned_day1`,
  *     `first_devices` (Q3): the first session's watch sum (NULL for a
  *     user without a session id), the distinct session count, 1 iff a
  *     later session falls on the day after the first session's date,
  *     and the distinct (device_os, app_version) of the first session;
  *   - `first_session_video_events` (Q2): the (video_id, watch) pair of
  *     each first-session event with a video, kept one per event so a
  *     query-time join with `trusted_videos` sums and multiplies as the
  *     cells' join does; `subsequent_watch_time`, `subsequent_sessions`
  *     and `has_subsequent`: activity after the first session up to 3
  *     days past its date.
  *
  * Every successful events load rebuilds the table from all trusted
  * events as one [[Snapshot]] commit, so readers of the previous table
  * never see it overwritten, and a date whose build failed is repaired
  * by the next date's. */
object UserSessions {

  /** The registered view the notebook statements read. */
  val ViewName = "gold_user_sessions"

  /** Table name under `<root>/gold` (`LayerPaths.goldTable`). */
  val Table = "user_sessions"

  private val Frame = "facts"

  private val FirstSession = "session_id = first_session_id"
  private val Watch = "CASE WHEN event_name = 'watch_time' THEN CAST(value AS DOUBLE) ELSE 0 END"
  private def daysAfterFirst(n: Int): String =
    s"CAST(date_add(CAST(first_session_date AS DATE), $n) AS STRING)"
  private val Subsequent =
    s"session_id > first_session_id AND SUBSTRING(timestamp, 1, 10) <= ${daysAfterFirst(3)}"

  /** One conditional aggregate per fact, over events that carry their
    * user's first session id and date. */
  private val Aggregates: Seq[String] = Seq(
    s"""SUM(CASE WHEN $FirstSession AND event_name = 'watch_time' AND value IS NOT NULL AND value > 0
       |  THEN CAST(value AS DOUBLE) END) as first_session_positive_watch_time""".stripMargin,
    s"SUM(CASE WHEN $FirstSession THEN $Watch END) as first_session_watch_time",
    s"""MAX(CASE WHEN session_id > first_session_id AND SUBSTRING(timestamp, 1, 10) = ${daysAfterFirst(1)}
       |  THEN 1 ELSE 0 END) as returned_day1""".stripMargin,
    """collect_set(CASE WHEN session_id IS NOT NULL THEN
      |  named_struct('session_id', session_id, 'device_os', device_os, 'app_version', app_version) END) as sessions""".stripMargin,
    s"""array_sort(collect_list(CASE WHEN $FirstSession AND video_id IS NOT NULL THEN
       |  named_struct('video_id', video_id, 'watch', $Watch) END)) as first_session_video_events""".stripMargin,
    s"SUM(CASE WHEN $Subsequent THEN $Watch END) as subsequent_watch_time",
    s"CAST(size(collect_set(CASE WHEN $Subsequent THEN session_id END)) AS BIGINT) as subsequent_sessions",
    s"MAX(CASE WHEN $Subsequent THEN 1 ELSE 0 END) = 1 as has_subsequent")

  /** The table's rows for `events`' users: one shuffle on user_id for the
    * window, which the aggregate keeps. Rows without a user are dropped;
    * the cells' equi-joins on user_id never matched them. */
  def facts(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    events.where(col("user_id").isNotNull)
      .select(col("*"),
        min("session_id").over(byUser).as("first_session_id"),
        substring(min("timestamp").over(byUser), 1, 10).as("first_session_date"))
      .groupBy("user_id", "first_session_id", "first_session_date")
      .agg(expr(Aggregates.head), Aggregates.tail.map(expr): _*)
      .selectExpr("user_id", "first_session_id", "first_session_date",
        "first_session_positive_watch_time", "first_session_watch_time",
        "CAST(size(array_distinct(transform(sessions, s -> s.session_id))) AS BIGINT) as total_sessions",
        "returned_day1",
        """array_sort(transform(filter(sessions, s -> s.session_id = first_session_id),
          |  s -> named_struct('device_os', s.device_os, 'app_version', s.app_version))) as first_devices""".stripMargin,
        "first_session_video_events", "subsequent_watch_time", "subsequent_sessions",
        "has_subsequent")
  }

  /** Register [[ViewName]] over the current snapshot, if there is one.
    * A snapshot Spark reads as one split is registered as one partition
    * ([[Storage.readParquetOneSplit]]), so the statements' per-user
    * aggregates, windows and sorts over it plan no exchange. */
  def register(spark: SparkSession, base: String): Unit =
    Snapshot.currentPath(spark, base, Frame)
      .foreach(Storage.readParquetOneSplit(spark, _).createOrReplaceTempView(ViewName))

  /** Commit the table as of all of `events`. */
  def refresh(spark: SparkSession, base: String, events: DataFrame): Unit = {
    Snapshot.commit(spark, base, Map(Frame -> facts(events)))
    Snapshot.vacuum(spark, base)
  }
}
