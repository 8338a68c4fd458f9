package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full analytical workload (src/notebooks/analysis.ipynb,
  * 17 SQL statements + pandas post-pass) over the trusted views
  * registered by the pipeline (`trusted_users/videos/devices/events`).
  *
  * Ports are deliberately literal about the semantic hazards
  * (SURVEY.md §7): session ordering and date windows compare *strings*
  * (`MIN(session_id)`, `SUBSTRING(timestamp,1,10)`), never typed
  * timestamps; the pandas composite-score pass (cell 22) becomes
  * DataFrame arithmetic.
  *
  * Scale: every query is a Catalyst plan over partition-pruned parquet.
  * The Q1–Q3 statements share one windowed pass, `ev`: `trusted_events`
  * shuffled once on user_id, each row carrying its user's first session
  * id and date as window columns. Every per-user CTE of those cells is a
  * filter or a conditional aggregate over `ev` grouped by user_id, so it
  * keeps `ev`'s partitioning, and the cells' joins of `trusted_events`
  * back to its own per-user `GROUP BY` are gone. The literal cell SQL is
  * the test-side `NotebookReference`, which the differential spec
  * compares every rewritten statement against.
  */
object StreamProAnalytics {

  /** Session bounds per user — analysis.ipynb cell 4. */
  def sessionBounds(spark: SparkSession): DataFrame = spark.sql(
    """SELECT user_id,
      |  MIN(session_id) as first_session_id,
      |  MAX(session_id) as last_session_id
      |FROM trusted_events
      |GROUP BY user_id""".stripMargin)

  /** Session-id structure for one user — cell 6 (SPLIT_PART parsing).
    * The user value goes through a named parameter bind, not string
    * interpolation (the reference f-strings its value in — cell 6; a
    * bind costs nothing and can't be injected through). */
  def sessionStructure(spark: SparkSession, userId: String): DataFrame = spark.sql(
    """SELECT DISTINCT
      |  session_id,
      |  SPLIT_PART(session_id, '_', 1) || '_' || SPLIT_PART(session_id, '_', 2) as user_part,
      |  SPLIT_PART(session_id, '_', 4) as day_index,
      |  SPLIT_PART(session_id, '_', 5) as sub_session_index
      |FROM trusted_events
      |WHERE user_id = :userId
      |ORDER BY session_id""".stripMargin,
    Map("userId" -> userId))

  /** Per-user session overview, top 10 — cell 7. */
  def userSessionOverview(spark: SparkSession): DataFrame = spark.sql(
    """SELECT user_id,
      |  COUNT(DISTINCT session_id) as total_sessions,
      |  MIN(session_id) as first_session,
      |  MAX(session_id) as last_session,
      |  MAX(CAST(SPLIT_PART(session_id, '_', 4) AS INTEGER)) + 1 as active_days
      |FROM trusted_events
      |GROUP BY user_id
      |ORDER BY total_sessions DESC
      |LIMIT 10""".stripMargin)

  /** Days with multiple sessions — cell 8 (GROUP BY ordinal, HAVING,
    * ordered GROUP_CONCAT → Spark 4 listagg WITHIN GROUP). Each user id
    * binds as its own named parameter. */
  def dailyPatterns(spark: SparkSession, userIds: Seq[String]): DataFrame = {
    val params = userIds.zipWithIndex.map { case (u, i) => s"user$i" -> u }
    spark.sql(
      s"""SELECT
         |  SPLIT_PART(session_id, '_', 1) || '_' || SPLIT_PART(session_id, '_', 2) as user_id,
         |  SPLIT_PART(session_id, '_', 4) as day_index,
         |  COUNT(DISTINCT session_id) as sessions_per_day,
         |  listagg(SPLIT_PART(session_id, '_', 5)) WITHIN GROUP (ORDER BY session_id) as sub_session_indices
         |FROM trusted_events
         |WHERE user_id IN (${params.map(":" + _._1).mkString(", ")})
         |GROUP BY 1, 2
         |HAVING COUNT(DISTINCT session_id) > 1
         |ORDER BY 1, CAST(day_index AS INTEGER)""".stripMargin,
      params.toMap)
  }

  /** Session timeline for one user — cell 9 (conditional aggregation);
    * the user id binds as a named parameter. */
  def sessionTimeline(spark: SparkSession, userId: String): DataFrame = spark.sql(
    """SELECT session_id,
       |  SPLIT_PART(session_id, '_', 4) as day_index,
       |  SPLIT_PART(session_id, '_', 5) as sub_session,
       |  MIN(timestamp) as session_start,
       |  MAX(timestamp) as session_end,
       |  COUNT(*) as event_count,
       |  COUNT(CASE WHEN event_name = 'watch_time' THEN 1 END) as watch_events,
       |  SUM(CASE WHEN event_name = 'watch_time' THEN CAST(value AS DOUBLE) ELSE 0 END) as total_watch_time
       |FROM trusted_events
       |WHERE user_id = :userId
       |GROUP BY session_id, day_index, sub_session
       |ORDER BY CAST(day_index AS INTEGER), CAST(sub_session AS INTEGER)""".stripMargin,
    Map("userId" -> userId))

  /** Per-user facts as window columns — the one shuffle on user_id that
    * the Q1–Q3 statements share. Each `trusted_events` row with a user
    * carries its user's first session id and the date of the user's
    * earliest timestamp, so the cells' joins back to their per-user
    * `GROUP BY` become predicates on the row's own columns. Rows without
    * a user are dropped: the cells' equi-joins on `user_id` never matched
    * them. The explicit filter also gives every consumer the same scan,
    * so a second read of `ev` in one plan is a reused exchange. */
  private val ev: String =
    """ev AS (
      |  SELECT *,
      |    MIN(session_id) OVER (PARTITION BY user_id) as first_session_id,
      |    SUBSTRING(MIN(timestamp) OVER (PARTITION BY user_id), 1, 10) as first_session_date
      |  FROM trusted_events
      |  WHERE user_id IS NOT NULL
      |)""".stripMargin

  /** Positive watch time of each user's first session — cells 10–11.
    * A user with none has no row. */
  private val firstSessionWatchTimes: String =
    """first_session_watch_times AS (
      |  SELECT user_id, first_session_id,
      |    SUM(CAST(value AS DOUBLE)) as total_watch_time
      |  FROM ev
      |  WHERE session_id = first_session_id
      |    AND event_name = 'watch_time'
      |    AND value IS NOT NULL
      |    AND value > 0
      |  GROUP BY user_id, first_session_id
      |)""".stripMargin

  /** Q1 — % of users reaching ≥30s watch time in their first session —
    * cell 10 (left join, conditional distinct counts, NULLIF/ROUND). */
  def q1Analysis(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |$firstSessionWatchTimes
      |SELECT
      |  COUNT(DISTINCT u.user_id) as total_users,
      |  COUNT(DISTINCT fswt.user_id) as users_with_watch_time,
      |  COUNT(DISTINCT CASE WHEN fswt.total_watch_time >= 30 THEN fswt.user_id END) as users_with_30_plus,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN fswt.total_watch_time >= 30 THEN fswt.user_id END)
      |        / NULLIF(COUNT(DISTINCT u.user_id), 0), 2) as pct_reaching_30_seconds
      |FROM trusted_users u
      |LEFT JOIN first_session_watch_times fswt ON u.user_id = fswt.user_id""".stripMargin)

  /** Users reaching 30s+ — cell 11. */
  def q1SuccessfulUsers(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |$firstSessionWatchTimes
      |SELECT user_id, first_session_id, total_watch_time
      |FROM first_session_watch_times
      |WHERE total_watch_time >= 30
      |ORDER BY total_watch_time DESC""".stripMargin)

  /** Genre exposure overview — cell 13. */
  def genresOverview(spark: SparkSession): DataFrame = spark.sql(
    """SELECT genre,
      |  COUNT(*) as video_count,
      |  COUNT(DISTINCT e.user_id) as users_exposed
      |FROM trusted_videos v
      |INNER JOIN trusted_events e ON v.video_id = e.video_id
      |GROUP BY genre
      |ORDER BY users_exposed DESC""".stripMargin)

  /** Watch time per (user, genre) over the user's first session — cells
    * 14–15, under the cell's CTE name and watch-time column name.
    * Events whose video is unknown drop out in the join. */
  private def firstSessionGenres(name: String, watch: String): String =
    s"""$name AS (
      |  SELECT e.user_id, v.genre,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as $watch
      |  FROM ev e
      |  INNER JOIN trusted_videos v ON e.video_id = v.video_id
      |  WHERE e.session_id = e.first_session_id
      |  GROUP BY e.user_id, v.genre
      |)""".stripMargin

  /** Activity after the first session, up to 3 days past its date —
    * cells 14–15 (the cells' session-range and string date-window join,
    * now a filter), under the cell's CTE name. A user with no such
    * event has no row. */
  private def subsequentActivity(name: String): String =
    s"""$name AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_name = 'watch_time' THEN CAST(value AS DOUBLE) ELSE 0 END) as subsequent_watch_time,
      |    COUNT(DISTINCT session_id) as subsequent_sessions
      |  FROM ev
      |  WHERE session_id > first_session_id
      |    AND SUBSTRING(timestamp, 1, 10) <= CAST(date_add(CAST(first_session_date AS DATE), 3) AS STRING)
      |  GROUP BY user_id
      |)""".stripMargin

  /** Q2 retention quality by first-session genre exposure — cell 14.
    * Both sides hold one row per user per genre group, so the counts
    * need no DISTINCT. */
  def q2Enhanced(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |${firstSessionGenres("first_session_genres", "first_session_genre_watch_time")},
      |${subsequentActivity("second_session_activity")}
      |SELECT fsg.genre,
      |  COUNT(fsg.user_id) as users_exposed,
      |  COUNT(ssa.user_id) as users_returned,
      |  ROUND(100.0 * COUNT(ssa.user_id) / COUNT(fsg.user_id), 1) as return_rate_pct,
      |  ROUND(AVG(fsg.first_session_genre_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(ssa.subsequent_watch_time), 1) as avg_subsequent_watch_time,
      |  ROUND(AVG(ssa.subsequent_sessions), 1) as avg_subsequent_sessions
      |FROM first_session_genres fsg
      |LEFT JOIN second_session_activity ssa ON fsg.user_id = ssa.user_id
      |GROUP BY fsg.genre
      |ORDER BY avg_subsequent_watch_time DESC NULLS LAST""".stripMargin)

  /** Q2 dominant-genre analysis — cell 15 (ROW_NUMBER argmax +
    * engagement quality score). Ties in the argmax stay as unordered as
    * the cell's. */
  def q2DominantGenre(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |${firstSessionGenres("first_session_genre_watch", "genre_watch_time")},
      |user_dominant_genres AS (
      |  SELECT user_id, genre as dominant_genre, genre_watch_time
      |  FROM (
      |    SELECT user_id, genre, genre_watch_time,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY genre_watch_time DESC) as rn
      |    FROM first_session_genre_watch
      |  )
      |  WHERE rn = 1
      |),
      |${subsequentActivity("subsequent_activity")}
      |SELECT udg.dominant_genre,
      |  COUNT(udg.user_id) as users_with_dominant_genre,
      |  COUNT(sa.user_id) as users_returned,
      |  ROUND(100.0 * COUNT(sa.user_id) / COUNT(udg.user_id), 1) as return_rate_pct,
      |  ROUND(AVG(udg.genre_watch_time), 1) as avg_dominant_genre_first_watch_time,
      |  ROUND(AVG(sa.subsequent_watch_time), 1) as avg_subsequent_watch_time,
      |  ROUND(AVG(sa.subsequent_sessions), 1) as avg_subsequent_sessions,
      |  ROUND(AVG(sa.subsequent_watch_time) * AVG(sa.subsequent_sessions), 1) as engagement_quality_score
      |FROM user_dominant_genres udg
      |LEFT JOIN subsequent_activity sa ON udg.user_id = sa.user_id
      |GROUP BY udg.dominant_genre
      |ORDER BY avg_subsequent_watch_time DESC NULLS LAST""".stripMargin)

  /** Device/app overview — cell 18. */
  def deviceAppOverview(spark: SparkSession): DataFrame = spark.sql(
    """SELECT device_os, app_version,
      |  COUNT(DISTINCT user_id) as unique_users,
      |  COUNT(DISTINCT session_id) as total_sessions,
      |  COUNT(*) as total_events
      |FROM trusted_events
      |GROUP BY device_os, app_version
      |ORDER BY unique_users DESC""".stripMargin)

  /** OS / app-version user distribution (scalar subquery) — cell 19.
    * The share is NULL, not a division error, when no event has a user. */
  def deviceOsDistribution(spark: SparkSession): DataFrame = spark.sql(
    """SELECT device_os,
      |  COUNT(DISTINCT user_id) as unique_users,
      |  ROUND(100.0 * COUNT(DISTINCT user_id) / NULLIF((SELECT COUNT(DISTINCT user_id) FROM trusted_events), 0), 1) as user_pct
      |FROM trusted_events
      |GROUP BY device_os
      |ORDER BY unique_users DESC""".stripMargin)

  def appVersionDistribution(spark: SparkSession): DataFrame = spark.sql(
    """SELECT app_version,
      |  COUNT(DISTINCT user_id) as unique_users,
      |  ROUND(100.0 * COUNT(DISTINCT user_id) / NULLIF((SELECT COUNT(DISTINCT user_id) FROM trusted_events), 0), 1) as user_pct
      |FROM trusted_events
      |GROUP BY app_version
      |ORDER BY unique_users DESC""".stripMargin)

  /** Distinct (user, device_os, app_version) of each user's first
    * session — cell 23. */
  private val userDeviceInfo: String =
    """user_device_info AS (
      |  SELECT DISTINCT user_id, device_os, app_version
      |  FROM ev
      |  WHERE session_id = first_session_id
      |)""".stripMargin

  /** One row per user: cells 20–21's `first_session_watch_times`,
    * `user_session_counts`, `day1_retention` and cell 20's
    * `user_device_info` as one conditional aggregate over `ev`. The
    * first-session sum has no outer ELSE, so a user with no first
    * session id keeps a NULL watch time (the cells' left join found no
    * row); `returned_day1` is 1 iff some later session falls on the day
    * after the first session's date. `sessions` is the user's set of
    * distinct (session, device_os, app_version): its session ids give
    * `total_sessions`, and the first session's entries give
    * `first_devices`, the distinct (device_os, app_version) pairs of the
    * first session. Both Q3 statements thus read the same `ev` columns,
    * and the benchmarks side of `q3CompositeScores` reuses the drop-off
    * side's one exchange. */
  private val userFacts: String =
    """user_facts AS (
      |  SELECT user_id, first_session_watch_time, returned_day1,
      |    CAST(size(array_distinct(transform(sessions, s -> s.session_id))) AS BIGINT) as total_sessions,
      |    transform(filter(sessions, s -> s.session_id = first_session_id),
      |      s -> named_struct('device_os', s.device_os, 'app_version', s.app_version)) as first_devices
      |  FROM (
      |    SELECT user_id, first_session_id,
      |      SUM(CASE WHEN session_id = first_session_id THEN
      |        CASE WHEN event_name = 'watch_time' THEN CAST(value AS DOUBLE) ELSE 0 END END) as first_session_watch_time,
      |      collect_set(CASE WHEN session_id IS NOT NULL THEN
      |        named_struct('session_id', session_id, 'device_os', device_os, 'app_version', app_version) END) as sessions,
      |      MAX(CASE WHEN session_id > first_session_id
      |        AND SUBSTRING(timestamp, 1, 10) = CAST(date_add(CAST(first_session_date AS DATE), 1) AS STRING)
      |        THEN 1 ELSE 0 END) as returned_day1
      |    FROM ev
      |    GROUP BY user_id, first_session_id
      |  )
      |)""".stripMargin

  /** Q3 drop-off metrics per device_os × app_version — cell 20
    * (conditional counts, HAVING ≥5 users). Each user counts once per
    * distinct (device_os, app_version) of their first session, so the
    * counts need no DISTINCT. */
  def q3DropOffMetrics(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |$userFacts
      |SELECT d.device_os, d.app_version,
      |  COUNT(uf.user_id) as total_users,
      |  COUNT(CASE WHEN uf.total_sessions = 1 THEN uf.user_id END) as users_single_session,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.total_sessions = 1 THEN uf.user_id END) / COUNT(uf.user_id), 1) as single_session_rate_pct,
      |  COUNT(CASE WHEN uf.first_session_watch_time < 5 THEN uf.user_id END) as users_low_watch_time,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.first_session_watch_time < 5 THEN uf.user_id END) / COUNT(uf.user_id), 1) as low_watch_time_rate_pct,
      |  COUNT(CASE WHEN uf.returned_day1 = 0 THEN uf.user_id END) as users_no_day1_return,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.returned_day1 = 0 THEN uf.user_id END) / COUNT(uf.user_id), 1) as no_day1_return_rate_pct,
      |  ROUND(AVG(uf.first_session_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(uf.total_sessions), 1) as avg_total_sessions
      |FROM user_facts uf
      |LATERAL VIEW explode(uf.first_devices) t AS d
      |GROUP BY d.device_os, d.app_version
      |HAVING COUNT(uf.user_id) >= 5
      |ORDER BY single_session_rate_pct DESC""".stripMargin)

  /** Q3 overall benchmarks — cell 21, over the same `user_facts` as the
    * drop-off metrics. The rates are NULL, not a division error, when no
    * event has a user. */
  def q3OverallBenchmarks(spark: SparkSession): DataFrame = spark.sql(
    s"""WITH $ev,
      |$userFacts
      |SELECT 'OVERALL' as category,
      |  COUNT(uf.user_id) as total_users,
      |  COUNT(CASE WHEN uf.total_sessions = 1 THEN uf.user_id END) as users_single_session,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.total_sessions = 1 THEN uf.user_id END) / NULLIF(COUNT(uf.user_id), 0), 1) as single_session_rate_pct,
      |  COUNT(CASE WHEN uf.first_session_watch_time < 5 THEN uf.user_id END) as users_low_watch_time,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.first_session_watch_time < 5 THEN uf.user_id END) / NULLIF(COUNT(uf.user_id), 0), 1) as low_watch_time_rate_pct,
      |  COUNT(CASE WHEN uf.returned_day1 = 0 THEN uf.user_id END) as users_no_day1_return,
      |  ROUND(100.0 * COUNT(CASE WHEN uf.returned_day1 = 0 THEN uf.user_id END) / NULLIF(COUNT(uf.user_id), 0), 1) as no_day1_return_rate_pct,
      |  ROUND(AVG(uf.first_session_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(uf.total_sessions), 1) as avg_total_sessions
      |FROM user_facts uf""".stripMargin)

  /** Q3 composite drop-off scoring — cell 22's pandas post-pass as
    * DataFrame ops: deviations vs the overall benchmarks and
    * 0.4/0.3/0.3-weighted composite, worst first. One lazy plan: the
    * one-row benchmarks are broadcast and cross-joined in, so building
    * the frame runs no job, and the benchmarks' `user_facts` shuffle is
    * the drop-off side's, reused. */
  def q3CompositeScores(spark: SparkSession): DataFrame =
    compositeScores(q3DropOffMetrics(spark), q3OverallBenchmarks(spark))

  /** Cell 22 over given drop-off metrics and overall benchmarks. */
  private[analytics] def compositeScores(dropOff: DataFrame, benchmarks: DataFrame): DataFrame = {
    val rates = Seq("single_session_rate_pct", "low_watch_time_rate_pct", "no_day1_return_rate_pct")
    // ROUND yields DecimalType; the deviations are doubles
    val overall = benchmarks
      .select(rates.map(r => col(r).cast("double").as(s"overall_$r")): _*)
    def deviation(r: String): Column = col(r) - col(s"overall_$r")
    dropOff.crossJoin(broadcast(overall))
      .withColumn("single_session_deviation", deviation("single_session_rate_pct"))
      .withColumn("low_watch_deviation", deviation("low_watch_time_rate_pct"))
      .withColumn("no_day1_deviation", deviation("no_day1_return_rate_pct"))
      .withColumn("composite_drop_off_score",
        col("single_session_deviation") * 0.4 +
          col("low_watch_deviation") * 0.3 +
          col("no_day1_deviation") * 0.3)
      .drop(overall.columns.toSeq: _*)
      .orderBy(col("composite_drop_off_score").desc)
  }

  /** Sample users of the worst combo — cell 23 (parameterized second
    * SQL round-trip driven by the previous result). Values bind as named
    * parameters rather than interpolating into the SQL text. */
  def q3WorstComboUsers(spark: SparkSession, deviceOs: String, appVersion: String): DataFrame = spark.sql(
    s"""WITH $ev,
      |$userDeviceInfo
      |SELECT user_id
      |FROM user_device_info
      |WHERE device_os = :deviceOs AND app_version = :appVersion
      |ORDER BY user_id
      |LIMIT 10""".stripMargin,
    Map("deviceOs" -> deviceOs, "appVersion" -> appVersion))

  /** Table row counts — cell 3. */
  def tableCounts(spark: SparkSession): Map[String, Long] =
    Seq("trusted_users", "trusted_videos", "trusted_devices", "trusted_events")
      .map(t => t -> spark.table(t).count()).toMap
}
