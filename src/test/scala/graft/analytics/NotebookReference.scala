package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-side reference for the rewritten Q1–Q3 statements of
  * [[StreamProAnalytics]]: the notebook cells' SQL as first ported
  * (analysis.ipynb cells 10–11, 14–15, 20–23), each per-user CTE a
  * `GROUP BY user_id` over `trusted_events` joined back to
  * `trusted_events`. It states what every rewritten statement must
  * answer; the differential spec compares them row for row.
  *
  * Kept literal, including its one known divergence from DuckDB:
  * `q3OverallBenchmarks` divides by the user count without `NULLIF`, so
  * on input with no user Spark's ANSI mode throws `DIVIDE_BY_ZERO` where
  * the production statement returns NULL rates.
  */
object NotebookReference {

  /** Q1 — % of users reaching ≥30s watch time in their first session —
    * cell 10 (chained CTEs, composite-key join, left join, conditional
    * distinct counts, NULLIF/ROUND). */
  def q1Analysis(spark: SparkSession): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT user_id, MIN(session_id) as first_session_id
      |  FROM trusted_events
      |  GROUP BY user_id
      |),
      |first_session_watch_times AS (
      |  SELECT ufs.user_id, ufs.first_session_id,
      |    SUM(CAST(e.value AS DOUBLE)) as total_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id
      |    AND ufs.first_session_id = e.session_id
      |  WHERE e.event_name = 'watch_time'
      |    AND e.value IS NOT NULL
      |    AND e.value > 0
      |  GROUP BY ufs.user_id, ufs.first_session_id
      |)
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
    """WITH user_first_sessions AS (
      |  SELECT user_id, MIN(session_id) as first_session_id
      |  FROM trusted_events GROUP BY user_id
      |),
      |first_session_watch_times AS (
      |  SELECT ufs.user_id, ufs.first_session_id,
      |    SUM(CAST(e.value AS DOUBLE)) as total_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |  WHERE e.event_name = 'watch_time' AND e.value IS NOT NULL AND e.value > 0
      |  GROUP BY ufs.user_id, ufs.first_session_id
      |)
      |SELECT user_id, first_session_id, total_watch_time
      |FROM first_session_watch_times
      |WHERE total_watch_time >= 30
      |ORDER BY total_watch_time DESC""".stripMargin)

  /** Q2 retention quality by first-session genre exposure — cell 14
    * (non-equi join: equi user key + session-id range + 3-day string
    * date window). */
  def q2Enhanced(spark: SparkSession): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT e.user_id,
      |    MIN(e.session_id) as first_session_id,
      |    SUBSTRING(MIN(e.timestamp), 1, 10) as first_session_date
      |  FROM trusted_events e
      |  GROUP BY e.user_id
      |),
      |first_session_genres AS (
      |  SELECT ufs.user_id, v.genre,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as first_session_genre_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |  INNER JOIN trusted_videos v ON e.video_id = v.video_id
      |  GROUP BY ufs.user_id, v.genre
      |),
      |second_session_activity AS (
      |  SELECT ufs.user_id,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as subsequent_watch_time,
      |    COUNT(DISTINCT e.session_id) as subsequent_sessions
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id
      |    AND e.session_id > ufs.first_session_id
      |    AND SUBSTRING(e.timestamp, 1, 10) <= CAST(date_add(CAST(ufs.first_session_date AS DATE), 3) AS STRING)
      |  GROUP BY ufs.user_id
      |)
      |SELECT fsg.genre,
      |  COUNT(DISTINCT fsg.user_id) as users_exposed,
      |  COUNT(DISTINCT ssa.user_id) as users_returned,
      |  ROUND(100.0 * COUNT(DISTINCT ssa.user_id) / COUNT(DISTINCT fsg.user_id), 1) as return_rate_pct,
      |  ROUND(AVG(fsg.first_session_genre_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(ssa.subsequent_watch_time), 1) as avg_subsequent_watch_time,
      |  ROUND(AVG(ssa.subsequent_sessions), 1) as avg_subsequent_sessions
      |FROM first_session_genres fsg
      |LEFT JOIN second_session_activity ssa ON fsg.user_id = ssa.user_id
      |GROUP BY fsg.genre
      |ORDER BY avg_subsequent_watch_time DESC NULLS LAST""".stripMargin)

  /** Q2 dominant-genre analysis — cell 15 (ROW_NUMBER argmax +
    * engagement quality score). */
  def q2DominantGenre(spark: SparkSession): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT e.user_id,
      |    MIN(e.session_id) as first_session_id,
      |    SUBSTRING(MIN(e.timestamp), 1, 10) as first_session_date
      |  FROM trusted_events e
      |  GROUP BY e.user_id
      |),
      |first_session_genre_watch AS (
      |  SELECT ufs.user_id, v.genre,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as genre_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |  INNER JOIN trusted_videos v ON e.video_id = v.video_id
      |  GROUP BY ufs.user_id, v.genre
      |),
      |user_dominant_genres AS (
      |  SELECT user_id, genre as dominant_genre, genre_watch_time
      |  FROM (
      |    SELECT user_id, genre, genre_watch_time,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY genre_watch_time DESC) as rn
      |    FROM first_session_genre_watch
      |  )
      |  WHERE rn = 1
      |),
      |subsequent_activity AS (
      |  SELECT ufs.user_id,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as subsequent_watch_time,
      |    COUNT(DISTINCT e.session_id) as subsequent_sessions
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id
      |    AND e.session_id > ufs.first_session_id
      |    AND SUBSTRING(e.timestamp, 1, 10) <= CAST(date_add(CAST(ufs.first_session_date AS DATE), 3) AS STRING)
      |  GROUP BY ufs.user_id
      |)
      |SELECT udg.dominant_genre,
      |  COUNT(DISTINCT udg.user_id) as users_with_dominant_genre,
      |  COUNT(DISTINCT sa.user_id) as users_returned,
      |  ROUND(100.0 * COUNT(DISTINCT sa.user_id) / COUNT(DISTINCT udg.user_id), 1) as return_rate_pct,
      |  ROUND(AVG(udg.genre_watch_time), 1) as avg_dominant_genre_first_watch_time,
      |  ROUND(AVG(sa.subsequent_watch_time), 1) as avg_subsequent_watch_time,
      |  ROUND(AVG(sa.subsequent_sessions), 1) as avg_subsequent_sessions,
      |  ROUND(AVG(sa.subsequent_watch_time) * AVG(sa.subsequent_sessions), 1) as engagement_quality_score
      |FROM user_dominant_genres udg
      |LEFT JOIN subsequent_activity sa ON udg.user_id = sa.user_id
      |GROUP BY udg.dominant_genre
      |ORDER BY avg_subsequent_watch_time DESC NULLS LAST""".stripMargin)

  /** Q3 drop-off metrics per device_os × app_version — cell 20 (5 CTEs,
    * chained LEFT JOINs, conditional distinct counts, day-1 retention as
    * a string-date equality on a +1-day window, HAVING ≥5 users). */
  def q3DropOffMetrics(spark: SparkSession): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT user_id,
      |    MIN(session_id) as first_session_id,
      |    SUBSTRING(MIN(timestamp), 1, 10) as first_session_date
      |  FROM trusted_events
      |  GROUP BY user_id
      |),
      |user_device_info AS (
      |  SELECT DISTINCT ufs.user_id, e.device_os, e.app_version
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |),
      |first_session_watch_times AS (
      |  SELECT ufs.user_id,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as first_session_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |  GROUP BY ufs.user_id
      |),
      |user_session_counts AS (
      |  SELECT user_id, COUNT(DISTINCT session_id) as total_sessions
      |  FROM trusted_events
      |  GROUP BY user_id
      |),
      |day1_retention AS (
      |  SELECT ufs.user_id,
      |    CASE WHEN COUNT(DISTINCT e.session_id) > 0 THEN 1 ELSE 0 END as returned_day1
      |  FROM user_first_sessions ufs
      |  LEFT JOIN trusted_events e
      |    ON ufs.user_id = e.user_id
      |    AND e.session_id > ufs.first_session_id
      |    AND SUBSTRING(e.timestamp, 1, 10) = CAST(date_add(CAST(ufs.first_session_date AS DATE), 1) AS STRING)
      |  GROUP BY ufs.user_id
      |)
      |SELECT udi.device_os, udi.app_version,
      |  COUNT(DISTINCT udi.user_id) as total_users,
      |  COUNT(DISTINCT CASE WHEN usc.total_sessions = 1 THEN udi.user_id END) as users_single_session,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN usc.total_sessions = 1 THEN udi.user_id END) / COUNT(DISTINCT udi.user_id), 1) as single_session_rate_pct,
      |  COUNT(DISTINCT CASE WHEN fswt.first_session_watch_time < 5 THEN udi.user_id END) as users_low_watch_time,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN fswt.first_session_watch_time < 5 THEN udi.user_id END) / COUNT(DISTINCT udi.user_id), 1) as low_watch_time_rate_pct,
      |  COUNT(DISTINCT CASE WHEN dr.returned_day1 = 0 THEN udi.user_id END) as users_no_day1_return,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN dr.returned_day1 = 0 THEN udi.user_id END) / COUNT(DISTINCT udi.user_id), 1) as no_day1_return_rate_pct,
      |  ROUND(AVG(fswt.first_session_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(usc.total_sessions), 1) as avg_total_sessions
      |FROM user_device_info udi
      |LEFT JOIN first_session_watch_times fswt ON udi.user_id = fswt.user_id
      |LEFT JOIN user_session_counts usc ON udi.user_id = usc.user_id
      |LEFT JOIN day1_retention dr ON udi.user_id = dr.user_id
      |GROUP BY udi.device_os, udi.app_version
      |HAVING COUNT(DISTINCT udi.user_id) >= 5
      |ORDER BY single_session_rate_pct DESC""".stripMargin)

  /** Q3 overall benchmarks — cell 21. */
  def q3OverallBenchmarks(spark: SparkSession): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT user_id,
      |    MIN(session_id) as first_session_id,
      |    SUBSTRING(MIN(timestamp), 1, 10) as first_session_date
      |  FROM trusted_events
      |  GROUP BY user_id
      |),
      |first_session_watch_times AS (
      |  SELECT ufs.user_id,
      |    SUM(CASE WHEN e.event_name = 'watch_time' THEN CAST(e.value AS DOUBLE) ELSE 0 END) as first_session_watch_time
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |  GROUP BY ufs.user_id
      |),
      |user_session_counts AS (
      |  SELECT user_id, COUNT(DISTINCT session_id) as total_sessions
      |  FROM trusted_events GROUP BY user_id
      |),
      |day1_retention AS (
      |  SELECT ufs.user_id,
      |    CASE WHEN COUNT(DISTINCT e.session_id) > 0 THEN 1 ELSE 0 END as returned_day1
      |  FROM user_first_sessions ufs
      |  LEFT JOIN trusted_events e
      |    ON ufs.user_id = e.user_id
      |    AND e.session_id > ufs.first_session_id
      |    AND SUBSTRING(e.timestamp, 1, 10) = CAST(date_add(CAST(ufs.first_session_date AS DATE), 1) AS STRING)
      |  GROUP BY ufs.user_id
      |)
      |SELECT 'OVERALL' as category,
      |  COUNT(DISTINCT ufs.user_id) as total_users,
      |  COUNT(DISTINCT CASE WHEN usc.total_sessions = 1 THEN ufs.user_id END) as users_single_session,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN usc.total_sessions = 1 THEN ufs.user_id END) / COUNT(DISTINCT ufs.user_id), 1) as single_session_rate_pct,
      |  COUNT(DISTINCT CASE WHEN fswt.first_session_watch_time < 5 THEN ufs.user_id END) as users_low_watch_time,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN fswt.first_session_watch_time < 5 THEN ufs.user_id END) / COUNT(DISTINCT ufs.user_id), 1) as low_watch_time_rate_pct,
      |  COUNT(DISTINCT CASE WHEN dr.returned_day1 = 0 THEN ufs.user_id END) as users_no_day1_return,
      |  ROUND(100.0 * COUNT(DISTINCT CASE WHEN dr.returned_day1 = 0 THEN ufs.user_id END) / COUNT(DISTINCT ufs.user_id), 1) as no_day1_return_rate_pct,
      |  ROUND(AVG(fswt.first_session_watch_time), 1) as avg_first_session_watch_time,
      |  ROUND(AVG(usc.total_sessions), 1) as avg_total_sessions
      |FROM user_first_sessions ufs
      |LEFT JOIN first_session_watch_times fswt ON ufs.user_id = fswt.user_id
      |LEFT JOIN user_session_counts usc ON ufs.user_id = usc.user_id
      |LEFT JOIN day1_retention dr ON ufs.user_id = dr.user_id""".stripMargin)

  /** Cell 22 over the reference drop-off metrics and benchmarks. */
  def q3CompositeScores(spark: SparkSession): DataFrame =
    StreamProAnalytics.compositeScores(q3DropOffMetrics(spark), q3OverallBenchmarks(spark))

  /** Sample users of the worst combo — cell 23 (parameterized second
    * SQL round-trip driven by the previous result). Values bind as named
    * parameters rather than interpolating into the SQL text. */
  def q3WorstComboUsers(spark: SparkSession, deviceOs: String, appVersion: String): DataFrame = spark.sql(
    """WITH user_first_sessions AS (
      |  SELECT user_id, MIN(session_id) as first_session_id
      |  FROM trusted_events GROUP BY user_id
      |),
      |user_device_info AS (
      |  SELECT DISTINCT ufs.user_id, e.device_os, e.app_version
      |  FROM user_first_sessions ufs
      |  INNER JOIN trusted_events e
      |    ON ufs.user_id = e.user_id AND ufs.first_session_id = e.session_id
      |)
      |SELECT user_id
      |FROM user_device_info
      |WHERE device_os = :deviceOs AND app_version = :appVersion
      |ORDER BY user_id
      |LIMIT 10""".stripMargin,
    Map("deviceOs" -> deviceOs, "appVersion" -> appVersion))
}
