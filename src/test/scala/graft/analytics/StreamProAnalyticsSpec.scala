package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.{JobCounter, SparkSpecBase}
import graft.fixtures.StreamProFixture
import graft.pipeline.Pipeline

/** Golden-value tests reproducing the reference notebook's answers
  * (README.md:52-67, analysis.ipynb cell outputs) as relative properties
  * on the regenerated fixture (FIXTURES.md §4). */
class StreamProAnalyticsSpec extends SparkSpecBase {

  lazy val setup: Unit = {
    val dir = Files.createTempDirectory("graft-analytics")
    StreamProFixture.writeLanding(dir)
    val results = Pipeline.run(spark,
      Pipeline.Config(dir.toString, StreamProFixture.IngestionDate))
    assert(results.forall(_.success))
  }

  test("Q1: exactly 1% of users reach 30s in their first session, and it is user_78 at 39.0s") {
    setup
    val q1 = StreamProAnalytics.q1Analysis(spark).first()
    assert(q1.getAs[Long]("total_users") === 100)
    assert(q1.getAs[Long]("users_with_watch_time") === 97)
    assert(q1.getAs[Long]("users_with_30_plus") === 1)
    assert(q1.getAs[Number]("pct_reaching_30_seconds").doubleValue() === 1.0)
    val winners = StreamProAnalytics.q1SuccessfulUsers(spark).collect()
    assert(winners.length === 1)
    assert(winners.head.getAs[String]("user_id") === "user_78")
    assert(winners.head.getAs[Double]("total_watch_time") === 39.0)
  }

  test("Q2: Comedy is the dominant genre driving the best subsequent engagement, 100% binary retention") {
    setup
    val rows = StreamProAnalytics.q2DominantGenre(spark).collect()
    assert(rows.head.getAs[String]("dominant_genre") === "Comedy")
    // every genre cohort fully returns (reference: "100% binary retention")
    rows.foreach { r =>
      assert(r.getAs[Number]("return_rate_pct").doubleValue() === 100.0)
    }
    // engagement_quality_score = avg_watch × avg_sessions, maximal for Comedy
    val scores = rows.map(r =>
      r.getAs[String]("dominant_genre") ->
        r.getAs[Number]("engagement_quality_score").doubleValue()).toMap
    assert(scores("Comedy") === scores.values.max)
  }

  test("Q3: iOS + 2.0.1 is the worst drop-off combo by composite score, with 60% low watch time") {
    setup
    val scored = StreamProAnalytics.q3CompositeScores(spark).collect()
    val worst = scored.head
    assert(worst.getAs[String]("device_os") === "iOS")
    assert(worst.getAs[String]("app_version") === "2.0.1")
    assert(worst.getAs[Number]("low_watch_time_rate_pct").doubleValue() === 60.0)
    assert(worst.getAs[Long]("total_users") === 5)
    // every combo has ≥5 users (HAVING floor from the reference query)
    assert(scored.forall(_.getAs[Long]("total_users") >= 5))
    val cohort = StreamProAnalytics
      .q3WorstComboUsers(spark, "iOS", "2.0.1").collect().map(_.getString(0))
    assert(cohort.sameElements(StreamProFixture.IosCohort.map(i => s"user_$i").sorted))
  }

  test("session queries: structure parsing, overview, daily patterns, timeline") {
    setup
    val bounds = StreamProAnalytics.sessionBounds(spark).collect()
    assert(bounds.length === 100)
    assert(bounds.forall(_.getAs[String]("first_session_id").endsWith("_sess_0_0")))

    val structure = StreamProAnalytics.sessionStructure(spark, "user_1").collect()
    assert(structure.length === 10) // 5 days × 2 sub-sessions
    assert(structure.head.getAs[String]("user_part") === "user_1")

    val overview = StreamProAnalytics.userSessionOverview(spark).collect()
    assert(overview.length === 10)
    assert(overview.forall(_.getAs[Int]("active_days") === 5))

    val daily = StreamProAnalytics
      .dailyPatterns(spark, Seq("user_1", "user_2", "user_3")).collect()
    assert(daily.nonEmpty)
    // each event row contributes one element, so indices repeat per
    // event but must be sorted (ordered aggregation semantics)
    assert(daily.forall(_.getAs[String]("sub_session_indices").matches("0+1+")))

    val timeline = StreamProAnalytics.sessionTimeline(spark, "user_78").collect()
    assert(timeline.head.getAs[Double]("total_watch_time") === 39.0)
  }

  test("distribution queries run and cover all users") {
    setup
    val os = StreamProAnalytics.deviceOsDistribution(spark).collect()
    assert(os.map(_.getAs[Long]("unique_users")).sum === 100)
    val overview = StreamProAnalytics.deviceAppOverview(spark).collect()
    assert(overview.map(_.getAs[Long]("unique_users")).sum === 100)
    val genres = StreamProAnalytics.genresOverview(spark).collect()
    assert(genres.length === 4)
  }

  test("Q3 composite scores: one lazy plan, the same rows as the two-step computation") {
    setup
    val (scores, jobs) = JobCounter.count(spark)(StreamProAnalytics.q3CompositeScores(spark))
    assert(jobs === 0)
    // the notebook's two steps: fetch the overall rates, then deviate from literals
    val overall = StreamProAnalytics.q3OverallBenchmarks(spark).first()
    def pct(name: String): Double = overall.getAs[Number](name).doubleValue()
    val twoStep = StreamProAnalytics.q3DropOffMetrics(spark)
      .withColumn("single_session_deviation", col("single_session_rate_pct") - pct("single_session_rate_pct"))
      .withColumn("low_watch_deviation", col("low_watch_time_rate_pct") - pct("low_watch_time_rate_pct"))
      .withColumn("no_day1_deviation", col("no_day1_return_rate_pct") - pct("no_day1_return_rate_pct"))
      .withColumn("composite_drop_off_score",
        col("single_session_deviation") * 0.4 +
          col("low_watch_deviation") * 0.3 +
          col("no_day1_deviation") * 0.3)
    assert(scores.schema === twoStep.schema)
    val got = scores.collect()
    assert(got.length === 20)
    assert(got.toSet === twoStep.collect().toSet)
    val composite = got.map(_.getAs[Double]("composite_drop_off_score"))
    assert(composite.toSeq === composite.sorted.reverse.toSeq)
  }

  test("user ids bind as parameters: a quoted id neither breaks nor widens the query") {
    setup
    val hostile = "user_1' OR '1'='1"
    assert(StreamProAnalytics.sessionTimeline(spark, hostile).collect().isEmpty)
    assert(StreamProAnalytics.sessionTimeline(spark, "user_1").collect().length === 10)
    val daily = StreamProAnalytics.dailyPatterns(spark, Seq(hostile, "user_1")).collect()
    assert(daily.nonEmpty && daily.forall(_.getAs[String]("user_id") === "user_1"))
  }
}
