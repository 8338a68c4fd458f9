package graft.analytics

import java.nio.file.{Files, Path}

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkSpecBase
import graft.fixtures.StreamProFixture
import graft.pipeline.{Pipeline, SchemaRegistry, UserSessions}

/** Every rewritten Q1–Q3 statement of [[StreamProAnalytics]] answers what
  * the literal cell SQL of [[NotebookReference]] answers: the same column
  * names and types and the same rows (doubles to 9 decimal places), on
  * the planted fixture and on the hostile one. Where the statement
  * orders its rows, the sequence of sort-key values matches too (rows
  * that tie on the key may come in any order, in both). */
class NotebookDifferentialSpec extends SparkSpecBase {
  import NotebookDifferentialSpec._

  private def load(write: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-notebook-diff")
    write(dir)
    assert(Pipeline.run(spark, Pipeline.Config(dir.toString, StreamProFixture.IngestionDate))
      .forall(_.success))
  }

  private def compareAll(): Unit = Statements.foreach { s =>
    val (want, got) = (s.reference(spark), s.rewritten(spark))
    withClue(s"${s.name}: ") {
      assert(columns(got.schema) === columns(want.schema))
      val (w, g) = (normalized(want), normalized(got))
      assert(g.diff(w).isEmpty && w.diff(g).isEmpty,
        s"\nreference: ${w.mkString("; ")}\nrewritten: ${g.mkString("; ")}")
      val keys = s.orderBy.map(k => want.schema.fieldIndex(k))
      assert(g.map(r => keys.map(r)) === w.map(r => keys.map(r)))
    }
  }

  lazy val planted: Unit = load(StreamProFixture.writeLanding)

  test("planted fixture: every rewritten statement answers as the cell SQL") {
    planted
    compareAll()
  }

  test("q3CompositeScores scans no trusted_events: both sides read the gold table") {
    planted
    val files = StreamProAnalytics.q3CompositeScores(spark).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/gold/user_sessions/")), files.mkString("\n"))
  }

  test("hostile fixture: null user, null session, user without a session id, null timestamps and values, unknown video") {
    load(StreamProFixture.writeHostileLanding)
    compareAll()
    // the hostile rows reach the answers: user_104 (unknown video, 35s) wins Q1
    assert(StreamProAnalytics.q1SuccessfulUsers(spark).collect().map(_.getString(0)).toSet ===
      Set("user_78", "user_104"))
  }

  test("no event with a user: NULL rates instead of DIVIDE_BY_ZERO") {
    def events(rows: Seq[Row]): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), SchemaRegistry.events.withPartition)
      df.createOrReplaceTempView(SchemaRegistry.events.trustedName)
      UserSessions.facts(df).createOrReplaceTempView(UserSessions.ViewName)
    }
    val rates = Seq("single_session_rate_pct", "low_watch_time_rate_pct", "no_day1_return_rate_pct")
    def overallIsNull(): Unit = {
      val overall = StreamProAnalytics.q3OverallBenchmarks(spark).collect()
      assert(overall.length === 1)
      assert(overall.head.getAs[Long]("total_users") === 0)
      rates.foreach(r => assert(overall.head.isNullAt(overall.head.fieldIndex(r)), r))
    }

    events(Nil)
    overallIsNull()
    assert(StreamProAnalytics.q3CompositeScores(spark).collect().isEmpty)
    assert(StreamProAnalytics.deviceOsDistribution(spark).collect().isEmpty)
    assert(StreamProAnalytics.appVersionDistribution(spark).collect().isEmpty)

    events(Seq("iOS", "Android").map { os =>
      Row.fromSeq(SchemaRegistry.events.withPartition.fieldNames.toSeq.map {
        case "device_os" => os
        case "app_version" => "2.0.1"
        case "session_id" => "s_0_0"
        case _ => null
      })
    })
    overallIsNull()
    val failure = intercept[Exception](NotebookReference.q3OverallBenchmarks(spark).collect())
    assert(failure.getMessage.contains("DIVIDE_BY_ZERO"))
    assert(StreamProAnalytics.q3CompositeScores(spark).collect().isEmpty)
    for (dist <- Seq(StreamProAnalytics.deviceOsDistribution _, StreamProAnalytics.appVersionDistribution _)) {
      val rows = dist(spark).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getAs[Long]("unique_users") == 0 && r.isNullAt(r.fieldIndex("user_pct"))))
    }
  }
}

object NotebookDifferentialSpec {
  final case class Statement(name: String, reference: SparkSession => DataFrame,
      rewritten: SparkSession => DataFrame, orderBy: Seq[String] = Nil)

  val Statements: Seq[Statement] = Seq(
    Statement("q1Analysis", NotebookReference.q1Analysis, StreamProAnalytics.q1Analysis),
    Statement("q1SuccessfulUsers", NotebookReference.q1SuccessfulUsers,
      StreamProAnalytics.q1SuccessfulUsers, Seq("total_watch_time")),
    Statement("q2Enhanced", NotebookReference.q2Enhanced, StreamProAnalytics.q2Enhanced,
      Seq("avg_subsequent_watch_time")),
    Statement("q2DominantGenre", NotebookReference.q2DominantGenre, StreamProAnalytics.q2DominantGenre,
      Seq("avg_subsequent_watch_time")),
    Statement("q3DropOffMetrics", NotebookReference.q3DropOffMetrics, StreamProAnalytics.q3DropOffMetrics,
      Seq("single_session_rate_pct")),
    Statement("q3OverallBenchmarks", NotebookReference.q3OverallBenchmarks,
      StreamProAnalytics.q3OverallBenchmarks),
    Statement("q3CompositeScores", NotebookReference.q3CompositeScores, StreamProAnalytics.q3CompositeScores,
      Seq("composite_drop_off_score")),
    Statement("q3WorstComboUsers", NotebookReference.q3WorstComboUsers(_, "iOS", "2.0.1"),
      StreamProAnalytics.q3WorstComboUsers(_, "iOS", "2.0.1"), Seq("user_id")))

  def columns(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** Collected rows with doubles rounded to 9 decimal places: sums of
    * doubles may add in another order. */
  def normalized(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double if !d.isNaN && !d.isInfinite => BigDecimal(d).setScale(9, RoundingMode.HALF_UP)
    case v => v
  })
}
