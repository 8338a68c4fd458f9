package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpecBase
import graft.fixtures.StreamProFixture
import graft.pipeline.{Pipeline, UserSessions}
import graft.store.{LayerPaths, Storage}

/** The one-partition gold posture (`UserSessions.register` through
  * [[Storage.readParquetOneSplit]]): a gold snapshot that Spark reads as
  * one split plans the Q1–Q3 statements over it without a shuffle, and
  * a snapshot of two files, or one file longer than
  * `spark.sql.files.openCostInBytes`, keeps the exchanges and the same
  * answers. */
class GoldPartitioningSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import NotebookDifferentialSpec.{normalized, Statements}

  private val OpenCost = "spark.sql.files.openCostInBytes"

  /** The statements that read only the gold view and `trusted_videos`. */
  private val GoldOnly = Seq("q1SuccessfulUsers", "q2DominantGenre", "q3CompositeScores")

  lazy val root: String = {
    val dir = Files.createTempDirectory("graft-gold-partitioning")
    StreamProFixture.writeLanding(dir)
    assert(Pipeline.run(spark, Pipeline.Config(dir.toString, StreamProFixture.IngestionDate))
      .forall(_.success))
    dir.toString
  }

  private def gold: String = LayerPaths(root).goldTable(UserSessions.Table)

  /** (shuffle exchanges of the final adaptive plan, answer) of each
    * gold-only statement under the current gold view. */
  private def run(): Map[String, (Int, Seq[Seq[Any]])] =
    Statements.filter(s => GoldOnly.contains(s.name)).map { s =>
      val df = s.rewritten(spark)
      val rows = normalized(df)
      val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      s.name -> (shuffles.size, rows)
    }.toMap

  private def assertDormant(engaged: Map[String, (Int, Seq[Seq[Any]])]): Unit = {
    val dormant = run()
    GoldOnly.foreach { name =>
      withClue(s"$name: ") {
        assert(dormant(name)._1 > 0)
        val (e, d) = (engaged(name)._2, dormant(name)._2)
        assert(e.diff(d).isEmpty && d.diff(e).isEmpty, s"\nengaged: $e\ndormant: $d")
      }
    }
  }

  test("a one-file gold snapshot: the gold-only Q1-Q3 statements plan no shuffle") {
    root
    assert(Storage.listObjects(spark, gold).count(_.endsWith(".parquet")) === 1)
    run().foreach { case (name, (n, rows)) =>
      assert(n === 0, name)
      assert(rows.nonEmpty, name)
    }
  }

  test("a gold snapshot of two files keeps the exchanges and the answers") {
    root
    val engaged = run()
    val copy = Files.createTempDirectory("graft-gold-two-files").resolve("facts").toString
    spark.table(UserSessions.ViewName).repartition(2).write.parquet(copy)
    assert(Storage.listObjects(spark, copy).count(_.endsWith(".parquet")) === 2)
    try {
      Storage.readParquetOneSplit(spark, copy).createOrReplaceTempView(UserSessions.ViewName)
      assertDormant(engaged)
    } finally UserSessions.register(spark, gold)
  }

  test("openCostInBytes below the gold file's length keeps the exchanges and the answers") {
    root
    val engaged = run()
    val before = spark.conf.getOption(OpenCost)
    try {
      spark.conf.set(OpenCost, "1")
      UserSessions.register(spark, gold)
      assertDormant(engaged)
    } finally {
      before.fold(spark.conf.unset(OpenCost))(spark.conf.set(OpenCost, _))
      UserSessions.register(spark, gold)
    }
    assert(run().values.forall(_._1 == 0))
  }
}
