package graft.analytics

import java.nio.file.Files

import graft.{JobCounter, SparkSpecBase}
import graft.fixtures.StreamProFixture
import graft.pipeline.Pipeline

/** Job budget of each Q1–Q3 statement: building and collecting it on the
  * planted fixture starts at most the Spark jobs declared here, and
  * fewer than the literal cell SQL of [[NotebookReference]], whose
  * per-user aggregates and joins back to `trusted_events` the gold
  * `gold_user_sessions` table replaced. The
  * ceilings are the counts measured on a 4-slot session with 4 shuffle
  * partitions (`SparkSpecBase`); the reference's counts are in the
  * failure message. */
class NotebookBudgetSpec extends SparkSpecBase {
  import NotebookDifferentialSpec.Statements

  /** statement → job ceiling. */
  val Budgets: Map[String, Int] = Map(
    "q1Analysis" -> 4,
    "q1SuccessfulUsers" -> 1,
    "q2Enhanced" -> 2,
    "q2DominantGenre" -> 2,
    "q3DropOffMetrics" -> 1,
    "q3OverallBenchmarks" -> 1,
    "q3CompositeScores" -> 2,
    "q3WorstComboUsers" -> 1)

  test("every Q1-Q3 statement runs within its job budget") {
    assert(Statements.map(_.name).toSet === Budgets.keySet)
    val dir = Files.createTempDirectory("graft-notebook-budget")
    StreamProFixture.writeLanding(dir)
    assert(Pipeline.run(spark, Pipeline.Config(dir.toString, StreamProFixture.IngestionDate))
      .forall(_.success))
    val measured = Statements.map { s =>
      (s.name, JobCounter.count(spark)(s.rewritten(spark).collect())._2,
        JobCounter.count(spark)(s.reference(spark).collect())._2)
    }
    val over = measured.filter { case (name, jobs, reference) =>
      jobs > Budgets(name) || jobs >= reference
    }
    assert(over.isEmpty, over.map(_._1).mkString("over budget: ", ", ", "") +
      measured.map { case (n, j, r) => s"$n=$j (reference $r)" }.mkString("\nmeasured: ", ", ", ""))
  }
}
