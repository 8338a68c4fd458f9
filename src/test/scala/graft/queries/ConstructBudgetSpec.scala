package graft.queries

import graft.{JobCounter, SparkEntry, SparkSpecBase}

/** Construct-job budget of every gate: building a gate's frame (the
  * gate's query function, before any action on the result) may start at
  * most the Spark jobs its registry record declares in `Gate.budget`. */
class ConstructBudgetSpec extends SparkSpecBase {

  test("a non-zero budget has a one-word reason, a zero budget none") {
    val bad = SparkEntry.gates.filterNot { g =>
      g.budget match {
        case (0, why) => why.isEmpty
        case (jobs, why) => jobs > 0 && why.matches("[a-z-]+")
      }
    }
    assert(bad.isEmpty, bad.map(g => s"${g.name}=${g.budget}").mkString(", "))
  }

  test("every gate builds within its construct-job budget") {
    val measured = SparkEntry.gates.sortBy(_.name).map { g =>
      g -> JobCounter.count(spark)(g.query(spark, sfDir))._2
    }
    val over = measured.filter { case (g, jobs) => jobs > g.budget._1 }
    assert(over.isEmpty, over.map { case (g, j) => s"${g.name}=$j" }.mkString("over budget: ", ", ", "") +
      measured.map { case (g, j) => s"${g.name}=$j" }.mkString("\nmeasured: ", ", ", ""))
  }
}
