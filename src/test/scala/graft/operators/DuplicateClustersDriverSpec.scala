package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

/** Differential gate for the round-18 driver-side union-find path of
  * [[Dedup.duplicateClusters]]: for any pair graph under the
  * [[Dedup.CcDriverMaxEdges]] bound, the collected union-find must
  * produce EXACTLY the distributed propagation loop's converged labels
  * (every doc that appears in a pair, labeled with its component's
  * minimum id). The reference calls the loop, [[Dedup.propagateLabels]],
  * directly. */
class DuplicateClustersDriverSpec extends SparkSpecBase {

  private def canon(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def both(pairs: DataFrame): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val driver = canon(Dedup.duplicateClusters(pairs))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val loop = canon(Dedup.propagateLabels(edges, maxIters = 25))
    (driver, loop)
  }

  test("driver union-find == propagation loop on random pair graphs") {
    val rnd = new scala.util.Random(18L)
    import spark.implicits._
    for (trial <- 1 to 3) {
      // clustered random graph: ~40 components of 2-6 members, each new
      // member attached to a random earlier member (random tree shapes)
      val pairs = (0 until 40).flatMap { c =>
        val base = c * 100L
        val m = 2 + rnd.nextInt(5)
        (1 until m).map(i => (base + rnd.nextInt(i), base + i))
      }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("doc_a", "doc_b")
      val (d, l) = both(pairs)
      assert(d === l, s"trial $trial driver/loop label mismatch")
      assert(d.nonEmpty)
    }
  }

  test("driver union-find == propagation loop on the real corpus pair graph") {
    val pairs = Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val (d, l) = both(pairs)
    assert(d === l)
    assert(d.nonEmpty)
  }

  test("chain labels collapse to the component minimum") {
    import spark.implicits._
    // one 20-node chain: the deepest shape inside the loop's maxIters
    // runaway bound (25 rounds) — past that bound the LOOP returns
    // unconverged labels (and would fail its own recursive oracle)
    // while the driver union-find is converged by construction, so the
    // differential contract only holds in the loop's converged regime
    val pairs = (0 until 19).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (d, l) = both(pairs)
    assert(d === l)
    assert(d.forall(_._2 == 0L))
    assert(d.map(_._1) === (0L until 20L).toSet)
  }
}
