package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpecBase}
import graft.sources.Tables

/** Differential gate for the round-18 driver-side union-find path of
  * [[Dedup.duplicateClusters]]: for any pair graph under the
  * [[Dedup.CcDriverMaxEdges]] bound, the collected union-find must
  * produce EXACTLY the distributed propagation loop's converged labels
  * (every doc that appears in a pair, labeled with its component's
  * minimum id). The reference calls the loop, [[Dedup.propagateLabels]],
  * directly. The path a call took shows in its result: the driver path
  * returns a local relation, the loop a staged one. */
class DuplicateClustersDriverSpec extends SparkSpecBase {

  private def canon(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def onDriver(clusters: DataFrame): Boolean =
    clusters.queryExecution.analyzed.collectFirst { case r: LocalRelation => r }.isDefined

  /** The loop's answer is read back from its last round's eager
    * localCheckpoint: its final projection sits over a LogicalRDD, and
    * no round's join is left in the analyzed plan. */
  private def assertLineageCut(clusters: DataFrame): Unit = {
    val plan = clusters.queryExecution.analyzed
    val pinned = plan match {
      case Project(_, child) => child.collectFirst { case r: LogicalRDD => r }.isDefined
      case _ => false
    }
    assert(pinned, plan.treeString)
    assert(plan.collectFirst { case j: Join => j }.isEmpty, plan.treeString)
  }

  /** Disjoint 2-node components (2i, 2i + 1), i < n: the union-find
    * answer labels both members 2i. */
  private def disjointPairs(n: Long, partitions: Int): (DataFrame, Set[(Long, Long)]) =
    (spark.range(0, n, 1, partitions)
      .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b")),
      (0L until n).flatMap(i => Seq((2 * i, 2 * i), (2 * i + 1, 2 * i))).toSet)

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

  test("the driver path over a materialized pair frame runs one job") {
    val (pairs, expected) = disjointPairs(50, 4)
    val staged = pairs.localCheckpoint()
    val (clusters, jobs) = JobCounter.count(spark)(Dedup.duplicateClusters(staged))
    assert(jobs === 1)
    assert(onDriver(clusters))
    assert(canon(clusters) === expected)
  }

  test("a pair graph just over CcDriverMaxEdges takes the loop and equals union-find") {
    // one partition reaches the per-partition fetch bound; four stay
    // under it and go over only in total
    for (partitions <- Seq(1, 4)) {
      val (pairs, expected) = disjointPairs(Dedup.CcDriverMaxEdges / 2 + 1, partitions)
      val clusters = Dedup.duplicateClusters(pairs)
      assert(!onDriver(clusters), s"$partitions partitions")
      assertLineageCut(clusters)
      assert(canon(clusters) === expected, s"$partitions partitions")
    }
    val (atBound, _) = disjointPairs(Dedup.CcDriverMaxEdges / 2, 4)
    assert(onDriver(Dedup.duplicateClusters(atBound)))
  }

  test("decimal ids take the loop") {
    val rnd = new scala.util.Random(6L)
    import spark.implicits._
    val pairs = (0 until 20).flatMap { c =>
      val base = c * 100L
      (1 until 2 + rnd.nextInt(4)).map(i => (base + rnd.nextInt(i), base + i))
    }.toDF("doc_a", "doc_b")
    val decimal = pairs.select(
      col("doc_a").cast("decimal(20,0)").as("doc_a"), col("doc_b").cast("decimal(20,0)").as("doc_b"))
    val clusters = Dedup.duplicateClusters(decimal)
    assert(!onDriver(clusters))
    assertLineageCut(clusters)
    assert(canon(clusters) === canon(Dedup.duplicateClusters(pairs)))
  }
}
