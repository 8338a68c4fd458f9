package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

class ClusteringSpec extends SparkSpecBase {

  test("kmeansAssign partitions the corpus over the seed centroid ids") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val out = Clustering.kmeansAssign(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === n)
    assert(out.map(_._1).distinct.length === n, "every vector assigned exactly once")
    assert(out.map(_._2).toSet.subsetOf((0L until 4L).toSet))
  }

  test("assignment is partitioning-invariant (plan-literal centroids, no RNG)") {
    val emb = Tables.embeddings(spark, sfDir)
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(emb) === run(emb.repartition(13)))
  }

  test("Lloyd rounds strictly improve (or hold) the k-means objective") {
    val emb = Tables.embeddings(spark, sfDir)
    import graft.functions.VectorFunctions._
    graft.GraftExtensions.register(spark)
    // objective after `iters` rounds: mean squared L2 distance to the
    // assigned centroid, centroids recomputed from the final assignment
    def objective(iters: Int): Double = {
      val assigned = Clustering.kmeansAssign(emb, "vec_id", "embedding",
        k = 4, iters = iters)
      val joined = emb.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
        .join(assigned, "vec_id")
      // recompute centroid means, then the summed squared distance
      val m = joined.select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos").agg(avg("x").as("m"))
      joined.select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .join(m, Seq("cluster_id", "pos"))
        .select(((col("x") - col("m")) * (col("x") - col("m"))).as("d2"))
        .agg(sum("d2")).collect()(0).getDouble(0)
    }
    val o0 = objective(0)
    val o2 = objective(2)
    assert(o2 <= o0 + 1e-9, s"objective worsened: iters=0 → $o0, iters=2 → $o2")
  }

  test("native large-k assignment path is bit-identical to the literal path") {
    val emb = Tables.embeddings(spark, sfDir)
    // k=8·dim=64 = 512 terms: literalMaxTerms=0 forces NearestCenter,
    // the default keeps the composed-literal formulation — same Lloyd
    // rounds, same data, assignments must agree row-for-row
    def run(maxTerms: Int): Map[Long, Long] =
      Clustering.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 2,
        literalMaxTerms = maxTerms)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val literal = run(Int.MaxValue)
    val native = run(0)
    assert(native === literal)
  }

  test("large-k smoke: k=1024·dim=64 plans and runs via the native path") {
    // 65536 terms — far beyond LiteralAssignMaxTerms; the composed
    // formulation would build 64k literal subtrees and stall in
    // analysis/codegen, the reference-object path must stay cheap
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val t0 = System.nanoTime()
    val out = Clustering.kmeansAssign(emb, "vec_id", "embedding",
      k = 1024, iters = 1)
    val n = out.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n === emb.count())
    assert(out.select(countDistinct("cluster_id")).collect()(0).getLong(0) > 256,
      "a 1024-seed quantizer over 2000 vectors must keep many occupied cells")
    assert(secs < 120, s"native large-k assignment took ${secs}s")
  }

  test("SemDeDup at production k: native large-k assignment composes with the cluster cap") {
    // k=256·dim=64 = 16384 terms — the native path — feeding the same
    // capPerGroup the gated ds_semantic_cap uses at k=8: the SemDeDup
    // regime the literal formulation could not reach
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val t0 = System.nanoTime()
    val clusters = Clustering.kmeansAssign(emb, "vec_id", "embedding", k = 256, iters = 1)
    val capped = Sampling.capPerGroup(
      clusters, "vec_id", "cluster_id", maxPerGroup = 4, salt = "semcap")
    val perCluster = capped.groupBy("cluster_id").count().collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(perCluster.nonEmpty && perCluster.forall(_.getLong(1) <= 4))
    assert(perCluster.map(_.getLong(1)).sum <= 256L * 4)
    assert(secs < 180, s"production-k SemDeDup pass took ${secs}s")
  }
}
