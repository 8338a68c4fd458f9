package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpecBase}
import graft.functions.VectorFunctions
import graft.operators.ReferenceModels
import graft.sources.Tables

class DotProductRewriteSpec extends SparkSpecBase {

  test("the optimizer rewrites the HOF dot-product idiom to native graft_dot") {
    GraftExtensions.register(spark)
    val q = Tables.embeddings(spark, sfDir)
      .select(ReferenceModels.dotHof(
        VectorFunctions.asDoubles(col("embedding")),
        VectorFunctions.asDoubles(col("embedding"))).as("d"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), optimized)
    assert(!optimized.contains("aggregate(zip_with"), optimized)
    // and it still computes the same values as the un-rewritten form
    val viaNative = q.agg(sum("d")).collect().head.getDouble(0)
    val manual = Tables.embeddings(spark, sfDir).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      v.zip(v).map { case (a, b) => a * b }.sum
    }.sum
    assert(math.abs(viaNative - manual) / math.abs(manual) < 1e-9)
  }

  test("the rewrite does not fire on non-dot aggregate shapes") {
    GraftExtensions.register(spark)
    // same skeleton but summing a+b instead of multiplying — must stay HOF
    val q = Tables.embeddings(spark, sfDir)
      .select(aggregate(
        zip_with(
          VectorFunctions.asDoubles(col("embedding")),
          VectorFunctions.asDoubles(col("embedding")),
          (x, y) => x + y),
        lit(0.0), (acc, v) => acc + v).as("s"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_dot"), optimized)
  }

  test("null semantics survive the rewrite: null element and length mismatch yield null") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // keep the local relation from being constant-folded away so the
    // rewritten expression actually executes
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val df = Seq(
        (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
        (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
        (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0)))
        .toDF("id", "a", "b")
      val out = df.select(col("id"), ReferenceModels.dotHof(col("a"), col("b")).as("d"))
      assert(out.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        out.queryExecution.optimizedPlan.toString)
      val rows = out.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(rows(1L) === Some(11.0))
      assert(rows(2L) === None)
      assert(rows(3L) === None)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
