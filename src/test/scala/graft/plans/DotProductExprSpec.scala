package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpecBase}
import graft.functions.VectorFunctions
import graft.sources.Tables

class DotProductExprSpec extends SparkSpecBase {

  test("native graft_dot is bit-identical to the HOF formulation") {
    // no registration: the DotProductRewrite rule it installs would turn
    // the HOF side into graft_dot as well
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorFunctions.asDoubles(col("embedding")).as("v"))
    val paired = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        VectorFunctions.dot(col("a.v"), col("b.v")).as("native"),
        VectorFunctions.dotHof(col("a.v"), col("b.v")).as("hof"))
    // bitwise compare (=== on doubles treats -0.0/NaN loosely; cast to
    // binary representation via string of exact double is overkill —
    // equality + a zero-diff check covers the accumulation-order claim)
    assert(paired.filter(col("native") =!= col("hof")).count() === 0)
    assert(paired.filter(isnull(col("native"))).count() === 0)
  }

  test("graft_dot participates in whole-stage codegen") {
    val plan = Tables.embeddings(spark, sfDir)
      .select(VectorFunctions.dot(
        VectorFunctions.asDoubles(col("embedding")),
        VectorFunctions.asDoubles(col("embedding"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("length mismatch yields null (zip_with-compatible), not an error") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS d," +
        " graft_dot(array(1.0d, 2.0d), array(3.0d, 10.0d)) AS ok")
      .collect().head
    assert(row.isNullAt(0))
    assert(row.getDouble(1) === 23.0)
  }
}
