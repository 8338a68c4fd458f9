package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.VectorFunctions
import graft.operators.ReferenceModels
import graft.sources.Tables

class DotProductExprSpec extends SparkSpecBase {

  test("native graft_dot is bit-identical to the HOF formulation") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorFunctions.asDoubles(col("embedding")).as("v"))
    val paired = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        VectorFunctions.dot(col("a.v"), col("b.v")).as("native"),
        ReferenceModels.dotHof(col("a.v"), col("b.v")).as("hof"))
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
    val row = spark.range(1).select(
      VectorFunctions.dot(array(lit(1.0), lit(2.0)), array(lit(3.0))).as("d"),
      VectorFunctions.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(10.0))).as("ok"))
      .collect().head
    assert(row.isNullAt(0))
    assert(row.getDouble(1) === 23.0)
  }
}
