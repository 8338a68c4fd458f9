package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.NativeFunctions

/** Plan- and buffer-level locks for the native top-k aggregate: the
  * differential spec (RandomizedDifferentialSpec) proves VALUES; these
  * prove the SCALE CONTRACT — the partial aggregate bounds each map
  * task's output to ≤k entries per group BEFORE the exchange (the whole
  * reason the aggregate exists), and the serde round-trip is exact. */
class TopKPairsAggExprSpec extends SparkSpecBase {

  test("partial graft_topk sits BELOW the exchange (map-side bounding)") {
    import spark.implicits._
    val df = (1 to 10000).map(i => ((i % 7).toLong, (i % 101).toDouble, i.toLong))
      .toDF("vec_id", "cos", "neighbor_id")
    val agg = df.groupBy(col("vec_id"))
      .agg(NativeFunctions.topK(col("cos"), col("neighbor_id"), 3).as("top"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_graft_topk")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(vec_id")
    val finalIdx = plan.indexOf("functions=[graft_topk")
    assert(partialIdx >= 0, s"no partial aggregate in:\n$plan")
    assert(exchangeIdx >= 0, s"no hash exchange in:\n$plan")
    assert(finalIdx >= 0 && finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"expected final < exchange < partial (top-down print order) in:\n$plan")
  }

  test("buffer serde round-trips exactly (partial → final merge image)") {
    val agg = TopKPairsAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(0L), k = 5)
    val buf = new TopKPairsBuffer(5)
    Seq((0.9, 4L), (0.9, 2L), (0.3, 9L), (Double.NaN, 7L), (0.3, 9L), (1.5, 1L))
      .foreach { case (s, id) => buf.insert(s, id) }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.n === buf.n)
    // raw-bit compare: NaN round-trips but NaN != NaN under ===
    assert(back.scores.take(back.n).map(java.lang.Double.doubleToRawLongBits).toSeq
      === buf.scores.take(buf.n).map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(back.ids.take(back.n).toSeq === buf.ids.take(buf.n).toSeq)
    // NaN ranks strongest (SQL's DESC order); the 0.9 tie orders id
    // ASC; dup (0.3, 9) collapsed
    assert(back.ids.take(back.n).toSeq === Seq(7L, 1L, 2L, 4L, 9L))
  }

  test("dup collapse is SQL equality: NaN dups collapse, and so do ±0.0") {
    // Spark SQL's DISTINCT normalizes -0.0 to 0.0 and every NaN to the
    // canonical NaN: primitive == would keep NaN dups apart (NaN != NaN),
    // and Double.compare would rank 0.0 above -0.0 where SQL ties them
    // and breaks the tie on id
    val buf = new TopKPairsBuffer(5)
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000001L)
    Seq((Double.NaN, 7L), (otherNaN, 7L), (0.0, 5L), (-0.0, 3L), (-0.0, 5L))
      .foreach { case (s, id) => buf.insert(s, id) }
    assert(buf.n === 3, "NaN dups and the ±0.0 dup must collapse")
    assert(buf.ids.take(buf.n).toSeq === Seq(7L, 3L, 5L))
    assert(buf.scores.take(buf.n).map(java.lang.Double.doubleToRawLongBits).toSeq
      === Seq(Double.NaN, 0.0, 0.0).map(java.lang.Double.doubleToRawLongBits))
  }

  test("merge of two full buffers keeps the global strongest k") {
    val a = new TopKPairsBuffer(3); val b = new TopKPairsBuffer(3)
    Seq((5.0, 1L), (4.0, 2L), (3.0, 3L)).foreach { case (s, i) => a.insert(s, i) }
    Seq((6.0, 4L), (4.5, 5L), (0.1, 6L)).foreach { case (s, i) => b.insert(s, i) }
    a.mergeFrom(b)
    assert(a.scores.take(a.n).toSeq === Seq(6.0, 5.0, 4.5))
    assert(a.ids.take(a.n).toSeq === Seq(4L, 1L, 5L))
  }
}
