package graft.queries

import graft.SparkSpecBase

class SketchSpec extends SparkSpecBase {

  test("gated sk_sketches: HLL++ stays within its rsd bound of exact distinct") {
    val rows = SketchQueries.skSketches(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") > 0)
      assert(r.getAs[Long]("exact_users") > 0)
      // the within-bound boolean IS the sketch-error assertion — and the
      // same boolean gates the DuckDB hash compare (the oracle emits a
      // literal TRUE), so a bound violation fails both CI and the
      // driver's correctness gate
      assert(r.getAs[Boolean]("approx_users_ok"), r.toString)
    }
  }

  test("full verifier: KLL percentiles stay within exact interpolated rank bounds (both fixtures)") {
    // the exact-order-statistics harness moved here from the gate
    // (round 15): it is a verifier, not an operator a user pays for —
    // asserted at two SFs so the bound property stays round-gated
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = SketchQueries.skSketchesVerified(spark, dir).collect()
      assert(rows.nonEmpty, dir)
      rows.foreach { r =>
        assert(r.getAs[Boolean]("approx_users_ok"), s"$dir ${r.toString}")
        assert(r.getAs[Boolean]("p50_ok"), s"$dir ${r.toString}")
        assert(r.getAs[Boolean]("p99_ok"), s"$dir ${r.toString}")
      }
    }
  }
}
