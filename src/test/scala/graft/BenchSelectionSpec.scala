package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's declared selections name gates that exist: a stale name
  * would otherwise drop out of the timed suite without a word. */
class BenchSelectionSpec extends AnyFunSuite {

  test("every declared selection resolves through Bench.gate") {
    val declared = Bench.heavyHeadline ++ Bench.isolatedSet ++
      Bench.scalingDefense ++ Bench.scalingVisible
    val stale = declared.filterNot(Bench.gate(_).isDefined)
    assert(stale.isEmpty, stale.mkString(", "))
  }

  test("headline and heavyHeadline split every gate, once each") {
    val names = Bench.gates.map(_.name)
    assert((Bench.headline ++ Bench.heavyHeadline).sorted === names.sorted)
    assert(Bench.benchOnly.forall(_.oracle.isEmpty))
    assert(Bench.benchOnly.size === 10)
  }

  test("a SPARK_GRAFT_BENCH_ONLY name no gate has stops the run") {
    assert(Bench.onlySelection(None).isEmpty)
    assert(Bench.onlySelection(Some("q01_pricing_summary,dd_minhash_xx")) ===
      Some(Set("q01_pricing_summary", "dd_minhash_xx")))
    val e = intercept[IllegalArgumentException](
      Bench.onlySelection(Some("q01_pricing_summary,no_such_gate")))
    assert(e.getMessage.contains("no_such_gate"))
  }
}
