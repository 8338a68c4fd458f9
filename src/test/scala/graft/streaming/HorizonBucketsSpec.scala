package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.HorizonBuckets.{Member, step}

/** The pure state step of the streaming dedup twins: pruning, the exact
  * horizon, the cap, arrival order and the two emission shapes. */
class HorizonBucketsSpec extends AnyFunSuite {

  private val Horizon = 600000L // 10 minutes

  private def m(doc: Long, at: Long): Member[Unit] = Member(doc, at, ())

  /** Every candidate an arrival is shown, as (arrival, member) pairs. */
  private val all: (Member[Unit], Iterator[Member[Unit]]) => Iterator[(Long, Long)] =
    (a, earlier) => earlier.map(e => (a.doc, e.doc))
  private val first: (Member[Unit], Iterator[Member[Unit]]) => Option[(Long, Long)] =
    (a, earlier) => earlier.nextOption().map(e => (a.doc, e.doc))

  test("more members than the cap in one key: state stays at the cap, newest first") {
    val cap = 4
    val arrivals = (1L to 10L).map(d => m(d, d * 1000))
    val (kept, newest, _) = step(Nil, arrivals, 0L, Horizon, cap, all)
    assert(kept.map(_.doc) === List(10L, 9L, 8L, 7L))
    assert(newest === 10000L)
    // a second visit keeps the bound and the order
    val (kept2, _, out2) = step(kept, Seq(m(11L, 11000)), 0L, Horizon, cap, all)
    assert(kept2.map(_.doc) === List(11L, 10L, 9L, 8L))
    assert(out2 === Seq((11L, 10L), (11L, 9L), (11L, 8L), (11L, 7L)))
  }

  test("a member exactly the horizon older matches, one a millisecond older does not, in one batch") {
    val (_, _, out) = step(Nil,
      Seq(m(1L, 0L), m(2L, 1L), m(3L, Horizon + 1)), 0L, Horizon, 8, all)
    // doc 3 at horizon+1: doc 2 (at 1) is exactly horizon older, doc 1
    // (at 0) one millisecond more
    assert(out === Seq((2L, 1L), (3L, 2L)))
  }

  test("members older than watermark - horizon are pruned on the visit") {
    val members = List(m(2L, 5000L), m(1L, 1000L))
    val (kept, newest, out) = step(members, Seq(m(3L, Horizon + 4000)),
      Horizon + 3000, Horizon, 8, all)
    assert(kept.map(_.doc) === List(3L, 2L))
    assert(newest === Horizon + 4000)
    assert(out === Seq((3L, 2L)))
  }

  test("an arrival never sees itself or a later member") {
    val members = List(m(5L, 9000L), m(4L, 8000L))
    val (_, newest, out) = step(members, Seq(m(4L, 8500L)), 0L, Horizon, 8, all)
    assert(out.isEmpty, out)
    assert(newest === 9000L)
  }

  test("arrivals with the same event time are taken in id order") {
    val arrivals = Seq(m(7L, 1000L), m(3L, 1000L), m(5L, 1000L))
      .sorted(HorizonBuckets.byArrival[Unit])
    val (kept, _, out) = step(Nil, arrivals, 0L, Horizon, 8, all)
    assert(kept.map(_.doc) === List(7L, 5L, 3L))
    assert(out === Seq((5L, 3L), (7L, 5L), (7L, 3L)))
  }

  test("first-match emission: at most one output per arrival; all-match: every earlier member") {
    val arrivals = (1L to 5L).map(d => m(d, d))
    val (_, _, firsts) = step(Nil, arrivals, 0L, Horizon, 8, first)
    assert(firsts === Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)))
    val (_, _, alls) = step(Nil, arrivals, 0L, Horizon, 8, all)
    assert(alls.toSet === (for (a <- 1L to 5L; b <- 1L until a) yield (a, b)).toSet)
    assert(alls.size === 10)
  }

  test("an empty state after pruning reports no newest arrival") {
    val (kept, newest, out) = step(List(m(1L, 0L)), Nil, 2 * Horizon, Horizon, 8, all)
    assert(kept.isEmpty && out.isEmpty)
    assert(newest === Long.MinValue)
  }
}
