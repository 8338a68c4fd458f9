package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one stateful operator of the streaming dedup twins: per-key
  * buckets of recent arrivals under event-time retention — Structured
  * Streaming's per-key state with event-time timeouts, which every twin
  * (`StreamingDedup`'s MinHash, embedding, SimHash and pHash notices,
  * `StreamingSpanDedup`'s posting matches) needs in the same shape. A
  * twin supplies only its projection to [[Arrival]] rows, its ordering
  * within a micro-batch and its `emit`.
  *
  * State contract, per key:
  *   - the state is the member list, newest first, one
  *     [[Member]] (doc, arrival ms, payload) per arrival;
  *   - every visit prunes members older than `watermark − horizon`, so
  *     state is bounded by the key's occupancy within the horizon;
  *   - only the `cap` newest members are kept — the streaming form of
  *     the batch hot-bucket guards: a hot key costs O(cap) state and
  *     O(cap) scan work per arrival instead of O(occupancy). An arrival
  *     whose only match was evicted goes unreported, the candidate-pool
  *     trade the batch guards make; in the regime that engages a cap (a
  *     near-identical cluster) the newest members are the matches;
  *   - the event-time timeout is re-armed at
  *     max(newest + horizon, watermark + 1). When it fires every member
  *     is past the horizon, and the key's state is removed outright.
  *
  * Match contract: an arrival at `t` is shown only the members of other
  * documents with `at <= t` and `t - at <= horizon`. The explicit check
  * makes the horizon exact — watermark pruning alone would leave two
  * documents farther apart than the horizon visible to each other when
  * both land before the watermark moves (one micro-batch, say) — so
  * pruning stays purely a state bound. Every arrival becomes a member
  * whether or not it matched: an earlier duplicate still catches later
  * copies (the duplicate-CLUSTER greedy of the batch pipeline's
  * connected components). */
object HorizonBuckets {

  /** A bucket member: document `doc` arrived at event time `arrivalMs`
    * (epoch ms) carrying the twin's match `payload`. */
  case class Member[P](doc: Long, arrivalMs: Long, payload: P)

  /** An input row: `doc_id` arriving at `event_time` in bucket `key`.
    * `event_time` is the watermarked column, so late rows are dropped
    * before they reach the state. */
  case class Arrival[K, P](key: K, doc_id: Long, event_time: java.sql.Timestamp, payload: P)

  /** Arrival order within a micro-batch: (event time, doc id). */
  def byArrival[P]: Ordering[Member[P]] = Ordering.by((m: Member[P]) => (m.arrivalMs, m.doc))

  /** One visit of one key: prune `members` (newest first) at
    * `watermarkMs − horizonMs`, then take `arrivals` in the given order,
    * showing each to `emit` with the earlier in-horizon members of other
    * documents (newest first) before prepending it under the `cap`.
    * Returns the new member list, its newest arrival time
    * (`Long.MinValue` when empty) and the emitted rows. */
  def step[P, O](members: List[Member[P]], arrivals: Seq[Member[P]],
      watermarkMs: Long, horizonMs: Long, cap: Int,
      emit: (Member[P], Iterator[Member[P]]) => IterableOnce[O])
      : (List[Member[P]], Long, Seq[O]) = {
    var kept = members.filter(_.arrivalMs >= watermarkMs - horizonMs)
    val out = Vector.newBuilder[O]
    arrivals.foreach { a =>
      val t = a.arrivalMs
      out ++= emit(a, kept.iterator.filter(m =>
        m.doc != a.doc && m.arrivalMs <= t && t - m.arrivalMs <= horizonMs))
      kept = (a :: kept).take(cap)
    }
    (kept, kept.foldLeft(Long.MinValue)(_ max _.arrivalMs), out.result())
  }

  /** [[step]] as a streaming operator: `arrivals` grouped by key, one
    * `flatMapGroupsWithState` (append mode, event-time timeout) whose
    * state is the key's member list. */
  def apply[K, P, O](arrivals: Dataset[Arrival[K, P]], horizonMs: Long, cap: Int,
      order: Ordering[Member[P]])(
      emit: (Member[P], Iterator[Member[P]]) => IterableOnce[O])(
      implicit keyEnc: Encoder[K], stateEnc: Encoder[List[Member[P]]],
      outEnc: Encoder[O]): Dataset[O] = {
    require(cap >= 2, s"the bucket cap must be >= 2, got $cap")
    arrivals
      .groupByKey(_.key)
      .flatMapGroupsWithState[List[Member[P]], O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: K, rows: Iterator[Arrival[K, P]], state: GroupState[List[Member[P]]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val batch = rows.map(r => Member(r.doc_id, r.event_time.getTime, r.payload))
              .toSeq.sorted(order)
            val (members, newest, out) =
              step(state.getOption.getOrElse(Nil), batch, wm, horizonMs, cap, emit)
            state.update(members)
            state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
            out.iterator
          }
      }
  }
}
