package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a named query over a testdata directory, the DuckDB SQL
  * that must return the same rows, and what building its frame may cost.
  * A gate's name is written once, on its family's registry line.
  *
  * Every probabilistic operator behind a gate (MinHash, SimHash,
  * hyperplane LSH, pHash) is deliberately built from
  * cross-engine-recomputable primitives — md5-derived hashes, literal
  * coefficient/hyperplane arrays, slice-string band keys — precisely so
  * it can carry a full DuckDB oracle: both engines run the SAME
  * randomized algorithm, so outputs must hash-match exactly, not just
  * statistically. EVERY driver gate is oracle-gated: mm_features via
  * deterministic synthesis + real BMP/WAV decode (DuckDB recomputes what
  * the parse must find), and sk_sketches via exact aggregates +
  * within-bound booleans. Only the bench-only variants carry no oracle.
  *
  * @param oracle the DuckDB SQL the driver hash-compares against; None
  *   only for bench-only variants
  * @param budget the Spark jobs building the frame may start (before any
  *   action on it) and the work they pay for, in one word; (0, "") for a
  *   gate built without a job
  * @param memo what the query keeps per (session, data dir) across
  *   executions, so the first one pays it and timed reps do not:
  *   "state" (a standing index or frozen totals), "counts" (corpus-count
  *   metadata) or "" (nothing)
  */
final case class Gate(name: String, query: Gate.Q, oracle: Option[String],
    budget: (Int, String) = (0, ""), memo: String = "")

object Gate {
  type Q = (SparkSession, String) => DataFrame

  /** `gates`, after requiring that no two share a name: a registry is
    * read through name-keyed maps, where a second gate of the same name
    * would silently shadow the first. */
  def uniquelyNamed(gates: Seq[Gate]): Seq[Gate] = {
    val twice = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"gate declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    gates
  }
}
