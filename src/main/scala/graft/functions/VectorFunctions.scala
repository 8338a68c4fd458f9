package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.DotProduct

/** Dense-vector primitives over `array<float|double>` columns, written
  * as higher-order-function expressions (codegen'd, deterministic
  * left-to-right accumulation — important for oracle parity and for
  * reproducibility across partitionings at scale).
  */
object VectorFunctions {

  /** Cast to array<double> — do float→double widening once, up front. */
  def asDoubles(v: Column): Column = v.cast("array<double>")

  /** Dot product via the native codegen'd expression (graft.plans.
    * DotProduct, `graft_dot` in plans): the d-length loop compiles
    * to straight Java instead of ~4·d interpreted HOF node evaluations —
    * the inner loop of bucketing, scoring, and assignment. The column
    * carries the expression itself, so it needs nothing registered on
    * the session. Accumulation order (sequential left-to-right) is
    * bit-identical to the test-side HOF reference `ReferenceModels.dotHof`
    * and to DuckDB's list_dot_product
    * (asserted in spec), so oracle parity is unchanged. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cross-engine-safe fixed-point rounding: floor(x·10^dp + 0.5)/10^dp.
    * Unlike `round()` — whose half-way semantics differ between Spark
    * (shortest-decimal-string BigDecimal HALF_UP) and DuckDB (scaled
    * binary multiply) — every step here is the same correctly-rounded
    * IEEE op in both engines, so results are bit-identical by
    * construction on ANY input, not just inputs that avoid the
    * boundary. The SQL twin is `floor(x * 10^dp + 0.5) / 10^dp`,
    * written with the same literal. */
  def roundFixed(x: Column, dp: Int): Column = {
    require(dp >= 0 && dp <= 15)
    val scale = math.pow(10, dp) // exact powers of ten up to 1e15
    floor(x * lit(scale) + lit(0.5)) / lit(scale)
  }

  /** Reassemble exploded (pos, value) rows into a position-ordered array
    * — an aggregate expression for `groupBy(id).agg(...)` callers. */
  def reassembleByPos(pos: Column, value: Column): Column =
    transform(
      array_sort(collect_list(struct(pos.as("p"), value.as("v")))),
      s => s.getField("v"))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** splitmix64 finalizer — the plane-component PRNG. Chosen over
    * scala.util.Random because it is trivially reproducible in any
    * language (the driver-side oracle tooling mirrors it in Python). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic random hyperplanes for sign-LSH, materialized as
    * PLAN-TIME literals (not per-row hash calls): identical on every
    * executor with zero broadcast state, and — because each component is
    * an exact binary fraction k/1024 ∈ [-1,1] whose decimal rendering
    * round-trips exactly — embeddable verbatim in cross-engine SQL, so
    * the whole LSH pipeline is DuckDB-oracle-checkable. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 0x5CA1AB1EL): Array[Array[Double]] = {
    // stride 2^32 between planes keeps component streams disjoint for any
    // realistic dim (a 4096 stride would alias plane h component j with
    // plane h+1 component j-4096, silently correlating hyperplanes)
    require(dim > 0 && dim.toLong < 0x100000000L, s"dim $dim out of range")
    Array.tabulate(nBits, dim) { (h, j) =>
      ((mix64(seed + h * 0x100000000L + j) >>> 32) % 2048 - 1024) / 1024.0
    }
  }

  /** Sign-LSH bucket key: one character ('0'/'1') per hyperplane, the
    * sign of v·plane. The dot products are plain literal-array zip_with
    * aggregates — sequential left-to-right accumulation, bit-identical
    * to DuckDB's list_dot_product against the same literals. */
  def hyperplaneBits(v: Column, planes: Array[Array[Double]]): Column =
    concat(planes.map { p =>
      val proj = dot(v, array(p.map(lit): _*))
      when(proj > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** The same bucket expression as DuckDB SQL over a DOUBLE[] column
    * named `colName` — literal-for-literal identical planes. */
  def hyperplaneBitsSql(colName: String, planes: Array[Array[Double]]): String =
    planes.map { p =>
      s"(CASE WHEN list_dot_product($colName, [${p.mkString(",")}]) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
}
