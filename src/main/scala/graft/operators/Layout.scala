package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout optimization: multi-dimensional clustering via Z-order
  * (Morton) keys. Sorting a table by the interleaved bits of two or
  * more filter columns makes every output file narrow in EVERY
  * dimension, so min/max footer statistics prune files for predicates
  * on ANY of the columns — the standard layout trick (Delta/Iceberg
  * `OPTIMIZE ZORDER BY`) for 100 TB fact tables queried along more than
  * one axis. A single-column sort gives perfect pruning on one axis and
  * none on the others; Z-order trades a little of each for pruning on
  * all.
  */
object Layout {

  /** Morton key over `cols.size` non-negative integer columns: bit `i`
    * of column `j` lands at interleaved position `i·n + j` (the
    * round-robin bit fold — for n=2 this is the classic x-even/y-odd
    * interleave). Pure integer shifts and adds, unrolled at plan time —
    * codegen-friendly and recomputable in any engine. `n·bitsPer` must
    * fit a signed long. */
  def zorderKey(cols: Seq[Column], bitsPer: Int): Column = {
    val n = cols.size
    require(n >= 2, "z-order needs at least two columns")
    require(bitsPer >= 1 && n.toLong * bitsPer <= 63,
      s"n*bitsPer must fit a signed long, got $n*$bitsPer")
    (for { i <- 0 until bitsPer; (c, j) <- cols.zipWithIndex }
      yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ + _)
  }

  /** Two-column form (bit-identical to `zorderKey(Seq(x, y), bitsPer)`;
    * kept as the oracle-gated surface — op_zorder's DuckDB twin unrolls
    * exactly these positions). */
  def zorderKey(x: Column, y: Column, bitsPer: Int = 21): Column =
    zorderKey(Seq(x, y), bitsPer)
}
