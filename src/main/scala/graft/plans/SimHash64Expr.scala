package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native packed SimHash over an array<string> of tokens — the 64-bit
  * signature as ONE long, bit-identical to the composed
  * `packBits(simhashBits(toks, 64), 64)` of the test-side
  * `ReferenceModels` (same md5 hi/lo 32-bit words, same big-endian bit
  * extraction, same strictly-positive vote threshold, same
  * LSB-is-position-0 packing), which the differential spec asserts.
  *
  * Why native (the `graft_minhash` argument, SURVEY.md §2.F): Spark's
  * higher-order functions are interpreted — the composed form evaluates
  * a 64-element per-bit expression tree for EVERY token (64·n
  * interpreted evals per document), which profiling showed was ~5 s of
  * dd_simhash's 6 s at sf0.1 while the md5 calls themselves are
  * negligible. This UnaryExpression supplies both `nullSafeEval` and
  * `doGenCode`, so the vote loop compiles to straight Java inside the
  * surrounding WholeStageCodegen span and the md5-derived
  * CROSS-ENGINE-VERIFIABLE hash (the reason this family is oracle-gated
  * at all) stops carrying an interpretation tax.
  *
  * Null elements vote -1 on every bit, matching the composed form's
  * `when(bit === 1, 1L).otherwise(-1L)` null-condition fallthrough
  * (split() never produces nulls, so this is degenerate-input parity,
  * not a live path).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash64.packedSimhash(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $cls.MODULE$$.packedSimhash($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The full signature loop over the token array — shared verbatim by
    * eval and codegen (the loop is data-dependent; there is nothing to
    * specialize per call site). */
  def packedSimhash(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        // composed-form parity: null condition falls through to -1
        var b = 0
        while (b < 64) { acc(b) -= 1; b += 1 }
      } else {
        val t: UTF8String = arr.getUTF8String(j)
        val d = md5.get()
        d.reset()
        val bytes = d.digest(t.getBytes)
        // hex chars 1-8 = bytes 0-3 (hi word), chars 9-16 = bytes 4-7 (lo)
        var hi = 0L
        var lo = 0L
        var i = 0
        while (i < 4) { hi = (hi << 8) | (bytes(i) & 0xffL); i += 1 }
        while (i < 8) { lo = (lo << 8) | (bytes(i) & 0xffL); i += 1 }
        // bit j of the 64-bit hash: word hi for j<32, lo after;
        // (word >> (31 - j%32)) & 1 — identical to simhashBits
        var b = 0
        while (b < 32) {
          acc(b) += (if (((hi >> (31 - b)) & 1L) == 1L) 1 else -1)
          acc(b + 32) += (if (((lo >> (31 - b)) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      j += 1
    }
    // packBits: signature position b rides bit b (LSB = position 0)
    var packed = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) packed |= (1L << b)
      b += 1
    }
    packed
  }
}
