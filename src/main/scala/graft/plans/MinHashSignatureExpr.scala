package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over an array<string> of shingles — the one
  * place in this engine where built-in operators genuinely can't deliver
  * (SURVEY.md §4 "custom-code spots"): Spark's higher-order functions
  * are interpreted (no whole-stage codegen, no CSE), and a k-component
  * signature is a tight k×n numeric loop. Eval and codegen both call the
  * one compiled Scala kernel (`MinHashSignature.signature`), so the loop
  * runs as JVM bytecode inside the surrounding WholeStageCodegen span.
  *
  * Semantics are bit-identical to the interpreted higher-order-function
  * reference `ReferenceModels.minhashSignature` (test side; same md5-derived
  * 60-bit base hash — chosen so DuckDB can recompute it and the whole
  * dedup pipeline is oracle-gated — same (a_i·h + b_i) mod 2³¹−1
  * universal-hash family, same fixed coefficient seed), which the spec
  * asserts — the expression is a faster plan for the same function, not
  * a new function.
  */
case class MinHashSignature(child: Expression, k: Int, fast: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash"

  @transient private lazy val (coefA, coefB) = MinHashSignature.coefficients(k)

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], coefA, coefB, fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coefA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coefB, "long[]")
    val cls = MinHashSignature.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = $cls.MODULE$$.signature($arr, $aRef, $bRef, $fast);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** 2³¹−1, prime — keeps a·h+b < 2⁶² (ANSI-safe) and positive. */
  val P: Long = 2147483647L

  /** Same coefficient stream as TextFunctions.minhashCoefficients. */
  def coefficients(k: Int): (Array[Long], Array[Long]) =
    graft.functions.TextFunctions.minhashCoefficients(k)

  /** The k×n min-hash loop, shared by eval and codegen: component i is
    * the min over non-null shingles of (a_i·h + b_i) mod P. */
  def signature(arr: ArrayData, coefA: Array[Long], coefB: Array[Long],
      fast: Boolean): ArrayData = {
    val k = coefA.length
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h =
          if (fast) fastHash(arr.getUTF8String(j))
          else baseHash(arr.getUTF8String(j))
        var i = 0
        while (i < k) {
          val v = (coefA(i) * h + coefB(i)) % P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a 60-bit long, mod P — i.e. the top
    * 60 bits of the digest's first 8 bytes (big-endian), exactly what
    * `conv(substr(md5(s),1,15),16,10)` (Spark) and
    * `('0x' || substr(md5(s),1,15))::BIGINT` (DuckDB) parse. Matches
    * TextFunctions.baseHash bit-for-bit. */
  def baseHash(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (bytes(i) & 0xffL); i += 1 }
    (be >>> 4) % P
  }

  /** Fast mode: Spark's own xxhash64 (seed 42 — identical to the
    * built-in `xxhash64()` function, so the HOF formulation
    * `pmod(xxhash64(s), P)` matches bit-for-bit), then mod P. ~10×
    * cheaper than md5; no cross-engine oracle, spec-anchored instead. */
  def fastHash(s: UTF8String): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    ((h % P) + P) % P
  }
}
