package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Max multiplicity of the word `n`-grams of a token array — the fused
  * form of `topRunCountHof(grams(toks, n))` (test-side `ReferenceModels`),
  * the per-document inner loop of the repetition quality signals. The composed
  * pipeline materializes every gram as a concat_ws STRING through an
  * interpreted `transform` (n element_at evaluations + one allocation
  * per position per row — profiled as ta_repetition's dominant term);
  * this expression counts grams as n-token WINDOWS over the existing
  * UTF8String array, allocating nothing on the common path.
  *
  * Exactness: tokens come from split(text, ' ') and therefore contain
  * no spaces, so space-joined gram equality IS token-sequence equality
  * — the window key and the string key induce identical multiplicities
  * (asserted against the composed pipeline on the real corpus and on
  * degenerate inputs in MaxMultiplicityExprSpec). Arrays holding null
  * elements (impossible from split; concat_ws SKIPS nulls, which makes
  * joined-string equality diverge from sequence equality) fall back to
  * building the same joined strings the composed form builds. Fewer
  * than n tokens → 0, the composed form's empty-gram-array answer.
  */
case class NGramMaxMultiplicity(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_maxmult_ngram expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_maxmult_ngram"

  override def nullSafeEval(input: Any): Any =
    NGramMaxMultiplicity.maxMult(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = NGramMaxMultiplicity.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = $cls.MODULE$$.maxMult($arr, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): NGramMaxMultiplicity =
    copy(child = newChild)
}

object NGramMaxMultiplicity {

  /** An n-token window into a materialized UTF8String array — the
    * HashMap key of the no-allocation path. equals/hashCode range over
    * the window's tokens only. */
  private final class Window(val toks: Array[UTF8String], val start: Int, val n: Int) {
    override def hashCode(): Int = {
      var h = 1
      var i = 0
      while (i < n) { h = h * 31 + toks(start + i).hashCode(); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case w: Window =>
        if (w.n != n) false
        else {
          var i = 0
          while (i < n && toks(start + i) == w.toks(w.start + i)) i += 1
          i == n
        }
      case _ => false
    }
  }

  def maxMult(arr: ArrayData, n: Int): Long = {
    val m = arr.numElements()
    if (m < n) return 0L
    var hasNull = false
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) hasNull = true else toks(i) = arr.getUTF8String(i)
      i += 1
    }
    val counts = new java.util.HashMap[AnyRef, Integer]()
    var best = 0L
    def bump(k: AnyRef): Unit = {
      val c = counts.get(k)
      val nc = if (c == null) 1 else c.intValue() + 1
      counts.put(k, Integer.valueOf(nc))
      if (nc > best) best = nc.toLong
    }
    i = 0
    if (!hasNull) {
      while (i <= m - n) { bump(new Window(toks, i, n)); i += 1 }
    } else {
      // null elements: reproduce concat_ws semantics exactly (nulls
      // skipped, remainder space-joined) — degenerate-input parity only
      while (i <= m - n) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        var first = true
        while (j < n) {
          val t = toks(i + j)
          if (t != null) {
            if (!first) sb.append(' ')
            sb.append(t.toString)
            first = false
          }
          j += 1
        }
        bump(sb.toString)
        i += 1
      }
    }
    best
  }
}
