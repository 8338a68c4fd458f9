package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns — the inner loop
  * of every vector operator in this engine (hyperplane LSH bucketing,
  * cosine re-rank, IVF centroid assignment). The higher-order-function
  * formulation (`aggregate(zip_with(a,b,*), 0.0, +)`) is interpreted
  * per element; this expression runs the d-length loop as straight Java
  * both under whole-stage codegen AND when evaluated inside lambda
  * interpreters (bucket-group scoring), where eval() is one virtual
  * call instead of ~4·d Catalyst node evaluations.
  *
  * Accumulation is strictly sequential left-to-right — BIT-IDENTICAL to
  * the HOF formulation and to DuckDB's `list_dot_product`, which is what
  * keeps every LSH/IVF query hash-matchable cross-engine (asserted in
  * DotProductExprSpec). Null semantics match the HOF form exactly:
  * length mismatch yields NULL (zip_with pads with null) and ANY null
  * element yields NULL (null poisons the running Add), so it equals
  * the HOF form on arbitrary inputs, not just trusted dense vectors
  * (DotProductExprSpec, KernelModesSpec).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val d = DotProduct.dot(x, y)
    if (java.lang.Double.isNaN(d) && !DotProduct.defined(x, y)) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DotProduct.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""${ev.value} = $cls.MODULE$$.dot($x, $y);
         |if (Double.isNaN(${ev.value}) && !$cls.MODULE$$.defined($x, $y)) {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** The sequential left-to-right dot product, shared by eval and
    * codegen. An undefined product (length mismatch, null element)
    * returns NaN, so a NaN result is ambiguous: callers tell a NULL from
    * a genuine NaN with [[defined]], which runs only on NaN results. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  /** Equal lengths and no null element: the product is not NULL. */
  def defined(x: ArrayData, y: ArrayData): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      i += 1
    }
    true
  }
}
