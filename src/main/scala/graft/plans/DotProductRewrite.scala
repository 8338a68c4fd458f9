package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: recognize the declarative dot-product idiom
  *
  * {{{ aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v) }}}
  *
  * and substitute the codegen'd native [[DotProduct]] — so a user who
  * writes the idiomatic higher-order-function formulation (or any query
  * built on it) gets the compiled inner loop for
  * free. This is the `Rule[LogicalPlan]` extension point of
  * SparkSessionExtensions doing what it is for: teaching the optimizer
  * a domain rewrite the built-in rules cannot know.
  *
  * The substitution is exact, not approximate: DotProduct reproduces the
  * HOF's sequential left-to-right accumulation bit-for-bit, its
  * length-mismatch NULL (zip_with pads with null) and its null-element
  * poisoning — asserted in DotProductExprSpec/DotProductRewriteSpec, so
  * the rule is safe on arbitrary inputs.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isMultiplyOf(f: Expression, vars: Seq[NamedExpression]): Boolean =
    (f, vars) match {
      case (Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
            Seq(a: NamedLambdaVariable, b: NamedLambdaVariable)) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }

  private def isAddOf(f: Expression, vars: Seq[NamedExpression]): Boolean =
    (f, vars) match {
      case (Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable)) =>
        (x.exprId == acc.exprId && y.exprId == v.exprId) ||
          (x.exprId == v.exprId && y.exprId == acc.exprId)
      case _ => false
    }

  private def isIdentity(f: LambdaFunction): Boolean = (f.function, f.arguments) match {
    case (x: NamedLambdaVariable, Seq(a: NamedLambdaVariable)) => x.exprId == a.exprId
    case _ => false
  }

  private def doubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case agg @ ArrayAggregate(
            ZipWith(a, b, mult: LambdaFunction),
            Literal(0.0, DoubleType),
            merge: LambdaFunction,
            finish: LambdaFunction)
          if doubleArray(a) && doubleArray(b) &&
            isMultiplyOf(mult.function, mult.arguments) &&
            isAddOf(merge.function, merge.arguments) &&
            isIdentity(finish) =>
        DotProduct(a, b)
    }
}
