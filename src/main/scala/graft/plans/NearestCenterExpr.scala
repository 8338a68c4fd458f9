package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Nearest-centroid assignment against a FIXED centroid matrix — the
  * large-k path of Clustering.kmeansAssign.
  *
  * The composed-literal formulation (`array_sort(array(struct(score_1,
  * cid_1), …, struct(score_k, cid_k)))`) builds k·dim separate literal
  * subtrees: correct and whole-stage-codegen'd at k=8·dim=64, but plan
  * construction, analysis, and codegen all scale with the EXPRESSION
  * TREE, so at SemDeDup-scale k (10⁴–10⁵ clusters) the plan blows up
  * long before the data does. This expression carries the whole matrix
  * as ONE reference object (the codegen-time analogue of a broadcast
  * variable: executors receive it once inside the serialized plan, not
  * per row), so plan size is O(1) in k and the assignment loop is
  * straight Java over a double[][].
  *
  * Bit-identical to the literal path (asserted differentially in
  * ClusteringSpec): scores are sequential left-to-right dot products
  * minus the precomputed ½|c|² (same accumulation order as graft_dot /
  * DuckDB's list_dot_product), centroids are scanned in ascending-cid
  * order with a strict `>` update, so ties keep the smallest cid —
  * exactly the literal path's ascending (negated-score, cid) sort.
  * Null semantics likewise: a NULL vector, a NULL element, or a
  * dim mismatch yields NULL (the literal path's null-poisoned dot).
  */
case class NearestCenter(
    child: Expression, centers: Array[Array[Double]], cids: Array[Long])
    extends UnaryExpression {

  require(centers.nonEmpty && centers.length == cids.length,
    "graft_nearest_center: need one cid per centroid, at least one centroid")
  require(cids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "graft_nearest_center: cids must be strictly ascending (tie-break order)")
  private val dim = centers.head.length
  require(centers.forall(_.length == dim),
    "graft_nearest_center: ragged centroid matrix")

  /** ½|c|² per centroid, accumulated sequentially — the identical
    * computation (and literal value) the composed path embeds. */
  @transient private lazy val halfNorms: Array[Double] =
    centers.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      0.5 * s
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_center expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_center"
  // k·dim doubles must not render into explain/toString output
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"k=${cids.length}", s"dim=$dim")

  override def nullSafeEval(a: Any): Any = {
    val c = NearestCenter.nearest(a.asInstanceOf[ArrayData], centers, halfNorms)
    if (c < 0) null else cids(c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cenRef = ctx.addReferenceObj("centers", centers, "double[][]")
    val cidRef = ctx.addReferenceObj("cids", cids, "long[]")
    val hnRef = ctx.addReferenceObj("halfNorms", halfNorms, "double[]")
    val cls = NearestCenter.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c")
      s"""final int $c = $cls.MODULE$$.nearest($v, $cenRef, $hnRef);
         |if ($c < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $cidRef[$c];
         |}""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCenter =
    copy(child = newChild)
}

object NearestCenter {

  /** Index of the best centroid by (v·c − ½|c|²), scanned in order with
    * a strict `>` so ties keep the earlier index; −1 when the vector is
    * NULL-valued (a null element or a dim mismatch). Shared by eval and
    * codegen. */
  def nearest(v: ArrayData, centers: Array[Array[Double]],
      halfNorms: Array[Double]): Int = {
    val dim = centers(0).length
    if (v.numElements() != dim) return -1
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return -1
      x(i) = v.getDouble(i); i += 1
    }
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < centers.length) {
      val cen = centers(c)
      var s = 0.0; var j = 0
      while (j < dim) { s += x(j) * cen(j); j += 1 }
      s -= halfNorms(c)
      if (s > best) { best = s; bestC = c }
      c += 1
    }
    bestC
  }
}
