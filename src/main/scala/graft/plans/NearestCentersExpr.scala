package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Top-`p` nearest centroids by inner product — the large-nCentroids
  * probe path of SimilaritySearch.ivfNeighbors, returning the probed
  * cell ids best-first as `array<long>`.
  *
  * Same scale rationale as NearestCenter (the scalar k-means sibling):
  * the composed formulation sorts an array of nCentroids literal
  * structs, so the expression tree grows with nCentroids·dim and the
  * plan stops being plannable at production IVF cell counts (10⁴–10⁵);
  * here the matrix rides as ONE reference object and the scan is
  * straight Java. Matches the composed `array_sort((−dot, cid))` +
  * slice ordering bit-for-bit (differentially asserted): scores are
  * sequential left-to-right dot products, candidates scanned in
  * ascending-cid order with strict insertion, so score ties keep the
  * smaller cid. A NULL vector, NULL element, or dim mismatch yields
  * NULL. Unlike the k-means assignment there is NO ½|c|² term — IVF's
  * coarse quantizer ranks by raw inner product. */
case class NearestCenters(
    child: Expression, centers: Array[Array[Double]], cids: Array[Long], p: Int)
    extends UnaryExpression {

  require(centers.nonEmpty && centers.length == cids.length,
    "graft_nearest_centers: need one cid per centroid, at least one centroid")
  require(p >= 1 && p <= centers.length,
    s"graft_nearest_centers: p=$p out of range for ${centers.length} centroids")
  require(cids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "graft_nearest_centers: cids must be strictly ascending (tie-break order)")
  private val dim = centers.head.length
  require(centers.forall(_.length == dim),
    "graft_nearest_centers: ragged centroid matrix")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centers expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centers"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"n=${cids.length}", s"dim=$dim", s"p=$p")

  override def nullSafeEval(a: Any): Any =
    NearestCenters.topP(a.asInstanceOf[ArrayData], centers, cids, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cenRef = ctx.addReferenceObj("centers", centers, "double[][]")
    val cidRef = ctx.addReferenceObj("cids", cids, "long[]")
    val cls = NearestCenters.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = $cls.MODULE$$.topP($v, $cenRef, $cidRef, $p);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCenters =
    copy(child = newChild)
}

object NearestCenters {

  /** The `p` best centroid ids by inner product, best first; null when
    * the vector is NULL-valued (a null element or a dim mismatch).
    * Shared by eval and codegen.
    *
    * Candidates are scanned in ascending-cid order and inserted into
    * the best-first buffers with STRICT comparison: equal scores keep
    * the earlier — smaller — cid, the composed sort's tie order. A NaN
    * score (non-finite inputs) ranks BELOW every real score — `s >
    * NaN` alone is false both ways, which would freeze a NaN that
    * entered the buffer above later real candidates; the explicit
    * buffer-NaN check reproduces the composed path's total order
    * (array_sort places the NaN negsim last). */
  def topP(v: ArrayData, centers: Array[Array[Double]], cids: Array[Long],
      p: Int): ArrayData = {
    val dim = centers(0).length
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i); i += 1
    }
    val bestS = new Array[Double](p)
    val bestC = new Array[Long](p)
    var filled = 0
    var c = 0
    while (c < centers.length) {
      val cen = centers(c)
      var s = 0.0; var j = 0
      while (j < dim) { s += x(j) * cen(j); j += 1 }
      var pos = filled
      while (pos > 0 &&
        (s > bestS(pos - 1) ||
          (java.lang.Double.isNaN(bestS(pos - 1)) && !java.lang.Double.isNaN(s))))
        pos -= 1
      if (pos < p) {
        val last = math.min(filled, p - 1)
        var m = last
        while (m > pos) { bestS(m) = bestS(m - 1); bestC(m) = bestC(m - 1); m -= 1 }
        bestS(pos) = s; bestC(pos) = cids(c)
        if (filled < p) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bestC.take(filled))
  }
}
