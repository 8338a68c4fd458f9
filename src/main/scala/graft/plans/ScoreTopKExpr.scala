package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native visitor×pool cosine scoring with per-visitor top-k —
  * `graft_score_topk(vs, pool, k)` — the compiled twin of the LSH/IVF
  * bucket walks' scored-candidates HOF tree
  * (`transform(vs, a => transform(filter(pool, b => b.id =!= a.id), b =>
  * struct(cos, …)))` + per-visitor `slice(array_sort(…), 1, k)`).
  *
  * Why native (the BucketPairs argument for the vector modality): the
  * HOF tree pays an interpreted lambda application + struct allocation
  * PER CANDIDATE — ~200 ns over the ~100 ns native dot product itself —
  * and the unsorted multi-table/IVF form additionally ships EVERY scored
  * candidate into the top-k aggregator instead of k per visitor.
  * Semantics are identical:
  *   - candidates = pool members with id ≠ visitor id, a non-NULL
  *     vector and a non-NULL norm; a visitor with a NULL vector or a
  *     NULL norm (a vector with a NULL element) has none;
  *   - cos = dot(a.v, b.v) / (a.nrm · b.nrm), dot strictly sequential
  *     (the DotProduct contract — bit-identical cross-engine);
  *   - rank = (cos DESC, neighbor_id ASC) under Java double comparison
  *     (`ORDER BY cos DESC, neighbor_id ASC`);
  *   - output = each visitor's ≤ k best, best first, visitors in input
  *     order — exactly `slice(array_sort(scored), 1, k)`.
  * Emitting k per (visitor, bucket row) is lossless for the downstream
  * global top-k: a candidate in the visitor's GLOBAL top-k can be
  * outranked by fewer than k candidates in ANY bucket row containing
  * it, so it survives every local cut (duplicates across rows collapse
  * in the aggregator as before). Differential-spec'd against the
  * test-side reference model in ScoreTopKNativeSpec; oracle-gated by
  * the ss_ann/ss_recall families. The ids are bigint: lshNeighbors and
  * ivfNeighbors refuse any other id type up front.
  *
  * Input structs need (id: long, v: array<double>, nrm: double) as
  * their first three fields; extra fields (IVF's is_member) ride along
  * untouched. */
case class ScoreTopK(vs: Expression, pool: Expression, k: Int)
    extends BinaryExpression {

  require(k >= 1, "graft_score_topk k must be >= 1")

  override def left: Expression = vs
  override def right: Expression = pool

  private def memberTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(st: StructType, _) if st.length >= 3 =>
      st(0).dataType == LongType &&
        (st(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && st(2).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (memberTypeOk(vs.dataType) && memberTypeOk(pool.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<struct<id:long, v:array<double>, nrm:double, …>>, " +
        s"got (${vs.dataType.catalogString}, ${pool.dataType.catalogString})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_score_topk"

  private lazy val vsFields = vs.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType].length
  private lazy val poolFields = pool.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType].length

  override def nullSafeEval(vsVal: Any, poolVal: Any): Any =
    ScoreTopK.walk(vsVal.asInstanceOf[ArrayData], vsFields,
      poolVal.asInstanceOf[ArrayData], poolFields, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ScoreTopK.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $cls.MODULE$$.walk($a, $vsFields, $b, $poolFields, $k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScoreTopK =
    copy(vs = newLeft, pool = newRight)
}

object ScoreTopK {

  def walk(vs: ArrayData, vsFields: Int, pool: ArrayData, poolFields: Int,
      k: Int): ArrayData = {
    val nv = vs.numElements()
    val np = pool.numElements()
    // pool decoded once per bucket row, reused by every visitor
    val pid = new Array[Long](np)
    val pv = new Array[Array[Double]](np)
    val pn = new Array[Double](np)
    var i = 0
    while (i < np) {
      val row = pool.getStruct(i, poolFields)
      pid(i) = row.getLong(0)
      // a NULL vector or norm stays null here and is never a candidate
      if (!row.isNullAt(1) && !row.isNullAt(2)) {
        pv(i) = row.getArray(1).toDoubleArray()
        pn(i) = row.getDouble(2)
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    // per-visitor k-best, insertion-selected (k is 3-10 everywhere)
    val bc = new Array[Double](k)
    val bi = new Array[Long](k)
    var a = 0
    while (a < nv) {
      val row = vs.getStruct(a, vsFields)
      // a NULL vector or norm has no neighbours (NULL vectors share one
      // bucket; a NULL element reads as 0.0 in toDoubleArray and makes
      // the norm NULL)
      val av =
        if (row.isNullAt(1) || row.isNullAt(2)) null else row.getArray(1).toDoubleArray()
      val aid = row.getLong(0)
      val an = row.getDouble(2)
      var nBest = 0
      var b = 0
      while (av != null && b < np) {
        if (pid(b) != aid && pv(b) != null) {
          // strictly sequential dot — the DotProduct/list_dot_product
          // cross-engine contract
          val x = av; val y = pv(b)
          val d = math.min(x.length, y.length)
          var acc = 0.0
          var j = 0
          while (j < d) { acc += x(j) * y(j); j += 1 }
          val cos = acc / (an * pn(b))
          val nid = pid(b)
          // rank: cos DESC, id ASC under Java double comparison (NaN
          // compares false both ways and falls through to the id
          // tiebreak)
          var pos = nBest
          while (pos > 0 && {
            val c = bc(pos - 1); val id2 = bi(pos - 1)
            cos > c || (!(cos < c) && !(cos > c) && nid < id2)
          }) pos -= 1
          if (pos < k) {
            val last = math.min(nBest, k - 1)
            var m = last
            while (m > pos) { bc(m) = bc(m - 1); bi(m) = bi(m - 1); m -= 1 }
            bc(pos) = cos; bi(pos) = nid
            if (nBest < k) nBest += 1
          }
        }
        b += 1
      }
      var r = 0
      while (r < nBest) {
        out += new GenericInternalRow(Array[Any](aid, bi(r), bc(r)))
        r += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}
