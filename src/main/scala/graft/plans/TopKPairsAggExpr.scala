package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k buffer over (score, id) pairs: k strongest by
  * (score DESC, id ASC), exact duplicates collapsed, kept as two flat
  * primitive arrays sorted strongest-first. k is single-digit-to-tens
  * in every caller (ANN k, rerank pool widths), so inserts are linear
  * shifts within one cache line's worth of doubles — no heap, no boxing.
  *
  * Duplicate collapse is part of the CONTRACT (multi-table LSH feeds
  * the same (cos, neighbor) once per colliding table; a duplicate must
  * not occupy two of the k slots). Scores order and collapse as in
  * Spark SQL's `DISTINCT` + `ORDER BY score DESC` (the window
  * formulation this aggregate replaces): each score is normalized on
  * insert as Spark normalizes grouping keys, -0.0 to 0.0 and every NaN
  * to the canonical NaN, which then ranks above every number.
  */
final class TopKPairsBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0

  /** true if (s1,id1) is STRONGER than (s2,id2): score DESC, id ASC. */
  @inline private def stronger(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && id1 < id2)
  }

  def insert(score: Double, id: Long): Unit = {
    val s = if (score.isNaN) Double.NaN else if (score == 0.0) 0.0 else score
    if (n == k && !stronger(s, id, scores(n - 1), ids(n - 1))) return
    // find insertion point among the ≤k kept entries (linear: k is tiny)
    var pos = 0
    while (pos < n && stronger(scores(pos), ids(pos), s, id)) pos += 1
    // exact dup: bit-image equality of the normalized score
    if (pos < n && ids(pos) == id &&
        java.lang.Double.doubleToLongBits(scores(pos)) == java.lang.Double.doubleToLongBits(s)) return
    if (pos >= k) return
    val last = math.min(n, k - 1) // index that shifts out (or the append slot)
    var i = last
    while (i > pos) { scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1 }
    scores(pos) = s
    ids(pos) = id
    if (n < k) n += 1
  }

  def mergeFrom(o: TopKPairsBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.scores(i), o.ids(i)); i += 1 }
  }
}

/** Native map-side-bounded top-k aggregate (`NativeFunctions.topK`,
  * shown as `graft_topk` in plans): (score, id) →
  * `array<struct<cos:double, neighbor_id:bigint>>`, strongest first
  * (score DESC, id ASC), exact (score, id) duplicates collapsed, NULL
  * scores and NULL ids skipped.
  *
  * This is the hot reduce of every ANN/recall surface (brute-force
  * ground truth, multi-table LSH, IVF, PQ rerank): each map task
  * reduces its partition to ≤k entries per group BEFORE the exchange,
  * evaluated directly on InternalRow columns: no encoder round-trip
  * per input row, no object churn per update (a typed-Dataset
  * aggregator paid a DeserializeToObject → SerializeFromObject pass
  * over the full pair stream plus a List re-sort per insert — measured
  * ~2-3× the whole gate's DuckDB budget at sf0.1). Buffer serde
  * (partial → final exchange) is a fixed-width byte image of the two
  * primitive arrays.
  */
case class TopKPairsAgg(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsBuffer] with BinaryLike[Expression] {

  require(k >= 1, "graft_topk k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects (double, bigint), got (${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cos", DoubleType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKPairsBuffer = new TopKPairsBuffer(k)

  override def update(buf: TopKPairsBuffer, input: InternalRow): TopKPairsBuffer = {
    val s = left.eval(input)
    if (s != null) {
      val id = right.eval(input)
      if (id != null) buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKPairsBuffer, other: TopKPairsBuffer): TopKPairsBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKPairsBuffer): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKPairsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKPairsBuffer(k)
    // entries arrive already strongest-first and deduped: append directly
    var i = 0
    while (i < n) { buf.scores(i) = bb.getDouble; buf.ids(i) = bb.getLong; i += 1 }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairsAgg =
    copy(left = newLeft, right = newRight)
}
