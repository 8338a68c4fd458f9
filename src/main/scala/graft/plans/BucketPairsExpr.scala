package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native banded-LSH pair walks — the in-row pair enumeration of
  * `BandIndex.pairs`.
  *
  * Why native (the SimHash64/SpanKeys argument once more, now for the
  * walk itself): Catalyst higher-order functions (`transform`, `filter`,
  * `forall`, `flatten`) are NOT whole-stage-codegen'd — every lambda
  * application is an interpreted expression eval that allocates, and the
  * pair walk applies a nested lambda PER CANDIDATE PAIR. At sf0.1 the
  * uncapped dd_phash walk enumerates ~2.5M in-bucket pairs and was
  * measured at ~800 ns/pair (≈ 2 s of the gate's 2.6-3.7 s wall); the
  * same double loop in compiled Scala is a handful of ns/pair. The
  * semantics (first-colliding-band dedup, hot-bucket survivor+chain
  * branch, least/greatest direction, scores) are differential-spec'd
  * against the test-side reference model in BucketPairsNativeSpec and
  * oracle-gated through every dd_phash/dd_simhash/dd_minhash family
  * gate.
  *
  * Two concrete walks (one per signature representation):
  *   - `graft_packed_pairs(ms, band, r, cap, maxScore)` over
  *     array<struct<doc:long, sig:long>>, Hamming-scored
  *     (bit_count(xor), int) — the packed ≤64-bit family (pHash,
  *     SimHash).
  *   - `graft_jaccard_pairs(ms, band, r, cap, minScore)` over
  *     array<struct<doc:long, sig:array<long>>>, scored by estimated
  *     Jaccard (fraction of equal components, double) — the MinHash
  *     family.
  *
  * `cap` < 0 disables the hot-bucket guard (the maxBucket = None
  * posture); `maxScore` < 0 / `minScore` < 0 disable the score
  * threshold (then every surviving pair is emitted and the caller's
  * downstream Filter decides). Thresholds only skip pairs
  * the downstream Filter would drop anyway — pushed inside the loop so
  * non-qualifying pairs are never materialized as rows.
  */
abstract class BucketPairsBase extends BinaryExpression {

  /** ms (left): the bucket's collected members; band (right): the
    * bucket's band index. */
  def ms: Expression
  def band: Expression
  override def left: Expression = ms
  override def right: Expression = band

  def r: Int
  def cap: Int

  protected def scoreType: DataType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("score", scoreType, nullable = false))), containsNull = false)

  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (ms.dataType, band.dataType) match {
      case (ArrayType(st: StructType, _), IntegerType)
        if st.length == 2 && st(0).dataType == LongType &&
          sigTypeOk(st(1).dataType) => TypeCheckResult.TypeCheckSuccess
      case (m, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<struct<doc:long, sig:$sigTypeName>>, int), " +
          s"got (${m.catalogString}, ${b.catalogString})")
    }

  protected def sigTypeOk(dt: DataType): Boolean
  protected def sigTypeName: String
}

/** Hamming walk over packed long signatures. */
case class PackedBucketPairs(ms: Expression, band: Expression,
    r: Int, cap: Int, maxScore: Int) extends BucketPairsBase {

  require(r >= 1 && r <= 63, s"band width must be in [1,63], got $r")

  override protected def scoreType: DataType = IntegerType
  override protected def sigTypeOk(dt: DataType): Boolean = dt == LongType
  override protected def sigTypeName: String = "long"
  override def prettyName: String = "graft_packed_pairs"

  override def nullSafeEval(msVal: Any, bandVal: Any): Any =
    PackedBucketPairs.walk(msVal.asInstanceOf[ArrayData],
      bandVal.asInstanceOf[Int], r, cap, maxScore)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PackedBucketPairs.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, (m, b) =>
      s"${ev.value} = $cls.MODULE$$.walk($m, $b, $r, $cap, $maxScore);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedBucketPairs =
    copy(ms = newLeft, band = newRight)
}

object PackedBucketPairs {

  def walk(ms: ArrayData, band: Int, r: Int, cap: Int, maxScore: Int): ArrayData = {
    val m = ms.numElements()
    val docs = new Array[Long](m)
    val sigs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val row = ms.getStruct(i, 2)
      docs(i) = row.getLong(0)
      sigs(i) = row.getLong(1)
      i += 1
    }
    val mask = (1L << r) - 1
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    // keep: the FIRST colliding band represents the pair — at band b a
    // pair survives iff NO earlier band's r-bit slices agree (an r-bit
    // group of the xor word is zero exactly when the slices agree)
    def emit(xi: Int, yi: Int): Unit = {
      val x = sigs(xi); val y = sigs(yi)
      val xor = x ^ y
      var b = 0
      while (b < band) {
        if (((xor >>> (b * r)) & mask) == 0L) return
        b += 1
      }
      val score = java.lang.Long.bitCount(xor)
      if (maxScore >= 0 && score > maxScore) return
      val da = docs(xi); val db = docs(yi)
      out += new GenericInternalRow(Array[Any](
        math.min(da, db), math.max(da, db), score))
    }
    if (cap < 0 || m <= cap) {
      // full triangle in input order (allPairs(ms))
      var a = 0
      while (a < m) {
        var b = a + 1
        while (b < m) { emit(a, b); b += 1 }
        a += 1
      }
    } else {
      // hot bucket: survivor pairs + representative chains over the
      // struct-sorted member list ((doc, sig) ascending — array_sort's
      // field order on struct<doc, sig>)
      val idx = Array.range(0, m)
      val sorted = idx.sortWith { (a, b) =>
        if (docs(a) != docs(b)) docs(a) < docs(b) else sigs(a) < sigs(b)
      }
      var a = 0
      while (a < cap) {
        var b = a + 1
        while (b < cap) { emit(sorted(a), sorted(b)); b += 1 }
        a += 1
      }
      var c = cap
      while (c < m) { emit(sorted(0), sorted(c)); c += 1 }
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** Estimated-Jaccard walk over array<long> (MinHash) signatures. */
case class JaccardBucketPairs(ms: Expression, band: Expression,
    r: Int, cap: Int, minScore: Double) extends BucketPairsBase {

  require(r >= 1, s"band width must be >= 1, got $r")

  override protected def scoreType: DataType = DoubleType
  override protected def sigTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override protected def sigTypeName: String = "array<long>"
  override def prettyName: String = "graft_jaccard_pairs"

  override def nullSafeEval(msVal: Any, bandVal: Any): Any =
    JaccardBucketPairs.walk(msVal.asInstanceOf[ArrayData],
      bandVal.asInstanceOf[Int], r, cap, minScore)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = JaccardBucketPairs.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, (m, b) =>
      s"${ev.value} = $cls.MODULE$$.walk($m, $b, $r, $cap, $minScore);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardBucketPairs =
    copy(ms = newLeft, band = newRight)
}

object JaccardBucketPairs {

  def walk(ms: ArrayData, band: Int, r: Int, cap: Int,
      minScore: Double): ArrayData = {
    val m = ms.numElements()
    val docs = new Array[Long](m)
    val sigs = new Array[Array[Long]](m)
    var i = 0
    while (i < m) {
      val row = ms.getStruct(i, 2)
      docs(i) = row.getLong(0)
      sigs(i) = row.getArray(1).toLongArray()
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    def emit(xi: Int, yi: Int): Unit = {
      val x = sigs(xi); val y = sigs(yi)
      // first-colliding-band dedup: slices [b·r, b·r+r) equal ⇒ collided
      var b = 0
      while (b < band) {
        var off = b * r
        val end = off + r
        var same = true
        while (same && off < end) { same = x(off) == y(off); off += 1 }
        if (same) return
        b += 1
      }
      val k = x.length
      var eq = 0
      var j = 0
      while (j < k) { if (x(j) == y(j)) eq += 1; j += 1 }
      // estJaccard: cast(sum as double) / size — same IEEE division as
      // the HOF form
      val score = eq.toDouble / k.toDouble
      if (score < minScore) return
      val da = docs(xi); val db = docs(yi)
      out += new GenericInternalRow(Array[Any](
        math.min(da, db), math.max(da, db), score))
    }
    if (cap < 0 || m <= cap) {
      var a = 0
      while (a < m) {
        var b = a + 1
        while (b < m) { emit(a, b); b += 1 }
        a += 1
      }
    } else {
      // struct sort: doc ascending, sig lexicographic on ties (docs are
      // unique per bucket by construction, the tiebreak is defensive)
      val idx = Array.range(0, m)
      val sorted = idx.sortWith { (a, b) =>
        if (docs(a) != docs(b)) docs(a) < docs(b)
        else {
          val sa = sigs(a); val sb = sigs(b)
          var j = 0
          val n = math.min(sa.length, sb.length)
          while (j < n && sa(j) == sb(j)) j += 1
          if (j < n) sa(j) < sb(j) else sa.length < sb.length
        }
      }
      var a = 0
      while (a < cap) {
        var b = a + 1
        while (b < cap) { emit(sorted(a), sorted(b)); b += 1 }
        a += 1
      }
      var c = cap
      while (c < m) { emit(sorted(0), sorted(c)); c += 1 }
    }
    new GenericArrayData(out.toArray[Any])
  }
}
