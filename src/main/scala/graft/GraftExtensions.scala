package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.plans.{DotProduct, MinHashSignature, NearestCenter, NearestCenters, NGramMaxMultiplicity, SimHash64}

/** SparkSessionExtensions entry point: registers this engine's native
  * Catalyst expressions as `graft_*` SQL functions, plus the
  * DotProductRewrite optimizer rule. This is the SQL-TEXT surface only:
  * operators build the same expressions as columns directly
  * (graft.functions.NativeFunctions), so no operator needs — or calls —
  * this. Usable two ways:
  *
  *   - config: `spark.sql.extensions=graft.GraftExtensions`
  *   - runtime: `GraftExtensions.register(spark)` (idempotent) for a
  *     session the caller wants to write `graft_*` SQL against.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
  }
}

object GraftExtensions {

  private val minhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
    (args: Seq[Expression]) => {
      require(args.size == 2 || args.size == 3, "graft_minhash(shingles, k[, fast])")
      val k = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_minhash k must be an int literal, got $other")
      }
      val fast = args.lift(2).map {
        case Literal(v: Boolean, _) => v
        case other => sys.error(s"graft_minhash fast must be a bool literal, got $other")
      }.getOrElse(false)
      MinHashSignature(args.head, k, fast)
    })

  private val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (args: Seq[Expression]) => {
      require(args.size == 2, "graft_dot(a, b)")
      DotProduct(args(0), args(1))
    })

  /** Unpack the (centers, cids) literal arguments shared by both
    * nearest-center builders: the nested-array literals are consumed AT
    * BUILD TIME into plain JVM arrays and discarded from the tree — the
    * whole point of the large-k path is that the centroid matrix travels
    * as one serialized object, never as k·dim plan literals. */
  private def unpackCentroidLiterals(
      args: Seq[Expression], fn: String): (Array[Array[Double]], Array[Long]) = {
    val centers = args(1) match {
      case Literal(v: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
        v.toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray())
      case other => sys.error(
        s"$fn centers must be an array<array<double>> literal, got $other")
    }
    val cids = args(2) match {
      case Literal(v: ArrayData, ArrayType(LongType, _)) => v.toLongArray()
      case other => sys.error(
        s"$fn cids must be an array<bigint> literal, got $other")
    }
    (centers, cids)
  }

  /** graft_nearest_center(vec, centersLit, cidsLit) — see
    * unpackCentroidLiterals. */
  private val nearestCenterFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nearest_center"),
    new ExpressionInfo(classOf[NearestCenter].getName, "graft_nearest_center"),
    (args: Seq[Expression]) => {
      require(args.size == 3, "graft_nearest_center(vec, centers, cids)")
      val (centers, cids) = unpackCentroidLiterals(args, "graft_nearest_center")
      NearestCenter(args.head, centers, cids)
    })

  /** graft_nearest_centers(vec, centersLit, cidsLit, p): top-p variant
    * for IVF probe-cell selection. */
  private val nearestCentersFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nearest_centers"),
    new ExpressionInfo(classOf[NearestCenters].getName, "graft_nearest_centers"),
    (args: Seq[Expression]) => {
      require(args.size == 4, "graft_nearest_centers(vec, centers, cids, p)")
      val (centers, cids) = unpackCentroidLiterals(args, "graft_nearest_centers")
      val p = args(3) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_nearest_centers p must be an int literal, got $other")
      }
      NearestCenters(args.head, centers, cids, p)
    })

  private val simhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "graft_simhash64(tokens)")
      SimHash64(args.head)
    })

  private val ngramMaxMultFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_maxmult_ngram"),
    new ExpressionInfo(classOf[NGramMaxMultiplicity].getName, "graft_maxmult_ngram"),
    (args: Seq[Expression]) => {
      require(args.size == 2, "graft_maxmult_ngram(tokens, n)")
      val n = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_maxmult_ngram n must be an int literal, got $other")
      }
      NGramMaxMultiplicity(args.head, n)
    })

  /** graft_topk(score, id, k) — native map-side-bounded top-k aggregate
    * (the analyzer wraps the returned AggregateFunction itself). */
  private val topkFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_topk"),
    new ExpressionInfo(classOf[graft.plans.TopKPairsAgg].getName, "graft_topk"),
    (args: Seq[Expression]) => {
      require(args.size == 3, "graft_topk(score, id, k)")
      val k = args(2) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_topk k must be an int literal, got $other")
      }
      graft.plans.TopKPairsAgg(args(0), args(1), k)
    })

  /** graft_md5w60(s) — first 60 bits of md5(s) as one long (native twin
    * of conv(substring(md5(s),1,15),16,10)). */
  private val md5w60Function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_md5w60"),
    new ExpressionInfo(classOf[graft.plans.Md5Word60].getName, "graft_md5w60"),
    (args: Seq[Expression]) => {
      require(args.size == 1, "graft_md5w60(s)")
      graft.plans.Md5Word60(args.head)
    })

  /** graft_span_keys(tokens, k, fast) — positional shingle keys as one
    * native array<long> (span-posting hot path). */
  private val spanKeysFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_span_keys"),
    new ExpressionInfo(classOf[graft.plans.SpanKeys].getName, "graft_span_keys"),
    (args: Seq[Expression]) => {
      require(args.size == 3, "graft_span_keys(tokens, k, fast)")
      val k = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_span_keys k must be an int literal, got $other")
      }
      val fast = args(2) match {
        case Literal(v: Boolean, _) => v
        case other => sys.error(s"graft_span_keys fast must be a bool literal, got $other")
      }
      graft.plans.SpanKeys(args.head, k, fast)
    })

  /** graft_packed_pairs(ms, band, r, cap, maxScore) — native banded
    * Hamming pair walk over packed long signatures (cap/maxScore < 0 =
    * off). */
  private val packedPairsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_packed_pairs"),
    new ExpressionInfo(classOf[graft.plans.PackedBucketPairs].getName, "graft_packed_pairs"),
    (args: Seq[Expression]) => {
      require(args.size == 5, "graft_packed_pairs(ms, band, r, cap, maxScore)")
      val Seq(r, cap, maxScore) = args.drop(2).map {
        case Literal(v: Int, _) => v
        case other => sys.error(
          s"graft_packed_pairs r/cap/maxScore must be int literals, got $other")
      }
      graft.plans.PackedBucketPairs(args(0), args(1), r, cap, maxScore)
    })

  /** graft_jaccard_pairs(ms, band, r, cap, minScore) — native banded
    * estimated-Jaccard pair walk over array<long> signatures (cap < 0 /
    * minScore < 0 = off). */
  private val jaccardPairsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaccard_pairs"),
    new ExpressionInfo(classOf[graft.plans.JaccardBucketPairs].getName, "graft_jaccard_pairs"),
    (args: Seq[Expression]) => {
      require(args.size == 5, "graft_jaccard_pairs(ms, band, r, cap, minScore)")
      val (r, cap) = (args(2), args(3)) match {
        case (Literal(rv: Int, _), Literal(cv: Int, _)) => (rv, cv)
        case other => sys.error(
          s"graft_jaccard_pairs r/cap must be int literals, got $other")
      }
      val minScore = args(4) match {
        case Literal(v: Double, _) => v
        case other => sys.error(
          s"graft_jaccard_pairs minScore must be a double literal, got $other")
      }
      graft.plans.JaccardBucketPairs(args(0), args(1), r, cap, minScore)
    })

  /** graft_score_topk(vs, pool, k) — native visitor×pool cosine scoring
    * with per-visitor top-k (the LSH/IVF bucket-walk hot loop). */
  private val scoreTopkFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_score_topk"),
    new ExpressionInfo(classOf[graft.plans.ScoreTopK].getName, "graft_score_topk"),
    (args: Seq[Expression]) => {
      require(args.size == 3, "graft_score_topk(vs, pool, k)")
      val k = args(2) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"graft_score_topk k must be an int literal, got $other")
      }
      graft.plans.ScoreTopK(args(0), args(1), k)
    })

  private val all = Seq(minhashFunction, dotFunction,
    nearestCenterFunction, nearestCentersFunction, simhashFunction,
    ngramMaxMultFunction, topkFunction, md5w60Function, spanKeysFunction,
    packedPairsFunction, jaccardPairsFunction, scoreTopkFunction)

  /** Idempotent runtime registration into an existing session, for SQL
    * text only: SQL functions via the registry, the dot-product rewrite
    * via the experimental extra-optimizations hook (the runtime twin of
    * injectOptimizerRule for sessions not configured with
    * spark.sql.extensions). */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DotProductRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
  }
}
