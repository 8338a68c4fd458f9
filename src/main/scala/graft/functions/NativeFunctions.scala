package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

import graft.plans._

/** Columns over the native Catalyst expressions in `graft.plans` —
  * with `VectorFunctions.dot` and the `TextFunctions` key builders, the
  * only way to reach a native kernel. Each one constructs its
  * expression directly (ColumnBridge), so an operator built on them
  * runs on any session without installing anything into its
  * FunctionRegistry or optimizer. The `graft_*` names are the
  * expressions' `prettyName`s in plans, not registered functions. */
object NativeFunctions {

  /** k-component MinHash signature of an array<string> of shingles. */
  def minhash(shingles: Column, k: Int, fast: Boolean): Column =
    column(MinHashSignature(expression(shingles), k, fast))

  /** 64-bit SimHash of an array<string> of tokens, packed into a long. */
  def simhash64(tokens: Column): Column =
    column(SimHash64(expression(tokens)))

  /** Max multiplicity of the word `n`-grams of a token array. */
  def maxMultNgram(tokens: Column, n: Int): Column =
    column(NGramMaxMultiplicity(expression(tokens), n))

  /** Id of the nearest centroid by (v·c − ½|c|²); `cids` ascending. */
  def nearestCenter(v: Column, centers: Array[Array[Double]], cids: Array[Long]): Column =
    column(NearestCenter(expression(v), centers, cids))

  /** The `p` best centroid ids by inner product, best first. */
  def nearestCenters(v: Column, centers: Array[Array[Double]], cids: Array[Long],
      p: Int): Column =
    column(NearestCenters(expression(v), centers, cids, p))

  /** Estimated-Jaccard banded pair walk over one bucket's
    * (doc: long, sig: array<long>) members; `cap`/`minScore` < 0 = off. */
  def jaccardPairs(ms: Column, band: Column, r: Int, cap: Int, minScore: Double): Column =
    column(JaccardBucketPairs(expression(ms), expression(band), r, cap, minScore))

  /** Hamming banded pair walk over one bucket's (doc: long, sig: long)
    * members; `cap`/`maxScore` < 0 = off. */
  def packedPairs(ms: Column, band: Column, r: Int, cap: Int, maxScore: Int): Column =
    column(PackedBucketPairs(expression(ms), expression(band), r, cap, maxScore))

  /** Visitor×pool cosine scoring with per-visitor top-k. */
  def scoreTopK(vs: Column, pool: Column, k: Int): Column =
    column(ScoreTopK(expression(vs), expression(pool), k))

  /** Map-side-bounded top-k aggregate over (score, id) pairs. */
  def topK(score: Column, id: Column, k: Int): Column =
    column(TopKPairsAgg(expression(score), expression(id), k).toAggregateExpression())
}
