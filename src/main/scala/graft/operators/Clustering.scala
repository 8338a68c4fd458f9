package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.functions.VectorFunctions._

/** Document/embedding clustering for training-data curation (semantic
  * dedup buckets, domain discovery, mixture design): deterministic
  * Lloyd's k-means over an embedding column.
  *
  * Scale design (100 TB corpus, 1000 executors):
  *   - Centroids are tiny (k × dim doubles — KB-scale) while the corpus
  *     scan is the real work, so each Lloyd round is ONE distributed
  *     pass: assignment is a per-row argmax against PLAN-LITERAL
  *     centroids (no broadcast variable, no join, no shuffle), and the
  *     mean update is a single map-side-combinable groupBy(cluster,
  *     component) — shuffle volume k·dim rows per round, independent of
  *     corpus size. This is the canonical broadcast-kmeans shape
  *     (Spark MLlib's KMeans does the same with a broadcast variable).
  *   - The driver holds only the k×dim centroid matrix between rounds —
  *     no per-row data ever reaches the driver.
  *
  * Determinism / oracle design:
  *   - init: the k lowest-id vectors (ids on the synthetic corpus are
  *     i.i.d. vectors, so this is a uniform deterministic sample — the
  *     same trick SimilaritySearch.ivfNeighbors uses for its quantizer);
  *   - assignment: argmin L2 distance, computed as argmax of
  *     (v·c − ½·|c|²) so every FP operation is a sequential dot product
  *     (bit-identical to the HOF formulation — DotProductExprSpec —
  *     and to DuckDB's list_dot_product, which the k-means oracle gates
  *     hash-match) plus one correctly-rounded multiply and
  *     subtract; ties break toward the smaller centroid id;
  *   - mean update: component means are ROUNDED to `roundDp` decimals
  *     each round, so the engines' different partial-sum orders (both
  *     within 1e-13 of each other) collapse to the same literal value
  *     instead of compounding across rounds; empty clusters keep their
  *     previous centroid.
  */
object Clustering {

  /** Above this many k·dim terms, assignment switches from the composed
    * plan-literal formulation to the native NearestCenter expression
    * carrying the centroid matrix as ONE reference object. The literal
    * path is Catalyst-native and oracle-expressible, but its expression
    * tree scales with k·dim — at SemDeDup-scale k (10⁴–10⁵ clusters)
    * plan construction/analysis/codegen blow up long before the data
    * does. The two paths are bit-identical (differentially asserted in
    * ClusteringSpec); the gated k=8·dim=64 = 512 stays literal, keeping
    * the DuckDB oracle untouched. */
  val LiteralAssignMaxTerms = 4096

  /** ½|c|² summed sequentially left-to-right — the same accumulation
    * order as list_dot_product(c, c), so the oracle's runtime value is
    * bit-identical to this plan literal. */
  private[operators] def halfNormSq(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    0.5 * s
  }

  /** Nearest-centroid assignment column over a vector column `v` —
    * cells ranked by (L2 score desc, cid asc); beyond literalMaxTerms
    * the same argmax runs inside the native NearestCenter expression
    * (matrix as one reference object — plan size O(1) in k),
    * bit-identical by construction. */
  private def assignCol(cs: Seq[(Long, Array[Double])], literalMaxTerms: Int): Column =
    if (cs.size.toLong * cs.head._2.length <= literalMaxTerms) {
      val cells = array_sort(array(cs.map { case (cid, c) =>
        struct(
          (-(dot(col("v"), array(c.toSeq.map(lit): _*)) - lit(halfNormSq(c))))
            .as("negs"),
          lit(cid).as("cid"))
      }: _*))
      element_at(cells, 1).getField("cid")
    } else
      NativeFunctions.nearestCenter(col("v"), cs.map(_._2).toArray, cs.map(_._1).toArray)

  /** The trained centroids alone — seed (k lowest-id vectors) + `iters`
    * Lloyd rounds. Shared by kmeansAssign and ivfNeighbors' refined
    * quantizer; returned sorted by seed cid (ascending). */
  def kmeansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, roundDp: Int = 6,
      literalMaxTerms: Int = LiteralAssignMaxTerms): Seq[(Long, Array[Double])] = {
    require(k >= 1 && iters >= 0 && roundDp >= 0)
    val e = corpus
      .select(col(idCol).cast("long").as("id"), asDoubles(col(vecCol)).as("v"))

    // the k LOWEST ids — not `id < k`, which silently under-seeds on any
    // corpus whose ids don't start at 0
    var cents: Seq[(Long, Array[Double])] = e.orderBy("id").limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, "empty corpus: no vectors to seed centroids")

    for (_ <- 1 to iters) {
      // Lloyd ROUNDS always assign via the native NearestCenter
      // expression (centroid matrix = one reference object): the two
      // paths are bit-identical (ClusteringSpec's differential), but
      // the literal path re-pays Catalyst analysis/codegen of a k·dim
      // expression tree EVERY round — the round-loop fixed overhead
      // the round-10 QualityClassifier fix targeted, here ~0.2s/round
      // at the gated 512 terms. The FINAL assignment below still
      // honors `literalMaxTerms` (the oracle-expressible plan shape).
      val means = e.withColumn("cluster", assignCol(cents, 0))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(roundFixed(avg(col("x")), roundDp).as("m"))
        .groupBy("cluster")
        .agg(reassembleByPos(col("pos"), col("m")).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** Assign every vector to one of `k` clusters after `iters` Lloyd
    * update rounds. Returns (vec_id, cluster_id) where cluster_id is the
    * seed vector's id. `literalMaxTerms` overrides the literal-vs-native
    * assignment switchover (tests pin it to force either path). */
  def kmeansAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, roundDp: Int = 6,
      literalMaxTerms: Int = LiteralAssignMaxTerms): DataFrame = {
    val cents = kmeansCentroids(
      corpus, idCol, vecCol, k, iters, roundDp, literalMaxTerms)
    corpus
      .select(col(idCol).cast("long").as("id"), asDoubles(col(vecCol)).as("v"))
      .select(col("id").as("vec_id"),
        assignCol(cents, literalMaxTerms).as("cluster_id"))
  }
}
