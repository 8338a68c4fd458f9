package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

/** Differential gate for the NATIVE visitor×pool scorer
  * (plans.ScoreTopK): per-visitor top-k over the bucket pool must
  * reproduce the reference neighbors BIT-FOR-BIT — same sequential-dot
  * cosines, same (cos DESC, id ASC) rank, same per-table/per-cell
  * candidate sets under dormant AND engaged pool caps. The reference
  * ("HOF walk" in the test names, after the interpreted scorer it
  * replaced) is the test-side ReferenceModels.topKNeighbors over the
  * collected vectors, grouped by the operators' own bucket and cell
  * assignments (lshBuckets / ivfBuckets). */
class ScoreTopKNativeSpec extends SparkSpecBase {

  /** The fixture plus exact copies of every fifth vector under new ids:
    * a copy scores bit-identically to its original against every
    * visitor, so the rank's neighbor_id tie-break decides real ties. */
  private def emb: DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    base.union(base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  private def canon(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("vec_id"), col("neighbor_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Reference LSH neighbors: every bucket of every table scores all
    * its members against its (capped) pool. */
  private def lshModel(bits: Int, k: Int, tables: Int,
      cap: Option[Int]): Set[(Long, Long, Double)] = {
    val vecs = ReferenceModels.vectors(emb)
    val buckets = SimilaritySearch.lshBuckets(emb, "vec_id", "embedding",
      dim = 64, nBits = bits, nTables = tables)
      .collect().map(r => (r.getString(2), vecs(r.getLong(0)))).toSeq
      .groupBy(_._1).values.map(_.map(_._2)).toSeq
    ReferenceModels.topKNeighbors(
      buckets.map(ms => (ms, ReferenceModels.pool(ms, cap))), k)
  }

  test("native lshNeighbors == HOF walk (single table, several configs)") {
    for ((bits, k) <- Seq((1, 3), (3, 5))) {
      val n = canon(SimilaritySearch.lshNeighbors(
        emb, "vec_id", "embedding", dim = 64, nBits = bits, k = k))
      val h = lshModel(bits, k, 1, Some(SimilaritySearch.DefaultMaxBucketOccupancy))
      assert(n === h, s"nBits=$bits k=$k single-table mismatch")
      assert(n.nonEmpty, s"nBits=$bits single-table found nothing — vacuous")
    }
  }

  test("native lshNeighbors == HOF walk (multi table, engaged pool cap)") {
    for ((tables, cap) <- Seq((2, None), (8, None), (2, Some(4)), (8, Some(8)))) {
      val n = canon(SimilaritySearch.lshNeighbors(
        emb, "vec_id", "embedding", dim = 64, nBits = 2, k = 3,
        nTables = tables, maxBucket = cap))
      val h = lshModel(2, 3, tables, cap)
      assert(n === h, s"tables=$tables cap=$cap multi-table mismatch")
      assert(n.nonEmpty, s"tables=$tables cap=$cap found nothing — vacuous")
    }
  }

  test("native ivfNeighbors == HOF walk (dormant + engaged pool cap)") {
    val vecs = ReferenceModels.vectors(emb)
    // cell → its visitor rows (home members and probes) and members
    val cells = SimilaritySearch.ivfBuckets(emb, "vec_id", "embedding",
      dim = 64, nCentroids = 8, nProbe = 2)
      .collect().map(r => (r.getLong(2), vecs(r.getLong(0)), r.getBoolean(3))).toSeq
      .groupBy(_._1).values.toSeq
    for (cap <- Seq(None, Some(16))) {
      val n = canon(SimilaritySearch.ivfNeighbors(
        emb, "vec_id", "embedding", dim = 64, nCentroids = 8, nProbe = 2,
        k = 3, maxBucket = cap))
      val h = ReferenceModels.topKNeighbors(cells.map { rows =>
        (rows.map(_._2), ReferenceModels.pool(rows.filter(_._3).map(_._2), cap))
      }, 3)
      assert(n === h, s"cap=$cap ivf mismatch")
      assert(n.nonEmpty, s"cap=$cap ivf found nothing — vacuous")
    }
  }
}
