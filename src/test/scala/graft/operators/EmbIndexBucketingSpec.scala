package graft.operators

import java.nio.file.Files

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The bucketed persisted embedding bucket index — the fourth and last
  * modality of the bucketed-index family (spans, MinHash, SimHash,
  * embeddings): the O(Δ) ingest join against a
  * `writeEmbBucketIndexBucketed` table must shuffle ONLY the delta's
  * bucket rows — the corpus side reads bucket-in-place — and return
  * exactly what the direct incremental path returns. */
class EmbIndexBucketingSpec extends SparkSpecBase {

  private val dim = 64
  private val nBits = 4
  private def emb = Tables.embeddings(spark, sfDir)
  private def delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
  private def corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)

  test("bucketed-index incremental embedding search: delta-only exchange, identical results") {
    val table = "emb_idx_bucketed_spec"
    val path = Files.createTempDirectory("graft-emb-bidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    SimilaritySearch.writeEmbBucketIndexBucketed(
      corpus, "vec_id", "embedding", table, nBuckets = 4,
      dim = dim, nBits = nBits, path = Some(path))

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaBucketed = SimilaritySearch.lshNeighborsIncrementalFromIndex(
        delta, spark.table(table), "vec_id", "embedding",
        dim = dim, nBits = nBits, k = 5)
        .orderBy("delta_id", "corpus_id")
      val direct = SimilaritySearch.lshNeighborsIncremental(
        delta, corpus, "vec_id", "embedding",
        dim = dim, nBits = nBits, k = 5)
        .orderBy("delta_id", "corpus_id")
      val got = viaBucketed.collect().toSeq
      assert(got.nonEmpty && got === direct.collect().toSeq)

      // exactly one bucket-partitioned exchange (the delta's); the topK
      // aggregation downstream has its own delta_id exchange, so the
      // assertion scopes to the bucket column like the h/bb siblings
      val full = viaBucketed.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head
      val bucketExchanges =
        """Exchange hashpartitioning\(bucket#""".r.findAllIn(plan).length
      assert(bucketExchanges === 1,
        s"expected exactly 1 bucket-exchange (delta side), got $bucketExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"corpus side must be a bucketed scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
