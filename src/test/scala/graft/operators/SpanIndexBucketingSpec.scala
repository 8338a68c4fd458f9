package graft.operators

import java.nio.file.Files

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The bucketed persisted span posting index: the O(Δ) ingest join
  * against a `writeSpanPostingIndexBucketed` table must shuffle ONLY
  * the delta side — the corpus postings read bucket-in-place — and
  * return exactly what the direct (recompute-the-corpus) incremental
  * path returns. */
class SpanIndexBucketingSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)
  private def delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
  private def corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)

  test("bucketed-index incremental spans: delta-only exchange, identical results") {
    val table = "span_idx_bucketed_spec"
    val path = Files.createTempDirectory("graft-span-bidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.writeSpanPostingIndexBucketed(
      corpus, "doc_id", "text", table, nBuckets = 4, path = Some(path))

    // disable auto-broadcast: at fixture scale the delta would
    // broadcast (also shuffle-free, but that path proves nothing about
    // the layout) — production deltas are far above any broadcast
    // threshold, and THAT regime is what bucketing exists for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaBucketed = Dedup.sharedSpansIncrementalFromIndex(
        delta, spark.table(table), "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      val direct = Dedup.sharedSpansIncremental(
        delta, corpus, "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      assert(viaBucketed.collect().toSeq === direct.collect().toSeq)

      // ONE h-partitioned exchange in the whole plan: the delta's. The
      // corpus side reads its 4 buckets in place (bucketed scan); a
      // second h-exchange would mean the persisted layout was ignored
      // scope to AQE's final plan — the trailing "Initial Plan" section
      // repeats every node and would double the count
      val full = viaBucketed.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head
      val hExchanges = """Exchange hashpartitioning\(h#""".r.findAllIn(plan).length
      assert(hExchanges === 1,
        s"expected exactly 1 h-exchange (delta side), got $hExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"corpus side must be a bucketed scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
