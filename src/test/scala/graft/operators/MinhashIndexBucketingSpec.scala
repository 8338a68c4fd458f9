package graft.operators

import java.nio.file.Files

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucketed persisted MinHash/SimHash band indexes — the span
  * family's round-9 shuffle-elimination layout
  * (SpanIndexBucketingSpec) applied to the signature siblings: the
  * O(Δ) ingest join against a `BandIndex.write` table must
  * shuffle ONLY the delta side — the corpus band rows read
  * bucket-in-place — and return exactly what the direct
  * (recompute-the-corpus) incremental path returns. The
  * write → probe contract is BandIndexSpec's, per family. */
class MinhashIndexBucketingSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)
  private def delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
  private def corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
  private def mhBanded(df: DataFrame) = Dedup.minhashBanded(df, "doc_id", "text")
  private def shBanded(df: DataFrame) = Dedup.simhashBanded(df, "doc_id", "text")

  /** Assert the single-exchange bucketed-join shape: exactly one
    * bb-partitioned exchange (the delta's) and a bucketed corpus scan. */
  private def assertDeltaOnlyExchange(df: DataFrame): Unit = {
    val full = df.queryExecution.executedPlan.toString
    // scope to AQE's final plan — the trailing "Initial Plan" section
    // repeats every node and would double the count
    val plan = full.split("== Initial Plan ==").head
    val bbExchanges = """Exchange hashpartitioning\(bb#""".r.findAllIn(plan).length
    assert(bbExchanges === 1,
      s"expected exactly 1 bb-exchange (delta side), got $bbExchanges:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"corpus side must be a bucketed scan:\n$plan")
  }

  private def withNoBroadcast[A](body: => A): A = {
    // disable auto-broadcast: at fixture scale the delta would
    // broadcast (also shuffle-free, but proving nothing about the
    // layout) — production deltas are far above any broadcast threshold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed-index incremental minhash: delta-only exchange, identical results") {
    val table = "mh_idx_bucketed_spec"
    val path = Files.createTempDirectory("graft-mh-bidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    BandIndex.write(BandIndex.build(mhBanded(corpus)), table, nBuckets = 4, path = Some(path))
    try withNoBroadcast {
      val viaBucketed = Dedup.minhashPairsIncremental(
        delta, spark.table(table), "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      val direct = Dedup.minhashPairsIncremental(
        delta, BandIndex.build(mhBanded(corpus)), "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      val got = viaBucketed.collect().toSeq
      assert(got.nonEmpty && got === direct.collect().toSeq)
      assertDeltaOnlyExchange(viaBucketed)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("bucketed-index incremental simhash: delta-only exchange, identical results") {
    val table = "sh_idx_bucketed_spec"
    val path = Files.createTempDirectory("graft-sh-bidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    BandIndex.write(BandIndex.build(shBanded(corpus)), table, nBuckets = 4, path = Some(path))
    try withNoBroadcast {
      val viaBucketed = Dedup.simhashPairsIncremental(
        delta, spark.table(table), "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      val direct = Dedup.simhashPairsIncremental(
        delta, BandIndex.build(shBanded(corpus)), "doc_id", "text")
        .orderBy("delta_id", "corpus_id")
      val got = viaBucketed.collect().toSeq
      assert(got.nonEmpty && got === direct.collect().toSeq)
      assertDeltaOnlyExchange(viaBucketed)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
