package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.Dedup

/** Streaming SimHash near-duplicate detection — arrival-time parity
  * with the batch operator (`Dedup.simhashPairs`), the family
  * convention (MinHash, embeddings, spans, pHash all have twins): on a
  * bounded replay in id order the flagged set is exactly the batch
  * pair set's later elements, degenerate docs drop at the same guard,
  * and every notice names a strictly earlier arrival. Runs at the
  * corpus-scaled 4 × 16 default cut — the stream and the batch walk
  * share the packed band machinery by construction. */
class StreamingSimhashDedupSpec extends SparkSpecBase {

  import spark.implicits._

  // two planted near-dup groups (7/8 one-token edit, 9/10 identical),
  // distinct docs 1-3, an empty doc 11 (the degenerate guard's target)
  private val docs: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the riverbank today",
    2L -> "completely different content about distributed query engines and shuffles",
    3L -> "a third unrelated document discussing perceptual hashing of images",
    7L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4 + "lambda"),
    8L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4 + "mu"),
    9L -> "exactly the same sentence repeated across two distinct documents verbatim",
    10L -> "exactly the same sentence repeated across two distinct documents verbatim",
    11L -> "")

  test("streaming notices equal the batch simhashPairs later-elements on a bounded replay") {
    val batch = docs.toDF("doc_id", "text")
    val expected = Dedup.simhashPairs(batch, "doc_id", "text")
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.subsetOf(Set(8L, 10L)),
      s"fixture anchor drifted: $expected")

    val src = Files.createTempDirectory("graft-ssh-src").toString
    docs.map { case (id, t) => (id, t, f"2024-01-01T10:${id}%02d:00") }
      .toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val ckpt = Files.createTempDirectory("graft-ssh-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", StringType)))
    val q = StreamingDedup.simhashDupStream(spark,
      spark.readStream.schema(schema).parquet(src), "doc_id", "text",
      timeCol = "ts", horizonMinutes = 600)
      .writeStream.format("memory").queryName("ssh_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("ssh_out").collect()
    val flagged = notices.map(_.getAs[Long]("doc_id")).toSet
    assert(flagged === expected, s"flagged $flagged, batch anchor $expected")
    assert(notices.forall(r => r.getAs[Long]("matched_doc_id") < r.getAs[Long]("doc_id")))
  }

  test("out-of-horizon duplicates are forgotten; in-horizon re-copies flag against the unflagged copy") {
    // original at 10:00, distinct filler at 10:05, an identical copy at
    // 10:30 — past the 10-minute horizon, NO flag; a third copy at
    // 10:32 — in-horizon vs the 10:30 arrival, flags against it
    val rows = Seq(
      (1L, docs.toMap.apply(9L), "2024-01-01T10:00:00"),
      (2L, docs.toMap.apply(2L), "2024-01-01T10:05:00"),
      (6L, docs.toMap.apply(9L), "2024-01-01T10:30:00"),
      (7L, docs.toMap.apply(9L), "2024-01-01T10:32:00"))
    val src = Files.createTempDirectory("graft-ssh-h-src").toString
    rows.toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val ckpt = Files.createTempDirectory("graft-ssh-h-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", StringType)))
    val q = StreamingDedup.simhashDupStream(spark,
      spark.readStream.schema(schema).parquet(src), "doc_id", "text",
      timeCol = "ts", horizonMinutes = 10)
      .writeStream.format("memory").queryName("ssh_h_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("ssh_h_out")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_doc_id")))
    assert(notices.toSet === Set((7L, 6L)),
      s"expected only the in-horizon re-copy to flag, got ${notices.toSeq}")
  }

  test("bits other than 64 is refused at the entry, naming the parameter") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", StringType)))
    val src = Files.createTempDirectory("graft-ssh-bits-src").toString
    val e = intercept[IllegalArgumentException](StreamingDedup.simhashDupStream(spark,
      spark.readStream.schema(schema).parquet(src), "doc_id", "text",
      timeCol = "ts", bits = 32, bands = 4))
    assert(e.getMessage.contains("bits must be 64"), e.getMessage)
    assert(e.getMessage.contains("bits = 32"), e.getMessage)
  }
}
