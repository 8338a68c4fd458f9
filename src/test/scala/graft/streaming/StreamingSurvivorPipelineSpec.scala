package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.{BandIndex, Dedup}

/** The live survivor pipeline: replayed document batches must land on
  * EXACTLY the from-scratch batch survivor state over everything
  * ingested (pairs are signature-determined, so the arrival split is
  * invisible), and redelivered rows must be dropped by the id guard. */
class StreamingSurvivorPipelineSpec extends SparkSpecBase {

  import spark.implicits._

  /** 24-word docs over per-group vocabularies (the StreamingDedupSpec
    * recipe): every group plants a near-copy pair; stopword-prefixed
    * variants differentiate quality so keep-best is non-trivial. */
  private def corpus: Seq[(Long, String)] =
    (0 until 8).flatMap { g =>
      val words = (0 until 24).map(w => s"w${g}_$w")
      val base = (Seq("the", "a") ++ words).mkString(" ")
      val variant = (words.dropRight(1) :+ s"chg_$g").mkString(" ")
      Seq((g * 10L, base), (g * 10 + 1L, variant),
        (g * 10 + 2L, words.map("x" + _).mkString(" ")))
    }

  private def freshPaths(tag: String): StreamingSurvivorPipeline.StatePaths =
    StreamingSurvivorPipeline.StatePaths(
      snapshotBase = Files.createTempDirectory(s"ssp-$tag-snap").toString,
      indexTable = s"ssp_${tag}_idx",
      indexPath = Files.createTempDirectory(s"ssp-$tag-idx").toString)

  private def stateMap(p: StreamingSurvivorPipeline.StatePaths) =
    StreamingSurvivorPipeline.readState(spark, p)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap

  private def wantMap() = {
    val all = corpus.toDF("doc_id", "text")
    Dedup.keepBestState(all, "doc_id", "text",
      Dedup.minhashPairs(all, "doc_id", "text").select("doc_a", "doc_b"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
  }

  test("chained batch folds equal the from-scratch survivor state; redelivery drops") {
    val p = freshPaths("b")
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
    val batches = corpus.grouped(9).toSeq // 3 uneven micro-batches
    batches.foreach { rows =>
      StreamingSurvivorPipeline.foldBatch(
        spark, rows.toDF("doc_id", "text"), "doc_id", "text", p)
    }
    val got = stateMap(p)
    val want = wantMap()
    assert(got === want)
    assert(want.exists(_._2._3 > 1), "fixture must form multi-member clusters")
    // redeliver the LAST batch verbatim: the id guard must drop every
    // row and leave the state bit-identical (the snapshot version may
    // not even advance — the fold returns before any write)
    StreamingSurvivorPipeline.foldBatch(
      spark, batches.last.toDF("doc_id", "text"), "doc_id", "text", p)
    assert(stateMap(p) === got)
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
  }

  test("streaming: the maintained state matches the batch run over a replayed json source") {
    val p = freshPaths("s")
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
    val src = Files.createTempDirectory("ssp-src").toString
    corpus.toDF("doc_id", "text").coalesce(2).write.mode("append").json(src)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = StreamingSurvivorPipeline.maintain(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
      "doc_id", "text", p)
      .option("checkpointLocation", Files.createTempDirectory("ssp-ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(stateMap(p) === wantMap())
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
  }

  test("a torn fold (index appended, snapshot not committed) re-runs cleanly") {
    // simulate the crash point the design orders for: batch B's band
    // rows reached the index but the snapshot pointer never moved —
    // the refold must (a) not drop B at the guard (B is absent from
    // the committed snapshot), (b) land on the exact full-corpus
    // state, with the duplicate index rows collapsed by the pair join
    val p = freshPaths("t")
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
    val batches = corpus.grouped(12).toSeq // 2 batches
    StreamingSurvivorPipeline.foldBatch(
      spark, batches.head.toDF("doc_id", "text"), "doc_id", "text", p)
    // the torn half-fold: ONLY the index append of batch 2 happens
    BandIndex.append(
      Dedup.minhashBanded(batches(1).toDF("doc_id", "text"), "doc_id", "text"),
      p.indexTable, p.nBuckets)
    // redelivery of batch 2 = the recovery refold
    StreamingSurvivorPipeline.foldBatch(
      spark, batches(1).toDF("doc_id", "text"), "doc_id", "text", p)
    assert(stateMap(p) === wantMap())
    spark.sql(s"DROP TABLE IF EXISTS ${p.indexTable}")
  }
}
