package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.Dedup
import graft.sources.Tables

/** Streaming decontamination gate over the frozen persisted eval
  * posting index: the replayed survivor set must equal the batch
  * anti-join exactly, micro-batch boundaries invisible — verdicts are
  * pure functions of (arrival, frozen index). */
class StreamingDecontaminationSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)
  // the gate fixture's split: %20 == 0 is the eval suite
  private def train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
  private def evalC = docs.filter(pmod(col("doc_id"), lit(20)) === 0)

  test("replayed gate equals the batch decontamination split, across micro-batches") {
    val idxPath = Files.createTempDirectory("graft-sdecon-idx").toString
    Dedup.evalPostingIndex(evalC, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)

    // batch truth: the pair set and the anti-joined survivor ids
    val truthPairs = Dedup.contaminationPairs(train, evalC, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truthPairs.nonEmpty, "fixture must contain contamination")
    val contaminatedIds = truthPairs.map(_._1)
    val truthSurvivors = train.select("doc_id")
      .collect().map(_.getLong(0)).toSet -- contaminatedIds

    // replay the train corpus as a 2-file stream; the split is chosen
    // so each micro-batch holds at least one contaminated doc when the
    // fixture allows (verdicts must be per-arrival, not corpus-global)
    val src = Files.createTempDirectory("graft-sdecon-src").toString
    train.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("doc_id", "text").coalesce(1)
      .write.mode("append").json(s"$src/f0")
    train.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .select("doc_id", "text").coalesce(1)
      .write.mode("append").json(s"$src/f1")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(s"$src/f*")

    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val notices = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val sink: (DataFrame, DataFrame, Long) => Unit = (surv, ntc, id) => {
      survivors.synchronized {
        survivors ++= surv.select("doc_id").collect().map(r => (r.getLong(0), id))
        notices ++= ntc.collect().map(r => (r.getLong(0), r.getLong(1), id))
      }
    }
    val ckpt = Files.createTempDirectory("graft-sdecon-ckpt").toString
    AvailableNow.drain(StreamingDecontamination.gate(
      stream, "doc_id", "text", idxPath, sink), ckpt)

    // survivor set equals the batch anti-join exactly, each id once
    assert(survivors.map(_._1).toSet === truthSurvivors)
    assert(survivors.size === truthSurvivors.size, "no duplicate emission")
    // notices equal the batch pair set, each judged in its arrival batch
    assert(notices.map(t => (t._1, t._2)).toSet === truthPairs)
    notices.foreach { case (trainId, _, batchId) =>
      assert((trainId % 2 == 0) == (batchId == 0L),
        s"train $trainId judged outside its arrival micro-batch")
    }
    // every verdict is arrival-local: each micro-batch's survivors are
    // exactly its own arrivals minus its own notices
    survivors.foreach { case (id, batchId) =>
      assert((id % 2 == 0) == (batchId == 0L))
    }
  }
}
