package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.ProductQuantization
import graft.sources.Tables

/** Streaming vector-search serving over the frozen persisted IVF-PQ
  * index: every streamed answer must equal the single-query batch
  * search bit-for-bit, micro-batch boundaries invisible. */
class StreamingAnnSpec extends SparkSpecBase {

  private val dim = 64
  private def emb = Tables.embeddings(spark, sfDir)
  // vec_id 0..4 serve as queries, the rest is the indexed corpus
  private def corpus = emb.filter(col("vec_id") >= 5)
  private def queriesDf = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("streamed serving equals the single-query batch search, per query, across micro-batches") {
    val path = Files.createTempDirectory("graft-sann-idx").toString
    val model = ProductQuantization.buildIvfPqIndex(
      corpus, "vec_id", "embedding", path,
      dim = dim, nCells = 16, coarseIters = 2, m = 8, k = 16, iters = 1)

    // expected: the SINGLE-query persisted-index search, one query at a
    // time — the strongest form of the parity claim
    val expected = (0L until 5L).map { qid =>
      val one = queriesDf.filter(col("qid") === qid)
        .select(col("qvec"))
      qid -> ProductQuantization.ivfPqTopKFromIndex(
        path, corpus, "vec_id", "embedding", one,
        nProbe = 4, rerank = 100, topK = 10, model = Some(model))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    assert(expected.values.forall(_.size == 10))

    // replay the queries as a 2-file stream → 2 micro-batches
    val src = Files.createTempDirectory("graft-sann-src").toString
    queriesDf.filter(col("qid") < 3).coalesce(1)
      .write.mode("append").json(s"$src/f0")
    queriesDf.filter(col("qid") >= 3).coalesce(1)
      .write.mode("append").json(s"$src/f1")
    // the fixture's embeddings are FLOATS: reading the replay back as
    // float keeps the JSON text round-trip exact, and the operator's
    // asDoubles widening then matches the batch path bit-for-bit
    // (reading as double would re-parse float-precision text into
    // different doubles and wobble the 9th decimal of every cosine)
    val qSchema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(FloatType))))
    val stream = spark.readStream.schema(qSchema)
      .option("maxFilesPerTrigger", 1).json(s"$src/f*")

    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Int, Long)]
    val sink: (DataFrame, Long) => Unit = (batch, id) =>
      collected.synchronized {
        collected ++= batch.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3), id))
      }
    val ckpt = Files.createTempDirectory("graft-sann-ckpt").toString
    AvailableNow.drain(StreamingAnn.serve(
      stream, "qid", "qvec", path, corpus, "vec_id", "embedding",
      sink, nProbe = 4, rerank = 100, topK = 10), ckpt)

    // every query answered exactly once, in its own micro-batch
    assert(collected.map(_._1).distinct.sorted === Seq(0L, 1L, 2L, 3L, 4L))
    assert(collected.filter(_._1 < 3).forall(_._5 == 0))
    assert(collected.filter(_._1 >= 3).forall(_._5 == 1))
    // ... and identically to the batch single-query search, rank order
    // included
    (0L until 5L).foreach { qid =>
      val got = collected.filter(_._1 == qid).sortBy(_._4)
        .map(t => (t._2, t._3)).toSeq
      assert(got === expected(qid), s"qid $qid")
    }
  }

  test("LSH serving twin: streamed answers equal the single-query bucket-index search") {
    val nBits = 4
    val path = Files.createTempDirectory("graft-sann-lsh").toString
    graft.operators.SimilaritySearch.buildLshBucketIndex(
      corpus, "vec_id", "embedding", path, dim = dim, nBits = nBits)
    val expected = (0L until 5L).map { qid =>
      val one = queriesDf.filter(col("qid") === qid).select(col("qvec"))
      qid -> graft.operators.SimilaritySearch.lshTopKFromIndex(
        spark, path, one, dim = dim, nBits = nBits, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap

    val src = Files.createTempDirectory("graft-sann-lsh-src").toString
    queriesDf.coalesce(1).write.mode("append").json(s"$src/f0")
    val qSchema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(FloatType))))
    val stream = spark.readStream.schema(qSchema).json(s"$src/f*")
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Int)]
    AvailableNow.drain(StreamingAnn.serveLsh(
      stream, "qid", "qvec", path, dim, nBits,
      (batch, _) => collected.synchronized {
        collected ++= batch.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      }), Files.createTempDirectory("graft-sann-lsh-ck").toString)
    (0L until 5L).foreach { qid =>
      val got = collected.filter(_._1 == qid).sortBy(_._4)
        .map(t => (t._2, t._3)).toSeq
      assert(got === expected(qid), s"qid $qid")
    }
  }
}
