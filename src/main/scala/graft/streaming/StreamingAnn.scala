package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{IvfPqModel, ProductQuantization}

/** Streaming twin of `ProductQuantization.ivfPqTopKBatchFromIndex` —
  * vector-search SERVING: a stream of query vectors is answered
  * micro-batch by micro-batch against the FROZEN persisted IVF-PQ
  * index, completing the index lifecycle (build → batch search →
  * THIS).
  *
  * Shape: `foreachBatch`, not a native streaming plan — deliberately.
  * IVF's whole point is that each query batch selects its probed cells
  * FIRST (bounded driver routing, exactly the batch API's contract) and
  * then reads ONLY those partitions; a native stream-static join cannot
  * re-plan the partition pruning per micro-batch, so it would scan the
  * full index every trigger — the cost model the index exists to avoid.
  * Inside each micro-batch the body IS the batch operator — one shared
  * definition, so streaming answers cannot drift from batch answers
  * (StreamingAnnSpec proves per-query row equality against
  * `ivfPqTopKFromIndex` across a replayed stream).
  *
  * State: none. The index is static, the model is loaded once on the
  * driver, and every micro-batch is answered independently — a late or
  * replayed query is re-answered identically (the operator is pure),
  * which is the right semantics for serving: no watermark, no dedup
  * state, results in append mode via the caller's sink.
  */
object StreamingAnn {

  /** Answer a streaming frame of (qidCol, qvecCol) queries. `sink`
    * receives each micro-batch's results — (qid, vec_id, cos, rank),
    * the batch operator's schema — plus the batch id, and is
    * responsible for delivery (an idempotent upsert keyed on (batch,
    * qid) in production; a collecting sink in tests). The model loads
    * ONCE up front — per-trigger work is routing + the pruned scan. */
  def serve(
      queries: DataFrame, qidCol: String, qvecCol: String,
      indexPath: String, corpus: DataFrame, idCol: String, vecCol: String,
      sink: (DataFrame, Long) => Unit,
      nProbe: Int = 4, rerank: Int = 100, topK: Int = 10): DataStreamWriter[Row] = {
    require(queries.isStreaming, "serve expects a streaming query frame")
    val spark = queries.sparkSession
    val mdl = IvfPqModel.load(indexPath, spark)
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val answered = ProductQuantization.ivfPqTopKBatchFromIndex(
          indexPath, corpus, idCol, vecCol,
          batch, qidCol, qvecCol,
          nProbe = nProbe, rerank = rerank, topK = topK, model = Some(mdl))
        sink(answered, batchId)
      }
  }

  /** The LSH-index sibling of [[serve]] — same serving contract over
    * `SimilaritySearch.lshTopKBatchFromIndex` (multiprobe routing per
    * micro-batch, probed-buckets-only PartitionFilter, per-query
    * equality with the single-query search proven in LshIndexSpec).
    * Stateless for the same reason: the index is frozen, answers are
    * pure. */
  def serveLsh(
      queries: DataFrame, qidCol: String, qvecCol: String,
      indexPath: String, dim: Int, nBits: Int,
      sink: (DataFrame, Long) => Unit,
      k: Int = 10, probeBits: Int = 1): DataStreamWriter[Row] = {
    require(queries.isStreaming, "serveLsh expects a streaming query frame")
    val spark = queries.sparkSession
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val answered = graft.operators.SimilaritySearch.lshTopKBatchFromIndex(
          spark, indexPath, batch, qidCol, qvecCol,
          dim = dim, nBits = nBits, k = k, probeBits = probeBits)
        sink(answered, batchId)
      }
  }
}
