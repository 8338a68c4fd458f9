package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Dedup

/** Streaming twin of the decontamination pass — the live-ingest gate in
  * front of a training-corpus sink: every micro-batch of arriving
  * training documents is searched against the FROZEN persisted eval
  * posting index ([[Dedup.evalPostingIndex]]) and split into survivors
  * (append to the corpus sink) and contamination notices (the audit
  * trail a compliance pass wants — which train doc contained which eval
  * doc, at what containment).
  *
  * Shape: `foreachBatch` with the BATCH operator as the body
  * ([[Dedup.contaminationPairsFromIndex]]) — one shared definition, so
  * streamed verdicts cannot drift from the batch pass
  * (StreamingDecontaminationSpec proves a replayed corpus's survivor
  * set equals `tp_decontaminated`'s batch anti-join exactly). Native
  * stream-static would also work here (the index is static and the
  * search is one equi-join), but foreachBatch keeps the broadcast
  * decision per-trigger and lets the caller sink BOTH halves of the
  * split from one search.
  *
  * State: none. Eval suites freeze per benchmark release; each arrival
  * is judged independently against the frozen index, so a replayed
  * micro-batch re-derives identical verdicts (at-least-once safe by
  * purity — duplicate survivor rows collapse at the sink's id key like
  * every append sink here). The train side is the O(Δ) probe BY
  * CONSTRUCTION — the eval corpus is never re-read after build.
  */
object StreamingDecontamination {

  /** Gate a streaming frame of (idCol, textCol) training documents.
    * `sink` receives each micro-batch's (survivors, notices, batchId):
    * survivors = the batch minus contaminated ids (all input columns),
    * notices = (train_id, eval_id, containment). */
  def gate(
      docs: DataFrame, idCol: String, textCol: String,
      evalIndexPath: String,
      sink: (DataFrame, DataFrame, Long) => Unit,
      n: Int = Dedup.DefaultShingleN, threshold: Double = 0.5,
      fast: Boolean = false, broadcastEval: Boolean = true): DataStreamWriter[Row] = {
    require(docs.isStreaming, "gate expects a streaming document frame")
    val spark = docs.sparkSession
    // the frozen index loads once on the driver side of the plan; each
    // micro-batch broadcasts the (guarded, pruned) posting rows —
    // broadcastEval = false is the giant-eval-union off-switch, passed
    // straight through to the batch operator
    val evalIndex = graft.store.Storage.readParquet(spark, evalIndexPath)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs = Dedup.contaminationPairsFromIndex(
          batch, evalIndex, idCol, textCol, n, threshold, fast, broadcastEval)
          .localCheckpoint() // both halves of the split read it
        // alias the pairs side: a caller whose idCol is literally named
        // "train_id" would otherwise make batch(idCol) === col("train_id")
        // ambiguous
        val gatedIds = pairs.select(col("train_id").as("__contaminated_id"))
          .distinct()
        val survivors = batch.join(
          gatedIds, batch(idCol) === gatedIds("__contaminated_id"), "left_anti")
        sink(survivors, pairs, batchId)
      }
  }
}
