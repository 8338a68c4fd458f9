package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.operators.{BandIndex, Dedup}
import graft.store.Snapshot

/** The LIVE survivor pipeline — the full dedup state machine a
  * continuously-ingesting training corpus runs, composed per
  * micro-batch from the library's O(Δ) primitives:
  *
  *   1. near-dup pairs of the batch: WITHIN-batch (`minhashPairs`) ∪
  *      batch-vs-corpus against the persisted BUCKETED band index
  *      (`minhashPairsIncremental` over a [[BandIndex.write]] table —
  *      corpus side reads bucket-in-place, only the batch shuffles);
  *   2. cluster labels absorb the new pairs
  *      ([[Dedup.mergeClustersIncremental]] — delta-sized label graph);
  *   3. the keep-best survivor state folds the batch in
  *      ([[Dedup.keepBestStateIncremental]] — only the batch is scored,
  *      corpus text never re-read);
  *   4. the batch's band rows append into the index under the frozen
  *      build-time layout ([[BandIndex.append]]).
  *
  * Exactness, not approximation: a MinHash pair is emitted iff its
  * signatures collide in ≥1 band AND the signature estimate clears the
  * threshold — both signature-determined, independent of arrival
  * split — so every pair of the full-corpus run surfaces exactly when
  * its LATER member arrives, and the maintained labels + survivor
  * state equal the from-scratch batch run over everything ingested
  * (the spec's replay anchor).
  *
  * CRASH SAFETY — the fold touches three stores, ordered so any
  * failure point re-runs cleanly:
  *   - the index append goes FIRST: a replayed append duplicates band
  *     rows, which the incremental join's per-pair max collapses —
  *     duplicate rows cost bytes, never wrong pairs;
  *   - labels + state then publish in ONE [[graft.store.Snapshot]]
  *     commit (fresh version directories + a single pointer PUT), so a
  *     reader — including the NEXT fold and its redelivery guard —
  *     sees either the previous consistent pair or the new one, never
  *     torn state. A crash before the pointer write orphans the
  *     version directories (Snapshot.vacuum reclaims) and the batch
  *     simply re-folds against the old snapshot.
  * With `dropReingested` on (default), rows whose ids are already in
  * the committed snapshot are filtered before the fold — idempotence
  * under at-least-once delivery; an exactly-once source can turn it
  * off and skip that probe.
  *
  * foreachBatch deliberately (the StreamingAnn / cluster-maintenance
  * convention): each fold is a read-modify-write over persisted state,
  * and the micro-batch body IS the batch operators, so the postures
  * cannot drift. */
object StreamingSurvivorPipeline {

  /** All maintained state lives under ONE snapshot base (the atomic
    * commit spans labels + state) plus the bucketed index table. */
  case class StatePaths(
      snapshotBase: String,
      indexTable: String, indexPath: String, nBuckets: Int = 4)

  val labelsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType)))
  val stateSchema: StructType = StructType(Seq(
    StructField("cluster_id", LongType), StructField("doc_id", LongType),
    StructField("quality_score", DoubleType), StructField("cluster_size", LongType)))

  def readLabels(spark: SparkSession, p: StatePaths): DataFrame =
    Snapshot.read(spark, p.snapshotBase, "labels", labelsSchema)

  def readState(spark: SparkSession, p: StatePaths): DataFrame =
    Snapshot.read(spark, p.snapshotBase, "state", stateSchema)

  /** One fold of a document batch into the maintained survivor state.
    * Exposed for direct batch use; the streaming writer reuses it
    * verbatim. */
  def foldBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, p: StatePaths,
      dropReingested: Boolean = true): Unit = {
    val labels = readLabels(spark, p)
    val state = readState(spark, p)
    val raw = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
    val b0 =
      if (!dropReingested) raw
      else raw.join(
        labels.select(col("doc_id").as(idCol))
          .union(state.select(col("doc_id").as(idCol))).distinct(),
        Seq(idCol), "left_anti")
    val b = b0.localCheckpoint(false)
    if (b.isEmpty) return

    val hasIndex = spark.catalog.tableExists(p.indexTable)
    val within = Dedup.minhashPairs(b, idCol, textCol)
      .select(col("doc_a"), col("doc_b"))
    val cross =
      if (!hasIndex) within.limit(0)
      else Dedup.minhashPairsIncremental(b, spark.table(p.indexTable),
        idCol, textCol)
        .select(col("delta_id").as("doc_a"), col("corpus_id").as("doc_b"))
    val newPairs = within.unionByName(cross).localCheckpoint(false)

    // fold against the OLD snapshot (both readers above), then publish
    // index-first / snapshot-last per the crash-safety contract
    val state2 = Dedup.keepBestStateIncremental(
      state, labels, b, idCol, textCol, newPairs).localCheckpoint()
    val labels2 = Dedup.mergeClustersIncremental(labels, newPairs)
      .localCheckpoint()
    val banded = Dedup.minhashBanded(b, idCol, textCol)
    if (hasIndex) BandIndex.append(banded, p.indexTable, p.nBuckets)
    else BandIndex.write(BandIndex.build(banded), p.indexTable, p.nBuckets,
      path = Some(p.indexPath))
    Snapshot.commit(spark, p.snapshotBase,
      Map("labels" -> labels2, "state" -> state2))
    Snapshot.vacuum(spark, p.snapshotBase)
  }

  /** The streaming writer: each micro-batch of documents folds into
    * the maintained labels + survivor state + band index. Caller
    * starts it with its own checkpoint dir. */
  def maintain(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, p: StatePaths,
      dropReingested: Boolean = true): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      foldBatch(spark, batch, idCol, textCol, p, dropReingested)
    }
}
