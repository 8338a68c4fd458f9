package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Streaming twin of `Curation.curate` — the curation decision made at
  * ARRIVAL time for continuously ingested documents, instead of in a
  * nightly batch sweep.
  *
  * Composition (the same stages, re-expressed for streams):
  *
  *   1–2. quality floor + language filter — `Curation.qualityLangFilter`
  *        verbatim (a stateless projection, legal on any streaming
  *        DataFrame), so the two postures cannot drift;
  *   3–4. dedup — `StreamingDedup.minhashDupStream` over the QUALIFIED
  *        stream (dedup state is never spent on documents the quality
  *        gate already rejected, matching the batch stage order),
  *        running on lower(trim(text)) with short-doc fingerprinting so
  *        the batch exact-dedup stage is subsumed in full: verbatim
  *        copies and case/whitespace variants share a signature (est
  *        1.0), and sub-shingle documents carry a fingerprint band;
  *   5.   split assignment + the left_anti drop — batch-side over the
  *        two sinks (`curatedFromSinks`): candidates minus noticed ids,
  *        then the key-stable `Sampling.splitByKey`. The split is a
  *        pure function of the id, so assigning it at finalization time
  *        equals assigning it at arrival time.
  *
  * Semantics vs the batch pipeline — two deliberate, documented deltas,
  * both inherent to deciding at arrival time:
  *   - near-dup scoring uses the SIGNATURE estimate where batch re-ranks
  *     by exact n-gram Jaccard: equal on corpora whose pairs sit clearly
  *     on one side of the threshold (the near-duplicate regime both are
  *     tuned for), divergent only in the S-curve's transition band;
  *   - dropping is arrival-GREEDY (flag against any earlier registered
  *     arrival) where batch keeps the min-id representative of each
  *     connected component: identical whenever every component member
  *     pairs with the component minimum directly (duplicate groups —
  *     the dominant real shape; StreamingDedup registers flagged docs
  *     too, so chains a→b→c still drop both b and c), divergent on
  *     components connected ONLY through a larger-id middle element.
  * The StreamingCurationSpec fixture proves set-equality with
  * `Curation.curate` on a replayed corpus within the horizon.
  */
object StreamingCuration {

  /** Stage 1–2 survivors of a STREAMING documents frame (`idCol`,
    * `textCol`, `timeCol` preserved), annotated with quality_score and
    * predicted_lang — the candidate stream a caller sinks for
    * finalization. */
  def qualifiedStream(docs: DataFrame, idCol: String, textCol: String,
      timeCol: String = "timestamp",
      cfg: Curation.Config = Curation.Config()): DataFrame =
    Curation.qualityLangFilter(
      docs.select(col(idCol), col(textCol), col(timeCol)), idCol, textCol, cfg)

  /** Drop notices among the stage 1–2 survivors: one row per flagged
    * (doc, band) naming an earlier in-horizon arrival it duplicates
    * (see HorizonBuckets for the state/watermark contract).
    *
    * Dedup runs over `lower(trim(text))` with short-doc fingerprinting
    * ON, so the EXACT-duplicate semantics match the batch pipeline's
    * fingerprint stage in full: verbatim copies, case/whitespace
    * variants, and sub-shingle (< nGram tokens) copies are all flagged.
    * Near-dup estimates are consequently over normalized text where the
    * batch stage shingles raw text — identical on case-consistent
    * corpora. */
  def dropNotices(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, timeCol: String = "timestamp",
      horizonMinutes: Int = 10,
      cfg: Curation.Config = Curation.Config(),
      fast: Boolean = false): DataFrame =
    StreamingDedup.minhashDupStream(spark,
      qualifiedStream(docs, idCol, textCol, timeCol, cfg)
        .withColumn("__dedup_text", lower(trim(col(textCol)))),
      idCol, "__dedup_text", timeCol, horizonMinutes,
      n = cfg.nGram, threshold = cfg.jaccardThreshold, fast = fast,
      fingerprintShortDocs = true)

  /** The left_anti finalization over the two sinks: curated =
    * candidates minus noticed doc ids, with the key-stable split —
    * exactly the batch output shape (id, predicted_lang, quality_score,
    * split; + span-trimmed textCol and removed_tokens when
    * `cfg.trimSpans` is on, via the SAME `Curation.finish` tail the
    * batch pipeline runs — finalization is batch-side, so the LM,
    * classifier and substring-dedup stages compose with zero semantic
    * delta).
    * `notices` may carry several rows per dropped doc (one per
    * colliding band); only id-presence matters. */
  def curatedFromSinks(candidates: DataFrame, notices: DataFrame,
      idCol: String,
      cfg: Curation.Config = Curation.Config(),
      textCol: String = "text"): DataFrame = {
    val kept = candidates.join(
      notices.select(col("doc_id").cast(candidates.schema(idCol).dataType).as(idCol)),
      Seq(idCol), "left_anti")
    Curation.finish(kept, idCol, textCol, cfg)
  }
}
