package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** End-to-end corpus curation — the pipeline a training corpus actually
  * ships through, composed from this library's already-gated operators:
  *
  *   1. quality floor        (TextAnalysis.qualityScore)
  *   2. language filter      (TextAnalysis.languageId)
  *   3. exact dedup          (content fingerprint, keep min id)
  *   4. near-dup dedup       (inverted-index Jaccard pairs →
  *                            connected-component clusters, keep the
  *                            cluster representative)
  *   5. split assignment     (Sampling.splitByKey — key-stable)
  *
  * Scale shape: stages 1-2 FUSE into a single projection over one scan
  * (the metric expressions are column-level — no metric frames joined
  * back on the id); stage 3 is one hash aggregate on the fingerprint;
  * stage 4 is the guarded posting-list join + O(diameter) label
  * propagation over the (tiny) duplicate-pair graph; stage 5 is a
  * stateless projection. Nothing is quadratic in documents, and the
  * corpus is scanned once before dedup.
  */
object Curation {

  case class Config(
      minQuality: Double = 0.8,
      languages: Seq[String] = Seq("en"),
      nGram: Int = Dedup.DefaultShingleN,
      jaccardThreshold: Double = Dedup.DefaultMinhashThreshold,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      // substring-dedup stage (4b): trim shared spans among the
      // surviving documents (Dedup.trimSharedSpans — each span's min-id
      // doc keeps its copy, the other side's occurrence is cut). Runs
      // AFTER document-level dedup — whole-document duplicates are
      // dropped, never trimmed to shells — and BEFORE the id-keyed
      // split (unaffected by text surgery). When on, the output gains
      // the rebuilt text and its removed-token count.
      trimSpans: Boolean = false,
      spanK: Int = Dedup.DefaultSpanK,
      minSpanTokens: Int = Dedup.DefaultMinSpanTokens,
      // LM-perplexity stage (4c): train an add-α bigram LM on the
      // deduped survivors (TextAnalysis.bigramPerplexity) and drop the
      // most surprising tail — documents above the keep-percent
      // percentile of perplexity. Runs AFTER dedup (duplicate-heavy
      // text must not skew the LM counts it is judged by) and BEFORE
      // split/trim; docs with <2 tokens have no bigram evidence and are
      // kept. When on, the output gains the (nullable) perplexity
      // column.
      perplexityFilter: Boolean = false,
      perplexityKeepPercent: Int = 90,
      lmAlpha: Double = 1.0,
      // trained-classifier stage (4d), the third leg of the quality
      // stack (heuristic floor = stage 1, LM surprise = 4c, classifier
      // = 4d): QualityClassifier trains on the surviving corpus's own
      // seed extremes and documents scoring below clfMinProb are
      // dropped. Runs after the LM stage; the output gains clf_prob.
      classifierFilter: Boolean = false,
      clfMinProb: Double = 0.5)

  /** Stages 1–2 fused into one stateless projection + filter over one
    * scan: every input column survives, plus `quality_score` and
    * `predicted_lang`. Shared verbatim by the batch pipeline below and
    * the streaming twin (streaming.StreamingCuration) so the two
    * postures cannot drift. Token arrays are materialized in their own
    * projections first (interpreted HOFs re-evaluate inlined
    * expressions per lambda reference). */
  def qualityLangFilter(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    // reserved output/scratch names: a clash would surface later as an
    // opaque AMBIGUOUS_REFERENCE at analysis time (e.g. re-curating a
    // frame that already carries quality_score) — fail fast instead
    val reserved = Seq("quality_score", "predicted_lang", "__t", "__td")
    val clash = docs.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"qualityLangFilter input must not carry reserved column(s) ${clash.mkString(", ")}")
    val passthrough = docs.columns.map(col).toSeq
    docs
      .select(passthrough :+ TextFunctions.tokens(col(textCol)).as("__t"): _*)
      .select(passthrough ++ Seq(col("__t"), array_distinct(col("__t")).as("__td")): _*)
      .select(passthrough ++ Seq(
        TextAnalysis.qualityScoreCol(col("__t")).as("quality_score"),
        TextAnalysis.predictedLangCol(col("__td")).as("predicted_lang")): _*)
      .filter(col("quality_score") >= cfg.minQuality &&
        col("predicted_lang").isInCollection(cfg.languages))
  }

  /** Returns the curated corpus: (id, predicted_lang, quality_score,
    * split) — one row per surviving document; with `cfg.trimSpans` on,
    * also (textCol, removed_tokens) carrying the span-trimmed text. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    // ONE corpus scan for the whole pipeline: `base` is consumed by
    // three separate subtrees (the fingerprint aggregate, the survivor
    // semi-join probe, and the near-dup shingle pass) — Spark reuses
    // exchanges, not projection subtrees, so without materialization
    // each consumer re-runs the file scan + the stage-1/2 tokenize
    // lineage (CurationScanAuditSpec counts the corpus-file opens
    // through a counting FileSystem: 3 scans unmaterialized → 1 here).
    // Lazy checkpoint, the pipeline convention: constructing the frame
    // stays plan-only; later stages (LM, classifier, trim) read their
    // own checkpointed survivor sets, so the corpus file is never
    // re-opened after this scan no matter which stages are on.
    val base = qualityLangFilter(
      docs.select(col(idCol), col(textCol)), idCol, textCol, cfg)
      .localCheckpoint(eager = false)
    // exact dedup: one row per content fingerprint (canonical = min id)
    val canon = base
      .select(col(idCol).as("__id"), md5(lower(trim(col(textCol)))).as("__fp"))
      .groupBy("__fp").agg(min("__id").as(idCol))
      .select(idCol)
    val exact = base.join(canon, Seq(idCol), "left_semi")
    // near-dup clusters among survivors; drop non-representatives
    val pairs = Dedup.ngramJaccardPairs(
      exact, idCol, textCol, cfg.nGram, cfg.jaccardThreshold)
    val dropped = Dedup.duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    finish(exact.join(dropped, Seq(idCol), "left_anti"), idCol, textCol, cfg)
  }

  /** The curation tail after document-level dedup — stages 4c (LM
    * perplexity), 4d (trained classifier), 5 (split) and 4b (span
    * trim) over the deduped survivors, with the output projection.
    * Shared by [[curate]] and the streaming twin's finalization
    * (StreamingCuration.curatedFromSinks), so the two postures pin the
    * same frames and emit the same columns. */
  private[graft] def finish(survivors: DataFrame, idCol: String,
      textCol: String, cfg: Config): DataFrame = {
    // with any later stage on, the survivors fan out into several
    // consumers (split assignment, the trim's posting self-join and
    // text rebuild, the LM and classifier training and join-back);
    // Spark reuses exchanges, not projection subtrees, so the whole
    // pipeline above would re-run per consumer — materialize the
    // survivor set once. LAZY checkpoint (the bm25 convention):
    // constructing the curated frame stays plan-only; the pipeline runs
    // at the FIRST action and the pinned survivors are shared by all
    // consumers
    val multiConsumer = cfg.trimSpans || cfg.perplexityFilter || cfg.classifierFilter
    val unique = if (multiConsumer) survivors.localCheckpoint(eager = false) else survivors
    // stage 4c — LM-perplexity cut over the deduped survivors;
    // materialize the post-cut set when a later stage re-consumes it
    val kept1raw = withPerplexityFilter(unique, idCol, textCol, cfg)
    val kept1 = if (cfg.perplexityFilter && (cfg.classifierFilter || cfg.trimSpans))
      kept1raw.localCheckpoint(eager = false) else kept1raw
    // stage 4d — trained-classifier cut (the model trains on the
    // surviving corpus itself, so it runs over the post-LM set)
    val kept0 = withClassifierFilter(kept1, idCol, textCol, cfg)
    val kept = if (cfg.classifierFilter && cfg.trimSpans)
      kept0.localCheckpoint(eager = false) else kept0
    val outCols =
      Seq(col(idCol), col("predicted_lang"), col("quality_score"), col("split")) ++
        (if (cfg.perplexityFilter) Seq(col("perplexity")) else Nil) ++
        (if (cfg.classifierFilter) Seq(col("clf_prob")) else Nil)
    val out = Sampling.splitByKey(kept, idCol, cfg.splits).select(outCols: _*)
    withSpanTrim(out, kept, idCol, textCol, cfg)
  }

  /** Stage 4d — the trained-classifier quality cut
    * ([[QualityClassifier]]): weights train on the surviving corpus's
    * own heuristic-extreme seed labels (the production bootstrap before
    * hand labels exist) and documents with clf_prob below
    * `cfg.clfMinProb` are dropped; survivors gain the clf_prob column.
    * Shared verbatim by the batch pipeline and the streaming twin's
    * finalization — the `withPerplexityFilter` convention. NOTE:
    * training is inherently eager (bounded driver collects per round),
    * so constructing a classifier-on curation frame runs the training
    * jobs up front; scoring itself stays plan-only. */
  private[graft] def withClassifierFilter(survivors: DataFrame,
      idCol: String, textCol: String, cfg: Config): DataFrame =
    if (!cfg.classifierFilter) survivors
    else {
      // survivors already carry quality_score (stage 1 computed it with
      // the identical expression) — reuse it for the seed labels, and
      // build the feature rows ONCE for training and scoring (the
      // classify fusion: one tokenize+hash pass, zero shuffles)
      val slim = survivors.select(col(idCol), col(textCol), col("quality_score"))
      val rows = QualityClassifier.featureRows(slim, idCol, textCol,
        QualityClassifier.DefaultNumFeatures,
        QualityClassifier.DefaultLowQ, QualityClassifier.DefaultHighQ,
        seedScoreCol = Some("quality_score"), labeledOnly = false)
        .localCheckpoint(eager = false)
      val w = QualityClassifier.trainWeightsFromRows(
        rows.filter(col("y").isNotNull),
        QualityClassifier.DefaultNumFeatures,
        QualityClassifier.DefaultIters, QualityClassifier.DefaultLearningRate)
      val scored = QualityClassifier.scoreFromRows(rows, idCol, w)
        .select(col(idCol), col("clf_prob"))
      survivors.join(scored, Seq(idCol), "left")
        .filter(col("clf_prob").isNull || col("clf_prob") >= cfg.clfMinProb)
    }

  /** Stage 4c — the model-based quality cut: an add-α bigram LM trains
    * on the surviving corpus and documents above the
    * `perplexityKeepPercent` percentile of perplexity are dropped.
    * Shared verbatim by the batch pipeline and the streaming twin's
    * finalization (StreamingCuration.curatedFromSinks) so the two
    * postures cannot drift — the `withSpanTrim` convention.
    *
    * The threshold is the EXACT discrete percentile (the value at
    * ascending position ⌈n·pct/100⌉, integer arithmetic — no float
    * fraction), computed over the count-per-DISTINCT-perplexity table:
    * the single-partition cumulative window runs over distinct 6-dp
    * values, orders of magnitude fewer rows than documents (and one
    * narrow sort even in the worst case — the standard exact-percentile
    * cost, deliberately taken over a sketch so the stage stays
    * DuckDB-gateable; composes with the q23 trade-off note). Ties at
    * the threshold are all kept, so the cut is key-stable. Documents
    * without bigram evidence (<2 tokens) carry NULL perplexity and are
    * kept — no evidence is not low quality. */
  private[graft] def withPerplexityFilter(survivors: DataFrame,
      idCol: String, textCol: String, cfg: Config): DataFrame =
    if (!cfg.perplexityFilter) survivors
    else {
      require(cfg.perplexityKeepPercent >= 1 && cfg.perplexityKeepPercent <= 100,
        "perplexityKeepPercent must be in [1, 100]")
      // the (id, perplexity) frame is consumed three times (threshold
      // histogram, total, join-back) and its lineage is the full
      // LM train+score pipeline — materialize it once (lazy, tiny:
      // two narrow columns per surviving doc)
      val perp = TextAnalysis.bigramPerplexity(
        survivors.select(col(idCol), col(textCol)), idCol, textCol, cfg.lmAlpha)
        .select(col(idCol), col("perplexity"))
        .localCheckpoint(eager = false)
      val byVal = perp.groupBy("perplexity").agg(count(lit(1)).as("__c"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy("perplexity")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // total from the distinct-value histogram — never a second global
      // pass over the scoring pipeline
      val tot = byVal.agg(sum("__c").as("__ntot"))
      val thr = byVal.withColumn("__cum", sum("__c").over(win))
        .crossJoin(broadcast(tot))
        .filter(col("__cum") >=
          expr(s"(__ntot * ${cfg.perplexityKeepPercent} + 99) div 100"))
        .agg(min("perplexity").as("__perp_thr"))
      survivors.join(perp, Seq(idCol), "left")
        .crossJoin(broadcast(thr))
        .filter(col("perplexity").isNull || col("perplexity") <= col("__perp_thr"))
        .drop("__perp_thr")
    }

  /** Stage 4b — substring dedup over the surviving corpus: shared spans
    * ≥ `cfg.minSpanTokens` are cut from the max-id side
    * (Dedup.trimSharedSpans), and the curated rows gain the rebuilt
    * text + removed-token count. No-op (and no extra columns) when
    * `cfg.trimSpans` is off. Shared by the batch pipeline and the
    * streaming twin's finalization so the two postures cannot drift. */
  private[graft] def withSpanTrim(out: DataFrame, survivors: DataFrame,
      idCol: String, textCol: String, cfg: Config): DataFrame =
    if (!cfg.trimSpans) out
    else out
      .join(
        Dedup.trimSharedSpans(survivors, idCol, textCol,
            cfg.spanK, cfg.minSpanTokens)
          .select(col("doc_id").as(idCol), col("trimmed").as(textCol),
            col("removed_tokens")),
        Seq(idCol))
      // preserve whatever the upstream stages put on `out` (e.g. the
      // perplexity column when stage 4c is on), then the rebuilt text
      .select(out.columns.map(col).toSeq ++
        Seq(col(textCol), col("removed_tokens")): _*)
}
