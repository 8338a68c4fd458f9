package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions.roundFixed

/** Model-based document quality classifier — the third leg of the
  * standard LLM-curation quality stack (heuristic signals:
  * [[TextAnalysis.qualityScore]]; language-model surprise:
  * [[TextAnalysis.bigramPerplexity]]; and THIS: a trained linear
  * classifier scoring documents against a labeled seed set — the
  * industry-default filter for web-scale corpora).
  *
  * Design, all public technique: logistic regression over hashed
  * bag-of-words features plus three engineered integer features,
  * trained by full-batch gradient descent. The labeled feature table
  * materializes ONCE (one row per labeled doc carrying its bounded
  * sparse feature vector); each round is then a single-stage typed
  * mapPartitions that folds every partition into one dense
  * `numFeatures + 3`-long gradient array — the MLlib treeAggregate
  * shape: weights ride in the task closure, the driver sums
  * ≤ numPartitions bounded arrays per round (the
  * `Clustering.kmeansAssign` round structure; no shuffle, no per-round
  * plan re-compilation). Nothing is quadratic; at 100 TB each round is
  * one scan of the labeled table at full parallelism.
  *
  * Cross-engine determinism (the ta_perplexity trick,
  * [[TextAnalysis.bigramPerplexityFromModel]]): every accumulated
  * quantity is an INTEGER — feature counts, fixed-point weights,
  * fixed-point per-doc residuals, gradient sums — so aggregation order
  * cannot change a bit. Doubles appear only in per-row scalar chains
  * (sigmoid, the weight-update step) that both engines evaluate with
  * the same correctly-rounded primitives, immediately re-fixed to
  * 6 decimals as longs. The DuckDB oracle unrolls the SAME `iters`
  * rounds as chained MATERIALIZED CTEs and must reproduce the final
  * probabilities exactly.
  *
  * Seed labels are derived IN-PLAN from the heuristic quality score's
  * extremes (score ≥ `highQ` → positive, ≤ `lowQ` → negative, middle
  * excluded) — deterministic, label-file-free, and exactly the
  * bootstrap a production pipeline uses before hand-labeled data
  * exists. The learned model is `numFeatures + 3` fixed-point longs —
  * trivially persistable, and scoring under a frozen weight vector is
  * one aggregation ([[scoreWithWeights]]).
  */
object QualityClassifier {

  /** Hashed feature buckets; the full feature space is this + 3
    * engineered features (distinct-token count, a length-score proxy,
    * and a constant-after-normalization bias). */
  val DefaultNumFeatures = 32
  val DefaultIters = 12
  val DefaultLearningRate = 300.0
  /** Seed-label thresholds on the heuristic quality score: ≤ lowQ →
    * negative, ≥ highQ → positive (≈ the fixture's quartiles, giving a
    * balanced seed set). */
  val DefaultLowQ = 0.90
  val DefaultHighQ = 1.07
  /** 6-decimal fixed point, shared with the perplexity operator. */
  private[operators] val Scale = 1000000.0

  /** The (doc, f, c, n) integer feature table — one scan, one hash
    * aggregate (hashed unigram counts), and a zero-shuffle engineered
    * union:
    *   - f ∈ [0, nf): md5-hashed token count (DuckDB-recomputable hash,
    *     the `TextFunctions.baseHash` convention);
    *   - f = nf: distinct-token count (→ distinct ratio after the /n
    *     normalization in the dot product);
    *   - f = nf+1: ⌊least(n²/100, n)⌋ (→ ≈ the length score after /n);
    *   - f = nf+2: n itself (→ the constant 1 after /n — the bias).
    * The engineered rows are what make the heuristic-derived seed
    * labels LEARNABLE by a linear model: distinct ratio and length are
    * not linear in normalized token counts alone. */
  private[operators] def featureTable(
      docs: DataFrame, idCol: String, textCol: String, nf: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc"),
      TextFunctions.tokens(col(textCol)).as("t"))
    val hashed = toks
      .select(col("doc"), size(col("t")).cast("long").as("n"),
        explode_outer(col("t")).as("w")) // outer: skips InferFiltersFromGenerate's re-tokenizing filter
      .filter(col("w").isNotNull)
      .groupBy(col("doc"), col("n"),
        pmod(TextFunctions.shingleKey(col("w")), lit(nf.toLong)).as("f"))
      .agg(count(lit(1)).as("c"))
    val n = size(col("t")).cast("long")
    val eng = toks.select(col("doc"), n.as("n"),
      explode(array(
        struct(lit(nf.toLong).as("f"),
          size(array_distinct(col("t"))).cast("long").as("c")),
        struct(lit(nf.toLong + 1).as("f"),
          floor(least(n * n / lit(100.0), n.cast("double"))).cast("long").as("c")),
        struct(lit(nf.toLong + 2).as("f"), n.as("c")))).as("fc"))
      .select(col("doc"), col("n"), col("fc.f").as("f"), col("fc.c").as("c"))
    hashed.unionByName(eng)
  }

  /** Per-row fixed-point dot → sigmoid chain over a (dot, n) row. */
  private def sigmoidOfDot: Column =
    lit(1.0) / (lit(1.0) +
      exp(-(col("dot").cast("double") / (lit(Scale) * col("n").cast("double")))))

  /** Train the fixed-point weight vector (length `nf + 3`). Driver
    * state per round: ≤ numPartitions partial gradients of nf + 3
    * longs, summed into one (nf + 3)-long gradient — bounded
    * model state, the kmeans-centroid convention. */
  def trainWeights(
      docs: DataFrame, idCol: String, textCol: String,
      nf: Int = DefaultNumFeatures, iters: Int = DefaultIters,
      lr: Double = DefaultLearningRate,
      lowQ: Double = DefaultLowQ, highQ: Double = DefaultHighQ,
      seedScoreCol: Option[String] = None): Array[Long] =
    trainWeightsFromRows(
      featureRows(docs, idCol, textCol, nf, lowQ, highQ, seedScoreCol,
        labeledOnly = true),
      nf, iters, lr)

  /** The (doc, y, n, fs) feature-row projection — ONE corpus scan, one
    * tokenize, one md5 pass: fs is the doc's whole bounded sparse
    * feature vector (hashed counts + the three engineered entries,
    * ≤ min(n, nf) + 3 structs), y the seed label (null = unlabeled —
    * only emitted when `labeledOnly = false`, the classify fusion that
    * lets training and scoring share this single pass instead of
    * re-hashing the corpus). The seed label is computed IN-ROW on the
    * same tokenize projection the features use (qualityScoreCol is a
    * pure column expression; a caller-provided seed score is just a
    * column) — no join, no second tokenize branch, and the only
    * shuffle is the per-doc feature aggregation. Same per-doc (f, c)
    * multiset as the historical featureTable-join-seedLabels
    * formulation, so learned weights and scores are unchanged —
    * hash-equal to the oracle's join-based formulation. */
  private[operators] def featureRows(
      docs: DataFrame, idCol: String, textCol: String, nf: Int,
      lowQ: Double, highQ: Double, seedScoreCol: Option[String],
      labeledOnly: Boolean): DataFrame = {
    require(nf >= 1)
    val yExpr = seedScoreCol match {
      case Some(c) =>
        when(col(c) >= highQ, lit(1L)).when(col(c) <= lowQ, lit(0L))
      case None =>
        val q = TextAnalysis.qualityScoreCol(col("t"))
        when(q >= highQ, lit(1L)).when(q <= lowQ, lit(0L))
    }
    val toksY = docs
      .select(col(idCol).as("doc") +:
        TextFunctions.tokens(col(textCol)).as("t") +:
        seedScoreCol.toSeq.map(col): _*)
      .select(col("doc"), col("t"), yExpr.as("y"))
    val kept = if (labeledOnly) toksY.filter(col("y").isNotNull) else toksY
    // The hashed counts build IN-ROW — sort the per-token bucket ids,
    // then run-length-fold the sorted array into (f, c) structs (the
    // spanIslands fold shape): a pure projection, versus the former
    // explode → groupBy(doc…f) → groupBy(doc) collect_list, whose two
    // corpus-sized exchanges were ~60% of the operator's wall time at
    // gate scale and whose shuffle would dominate at 100 TB. Engineered
    // features append after the fold. Same per-doc (f, c) MULTISET as
    // the aggregation (runs of a sorted array ARE the bucket counts;
    // every consumer folds fs order-independently), so weights, scores
    // and the oracle hash are unchanged.
    val n = size(col("t")).cast("long")
    def close(done: Column, cf: Column, cc: Column): Column =
      when(cc === 0L, done)
        .otherwise(concat(done, array(struct(cf.as("f"), cc.as("c")))))
    val acc0 = struct(
      typedLit(Seq.empty[(Long, Long)])
        .cast("array<struct<f:bigint,c:bigint>>").as("done"),
      lit(-1L).as("cf"), lit(0L).as("cc"))
    val hs = array_sort(transform(col("t"),
      w => pmod(TextFunctions.shingleKey(w), lit(nf.toLong))))
    val runs = aggregate(
      hs, acc0,
      (a, x) =>
        when(x === a.getField("cf"), struct(
          a.getField("done").as("done"),
          a.getField("cf").as("cf"), (a.getField("cc") + 1L).as("cc")))
          .otherwise(struct(
            close(a.getField("done"), a.getField("cf"), a.getField("cc"))
              .as("done"),
            x.as("cf"), lit(1L).as("cc"))),
      a => close(a.getField("done"), a.getField("cf"), a.getField("cc")))
    kept
      .select(col("doc"), n.as("n"), col("y"),
        concat(runs, array(
          struct(lit(nf.toLong).as("f"),
            size(array_distinct(col("t"))).cast("long").as("c")),
          struct(lit(nf.toLong + 1).as("f"),
            floor(least(n * n / lit(100.0),
              n.cast("double"))).cast("long").as("c")),
          struct(lit(nf.toLong + 2).as("f"), n.as("c")))).as("fs"))
  }

  /** Gradient rounds over pre-built feature rows ((n, y, fs) columns;
    * every row labeled). The rows materialize ONCE here (lazy
    * localCheckpoint — rounds re-read pinned blocks, and when the
    * caller hands a filtered view of an already-checkpointed frame
    * this second checkpoint is a cheap column-pruned copy that keeps
    * the per-round scans labeled-rows-only). */
  private[operators] def trainWeightsFromRows(
      rows: DataFrame, nf: Int, iters: Int, lr: Double): Array[Long] = {
    require(nf >= 1 && iters >= 1)
    val labeled = rows.select(col("n"), col("y"), col("fs"))
      .localCheckpoint(eager = false)
    val counts = labeled.agg(
      count(lit(1)).as("n"), sum("y").as("pos")).head
    val nTrain = counts.getLong(0)
    val nPos = Option(counts.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    // BOTH classes must exist: an all-negative seed set trains a
    // drop-everything model (every residual positive, weights pushed
    // uniformly negative) and an all-positive one a keep-everything
    // no-op — either silently, which for a curation caller means an
    // emptied or unfiltered corpus with no error. Fail loudly; the
    // thresholds are the knobs to adjust.
    require(nTrain > 0 && nPos > 0 && nPos < nTrain,
      s"seed labels must contain both classes (got $nPos positive of " +
        s"$nTrain labeled docs) — adjust lowQ/highQ to the corpus's " +
        "quality distribution")
    // Size-adaptive round parallelism: the loop below launches `iters`
    // SEQUENTIAL jobs over the checkpointed table, so at small corpora
    // the wall-clock is pure per-job overhead, not work. nTrain is in
    // hand — narrow-coalesce the rounds' input to ~8k labeled docs per
    // task (never above the checkpoint's own partitioning, so a 100 TB
    // corpus keeps full parallelism). Integer gradient sums are
    // order-independent, so layout cannot change a bit.
    val sess = rows.sparkSession
    import sess.implicits._
    val perRound = {
      val have = labeled.rdd.getNumPartitions
      val want = math.max(1L, math.min(have.toLong, (nTrain + 7999) / 8000)).toInt
      if (want < have) labeled.coalesce(want) else labeled
    }
    // The gradient round is a typed mapPartitions over the checkpointed
    // rows — the MLlib treeAggregate shape: each task folds its rows
    // into ONE dense (nf + 3)-long gradient array (weights ride in the
    // task closure), and the driver sums ≤ numPartitions such arrays —
    // bounded model state, the kmeans-centroid convention. This was
    // first written as crossJoin(weights) → explode → groupBy(f) →
    // collect; measured at gate scale, each such round cost ~150 ms of
    // pure machinery (plan analysis + AQE stage re-planning + a shuffle
    // of 35 rows) against <5 ms of arithmetic — 12 rounds of overhead
    // dominated the whole operator. One stage, no shuffle, no AQE
    // re-plan; the SAME multiset of long products accumulates (the
    // scalar chain is the same java.lang.Math ops Spark's expressions
    // compile to), so the learned weights cannot differ by a bit —
    // QualityClassifierSpec's driver-reference differential pins it.
    // The rounds drive the RDD view of the checkpointed rows, planned
    // ONCE — per-round work is then a bare scheduler job (no Catalyst
    // analysis, no AQE, no codegen) over pinned blocks: the documented
    // RDD carve-out for genuine per-partition imperative logic.
    val rddLabeled = perRound.select(col("n"), col("y"), col("fs"))
      .as[(Long, Long, Seq[(Long, Long)])].rdd
    val nfTot = nf + 3
    var w = Array.fill(nfTot)(0L)
    for (_ <- 1 to iters) {
      val wRound = w
      val partials = rddLabeled.mapPartitions { it =>
        val g = Array.fill(nfTot)(0L)
        it.foreach { case (n, y, fs) =>
          var dot = 0L
          fs.foreach { case (f, c) => dot += wRound(f.toInt) * c }
          // per-doc fixed-point residual: r = ⌊(σ(w·x) − y)/n · S + ½⌋
          val p = 1.0 / (1.0 + math.exp(-(dot.toDouble / (Scale * n))))
          val r = math.floor((p - y) / n * Scale + 0.5).toLong
          fs.foreach { case (f, c) => g(f.toInt) += r * c }
        }
        Iterator.single(g)
      }.collect()
      val g = Array.fill(nfTot)(0L)
      partials.foreach { pg =>
        var i = 0
        while (i < nfTot) { g(i) += pg(i); i += 1 }
      }
      // the same scalar update chain the oracle runs: lr·g/N, floored
      // at 0.5 — all inputs exact in double range
      w = Array.tabulate(nfTot)(f =>
        w(f) - math.floor(lr * g(f).toDouble / nTrain + 0.5).toLong)
    }
    w
  }

  /** Score every document under a (possibly frozen/persisted) weight
    * vector: one aggregation. Output (doc, n_tokens, clf_prob,
    * clf_label) — the label compares the ROUNDED probability in both
    * engines, so the 0.5 boundary cannot straddle an ulp. */
  def scoreWithWeights(
      docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Long]): DataFrame = {
    val nf = weights.length - 3
    require(nf >= 1, "weights must cover the 3 engineered features")
    val wLit = typedLit(weights.toSeq)
    featureTable(docs, idCol, textCol, nf)
      .groupBy("doc", "n")
      .agg(sum(element_at(wLit, (col("f") + 1).cast("int")) * col("c")).as("dot"))
      .select(
        col("doc").as(idCol), col("n").as("n_tokens"),
        roundFixed(sigmoidOfDot, 6).as("clf_prob"))
      .withColumn("clf_label", (col("clf_prob") >= 0.5).cast("int"))
  }

  /** IN-ROW scoring twin of [[scoreWithWeights]]: the fixed-point dot
    * product Σ_f w_f·c_f equals Σ_tokens w[hash(token)] plus the three
    * engineered terms, so scoring is a pure per-row expression — no
    * feature table, no aggregation, no shuffle. Both formulations sum
    * the SAME multiset of longs (integer addition is order-independent),
    * so the result is BIT-IDENTICAL to the aggregated path
    * (QualityClassifierSpec proves row-for-row equality) — which makes
    * this the streaming twin's body: a stateless projection is legal on
    * any streaming frame with no watermark or state at all
    * (streaming.StreamingQualityClassifier). */
  def scoreRowWise(
      docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Long]): DataFrame = {
    val nf = weights.length - 3
    require(nf >= 1, "weights must cover the 3 engineered features")
    // reserved output/scratch names — a clash (e.g. re-scoring an
    // already-scored frame) would surface later as an opaque
    // AMBIGUOUS_REFERENCE; fail fast (the qualityLangFilter convention)
    val reserved = Seq("n_tokens", "dot", "clf_prob", "clf_label", "__t")
    val clash = docs.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"scoreRowWise input must not carry reserved column(s) ${clash.mkString(", ")}")
    val wLit = typedLit(weights.toSeq)
    val t = col("__t")
    val n = size(t).cast("long")
    val hashedDot = aggregate(
      transform(t, w => element_at(wLit,
        (pmod(TextFunctions.shingleKey(w), lit(nf.toLong)) + 1L).cast("int"))),
      lit(0L), (acc, x) => acc + x)
    val dot = hashedDot +
      element_at(wLit, nf + 1) * size(array_distinct(t)).cast("long") +
      element_at(wLit, nf + 2) *
        floor(least(n * n / lit(100.0), n.cast("double"))).cast("long") +
      element_at(wLit, nf + 3) * n
    docs
      .select(docs.columns.map(col).toSeq :+
        TextFunctions.tokens(col(textCol)).as("__t"): _*)
      .select(docs.columns.map(col).toSeq ++ Seq(
        n.as("n_tokens"), dot.as("dot")): _*)
      .select(docs.columns.map(col).toSeq ++ Seq(
        col("n_tokens"),
        roundFixed(lit(1.0) / (lit(1.0) +
          exp(-(col("dot").cast("double") /
            (lit(Scale) * col("n_tokens").cast("double"))))), 6).as("clf_prob")): _*)
      .withColumn("clf_label", (col("clf_prob") >= 0.5).cast("int"))
  }

  /** Score pre-built feature rows ((doc, n, fs) columns) under a
    * weight vector: the dot product folds each row's OWN sparse
    * feature list — no re-tokenize, no re-hash, no shuffle. Sums the
    * same multiset of longs as [[scoreWithWeights]]/[[scoreRowWise]]
    * (integer addition is order-independent), so the probabilities are
    * bit-identical (QualityClassifierSpec pins all three paths). */
  private[operators] def scoreFromRows(
      rows: DataFrame, idCol: String, weights: Array[Long]): DataFrame = {
    val wLit = typedLit(weights.toSeq)
    rows
      .select(col("doc"), col("n"),
        aggregate(col("fs"), lit(0L), (acc, x) =>
          acc + element_at(wLit, (x.getField("f") + 1L).cast("int")) *
            x.getField("c")).as("dot"))
      .select(
        col("doc").as(idCol), col("n").as("n_tokens"),
        roundFixed(sigmoidOfDot, 6).as("clf_prob"))
      .withColumn("clf_label", (col("clf_prob") >= 0.5).cast("int"))
  }

  /** Train-then-score in one call — the gated composition
    * (ta_quality_clf). The corpus is tokenized and md5-hashed exactly
    * ONCE: [[featureRows]] over every doc (labels carried as nullable
    * y) materializes via lazy localCheckpoint, training reads its
    * labeled subset, and scoring folds the same rows' feature lists
    * under the learned weights ([[scoreFromRows]]) — at 100 TB the
    * hash pass is the dominant term, so the fusion halves it versus
    * the former train-then-re-scan shape. [[scoreRowWise]] remains the
    * single-pass projection for frozen-weight callers (streaming, the
    * incremental gate); [[scoreWithWeights]] the shape for callers
    * that already carry a feature table. */
  def classify(
      docs: DataFrame, idCol: String, textCol: String,
      nf: Int = DefaultNumFeatures, iters: Int = DefaultIters,
      lr: Double = DefaultLearningRate,
      lowQ: Double = DefaultLowQ, highQ: Double = DefaultHighQ): DataFrame = {
    val all = featureRows(docs, idCol, textCol, nf, lowQ, highQ,
      seedScoreCol = None, labeledOnly = false).localCheckpoint(eager = false)
    val w = trainWeightsFromRows(
      all.filter(col("y").isNotNull), nf, iters, lr)
    scoreFromRows(all, idCol, w)
  }
}
