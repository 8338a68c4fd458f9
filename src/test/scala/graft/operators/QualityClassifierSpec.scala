package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The trained quality classifier: differential-tested against the
  * plain-Scala driver reference (the bpeTrainReference pattern — same
  * algorithm, independent simple implementation), plus the
  * frozen-weights scoring contract and training sanity. */
class QualityClassifierSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  test("distributed training + scoring equals the driver-side reference bit-for-bit") {
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = ReferenceModels.referenceClassify(
      rows, QualityClassifier.DefaultNumFeatures,
      QualityClassifier.DefaultIters, QualityClassifier.DefaultLearningRate,
      QualityClassifier.DefaultLowQ, QualityClassifier.DefaultHighQ)
    val got = QualityClassifier.classify(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got === want)
  }

  test("the learned model separates the seed extremes (it actually trains)") {
    val w = QualityClassifier.trainWeights(docs, "doc_id", "text")
    assert(w.exists(_ != 0L), "all-zero weights mean no learning happened")
    val scored = QualityClassifier.scoreWithWeights(docs, "doc_id", "text", w)
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val joined = scored.join(q, "doc_id")
      .select(col("clf_label"),
        when(col("quality_score") >= QualityClassifier.DefaultHighQ, 1)
          .when(col("quality_score") <= QualityClassifier.DefaultLowQ, 0)
          .as("y"))
      .filter(col("y").isNotNull)
    val n = joined.count()
    val correct = joined.filter(col("clf_label") === col("y")).count()
    assert(n > 0)
    val acc = correct.toDouble / n
    assert(acc >= 0.9, s"seed-set accuracy $acc below 0.9 ($correct/$n)")
  }

  test("scoring under frozen weights is pure: persisted longs reproduce classify exactly") {
    val w = QualityClassifier.trainWeights(docs, "doc_id", "text")
    // round-trip the model through its natural persisted form (a row of
    // plain longs) — nothing about scoring may depend on the training
    // session's state
    val roundTripped = w.map(_.toString.toLong)
    val direct = QualityClassifier.classify(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val viaFrozen = QualityClassifier.scoreWithWeights(
      docs, "doc_id", "text", roundTripped)
      .orderBy("doc_id").collect().toSeq
    assert(viaFrozen === direct)
  }

  test("in-row scoring is bit-identical to the aggregated path (the streaming twin's body)") {
    val w = QualityClassifier.trainWeights(docs, "doc_id", "text")
    val agg = QualityClassifier.scoreWithWeights(docs, "doc_id", "text", w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val rowWise = QualityClassifier.scoreRowWise(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", w)
      .select("doc_id", "n_tokens", "clf_prob", "clf_label")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rowWise === agg)
    // and it is genuinely shuffle-free — the property that makes it
    // legal as a stateless streaming projection
    val plan = QualityClassifier.scoreRowWise(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("probabilities are calibrated-direction: positive seeds score above negative seeds on average") {
    val scored = QualityClassifier.classify(docs, "doc_id", "text")
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val j = scored.join(q, "doc_id")
    val posMean = j.filter(col("quality_score") >= QualityClassifier.DefaultHighQ)
      .agg(avg("clf_prob")).head.getDouble(0)
    val negMean = j.filter(col("quality_score") <= QualityClassifier.DefaultLowQ)
      .agg(avg("clf_prob")).head.getDouble(0)
    assert(posMean > negMean + 0.5,
      s"positive mean $posMean must clear negative mean $negMean decisively")
  }
}
