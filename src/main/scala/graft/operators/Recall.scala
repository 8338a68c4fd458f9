package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Retrieval-quality measurement for the approximate operators: the
  * parity oracle (DuckDB running the same algorithm) certifies that an
  * ANN/dedup implementation computes what it claims, but says nothing
  * about whether what it claims is a GOOD approximation. Recall against
  * exact ground truth is that second gate — the bar a production ANN
  * index or MinHash dedup actually carries (cf. the ann-benchmarks
  * recall/QPS methodology and the Broder-resemblance S-curve guarantees
  * MinHash bands are tuned for).
  *
  * Scale design: ground truth is exact but only over a SAMPLED query
  * set — Q query vectors broadcast (Q·dim doubles, KB–MB scale) against
  * one distributed corpus scan, per-query top-k bounded map-side by
  * the native top-k aggregate (`SimilaritySearch.topKPerVector`).
  * Sampling the queries, never the corpus: recall@k is
  * an average over queries, so a query sample estimates it with
  * ~1/√Q error, while sampling the CORPUS would change every query's
  * true neighbor set and measure recall against the wrong truth.
  */
object Recall {

  /** Corpus-scaled query-sampling stride (the `nBitsFor` convention):
    * stride = max(1, corpusCount / targetQueries), so the SAMPLED query
    * count stays in [target, 2·target) no matter how large the corpus
    * grows — the ground-truth pass is then Q·N with Q constant, i.e.
    * linear in corpus size instead of quadratic. Integer division only,
    * so any SQL engine recomputes the identical stride from count(*)
    * (`GREATEST(1, count(*) // target)`) with no libm ulp hazard.
    * target=256 keeps the recall estimate's sampling error ≈ 1/√256 ≈
    * 6% while holding the truth cost flat across scale factors; gates
    * below ~2·target vectors sample nothing (stride 1), so small-SF
    * oracle values are bit-identical to the unsampled form. */
  def sampleEveryNthFor(corpusCount: Long, targetQueries: Long = 256L): Long =
    math.max(1L, corpusCount / math.max(1L, targetQueries))

  /** Exact cosine top-k for the query vectors whose id satisfies
    * `id % sampleEveryNth == 0` — deterministic, rerun-stable sampling.
    * Returns (vec_id, neighbor_id, cos) in the same total order as the
    * ANN operators (cos DESC, neighbor_id ASC), self-pairs excluded. */
  def bruteForceNeighbors(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleEveryNth: Long = 1L): DataFrame = {
    require(k >= 1 && sampleEveryNth >= 1)
    val base0 = corpus
      .select(col(idCol).cast("long").as("id"), asDoubles(col(vecCol)).as("v"))
      .select(col("id"), col("v"), norm(col("v")).as("nrm"))
    // Size-adaptive widening (SimilaritySearch.widenIfNarrow's
    // rationale): the Q·N scoring below is compute-dense per byte, and
    // a small corpus arrives as ONE scan split — the whole ground-truth
    // pass then runs on one task (measured ~0.3-0.4 s single-task jobs
    // inside every ss_recall_* gate at sf0.1 on 32 idle cores).
    // Deterministic key, never rand(); at 100 TB the scan arrives with
    // ≥ cores partitions and this is a no-op.
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val base =
      if (base0.rdd.getNumPartitions < target) base0.repartition(target, col("id"))
      else base0
    val queries = base
      .filter(col("id") % sampleEveryNth === 0)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val pairs = base
      .crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("vec_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cos"),
        col("id").as("neighbor_id"))
    SimilaritySearch.topKPerVector(pairs, k)
  }

  /** recall@k of `approx` against exact `truth` (both carrying vec_id,
    * neighbor_id): the fraction of true (query, neighbor) entries the
    * approximate result found. Truth queries missing entirely from
    * `approx` (no candidate collided) count as 0 recall — an index that
    * returns nothing must not score well. Every sampled query contributes
    * the same number of truth entries (k, corpus permitting), so this
    * micro-average equals the per-query macro-average. */
  def recallAtK(approx: DataFrame, truth: DataFrame): Double = {
    val t = truth.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"))
    val a = approx.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"))
    val total = t.count()
    require(total > 0, "empty ground truth")
    val hit = t.join(a, Seq("vec_id", "neighbor_id"), "left_semi").count()
    hit.toDouble / total
  }

  /** Pair-level recall of a candidate-pair operator (doc_a, doc_b)
    * against an exact pair set: fraction of true pairs found. Pairs are
    * canonicalized (unordered) before comparison so the metric cannot be
    * gamed or broken by emission order. */
  def pairRecall(found: DataFrame, truth: DataFrame): Double = {
    def canon(df: DataFrame): DataFrame = df.select(
      least(col("doc_a"), col("doc_b")).as("pa"),
      greatest(col("doc_a"), col("doc_b")).as("pb"))
    val t = canon(truth)
    val total = t.count()
    require(total > 0, "empty ground truth")
    val hit = t.join(canon(found), Seq("pa", "pb"), "left_semi").count()
    hit.toDouble / total
  }
}
