package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDoubles, cosine, roundFixed}

/** Hybrid retrieval — the standard RAG serving pattern: a SPARSE
  * keyword ranking (BM25, [[TextAnalysis.bm25]]) and a DENSE
  * embedding ranking (exact cosine against one query vector) are each
  * truncated to a bounded candidate list and fused by reciprocal-rank
  * fusion (RRF, Cormack et al. 2009): score(d) = Σ_systems 1/(k₀ +
  * rank_system(d)), with a document absent from a system contributing
  * 0. RRF needs no score calibration between the two systems — only
  * ranks — which is exactly why it is the default fusion for
  * keyword+vector search (reference semantics: the notebook's
  * keyword/similarity retrieval cells, re-expressed as one fused
  * operator; neither single-system gate changes).
  *
  * Scale shape: each system's candidate list is produced by a
  * DISTRIBUTED top-N (`orderBy(...).limit(n)` →
  * TakeOrderedAndProject — per-partition heaps, no global sort
  * materialization), so the only single-partition work is ranking the
  * ≤ nDense + nSparse surviving rows: the unpartitioned `row_number`
  * windows below run on candidate lists bounded by construction, never
  * on the corpus. The dense scan folds the collected query vector in as a literal; the
  * sparse side reuses bm25's one-scan + broadcast-stats plan. The
  * fusion join touches ≤ nDense + nSparse rows.
  *
  * Determinism across engines (what makes this oracle-gateable): both
  * ranks order by a FIXED-POINT-rounded score with an id tiebreak —
  * bm25 at `bm25RoundDp`, cosine at `cosRoundDp` decimals via
  * [[roundFixed]]'s floor(x·10^dp + 0.5) idiom — so rank assignment is
  * a total order two engines agree on even when their libm ulps
  * differ. The RRF sum adds the dense term then the sparse term in
  * written order (two IEEE divisions both engines compute
  * identically) and is itself roundFixed.
  *
  * Output: (doc_id, rrf, r_dense, r_sparse), top `topK` by
  * (rrf DESC, doc_id ASC); a rank of -1 means the document was absent
  * from that system's candidate list.
  */
object Retrieval {

  def hybridRrf(
      docs: DataFrame, docIdCol: String, textCol: String,
      embeddings: DataFrame, vecIdCol: String, vecCol: String,
      query: DataFrame, terms: Seq[String],
      nDense: Int = 50, nSparse: Int = 50,
      rrfK: Int = 60, topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      bm25RoundDp: Int = 6, cosRoundDp: Int = 9,
      excludeVecIds: Seq[Long] = Seq.empty): DataFrame = {
    require(nDense >= 1 && nSparse >= 1 && topK >= 1, "candidate/topK sizes must be >= 1")
    require(rrfK >= 1, "RRF k0 must be >= 1 (60 is the published default)")
    // Single-query contract: a multi-row `query` would pair each doc
    // with EVERY query vector — duplicate doc_ids with nondeterministic
    // dense ranks in the fused output. The query row is COLLECTED once
    // (bounded head(2) on the tiny query frame) and enters the dense
    // scan as a literal, so the guard and the executed plan see the
    // SAME row — one evaluation of the query lineage, no second job per
    // call, and a nondeterministic query frame cannot pass the check
    // yet feed the scan a different row.
    val qRows = query.select(asDoubles(col("qvec")).as("q")).head(2)
    require(qRows.length == 1,
      s"hybridRrf fuses rankings for exactly ONE query vector; got ${
        if (qRows.isEmpty) "0 rows" else ">=2 rows"} in `query` — " +
        "batch serving goes through the multi-query index paths instead")
    val qVec: Seq[Double] = qRows.head.getSeq[Double](0)

    // Dense candidates: distributed top-nDense by rounded cosine, then
    // rank the bounded survivors (the window input is <= nDense rows).
    val corpus = excludeVecIds.foldLeft(embeddings) {
      (d, id) => d.filter(col(vecIdCol) =!= id)
    }
    val denseOrder = Seq(col("cos").desc, col("doc_id").asc)
    val dense = corpus
      .select(col(vecIdCol).cast("long").as("doc_id"), asDoubles(col(vecCol)).as("v"))
      // the collected query vector is a plan literal — the codegen'd
      // scan folds it, no broadcast join node at all
      .select(col("doc_id"),
        roundFixed(cosine(col("v"), typedLit(qVec)), cosRoundDp).as("cos"))
      .orderBy(denseOrder: _*)
      .limit(nDense)
      .withColumn("r_dense", row_number().over(Window.orderBy(denseOrder: _*)))
      .select("doc_id", "r_dense")

    // Sparse candidates: bm25 already emits the fixed-point score; same
    // top-N-then-rank shape.
    val sparseOrder = Seq(col("bm25").desc, col("doc_id").asc)
    val sparse = TextAnalysis
      .bm25(docs, docIdCol, textCol, terms, k1 = k1, b = b, roundDp = bm25RoundDp)
      .select(col(docIdCol).cast("long").as("doc_id"), col("bm25"))
      .orderBy(sparseOrder: _*)
      .limit(nSparse)
      .withColumn("r_sparse", row_number().over(Window.orderBy(sparseOrder: _*)))
      .select("doc_id", "r_sparse")

    // Fuse: written-order sum of the two reciprocal-rank terms; absent
    // system -> 0 contribution, rank reported as -1.
    def contrib(rank: Column): Column = coalesce(
      lit(1.0) / (lit(rrfK).cast("double") + rank.cast("double")), lit(0.0))
    dense.join(sparse, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        roundFixed(contrib(col("r_dense")) + contrib(col("r_sparse")), cosRoundDp)
          .as("rrf"),
        coalesce(col("r_dense").cast("long"), lit(-1L)).as("r_dense"),
        coalesce(col("r_sparse").cast("long"), lit(-1L)).as("r_sparse"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }
}
