package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{SimilaritySearch, TextAnalysis}
import graft.sources.Tables

/** Similarity-search gates over `embeddings` (and BM25 over `documents`):
  * exact top-k, hyperplane LSH, IVF, k-means, PQ and IVF-PQ, the recall
  * gates, BM25 and hybrid RRF. */
object AnnQueries {
  import Gate.Q
  import Shared._

  /** Memoized embeddings row count per (session, dir) — the corpus-scaled
    * knobs (nBitsFor / nCentroidsFor / sampleEveryNthFor) all need it and
    * the gates re-run many times per bench session. */
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    indexMemo.getOrElseUpdate(
      s"embcount:${System.identityHashCode(s)}:$dir",
      java.lang.Long.valueOf(Tables.embeddings(s, dir).count())
    ).asInstanceOf[java.lang.Long].longValue()

  /** ss_topk_cosine — exact brute-force top-10 cosine neighbors of
    * vec_id=0 (the ANN correctness baseline). */
  val ssTopkCosine: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10)
  }

  val ssTopkCosineOracle: String =
    s"""SELECT vec_id,
      |  ${cosSql("CAST(embedding AS DOUBLE[])", "q")} AS cos
      |FROM embeddings,
      |  (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
      |WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id ASC
      |LIMIT 10""".stripMargin

  /** ss_ann_lsh — hyperplane-LSH bucketed neighbor search, k=3 per
    * vector. Fully oracle-gated: the hyperplanes are plan-time binary-
    * fraction literals, so the identical LSH computation is expressible
    * in DuckDB (lshOracle below) — bucket assignment, candidate join,
    * cosine re-rank and top-k all hash-match. */
  val ssAnnLsh: Q = (s, dir) =>
    SimilaritySearch.lshNeighbors(
      Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64, nBits = 6, k = 3)
      .orderBy("vec_id", "neighbor_id")

  val ssAnnLshOracle: String = lshOracle(nBits = 6, k = 3)

  /** ss_ann_lsh_multi — the multi-table recall-amplified LSH path under
    * the cross-engine gate (previously the one ANN path anchored only by
    * the randomized differential spec): a pair is a candidate if it
    * collides in ANY of the plane tables; duplicate candidates collapse
    * (identical cosine from the same vectors) and the per-vector top-k
    * uses the same (cos DESC, neighbor ASC) order the single-table gate
    * pins. Spark bounds the top-k map-side via the native top-k
    * aggregate (`SimilaritySearch.topKPerVector`); the
    * oracle's DISTINCT + row_number is the closed form of the same
    * result. */
  private val LshMultiTables = 2

  val ssAnnLshMulti: Q = (s, dir) =>
    SimilaritySearch.lshNeighbors(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, nBits = 6, k = 3, nTables = LshMultiTables)
      .orderBy("vec_id", "neighbor_id")

  val ssAnnLshMultiOracle: String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    // per-table planes draw from the same disjoint splitmix64 ranges the
    // Spark operator uses (seed + t·2^48)
    val buckets = (0 until LshMultiTables).map { t =>
      hyperplaneBitsSql("v", hyperplanes(6, 64, seed = 0x5CA1AB1EL + t * 0x1000000000000L))
    }
    val bucketCols = buckets.zipWithIndex
      .map { case (b, t) => s"$b AS b$t" }.mkString(", ")
    val anyCollision = (0 until LshMultiTables)
      .map(t => s"a.b$t = c.b$t").mkString(" OR ")
    s"""WITH $embCte, b AS (
       |  SELECT vec_id, v,
       |    $bucketCols
       |  FROM e
       |), p AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    ${cosSql("a.v", "c.v")} AS cos
       |  FROM b a JOIN b c ON ($anyCollision) AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |)
       |SELECT vec_id, neighbor_id, cos FROM r WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin
  }

  /** ss_recall_lsh — retrieval QUALITY under the cross-engine gate: the
    * recall@3 of the LSH index against exact brute-force ground truth,
    * both computed in-plan, reduced to one row (hits, total, recall).
    * Because signatures, cosines and tie orders are bit-identical
    * cross-engine, the recall METRIC itself must hash-match — the
    * oracle doesn't just replay the index, it certifies the measured
    * quality number (RecallSpec asserts posture floors at sf0.1; this
    * gates the measurement machinery at sf0.01). Truth queries are
    * CORPUS-SCALED-sampled (Recall.sampleEveryNthFor — stride =
    * max(1, N/256), recomputed by the oracle from count(*) with the
    * same integer division), so the ground-truth pass stays Q·N with
    * Q bounded and the gate's cost grows linearly, not quadratically,
    * with corpus size; below ~512 vectors the stride is 1 and the
    * value is bit-identical to the unsampled form. nBits is
    * CORPUS-SCALED via the same SF-adaptive static-SQL recipe as the
    * t8 gate (plane h depends only on (seed, h), so any nBits bucket
    * is a PREFIX of the 10-bit plane string, and the oracle re-derives
    * the bit count from count(*)): at the gated sf0.01 nBitsFor(500)
    * = 1 — identical to the nBits = 1 pin this replaces — while
    * larger SFs keep the expected bucket at ~256 members, so the
    * approx side is linear in corpus size too, not O(N²/2) as the
    * pinned single-bit plane was. */
  private val LshT8Tables = 8
  private val LshT8MaxBits = 10

  val ssRecallLsh: Q = (s, dir) => {
    import graft.operators.{Recall, SimilaritySearch}
    val emb = Tables.embeddings(s, dir)
    val n = embeddingsCount(s, dir)
    val truth = Recall.bruteForceNeighbors(emb, "vec_id", "embedding", k = 3,
      sampleEveryNth = Recall.sampleEveryNthFor(n))
      .select(col("vec_id"), col("neighbor_id"))
    val bits = math.min(LshT8MaxBits,
      SimilaritySearch.nBitsFor(math.max(1L, n)))
    val approx = SimilaritySearch.lshNeighbors(
      emb, "vec_id", "embedding", dim = 64, nBits = bits, k = 3)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
    recallRow(truth, approx, Seq("vec_id", "neighbor_id"), "recall")
  }

  val ssRecallLshOracle: String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val bits10 = hyperplaneBitsSql("v", hyperplanes(LshT8MaxBits, 64))
    s"""WITH $embCte, nb AS (
       |  SELECT GREATEST(1, LEAST($LshT8MaxBits, CAST(ceil(
       |    ln(GREATEST(CAST(count(*) AS DOUBLE) / 256.0, 1.0)) / ln(2.0)) AS INT))) AS nbits
       |  FROM e
       |), ${sampledTruthCtes(3)}, b AS (
       |  SELECT vec_id, v, substr($bits10, 1, (SELECT nbits FROM nb)) AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    ${cosSql("a.v", "c.v")} AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= 3
       |), ${recallSql("approx", Seq("vec_id", "neighbor_id"), "recall")}""".stripMargin
  }

  /** ss_recall_lsh_t8 — the PRODUCTION-POSTURE recall under the
    * cross-engine gate: 8 plane tables at the corpus-scaled bit width
    * (nBitsFor — the knobs Bench's recall field ships, ~0.90 at sf0.1),
    * not the toy single-table config ss_recall_lsh keeps for the
    * measurement-machinery gate. The oracle is SF-adaptive despite
    * being static SQL: hyperplane h depends only on (seed, h), so the
    * bucket at any nBits is a PREFIX of the 10-bit bucket string, and
    * `nbits` itself is recomputed from count(*) with the same formula
    * as nBitsFor (tested corpus sizes sit far from the ceil(log2)
    * boundaries where libm ulps could flip the bit count). */
  val ssRecallLshT8: Q = (s, dir) => {
    import graft.operators.{Recall, SimilaritySearch}
    val emb = Tables.embeddings(s, dir)
    val n = embeddingsCount(s, dir)
    val truth = Recall.bruteForceNeighbors(emb, "vec_id", "embedding", k = 3,
      sampleEveryNth = Recall.sampleEveryNthFor(n))
      .select(col("vec_id"), col("neighbor_id"))
    // corpus-scaled bits, clamped to the oracle's plane-string width on
    // BOTH sides (the substr can't extend past LshT8MaxBits, so the
    // Spark side must saturate identically for >~260k-vector corpora)
    val bits = math.min(LshT8MaxBits,
      SimilaritySearch.nBitsFor(math.max(1L, n)))
    val approx = SimilaritySearch.lshNeighbors(
      emb, "vec_id", "embedding", dim = 64, nBits = bits, k = 3, nTables = LshT8Tables)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
    recallRow(truth, approx, Seq("vec_id", "neighbor_id"), "recall")
  }

  val ssRecallLshT8Oracle: String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val bucketCols = (0 until LshT8Tables).map { t =>
      val bits = hyperplaneBitsSql("v",
        hyperplanes(LshT8MaxBits, 64, seed = 0x5CA1AB1EL + t * 0x1000000000000L))
      s"substr($bits, 1, (SELECT nbits FROM nb)) AS b$t"
    }.mkString(",\n    ")
    val anyCollision = (0 until LshT8Tables)
      .map(t => s"a.b$t = c.b$t").mkString(" OR ")
    s"""WITH $embCte, nb AS (
       |  SELECT GREATEST(1, LEAST($LshT8MaxBits, CAST(ceil(
       |    ln(GREATEST(CAST(count(*) AS DOUBLE) / 256.0, 1.0)) / ln(2.0)) AS INT))) AS nbits
       |  FROM e
       |), ${sampledTruthCtes(3)}, b AS (
       |  SELECT vec_id, v,
       |    $bucketCols
       |  FROM e
       |), p AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    ${cosSql("a.v", "c.v")} AS cos
       |  FROM b a JOIN b c ON ($anyCollision) AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= 3
       |), ${recallSql("approx", Seq("vec_id", "neighbor_id"), "recall")}""".stripMargin
  }

  /** ss_ann_ivf — IVF (inverted-file) ANN, the second classic scale path
    * next to hyperplane LSH: deterministic sampled centroids (vec_id <
    * nCentroids), inner-product assignment, nProbe-cell search, exact
    * cosine re-rank. Fully oracle-gated: DuckDB recomputes the same
    * centroids from the same table, the same (sim DESC, cid ASC)
    * assignment, and the same per-vector top-k. */
  private val IvfCentroids = 16
  private val IvfProbe = 2
  private val IvfK = 3

  val ssAnnIvf: Q = (s, dir) =>
    SimilaritySearch.ivfNeighbors(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, nCentroids = IvfCentroids, nProbe = IvfProbe, k = IvfK)
      .orderBy("vec_id", "neighbor_id")

  /** ss_ann_ivf_native — the SAME IVF against the SAME oracle with the
    * NearestCenters top-p probe path forced (see cl_kmeans_native). */
  val ssAnnIvfNative: Q = (s, dir) =>
    SimilaritySearch.ivfNeighbors(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, nCentroids = IvfCentroids, nProbe = IvfProbe, k = IvfK,
      literalMaxTerms = 0)
      .orderBy("vec_id", "neighbor_id")

  /** Shared IVF oracle CTEs, ending in `r` (vec_id, neighbor_id, cos,
    * rn) — used by both the index gate and the recall gate. */
  private def ivfOracleCtes: String =
    s"""WITH $embCte, cents AS (
       |  SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $IvfCentroids
       |), sims AS (
       |  SELECT e.vec_id, e.v, cents.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, cents.c) DESC, cents.cid ASC) AS rnk
       |  FROM e CROSS JOIN cents
       |), ${ivfProbeCtes("sims", IvfProbe.toString)}, r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
       |)""".stripMargin

  /** `assign`, `probes` and `cand` CTEs of the IVF search over
    * `ranked (vec_id, v, cid, rnk)` (each vector's cells, nearest first):
    * every vector is a member of its first cell and probes the cells
    * ranked up to `maxRank`; candidates carry their exact cosine. */
  private def ivfProbeCtes(ranked: String, maxRank: String): String =
    s"""assign AS (
       |  SELECT vec_id, v, cid AS cell FROM $ranked WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id, v, cid AS bucket FROM $ranked
       |  WHERE rnk <= $maxRank
       |), cand AS (
       |  SELECT p.vec_id, m.vec_id AS neighbor_id,
       |    ${cosSql("p.v", "m.v")} AS cos
       |  FROM probes p JOIN assign m ON m.cell = p.bucket AND m.vec_id <> p.vec_id
       |)""".stripMargin

  val ssAnnIvfOracle: String =
    s"""$ivfOracleCtes
       |SELECT vec_id, neighbor_id, cos FROM r WHERE rn <= $IvfK
       |ORDER BY vec_id, neighbor_id""".stripMargin

  /** ss_recall_ivf — IVF retrieval quality under the cross-engine gate
    * (same design as ss_recall_lsh): recall@k of the machinery-gate IVF
    * config (sampled unrefined quantizer, nProbe = 2) vs in-plan
    * brute-force truth, one (hits, total, recall) row. The cell count
    * is CORPUS-SCALED (nCentroidsFor, re-derived by the oracle from
    * count(*) with the same ceil(N/128) rule the p8 oracle uses) so the
    * candidate work stays nProbe·128 per vector at any SF — a pinned
    * cell count made this gate's approx side O(N²/cells), the one
    * residual superlinearity after the truth-sampling fix. */
  val ssRecallIvf: Q = (s, dir) => {
    import graft.operators.{Recall, SimilaritySearch}
    val emb = Tables.embeddings(s, dir)
    val n = embeddingsCount(s, dir)
    val truth = Recall.bruteForceNeighbors(emb, "vec_id", "embedding", k = IvfK,
      sampleEveryNth = Recall.sampleEveryNthFor(n))
      .select(col("vec_id"), col("neighbor_id"))
    val nc = SimilaritySearch.nCentroidsFor(n)
    val approx = SimilaritySearch.ivfNeighbors(
      emb, "vec_id", "embedding", dim = 64,
      nCentroids = nc, nProbe = math.min(IvfProbe, nc), k = IvfK)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
    recallRow(truth, approx, Seq("vec_id", "neighbor_id"), "recall")
  }

  val ssRecallIvfOracle: String =
    s"""WITH $embCte, ncq AS (
       |  SELECT GREATEST(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 128.0) AS INT)) AS nc
       |  FROM e
       |), cents AS (
       |  SELECT cid, c FROM (
       |    SELECT vec_id AS cid, v AS c,
       |      row_number() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= (SELECT nc FROM ncq)
       |), sims AS (
       |  SELECT e.vec_id, e.v, cents.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, cents.c) DESC, cents.cid ASC) AS rnk
       |  FROM e CROSS JOIN cents
       |), ${ivfProbeCtes("sims", s"LEAST($IvfProbe, (SELECT nc FROM ncq))")}, r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
       |), ${sampledTruthCtes(IvfK)}, approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= $IvfK
       |), ${recallSql("approx", Seq("vec_id", "neighbor_id"), "recall")}""".stripMargin

  /** ss_recall_ivf_p8 — the PRODUCTION-POSTURE IVF recall under the
    * cross-engine gate: corpus-scaled cell count (nCentroidsFor),
    * nProbe = min(8, cells), and the 2-round Lloyd-REFINED quantizer —
    * the exact knobs Bench's recall field ships (~0.81 at sf0.1),
    * where ss_recall_ivf keeps the toy nProbe=2 machinery gate. The
    * oracle re-derives the cell count from count(*), re-trains the
    * same two Lloyd rounds (seed = nc lowest-id vectors, assignment by
    * dot − ½|c|² with cid tiebreak, means rounded to 6 dp, empty cells
    * keep their centroid — the cl_kmeans-proven CTE pattern), and
    * replays probe/member search — so the shipped-quality NUMBER
    * itself hash-matches. */
  val ssRecallIvfP8: Q = (s, dir) => {
    import graft.operators.{Recall, SimilaritySearch}
    val emb = Tables.embeddings(s, dir)
    val n = embeddingsCount(s, dir)
    val nc = SimilaritySearch.nCentroidsFor(n)
    val truth = Recall.bruteForceNeighbors(emb, "vec_id", "embedding", k = IvfK,
      sampleEveryNth = Recall.sampleEveryNthFor(n))
      .select(col("vec_id"), col("neighbor_id"))
    val approx = SimilaritySearch.ivfNeighbors(
      emb, "vec_id", "embedding", dim = 64, nCentroids = nc,
      nProbe = math.min(8, nc), k = IvfK, refineIters = 2)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
    recallRow(truth, approx, Seq("vec_id", "neighbor_id"), "recall")
  }

  val ssRecallIvfP8Oracle: String =
    s"""WITH $embCte, ncq AS (
       |  SELECT GREATEST(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 128.0) AS INT)) AS nc
       |  FROM e
       |), c0 AS (
       |  SELECT cid, c FROM (
       |    SELECT vec_id AS cid, v AS c,
       |      row_number() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= (SELECT nc FROM ncq)
       |),
       |${lloydRoundCtes(2)},
       |sf AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |    ${centroidRank()} AS rnk
       |  FROM e CROSS JOIN c2 c
       |), ${ivfProbeCtes("sf", "LEAST(8, (SELECT nc FROM ncq))")}, r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
       |), ${sampledTruthCtes(IvfK)}, approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= $IvfK
       |), ${recallSql("approx", Seq("vec_id", "neighbor_id"), "recall")}""".stripMargin

  /** ss_ann_lsh_pruned — the PERSISTED, partition-pruned hyperplane
    * bucket index (SimilaritySearch.buildLshBucketIndex +
    * lshTopKFromIndex): vectors are written `partitionBy(bucket)` and
    * a query reads ONLY its own bucket plus the 1-bit-flip multiprobe
    * neighbors — (nBits+1)/2^nBits of the partition directories, a
    * PartitionFilter proved in LshIndexSpec by plan assertion +
    * physical deletion of every unprobed bucket's files. The oracle
    * recomputes the same probe set (own bucket + per-position flips)
    * and the exact cosine over probed-bucket members. */
  val ssAnnLshPruned: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = indexMemo.getOrElseUpdate(s"lsh:$dir", {
      val p = java.nio.file.Files
        .createTempDirectory("graft-lsh-idx").toString
      graft.operators.SimilaritySearch.buildLshBucketIndex(
        corpus, "vec_id", "embedding", p, dim = 64, nBits = EmbNBits)
      p
    }).asInstanceOf[String]
    graft.operators.SimilaritySearch.lshTopKFromIndex(
      s, idx, emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
      dim = 64, nBits = EmbNBits, k = 10, probeBits = 1)
  }

  val ssAnnLshPrunedOracle: String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val planes = hyperplanes(EmbNBits, 64)
    val bBits = hyperplaneBitsSql("v", planes)
    val flips = (1 to EmbNBits).map { j =>
      val pre = if (j == 1) "''" else s"substr(qb, 1, ${j - 1})"
      s"SELECT $pre || (CASE WHEN qb[$j:$j] = '1' THEN '0' ELSE '1' END) || substr(qb, ${j + 1}) FROM qbt"
    }.mkString("\nUNION\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
       |b AS (SELECT vec_id, v, $bBits AS bucket FROM e),
       |qbt AS (SELECT $bBits AS qb FROM q),
       |probed AS (
       |  SELECT qb AS bk FROM qbt
       |  UNION
       |$flips)
       |SELECT b.vec_id,
       |  ${cosSql("b.v", "q.v")} AS cos
       |FROM b JOIN probed ON b.bucket = probed.bk, q
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  /** cl_kmeans — deterministic Lloyd's k-means over embeddings
    * (operators.Clustering): seed centroids = the k lowest vec_ids,
    * assignment = argmax(v·c − ½|c|²) with cid tiebreak, component
    * means rounded to `KmRound` dp each round. Fully oracle-gated: the
    * oracle unrolls the SAME `KmIters` Lloyd rounds as chained CTEs —
    * every FP step is a sequential dot product or a correctly-rounded
    * scalar op, and the round() collapses the engines' partial-sum
    * order difference, so the integer assignments must match exactly. */

  val clKmeans: Q = (s, dir) =>
    graft.operators.Clustering.kmeansAssign(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmK, iters = KmIters, roundDp = KmRound)
      .orderBy("vec_id")

  /** cl_kmeans_native — the SAME k-means against the SAME oracle, with
    * the reference-object NearestCenter path forced (literalMaxTerms=0):
    * the large-k codegen'd expression itself must hash-match DuckDB, not
    * just the composed-literal formulation it is differentially tested
    * against. */
  val clKmeansNative: Q = (s, dir) =>
    graft.operators.Clustering.kmeansAssign(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmK, iters = KmIters, roundDp = KmRound, literalMaxTerms = 0)
      .orderBy("vec_id")

  val clKmeansOracle: String =
    s"""$kmeansCtes
       |SELECT vec_id, cluster_id FROM asg
       |ORDER BY vec_id""".stripMargin

  /** ss_ann_pq — product-quantized ANN (ProductQuantization.pqTopK):
    * 8 subspaces × 16 centroids over the 64-dim embeddings (vec 0 is
    * the query, like ss_topk_cosine), ADC candidate pool of 100 exact-
    * re-ranked to the top 10. The oracle unrolls per-subspace k-means
    * exactly like the cl_kmeans oracle does (same seed rule, argmax
    * ranking and rounded means, over vector SLICES), reconstructs x̂ =
    * flatten(chosen centroids ordered by subspace) so the ADC score is
    * the same sequential `list_dot_product` the Spark side computes,
    * then applies the identical exact-cosine re-rank. */
  private val PqM = 8
  private val PqK = 16
  private val PqIters = 1
  private val PqRerank = 100
  private val PqTopK = 10

  val ssAnnPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    graft.operators.ProductQuantization.pqTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
      dim = EmbDim, m = PqM, k = PqK, iters = PqIters,
      roundDp = KmRound, rerank = PqRerank, topK = PqTopK)
  }

  /** Per-subspace codebook-training + encoding CTEs shared by the PQ
    * oracles (ss_ann_pq, ss_ann_pq_codes, ss_ann_ivf_pq). */
  private def pqSubCtes(mi: Int): String = {
    val sub = EmbDim / PqM
    val round = "1000000.0" // 10^KmRound
    val lo = mi * sub + 1
    val hi = (mi + 1) * sub
    val iterCtes = (1 to PqIters).map { i =>
        s"""s${i}_$mi AS (
           |  SELECT e.vec_id, e.v, c.cid,
           |    ${centroidRank("c.v")} AS rn
           |  FROM em_$mi e CROSS JOIN c${i - 1}_$mi c),
           |a${i}_$mi AS (SELECT vec_id, v, cid AS cluster FROM s${i}_$mi WHERE rn = 1),
           |m${i}_$mi AS (
           |  SELECT cluster, i.idx,
           |    floor(avg(v[i.idx + 1]) * $round + 0.5) / $round AS mn
           |  FROM a${i}_$mi, range($sub) i(idx) GROUP BY 1, 2),
           |g${i}_$mi AS (SELECT cluster AS cid, list(mn ORDER BY idx) AS v FROM m${i}_$mi GROUP BY 1),
           |c${i}_$mi AS (
           |  SELECT c${i - 1}_$mi.cid, COALESCE(g${i}_$mi.v, c${i - 1}_$mi.v) AS v
           |  FROM c${i - 1}_$mi LEFT JOIN g${i}_$mi USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""em_$mi AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),
       |c0_$mi AS (SELECT vec_id AS cid, v FROM em_$mi ORDER BY vec_id LIMIT $PqK),
       |$iterCtes,
       |enc_$mi AS (
       |  SELECT vec_id, cid AS code, cv FROM (
       |    SELECT e.vec_id, c.cid, c.v AS cv,
       |      ${centroidRank("c.v")} AS rn
       |    FROM em_$mi e CROSS JOIN c${PqIters}_$mi c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Full PQ-search oracle body around [[pqSubCtes]]. `extraCtes` (must
    * end with ",\n" when non-empty) may add CTEs between the codebook
    * block and the pool; `poolFrom` / `poolWhere` parameterize which
    * rows are ADC-scored — the flat search scores every encoded vector,
    * the IVF-PQ variant only the probed cells' members. */
  private def pqOracleSql(
      extraCtes: String = "", poolFrom: String = "xh, q",
      poolWhere: String = ""): String = {
    val all = (0 until PqM).map(pqSubCtes).mkString(",\n")
    val unions = (0 until PqM)
      .map(mi => s"SELECT $mi AS sub_m, vec_id, code, cv FROM enc_$mi")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
       |$all,
       |cf AS (
       |$unions),
       |xh AS (
       |  SELECT vec_id, flatten(list(cv ORDER BY sub_m)) AS xhat
       |  FROM cf GROUP BY vec_id),
       |${extraCtes}pool AS (
       |  SELECT xh.vec_id
       |  FROM $poolFrom
       |  $poolWhere
       |  ORDER BY list_dot_product(q.v, xh.xhat) DESC, vec_id ASC
       |  LIMIT $PqRerank)
       |SELECT e.vec_id,
       |  ${cosSql("e.v", "q.v")} AS cos
       |FROM e JOIN pool USING (vec_id), q
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT $PqTopK""".stripMargin
  }

  val ssAnnPqOracle: String = pqOracleSql()

  /** ss_ann_pq_codes — the stored-index PQ search (ProductQuantization
    * .pqTopKFromCodes): codebooks are trained and the corpus ENCODED to
    * dense codes first; search reconstructs x̂ from the stored codes by
    * plan-literal codebook lookup and never touches the original
    * vectors until the `rerank`-row exact stage. Bit-identical to
    * ss_ann_pq by construction, so it shares the oracle — the gate
    * proves the persisted-index path, not a new ranking. */
  val ssAnnPqCodes: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val books = graft.operators.ProductQuantization.trainCodebooks(
      corpus, "vec_id", "embedding", dim = EmbDim, m = PqM, k = PqK,
      iters = PqIters, roundDp = KmRound)
    val enc = graft.operators.ProductQuantization.encode(
      corpus, "vec_id", "embedding", books, EmbDim)
    graft.operators.ProductQuantization.pqTopKFromCodes(
      enc, corpus, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
      books, rerank = PqRerank, topK = PqTopK)
  }

  /** ss_ann_ivf_pq — the two-level billion-vector index
    * (ProductQuantization.ivfPqTopK): a coarse quantizer routes the
    * query to `IvfPqProbe` of `IvfPqCells` cells and only those cells'
    * members are ADC-scored. The oracle unrolls the coarse k-means
    * (cq* CTEs — cl_kmeans's recipe at nCells/coarseIters), selects the
    * probed cells for the vec-0 query by the same (q·c − ½|c|², cid)
    * ranking the Spark driver uses, and restricts the ADC pool to
    * members of those cells. */
  private val IvfPqCells = 16
  private val IvfPqProbe = 4
  private val IvfPqCoarseIters = 2

  val ssAnnIvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    graft.operators.ProductQuantization.ivfPqTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
      dim = EmbDim, nCells = IvfPqCells, nProbe = IvfPqProbe,
      coarseIters = IvfPqCoarseIters, m = PqM, k = PqK, iters = PqIters,
      roundDp = KmRound, rerank = PqRerank, topK = PqTopK)
  }

  /** ss_ann_ivf_pq_pruned — the PERSISTED, partition-pruned IVF-PQ
    * index (ProductQuantization.buildIvfPqIndex + ivfPqTopKFromIndex):
    * the corpus's PQ codes are written `partitionBy(cell)` and the
    * search reads ONLY the probed cells' partitions (a PartitionFilter,
    * proved by plan assertion + physical file deletion in
    * IvfPqIndexSpec). Pruning must not change results, so the gate
    * shares ss_ann_ivf_pq's oracle verbatim — same knobs, same answer,
    * different (file-pruned) physical plan. */
  val ssAnnIvfPqPruned: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val (idx, model) = indexMemo.getOrElseUpdate(s"ivfpq:$dir", {
      val p = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-idx").toString
      val m = graft.operators.ProductQuantization.buildIvfPqIndex(
        corpus, "vec_id", "embedding", p,
        dim = EmbDim, nCells = IvfPqCells, coarseIters = IvfPqCoarseIters,
        m = PqM, k = PqK, iters = PqIters, roundDp = KmRound)
      (p, m)
    }).asInstanceOf[(String, graft.operators.IvfPqModel)]
    graft.operators.ProductQuantization.ivfPqTopKFromIndex(
      idx, corpus, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
      nProbe = IvfPqProbe, rerank = PqRerank, topK = PqTopK,
      model = Some(model))
  }

  val ssAnnIvfPqOracle: String = {
    val coarse =
      s"""cq0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $IvfPqCells),
         |${lloydRoundCtes(IvfPqCoarseIters, c = "cq", p = "cq")},
         |cqsf AS (
         |  SELECT e.vec_id, c.cid,
         |    ${centroidRank()} AS rn
         |  FROM e CROSS JOIN cq$IvfPqCoarseIters c),
         |cqasg AS (SELECT vec_id, cid AS cell FROM cqsf WHERE rn = 1),
         |probed AS (
         |  SELECT c.cid
         |  FROM cq$IvfPqCoarseIters c, q
         |  ORDER BY list_dot_product(q.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
         |    c.cid ASC
         |  LIMIT $IvfPqProbe),
         |""".stripMargin
    pqOracleSql(
      extraCtes = coarse,
      poolFrom = "xh JOIN cqasg USING (vec_id), q",
      poolWhere = "WHERE cqasg.cell IN (SELECT cid FROM probed)")
  }

  /** ss_bm25 — BM25 keyword relevance against a fixed query-term bag
    * (TextAnalysis.bm25). Term scores are summed in written order on
    * both sides; the rounding absorbs cross-libm ln ulps. */
  private val Bm25Terms = Seq("vector", "stream", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Round = 6

  val ssBm25: Q = (s, dir) =>
    TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
      Bm25Terms, k1 = Bm25K1, b = Bm25B, roundDp = Bm25Round)
      .orderBy("doc_id")

  // BM25 oracle fragments, shared by ss_bm25 and ss_hybrid_rrf so the
  // SQL twin of TextAnalysis.bm25 has exactly one source.
  private def bm25TfSql(t: String) =
    s"len(list_filter(string_split(text, ' '), x -> x = '$t'))"
  private val Bm25TfCols = Bm25Terms.zipWithIndex
    .map { case (t, i) => s"${bm25TfSql(t)} AS tf_$i" }.mkString(",\n    ")
  private val Bm25DfCols = Bm25Terms.indices
    .map(i => s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
    .mkString(", ")
  // written-order sum, op-for-op the Spark expression tree
  private val Bm25TermScores = Bm25Terms.indices.map { i =>
    s"(ln(1.0 + (CAST(n_docs AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5)) * " +
      s"((CAST(tf_$i AS DOUBLE) * ${Bm25K1 + 1.0}) / (CAST(tf_$i AS DOUBLE) + " +
      s"$Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * (CAST(dl AS DOUBLE) / " +
      s"(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
  }.mkString(" + ")
  private val Bm25AnyMatch = Bm25Terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
  /** `t`/`st` CTE bodies (tokenize + per-term tf, then corpus stats) —
    * the WITH prefix both BM25-scoring oracles open with. */
  private val Bm25Ctes =
    s"""t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    $Bm25TfCols
       |  FROM documents
       |), st AS (
       |  SELECT count(*) AS n_docs, SUM(dl) AS sum_dl, $Bm25DfCols FROM t
       |)""".stripMargin

  val ssBm25Oracle: String = {
    val matched = Bm25Terms.indices
      .map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $Bm25Ctes
       |SELECT doc_id,
       |  floor(($Bm25TermScores) * 1000000.0 + 0.5) / 1000000.0 AS bm25,
       |  CAST($matched AS BIGINT) AS n_matched
       |FROM t CROSS JOIN st
       |WHERE $Bm25AnyMatch
       |ORDER BY doc_id""".stripMargin
  }

  /** ss_hybrid_rrf — hybrid retrieval (Retrieval.hybridRrf): BM25
    * sparse ranking and exact-cosine dense ranking against vec_id=0's
    * embedding, each truncated to 50 candidates, fused by
    * reciprocal-rank fusion with k₀=60, top-10 served. Both ranks
    * order by fixed-point scores with an id tiebreak, so rank
    * assignment — and therefore the fused score — is a total order
    * DuckDB reproduces exactly. */
  private val HybridN = 50
  private val HybridRrfK = 60
  private val HybridTopK = 10
  private val HybridCosRound = 9

  val ssHybridRrf: Q = (s, dir) =>
    graft.operators.Retrieval.hybridRrf(
      Tables.documents(s, dir), "doc_id", "text",
      Tables.embeddings(s, dir), "vec_id", "embedding",
      Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec")),
      Bm25Terms, nDense = HybridN, nSparse = HybridN,
      rrfK = HybridRrfK, topK = HybridTopK,
      k1 = Bm25K1, b = Bm25B,
      bm25RoundDp = Bm25Round, cosRoundDp = HybridCosRound,
      excludeVecIds = Seq(0L))

  val ssHybridRrfOracle: String = {
    // Rank-all-then-filter is equivalent to the Spark side's
    // top-N-then-rank because both order by the same total order
    // (rounded score DESC, doc_id ASC).
    s"""WITH $Bm25Ctes,
       |bm AS (
       |  SELECT doc_id,
       |    floor(($Bm25TermScores) * 1000000.0 + 0.5) / 1000000.0 AS bm25
       |  FROM t CROSS JOIN st
       |  WHERE $Bm25AnyMatch
       |), sp AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rs
       |  FROM bm
       |), $embCte, qv AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0
       |), c AS (
       |  SELECT vec_id AS doc_id,
       |    floor((${cosSql("v", "q")})
       |      * 1000000000.0 + 0.5) / 1000000000.0 AS cos
       |  FROM e CROSS JOIN qv WHERE vec_id <> 0
       |), de AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rd
       |  FROM c
       |), f AS (
       |  SELECT COALESCE(d.ddoc, s.sdoc) AS doc_id, d.rd, s.rs
       |  FROM (SELECT doc_id AS ddoc, rd FROM de WHERE rd <= $HybridN) d
       |  FULL OUTER JOIN (SELECT doc_id AS sdoc, rs FROM sp WHERE rs <= $HybridN) s
       |    ON d.ddoc = s.sdoc
       |)
       |SELECT doc_id,
       |  floor((COALESCE(CAST(1 AS DOUBLE) / ($HybridRrfK + CAST(rd AS DOUBLE)), 0)
       |       + COALESCE(CAST(1 AS DOUBLE) / ($HybridRrfK + CAST(rs AS DOUBLE)), 0))
       |    * 1000000000.0 + 0.5) / 1000000000.0 AS rrf,
       |  CAST(COALESCE(rd, -1) AS BIGINT) AS r_dense,
       |  CAST(COALESCE(rs, -1) AS BIGINT) AS r_sparse
       |FROM f
       |ORDER BY rrf DESC, doc_id ASC
       |LIMIT $HybridTopK""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("ss_topk_cosine", ssTopkCosine, Some(ssTopkCosineOracle)),
    Gate("ss_ann_lsh", ssAnnLsh, Some(ssAnnLshOracle)),
    Gate("ss_ann_lsh_multi", ssAnnLshMulti, Some(ssAnnLshMultiOracle)),
    Gate("ss_recall_lsh", ssRecallLsh, Some(ssRecallLshOracle), memo = "counts"),
    Gate("ss_recall_lsh_t8", ssRecallLshT8, Some(ssRecallLshT8Oracle), memo = "counts"),
    Gate("ss_ann_ivf", ssAnnIvf, Some(ssAnnIvfOracle), (1, "ivf")),
    Gate("ss_ann_ivf_native", ssAnnIvfNative, Some(ssAnnIvfOracle), (1, "ivf")),
    Gate("ss_recall_ivf", ssRecallIvf, Some(ssRecallIvfOracle), (3, "ivf"), memo = "counts"),
    Gate("ss_recall_ivf_p8", ssRecallIvfP8, Some(ssRecallIvfP8Oracle), (7, "kmeans"), memo = "counts"),
    Gate("ss_ann_lsh_pruned", ssAnnLshPruned, Some(ssAnnLshPrunedOracle), (2, "index-build"), memo = "state"),
    Gate("cl_kmeans", clKmeans, Some(clKmeansOracle), (7, "kmeans")),
    Gate("cl_kmeans_native", clKmeansNative, Some(clKmeansOracle), (7, "kmeans")),
    Gate("ss_ann_pq", ssAnnPq, Some(ssAnnPqOracle), (2, "pq")),
    Gate("ss_ann_pq_codes", ssAnnPqCodes, Some(ssAnnPqOracle), (2, "pq")),
    Gate("ss_ann_ivf_pq", ssAnnIvfPq, Some(ssAnnIvfPqOracle), (10, "pq")),
    Gate("ss_ann_ivf_pq_pruned", ssAnnIvfPqPruned, Some(ssAnnIvfPqOracle), (13, "pq"), memo = "state"),
    Gate("ss_bm25", ssBm25, Some(ssBm25Oracle)),
    Gate("ss_hybrid_rrf", ssHybridRrf, Some(ssHybridRrfOracle), (1, "hybrid-query-row")))
}
