package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Product quantization (PQ) for embedding-scale nearest-neighbor
  * search — the memory-bounded ANN path: a dim-D float vector becomes
  * `m` small codes (one per D/m-dim subspace, each the id of the
  * nearest codebook centroid), so a 100 TB float corpus compresses
  * ~sizeof(float)·D / m bytes per vector (64-dim float → 8 codes is
  * 32×) and candidate scoring never touches the original vectors.
  *
  * Scale design (the reason PQ exists at 10⁹–10¹² vectors):
  *   - TRAINING is per-subspace k-means, but all `m` codebooks train in
  *     the SAME distributed pass per Lloyd round: one corpus scan
  *     computes every subspace's assignment (m independent plan-literal
  *     argmaxes over vector slices), and the mean update is one
  *     map-side-combinable groupBy(subspace, cluster, component) whose
  *     shuffle volume is m·k·(D/m) = k·D rows — independent of corpus
  *     size, exactly like `Clustering.kmeansCentroids`.
  *   - ENCODING is a pure projection (codebooks are plan literals) —
  *     zero shuffles, codegen'd, runs at scan speed.
  *   - SEARCH is asymmetric distance computation (ADC): score(q, x) ≈
  *     q · x̂ where x̂ concatenates the chosen centroids. Computed here
  *     as ONE sequential dot product over the reconstruction, which
  *     (a) makes the whole operator a map-side projection + TakeOrdered
  *     — no shuffle except the k·partitions top-k rows — and (b) is
  *     bit-identical to DuckDB's `list_dot_product(q, flatten(...))`,
  *     making PQ oracle-gateable like the IVF/LSH families.
  *
  * Determinism mirrors `Clustering`: seeds = the k lowest-id vectors
  * (sliced per subspace), argmax ranked by (v·c − ½|c|²) descending
  * with ties to the smaller centroid id, component means rounded to
  * `roundDp` decimals each round.
  */
object ProductQuantization {

  /** Absolute ceiling on the re-rank pool. A pool that is a FRACTION of
    * the corpus stops being a pruning at some scale: 20% of 10⁹ vectors
    * is 2·10⁸ rows funneled into the final top-k selection — the exact
    * one-task blowup the hot-bucket guards elsewhere exist to prevent.
    * Past this ceiling the quality knob is a richer codebook (larger k,
    * more subspaces), not a larger pool — the standard PQ trade at
    * billion-vector scale. */
  val MaxRerankPool: Int = 100000

  /** Re-rank pool size as a function of corpus size — PQ's version of
    * the `nBitsFor`/`nCentroidsFor` knob: with the m=8 × k=16 codebooks
    * the ADC ordering reliably concentrates the true neighbors into the
    * top ~20% of the corpus (recall@10 ≈ 0.8 at that fraction on the
    * i.i.d. worst case, scale-stable because the FRACTION is what the
    * quantization error bounds), so the pool grows with the corpus,
    * never drops below the flat-fixture floor — and never exceeds
    * [[MaxRerankPool]]: beyond it, grow the codebooks instead. */
  def rerankFor(corpusSize: Long, fraction: Double = 0.2,
      maxPool: Int = MaxRerankPool): Int = {
    require(corpusSize > 0 && fraction > 0 && fraction <= 1 && maxPool >= 100)
    math.max(100L, math.min(maxPool.toLong, math.ceil(corpusSize * fraction).toLong)).toInt
  }

  /** One codebook per subspace: `(centroidId, centroid)` sorted by id,
    * where centroid ids are the seed vectors' ids (shared across
    * subspaces — the k lowest corpus ids). */
  def trainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int, roundDp: Int = 6)
      : IndexedSeq[Seq[(Long, Array[Double])]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(k >= 1 && iters >= 0 && roundDp >= 0)
    val sub = dim / m
    val e = corpus
      .select(col(idCol).cast("long").as("id"), asDoubles(col(vecCol)).as("v"))

    val seeds = e.orderBy("id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(seeds.nonEmpty, "empty corpus: no vectors to seed codebooks")
    var books: IndexedSeq[Seq[(Long, Array[Double])]] =
      (0 until m).map(mi => seeds.map { case (cid, v) =>
        (cid, v.slice(mi * sub, (mi + 1) * sub))
      })

    // Lloyd rounds as ONE pinned pass + per-round mapPartitions folds
    // (the QualityClassifier.trainWeights recipe, round-15 verdict item):
    // the former per-round DataFrame (m plan-literal argmaxes → double
    // explode → two groupBys) re-paid Catalyst analysis + Janino codegen
    // of a k·m-literal plan EVERY round — measured as pure job-count
    // overhead (ss_ann_pq cross-SF 1.3 at 4.8× DuckDB). Here the slim
    // vector column pins once; each round is a single closure job whose
    // shuffle is one driver reduce of m·k·(sub+1) doubles (~KB) —
    // corpus-size-independent, exactly the map-side-combine volume the
    // old aggregate claimed. Arithmetic is kept BIT-IDENTICAL to the
    // declarative form (and so to the DuckDB oracle): sequential
    // left-to-right dot, − halfNormSq(c) (same driver-computed value),
    // first-strict-max scan over cid-ascending cells = the argminCell
    // (negs, cid) tie order, floor(x·10^dp + 0.5)/10^dp means.
    if (iters > 0) {
      val vecs = e.select(col("v")).rdd.map(_.getSeq[Double](0).toArray)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val scale = math.pow(10, roundDp)
        for (_ <- 1 to iters) {
          val cells: Array[Array[Array[Double]]] = // (mi)(ci) -> centroid
            books.map(_.map(_._2).toArray).toArray
          val halfNorms: Array[Array[Double]] =
            cells.map(_.map(Clustering.halfNormSq))
          val width = sub + 1 // component sums + count
          val acc = vecs.mapPartitions { it =>
            val a = Array.fill(m, k, width)(0.0)
            it.foreach { v =>
              var mi = 0
              while (mi < m) {
                val off = mi * sub
                var best = 0; var bestScore = Double.NegativeInfinity
                var ci = 0
                while (ci < k) {
                  val c = cells(mi)(ci)
                  var d = 0.0; var j = 0
                  while (j < sub) { d += v(off + j) * c(j); j += 1 }
                  val s = d - halfNorms(mi)(ci)
                  if (s > bestScore) { bestScore = s; best = ci } // tie → smaller cid
                  ci += 1
                }
                val slot = a(mi)(best)
                var j = 0
                while (j < sub) { slot(j) += v(off + j); j += 1 }
                slot(sub) += 1.0
                mi += 1
              }
            }
            Iterator.single(a)
          }.reduce { (x, y) =>
            var mi = 0
            while (mi < m) {
              var ci = 0
              while (ci < k) {
                var j = 0
                while (j <= sub) { x(mi)(ci)(j) += y(mi)(ci)(j); j += 1 }
                ci += 1
              }
              mi += 1
            }
            x
          }
          books = books.zipWithIndex.map { case (book, mi) =>
            book.zipWithIndex.map { case ((cid, old), ci) =>
              val slot = acc(mi)(ci)
              val n = slot(sub)
              if (n == 0.0) (cid, old) // empty cell keeps its centroid
              else (cid, Array.tabulate(sub)(j =>
                math.floor(slot(j) / n * scale + 0.5) / scale))
            }
          }
        }
      } finally vecs.unpersist(blocking = false)
    }
    books
  }

  private def subVec(v: Column, mi: Int, sub: Int): Column =
    slice(v, mi * sub + 1, sub)

  /** Largest pool for which a single TakeOrdered gather is the right
    * plan: per-partition bounded heaps inside whole-stage codegen, one
    * merge of ≤ partitions·rerank slim rows. Above it, [[adcPool]]
    * switches to the two-level partition-heap reduction so no single
    * point ever merges more than [[PoolFanIn]]·rerank rows. */
  private[operators] val SingleGatherMax = 4096
  private[operators] val PoolFanIn = 32

  /** Bounded per-partition top-k heap: keeps the `k` largest rows under
    * (score DESC, vec_id ASC). Rows below the current weakest are
    * rejected in O(1); accepted rows cost O(log k). */
  private def heapTop(it: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    // PriorityQueue pops its MAX; order by (-score, vec_id) so the max
    // is the weakest entry (smallest score, largest id on ties)
    val ord: Ordering[(Long, Double)] = Ordering.by { case (vid, s) => (-s, vid) }
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    it.foreach { x =>
      if (pq.size < k) pq.enqueue(x)
      else if (x._2 > pq.head._2 || (x._2 == pq.head._2 && x._1 < pq.head._1)) {
        pq.dequeue(); pq.enqueue(x)
      }
    }
    pq.iterator
  }

  /** The rerank-pool selection — exact top-`rerank` of `scored` (any
    * schema containing `vec_id` long + `score` double) under
    * (score DESC, vec_id ASC), with a plan that adapts to the pool size:
    *
    *   - rerank ≤ [[SingleGatherMax]] (every oracle gate): the plain
    *     TakeOrderedAndProject — per-partition bounded heaps, codegen'd,
    *     one slim merge. Identical to the historical plan, so the
    *     ss_ann_pq gate and plan-lock are untouched.
    *   - rerank > [[SingleGatherMax]] (the 100 TB posture, where
    *     [[rerankFor]] can return up to [[MaxRerankPool]]): two-level
    *     partition-heap reduction over (vec_id, score) pairs only —
    *     each scan partition reduces to ≤rerank 16-byte pairs, a
    *     round-robin exchange fans them into [[PoolFanIn]] merge tasks,
    *     each re-heaps, and the final TakeOrdered sees ≤ FanIn·rerank
    *     rows. The pool ids then re-join `scored` (broadcast — the pool
    *     is ≤[[MaxRerankPool]] rows) to restore the payload columns, so
    *     wide columns (vectors) never ride through the selection.
    *
    * Both paths return the same rows (top-k of per-partition top-ks is
    * the global top-k under a total order), asserted in
    * ProductQuantizationSpec. */
  private[operators] def adcPool(scored: DataFrame, rerank: Int): DataFrame =
    if (rerank <= SingleGatherMax) {
      scored.orderBy(col("score").desc, col("vec_id").asc).limit(rerank)
    } else {
      val spark = scored.sparkSession
      import spark.implicits._
      // ONE scoring scan: the 16-byte (vec_id, score) projection is
      // lazily checkpointed, so the heap passes both sides of the
      // repartition read the materialized pairs instead of re-running
      // the ADC-scoring subtree — exactly in the large-pool regime
      // where that subtree is the expensive part. Checkpoint size is
      // corpus-rows × 16 bytes spread across executors (memory+disk),
      // the width the two-level reduction already assumes.
      val slim = scored.select(col("vec_id").cast("long"), col("score"))
        .localCheckpoint(eager = false)
      val ids = slim.as[(Long, Double)]
        .mapPartitions(heapTop(_, rerank))
        .repartition(PoolFanIn)
        .mapPartitions(heapTop(_, rerank))
        .toDF("vec_id", "score")
        .orderBy(col("score").desc, col("vec_id").asc).limit(rerank)
      // payload restore: `score` is dropped, so Catalyst prunes the
      // xhat/dot machinery from this second pass — it re-reads only the
      // pre-scored payload columns the caller asked to keep
      scored.drop("score").join(broadcast(ids), "vec_id")
    }

  /** The best codebook cell for a subvector: plan-literal cells ranked
    * by (−(v·c − ½|c|²), cid) ascending — L2-nearest with ties to the
    * smaller centroid id; the winning struct carries the centroid
    * vector (for ADC reconstruction) and its dense index (for compact
    * code storage). */
  private def argminCell(book: Seq[(Long, Array[Double])], sv: Column): Column = {
    val cells = array_sort(array(book.zipWithIndex.map { case ((cid, c), idx) =>
      struct(
        (-(dot(sv, array(c.toSeq.map(lit): _*)) - lit(Clustering.halfNormSq(c))))
          .as("negs"),
        lit(cid).as("cid"),
        lit(idx).as("idx"),
        typedLit(c.toSeq).as("cvec"))
    }: _*))
    element_at(cells, 1)
  }

  /** PQ codes per vector: `(vec_id, codes)` where `codes[mi]` is the
    * DENSE index (0 … k−1) of the chosen centroid in subspace `mi`'s
    * id-sorted codebook. Pure projection — zero shuffles — and the
    * compressed representation a 100 TB index stores instead of the
    * vectors: at k ≤ 256 the m ints cast to m BYTES (64-dim float →
    * 8 bytes, 32×). */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: IndexedSeq[Seq[(Long, Array[Double])]], dim: Int): DataFrame = {
    val m = codebooks.size
    val sub = dim / m
    corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .select(col("vec_id"),
        array((0 until m).map(mi =>
          argminCell(codebooks(mi), subVec(col("v"), mi, sub)).getField("idx")): _*)
          .as("codes"))
  }

  /** Top-k nearest neighbors via the standard two-stage PQ search:
    * asymmetric distance (ADC) selects a `rerank`-sized candidate pool,
    * exact cosine re-ranks it. ADC score(q, x) = q·x̂ where x̂
    * concatenates the chosen centroids — ONE sequential dot product
    * over the reconstruction, so stage 1 is a map-side projection into
    * [[adcPool]] (per-partition bounded heaps; above [[SingleGatherMax]]
    * a two-level reduction caps every merge point at
    * [[PoolFanIn]]·rerank slim rows, and [[rerankFor]] caps the pool
    * itself at [[MaxRerankPool]]); stage 2 touches `rerank` rows,
    * making exactness free. `query` is a 1-row DataFrame with column
    * `qvec`, like `bruteForceTopK`.
    *
    * Quality: on the WORST case for any quantizer — i.i.d. random unit
    * vectors, no cluster structure — m=8 × k=16 over 64 dims with
    * rerank=100 measures recall@10 = 0.9 against brute force
    * (ProductQuantizationSpec); structured corpora only do better. */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String, query: DataFrame,
      dim: Int, m: Int = 8, k: Int = 16, iters: Int = 1,
      roundDp: Int = 6, rerank: Int = 100, topK: Int = 10): DataFrame = {
    require(rerank >= topK, s"rerank pool $rerank must cover topK $topK")
    val books = trainCodebooks(corpus, idCol, vecCol, dim, m, k, iters, roundDp)
    val sub = dim / m
    val xhat = concat((0 until m).map(mi =>
      argminCell(books(mi), subVec(col("v"), mi, sub)).getField("cvec")): _*)
    val scored = corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"), col("v"), col("q"), dot(col("q"), xhat).as("score"))
    adcPool(scored, rerank)
      .select(col("vec_id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** Search over a PRE-ENCODED corpus — the production flow where the
    * byte codes are the persisted index and the float vectors stay
    * cold: stage 1 reconstructs x̂ from the stored codes by plan-literal
    * codebook lookup (scan touches m ints per row, never the vectors),
    * stage 2 fetches vectors for the `rerank` pool rows only (broadcast
    * pool semi-scan here; a point-lookup store in production).
    * Bit-identical to `pqTopK` given the same codebooks
    * (ProductQuantizationSpec). */
  /** x̂ reconstruction from STORED codes: per-subspace plan-literal
    * codebook lookup concatenated in subspace order — shared by
    * [[pqTopKFromCodes]] and the persisted-index searches so the ADC
    * score is one definition. */
  private def xhatFromCodes(
      codebooks: IndexedSeq[Seq[(Long, Array[Double])]]): Column =
    concat(codebooks.indices.map(mi =>
      element_at(
        typedLit(codebooks(mi).map(_._2.toSeq)),
        element_at(col("codes"), mi + 1) + 1)): _*)

  def pqTopKFromCodes(
      encoded: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, codebooks: IndexedSeq[Seq[(Long, Array[Double])]],
      rerank: Int = 100, topK: Int = 10): DataFrame = {
    require(rerank >= topK, s"rerank pool $rerank must cover topK $topK")
    val xhat = xhatFromCodes(codebooks)
    val scored = encoded
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"), col("q"), dot(col("q"), xhat).as("score"))
    adcPool(scored, rerank)
      .join(corpus.select(col(idCol).cast("long").as("vec_id"),
        asDoubles(col(vecCol)).as("v")), "vec_id")
      .select(col("vec_id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** IVF-PQ: the standard two-level 10⁹-vector index — a coarse
    * quantizer routes the query to `nProbe` of `nCells` cells and ADC
    * scores only those cells' members, so per-query work is
    * (nProbe/nCells)·corpus at PQ-compressed width, followed by the
    * exact re-rank of the usual pool. Cell assignment is the SAME
    * plan-literal L2 argmax the coarse k-means trained with (ties to
    * the smaller centroid id), so with nProbe = nCells the filter keeps
    * every vector and the result is bit-identical to `pqTopK`
    * (asserted in ProductQuantizationSpec) — probing only ever narrows.
    * Probe selection for the 1-row query happens on the driver against
    * the same k·dim centroid matrix the training already collected. */
  /** The `nProbe` coarse cells nearest to query `qv`, ranked by the
    * SAME (q·c − ½|c|², cid) ordering the cell-assignment argmax uses —
    * shared by [[ivfPqTopK]] and the persisted-index search so the two
    * paths can never probe differently. Driver-side over the k·dim
    * centroid matrix training already collected. */
  private[operators] def probeCells(
      cents: Seq[(Long, Array[Double])], qv: Array[Double], nProbe: Int): Seq[Long] =
    cents.map { case (cid, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += qv(i) * c(i); i += 1 }
      (-(s - Clustering.halfNormSq(c)), cid)
    }.sorted.take(nProbe).map(_._2)

  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String, query: DataFrame,
      dim: Int, nCells: Int = 16, nProbe: Int = 4, coarseIters: Int = 2,
      m: Int = 8, k: Int = 16, iters: Int = 1,
      roundDp: Int = 6, rerank: Int = 100, topK: Int = 10): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe $nProbe must be in [1, $nCells]")
    val cents = Clustering.kmeansCentroids(
      corpus, idCol, vecCol, k = nCells, iters = coarseIters, roundDp = roundDp)
    val qRows = query.select(asDoubles(col("qvec")).as("q")).take(1)
    require(qRows.nonEmpty, "ivfPqTopK needs a 1-row query DataFrame with column qvec")
    val qv = qRows.head.getSeq[Double](0).toArray
    val probed = probeCells(cents, qv, nProbe)
    val books = trainCodebooks(corpus, idCol, vecCol, dim, m, k, iters, roundDp)
    val sub = dim / m
    val xhat = concat((0 until m).map(mi =>
      argminCell(books(mi), subVec(col("v"), mi, sub)).getField("cvec")): _*)
    val scored = corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .filter(argminCell(cents, col("v")).getField("cid").isin(probed: _*))
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"), col("v"), col("q"), dot(col("q"), xhat).as("score"))
    adcPool(scored, rerank)
      .select(col("vec_id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** Schema the persisted index is read back with. Pinning the
    * partition column `cell` to LONG matters: partition-value inference
    * would narrow small cell ids to INT, and the resulting cast between
    * the probe filter's long literals and the partition column can keep
    * the filter out of the file-pruning layer. */
  private val IndexReadSchema = "vec_id LONG, codes ARRAY<INT>, cell LONG"

  /** Build the PERSISTED IVF-PQ index at `path`: coarse quantizer +
    * per-subspace codebooks train exactly as [[ivfPqTopK]] does, the
    * corpus is encoded to its m dense codes in one zero-shuffle
    * projection, and the code rows are written `partitionBy(cell)` —
    * the storage layout that makes probing a FILE-PRUNING operation.
    * At 10⁹ vectors with nCells sized by `nCentroidsFor`, a search
    * LISTS nProbe/nCells of the partition directories and never opens
    * the rest; the closed round-8 gap where probed-cell restriction was
    * a filter over a full corpus scan (the old
    * `.filter(argminCell(…).isin(probed))` shape) is exactly what this
    * layout removes. The trained model (coarse centroids + codebooks)
    * is persisted alongside under `_ivfpq_model.txt` (underscore prefix:
    * invisible to the parquet reader), so a search session needs ONLY
    * the index path.
    *
    * Write cost: one signature/encode scan + one shuffle-free
    * partitioned write (each scan task writes its rows' cells directly;
    * at production scale repartition by cell first if small files
    * matter). */
  def buildIvfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, nCells: Int = 16, coarseIters: Int = 2,
      m: Int = 8, k: Int = 16, iters: Int = 1, roundDp: Int = 6): IvfPqModel = {
    val cents = Clustering.kmeansCentroids(
      corpus, idCol, vecCol, k = nCells, iters = coarseIters, roundDp = roundDp)
    val books = trainCodebooks(corpus, idCol, vecCol, dim, m, k, iters, roundDp)
    val sub = dim / m
    // slim (vec_id, v, codes, cell) frame, LAZILY checkpointed: the
    // partitioned write below materializes it, and the training-error
    // baseline aggregation then reads the materialized rows instead of
    // re-running the encode scan (the adcPool single-scan convention)
    val enc = corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .select(
        col("vec_id"), col("v"),
        array((0 until m).map(mi =>
          argminCell(books(mi), subVec(col("v"), mi, sub)).getField("idx")): _*)
          .as("codes"),
        argminCell(cents, col("v")).getField("cid").as("cell"))
      .localCheckpoint(eager = false)
    enc.select("vec_id", "codes", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // drift baseline: mean squared reconstruction error over the
    // training corpus — one aggregation over the checkpointed rows
    val trainErr = enc
      .select(reconstructionErr(books).as("e"))
      .agg(avg("e")).head.getDouble(0)
    val model = IvfPqModel(dim, cents, books, Some(trainErr))
    IvfPqModel.save(model, path, corpus.sparkSession)
    model
  }

  /** Per-row squared reconstruction error |v − x̂|² of a (v, codes) row
    * under `codebooks` — the quantization-quality measure behind the
    * build-time baseline `IvfPqModel.trainQuantErr`. */
  private def reconstructionErr(
      codebooks: IndexedSeq[Seq[(Long, Array[Double])]]): Column = {
    val diff = zip_with(col("v"), xhatFromCodes(codebooks), (a, b) => a - b)
    dot(diff, diff)
  }

  /** Search the PERSISTED index: the query picks its `nProbe` cells on
    * the driver (same ranking as cell assignment), and the scan is
    * `read.parquet(path).filter(cell.isin(probed))` — the probe
    * restriction is a PartitionFilter, so only the probed cells'
    * parquet files are ever listed, opened, or ADC-scored
    * (IvfPqIndexSpec asserts the filter in-plan AND deletes an unprobed
    * cell's files to prove the search never touches them). Downstream
    * is the standard two-stage search: ADC over reconstructed x̂ into
    * [[adcPool]], exact-cosine re-rank of the pool against `corpus`.
    *
    * With `nProbe` ≥ the number of cells in the index this is
    * bit-identical to [[ivfPqTopK]] at the same knobs (probing only
    * narrows); at the gated knobs the two agree exactly
    * (ss_ann_ivf_pq_pruned shares ss_ann_ivf_pq's oracle). `model`
    * defaults to loading the persisted copy at `path`. */
  def ivfPqTopKFromIndex(
      indexPath: String, corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, nProbe: Int = 4, rerank: Int = 100, topK: Int = 10,
      model: Option[IvfPqModel] = None): DataFrame = {
    require(rerank >= topK, s"rerank pool $rerank must cover topK $topK")
    require(nProbe >= 1, "nProbe must be >= 1")
    val spark = corpus.sparkSession
    val mdl = model.getOrElse(IvfPqModel.load(indexPath, spark))
    val qRows = query.select(asDoubles(col("qvec")).as("q")).take(1)
    require(qRows.nonEmpty,
      "ivfPqTopKFromIndex needs a 1-row query DataFrame with column qvec")
    val qv = qRows.head.getSeq[Double](0).toArray
    val probed = probeCells(mdl.centroids, qv, nProbe)
    val scored = spark.read.schema(IndexReadSchema).parquet(indexPath)
      .filter(col("cell").isin(probed: _*))
      .crossJoin(broadcast(query.select(asDoubles(col("qvec")).as("q"))))
      .select(col("vec_id"), col("q"),
        dot(col("q"), xhatFromCodes(mdl.codebooks)).as("score"))
    adcPool(scored, rerank)
      .join(corpus.select(col(idCol).cast("long").as("vec_id"),
        asDoubles(col(vecCol)).as("v")), "vec_id")
      .select(col("vec_id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** MULTI-QUERY search of the persisted index — the SERVING shape: a
    * bounded batch of queries (an API tick, a streaming micro-batch —
    * thousands, not a corpus) answered in ONE pruned pass instead of
    * per-query jobs. Per query the result is row-for-row identical to
    * [[ivfPqTopKFromIndex]] at the same knobs (same probe ranking, same
    * ADC expression, same (score DESC, vec_id ASC) total order —
    * IvfPqIndexSpec asserts the equality query-by-query).
    *
    * Shape: the batch's (query, probed-cells) routing is computed
    * driver-side with the SAME [[probeCells]] ranking the single-query
    * path uses (bounded state: batch × nProbe longs + batch × dim
    * doubles — the collected-centroids convention, NOT a corpus
    * collect), and the UNION of probed cells becomes one
    * `cell.isin(...)` PartitionFilter — the index scan lists and ADC-
    * scores only partitions some query probed, once, shared by every
    * query probing them. Queries ride back in as a broadcast (qid, q,
    * cell) routing table joined on `cell`, so a code row is scored only
    * against the queries that probed its cell. Per-query pools and the
    * final top-k reduce through [[SimilaritySearch.topKPerVector]] (the
    * native `TopKPairsAgg`) — partial map-side buffers, shuffle carries
    * ≤ rerank·queries rows, no per-query window over the scan. Its
    * (score DESC, vec_id ASC) order prefers the SMALLER vec_id on a
    * score tie — the single-query plan's TakeOrdered order, kept
    * bit-compatible.
    *
    * Output: (qid, vec_id, cos, rank) with rank 1 = best, one block of
    * ≤ topK rows per query; a query whose probed cells hold no vectors
    * returns no rows (the single-query path's empty result). */
  def ivfPqTopKBatchFromIndex(
      indexPath: String, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      nProbe: Int = 4, rerank: Int = 100, topK: Int = 10,
      model: Option[IvfPqModel] = None): DataFrame = {
    require(rerank >= topK, s"rerank pool $rerank must cover topK $topK")
    require(nProbe >= 1, "nProbe must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val mdl = model.getOrElse(IvfPqModel.load(indexPath, spark))
    // driver-side routing: the serving batch is the bounded unit
    val qRows = queries
      .select(col(qidCol).cast("long"), asDoubles(col(qvecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      s"ivfPqTopKBatchFromIndex: duplicate $qidCol in the query batch")
    if (qRows.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("qid"), lit(0L).as("vec_id"),
          lit(0.0).as("cos"), lit(0).as("rank"))
        .limit(0)
    }
    val routing = qRows.flatMap { case (qid, qv) =>
      probeCells(mdl.centroids, qv, nProbe).map(c => (qid, c, qv.toSeq))
    }.toSeq.toDF("qid", "cell", "q")
    val probedUnion = routing.select("cell").as[Long].collect().distinct.toSeq
    // one pruned scan, shared by all queries probing each cell;
    // topKPerVector's pairs contract is (group, score, member)
    val poolPairs = spark.read.schema(IndexReadSchema).parquet(indexPath)
      .filter(col("cell").isin(probedUnion: _*))
      .join(broadcast(routing), "cell")
      .select(col("qid"),
        dot(col("q"), xhatFromCodes(mdl.codebooks)).as("score"), col("vec_id"))
    val pool = SimilaritySearch.topKPerVector(poolPairs, rerank)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("vec_id"))
    // exact re-rank: pool is ≤ queries·rerank rows — it broadcasts into
    // the corpus vector fetch, then reduces to the per-query top-k
    val qvecs = qRows.toSeq.map { case (qid, qv) => (qid, qv.toSeq) }
      .toDF("qid", "q")
    val rePairs = corpus
      .select(col(idCol).cast("long").as("vec_id"), asDoubles(col(vecCol)).as("v"))
      .join(broadcast(pool), "vec_id")
      .join(broadcast(qvecs), "qid")
      .select(col("qid"), cosine(col("v"), col("q")).as("cos"), col("vec_id"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    SimilaritySearch.topKPerVector(rePairs, topK)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("vec_id"), col("cos"))
      // rank runs over the ≤ queries·topK FINAL rows, never the scan
      .withColumn("rank", row_number().over(win))
  }
}

/** The trained state of a persisted IVF-PQ index: the coarse-quantizer
  * centroids (cell router) and the per-subspace PQ codebooks. Persisted
  * next to the partitioned code files as a deterministic text artifact
  * (`Double.toString` round-trips exactly, so a load-save-load cycle is
  * bit-stable), sized k·dim + m·k·(dim/m) = 2·k·dim doubles — driver
  * state, like the collected centroids it wraps. */
final case class IvfPqModel(
    dim: Int,
    centroids: Seq[(Long, Array[Double])],
    codebooks: IndexedSeq[Seq[(Long, Array[Double])]],
    /** Mean squared reconstruction error |v − x̂|² over the TRAINING
      * corpus at build time — the index's quantization-quality
      * baseline, persisted in the model file. None on models persisted
      * before the baseline existed. */
    trainQuantErr: Option[Double] = None)

object IvfPqModel {
  private val FileName = "_ivfpq_model.txt"

  /** Lines: `dim N` | `qerr E` (optional — mean training quantization
    * error, [[IvfPqModel.trainQuantErr]])
    * | `cent <cid> v,…` | `book <mi> <cid> v,…` — underscore-prefixed
    * filename keeps it invisible to the parquet scanner reading the
    * surrounding index directory. IO goes through the Hadoop FS layer
    * (resolved from the ACTIVE session's configuration), so the model
    * lands on the same scheme as the index parquet it describes —
    * file:// in tests, hdfs://-or-s3a:// on a cluster — instead of
    * silently requiring a driver-local index path. */
  def save(model: IvfPqModel, indexPath: String,
      spark: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): Unit = {
    val sb = new StringBuilder
    sb.append("dim ").append(model.dim).append('\n')
    model.trainQuantErr.foreach(e => sb.append("qerr ").append(e).append('\n'))
    model.centroids.foreach { case (cid, v) =>
      sb.append("cent ").append(cid).append(' ')
        .append(v.map(_.toString).mkString(",")).append('\n')
    }
    model.codebooks.zipWithIndex.foreach { case (book, mi) =>
      book.foreach { case (cid, v) =>
        sb.append("book ").append(mi).append(' ').append(cid).append(' ')
          .append(v.map(_.toString).mkString(",")).append('\n')
      }
    }
    graft.store.Storage.writeTextFile(spark, s"$indexPath/$FileName",
      sb.toString)
  }

  def load(indexPath: String,
      spark: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): IvfPqModel = {
    val lines = graft.store.Storage.readTextFile(spark, s"$indexPath/$FileName")
      .split('\n').iterator.filter(_.nonEmpty)
    var dim = 0
    var qerr: Option[Double] = None
    val cents = Seq.newBuilder[(Long, Array[Double])]
    val books = scala.collection.mutable.SortedMap
      .empty[Int, scala.collection.mutable.Buffer[(Long, Array[Double])]]
    lines.foreach { line =>
      line.split(' ') match {
        case Array("dim", d) => dim = d.toInt
        case Array("qerr", e) => qerr = Some(e.toDouble)
        case Array("cent", cid, vs) =>
          cents += ((cid.toLong, vs.split(',').map(_.toDouble)))
        case Array("book", mi, cid, vs) =>
          books.getOrElseUpdate(mi.toInt, scala.collection.mutable.Buffer.empty) +=
            ((cid.toLong, vs.split(',').map(_.toDouble)))
        case other =>
          throw new IllegalArgumentException(
            s"malformed $FileName line: '$line'")
      }
    }
    require(dim > 0, s"$FileName has no dim line")
    IvfPqModel(dim, cents.result(),
      books.values.map(_.toSeq).toIndexedSeq, qerr)
  }
}
