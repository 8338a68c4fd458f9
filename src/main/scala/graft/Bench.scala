package graft

/** Benchmark main — driver contract: one JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}` over
  * `SPARK_GRAFT_SF_DIR`.
  *
  * Methodology: each headline query runs once untimed at the target SF
  * (warms JIT/codegen, parquet footer caches, and temp-view
  * registration — steady-state measurement, as a resident engine would
  * behave), then is timed with a `noop` sink (forces full
  * materialization of every row — `count()` would let Catalyst prune
  * the plan to a metadata count). Each query is timed REPS times
  * (default 3), reps interleaved round-robin across the suite, and the
  * MEDIAN is reported with [min, median, max] dispersion alongside: a
  * single contended window on a shared machine must not masquerade as a
  * 2× regression (round-2 post-mortem: driver recorded 35.6s, a clean
  * rerun measured 14.7s; round-4: back-to-back reps let the median
  * inherit a contended window).
  */
object Bench {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The timed set: the relational operator suite + the scalable
    * curation ops. The quadratic-oracle and pair-enumeration dedup
    * variants (dd_ngram, dd_simhash) are correctness queries, not
    * throughput headlines — excluded deliberately. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_multi_distinct",
    "q04_conditional_agg", "q05_join_agg", "q06_left_join",
    "q07_ordinal_having", "q08_string_agg", "q09_window_top1",
    "q10_distinct", "q11_topk", "q12_scalar_subquery",
    "q13_cte_retention", "q14_union", "q15_rollup", "q16_string_funcs",
    "q17_date_funcs", "q18_semi_anti", "q19_json_extract",
    "q20_window_running", "q21_asof_join", "q22_range_join", "q23_percentiles",
    "q24_cube", "q25_pivot", "q26_set_ops",
    "q27_grouping_sets", "q28_window_suite",
    "q29_correlated_subquery", "q30_set_ops_all",
    "dd_spans", "dd_span_decontaminate", "ss_ann_pq", "ss_ann_ivf_pq_pruned",
    "ss_ann_lsh_pruned", "dd_spans_idx_bucketed", "ta_bpe_train", "mm_features_img",
    "ta_bpe_encode", "ta_perplexity", "ta_perplexity_incremental",
    "ta_quality_clf", "dd_minhash_idx_bucketed",
    "ta_dup_fraction", "dd_minhash_incremental", "tx_canonicalize",
    "tp_trim_spans",
    "dd_exact", "dd_minhash", "dd_minhash_xx", "dd_spans_xx", "dd_phash",
    "dd_minhash_capped", "dd_phash_capped",
    "dd_phash_idx_bucketed", "dd_phash_debiased",
    "dd_phash_multiprobe", "dd_phash_multiprobe_idx", "dd_simhash_multiprobe",
    "mh_sig_md5", "mh_sig_xx", "ta_token_stats",
    "ta_langid", "ta_repetition", "tp_pack",
    "ss_topk_cosine", "ss_ann_lsh", "ss_ann_ivf_scaled", "ss_ann_ivf_pq_search",
    "ss_ann_serve_batch", "ss_ann_serve_batch_lsh",
    "cl_kmeans", "ta_tfidf", "ss_bm25", "ss_hybrid_rrf",
    "tp_shuffle", "tp_mixture", "op_merge_scd2",
    "ta_vocab", "op_zorder", "op_zorder3", "ds_cap_per_group", "ds_semantic_cap",
    "ft_normalize", "tp_chunk", "ds_weighted", "ds_token_budget",
    "ds_token_budget_incremental", "sk_heavy_hitters", "op_sessionize",
    "sk_heavy_hitters_incremental",
    // previously-unbenched gates cheap enough for the per-round driver
    // run (≤ ~3s each at sf0.1, measured round 13 — the heavy
    // composites live in `heavyHeadline` below). Excluded deliberately:
    // the quadratic pair-enumeration correctness fixtures
    // (dd_ngram_jaccard, dd_minhash_verified, dd_recall_minhash) and
    // the ss_recall_* recall fixtures — correctness queries, not
    // throughput headlines.
    "dd_spans_incremental", "dd_decontaminate", "dd_decontaminate_idx",
    "dd_embedding", "dd_embedding_incremental", "dd_embedding_idx_bucketed",
    "sk_heavy_hitters_idx", "sk_sketches", "sk_sketches_only", "cl_kmeans_native",
    "ta_quality", "ta_quality_clf_incremental", "ta_fingerprint",
    "ta_token_bpe", "ds_sample_stratified", "ds_split", "mm_features",
    "op_bloom_join", "op_salted_agg", "tx_redact",
    "ss_ann_ivf", "ss_ann_ivf_native", "ss_ann_ivf_pq", "ss_ann_lsh_multi",
    "ss_ann_pq_codes")

  /** The HEAVY previously-unbenched gates (round-12 verdict item 4):
    * the curation composites, the cluster/keep-best state family, and
    * the SimHash pair family — 7–75s EACH at sf0.1 (≈ 360s/rep for the
    * set), so sweeping them every driver run would multiply the
    * per-round bench wall clock several-fold. They join the suite when
    * SPARK_GRAFT_BENCH_HEAVY is set — the committed quiet artifact
    * (BENCH_local_r13+) carries their recorded Spark times; their
    * DuckDB oracles are TIMEOUT-capped or near the cap in DUCK_r*, so
    * the 2× denominator is a floor either way. */
  val heavyHeadline: Seq[String] = Seq(
    "tp_curate", "tp_curate_trim", "tp_curate_lm", "tp_curate_clf",
    "mm_curate", "mm_curate_capped", "tp_decontaminated",
    "dd_clusters", "dd_clusters_incremental",
    "dd_keep_best", "dd_keep_best_incremental",
    "dd_simhash", "dd_simhash_incremental", "dd_simhash_idx_bucketed",
    // the last previously-dark gates (round-13 verdict item 6): the
    // quadratic-oracle pair family (their DuckDB twins TIMEOUT — the 2×
    // denominator is the cap floor) and the one-row recall probes,
    // which run real search plans. With these, every driver gate has a
    // recorded Spark time in the committed quiet artifact.
    "dd_ngram_jaccard", "dd_minhash_verified", "dd_recall_minhash",
    "ss_recall_ivf", "ss_recall_ivf_p8", "ss_recall_lsh", "ss_recall_lsh_t8")

  /** FIXED isolated set (round-16 verdict item 5): the recurring weak
    * members (every gate the round-16 weak-set computation flagged —
    * >2× DuckDB and >1 s wall on the committed artifacts) plus the
    * heavy-context watchlist, DECLARED here and kept stable across
    * rounds, run back-to-back at a deterministic position — immediately
    * after warm-up, BEFORE the interleaved suite. Round 16's confound:
    * isolated blocks ran end-of-suite and the isolated SET was derived
    * per run (4 gates in r15, 31 in r16), so isolated-to-isolated
    * deltas across rounds mixed position effects with real movement.
    * With the set and position fixed, those deltas mean something.
    * Gates derived weak at run time that are NOT in this set still get
    * an end-of-suite isolated entry (artifact field `isolated_post`
    * names them) — but cross-round comparisons should use only the
    * fixed members. Growing this list is allowed (new recurring weak
    * members join it); reordering or repositioning it is not. */
  val isolatedSet: Seq[String] = Seq(
    "dd_embedding", "ds_token_budget_incremental", "mm_features_img",
    "op_merge_scd2", "q23_percentiles", "q24_cube", "q28_window_suite",
    "sk_heavy_hitters", "sk_heavy_hitters_incremental", "sk_sketches",
    "ss_ann_ivf_native", "ss_ann_lsh_multi", "ss_ann_pq", "ss_ann_pq_codes",
    "ss_recall_ivf", "ss_recall_ivf_p8", "ss_recall_lsh", "ss_recall_lsh_t8",
    "ta_bpe_encode", "ta_perplexity", "ta_quality_clf",
    "ta_quality_clf_incremental", "ta_tfidf",
    // heavy-context watchlist (round-15 spikes, round-16 reversals)
    "dd_minhash", "dd_minhash_verified", "dd_minhash_incremental",
    "ds_semantic_cap")

  /** Floor of the cross-SF scaling sweep: the historically-weak set
    * (round-9 VERDICT letter). The ACTUAL sweep set is DERIVED at run
    * time — this run's own medians joined against the latest committed
    * DUCK_r*.json baseline (>2× DuckDB and >1s ⇒ weak ⇒ swept) —
    * unioned with this floor, so every weak query always ships
    * cross-SF fixed-overhead evidence without hand-maintaining the
    * list (the round-12 defect: 7 weak queries had no committed
    * defense because this literal had gone stale). */
  val scalingDefense: Set[String] = Set(
    "q07_ordinal_having", "q23_percentiles", "q24_cube", "q28_window_suite",
    "ss_ann_pq", "dd_span_decontaminate", "dd_spans", "ta_dup_fraction",
    "tp_trim_spans", "ta_bpe_train", "ta_bpe_encode", "ta_perplexity",
    "ta_quality_clf", "ds_token_budget", "ds_token_budget_incremental")

  /** DuckDB per-query baseline from the newest committed DUCK_r<N>.json
    * in the working directory (override: SPARK_GRAFT_DUCK_JSON), for
    * deriving the weak set at run time. "TIMEOUT" entries map to the
    * artifact's cap_sec — a capped oracle can essentially never mark
    * the Spark side weak, which is the honest reading (the 2×
    * denominator is a floor, not a measurement). Minimal regex parse:
    * the artifact is one flat {"queries":{name: sec | "TIMEOUT"}}
    * object; the top-level scalar keys are dropped by name. */
  def duckBaseline(): Map[String, Double] = duckBaselineWithSf()._1

  /** [[duckBaseline]] plus the artifact's own "sf" field, so the caller
    * can refuse a baseline recorded at a different scale factor than
    * the bench run (deriving a weak set across SFs both over- and
    * under-sweeps). A missing/empty artifact warns on stderr instead of
    * silently collapsing the derived weak set to the static floor
    * (both round-13 ADVICE items). */
  def duckBaselineWithSf(): (Map[String, Double], Option[String]) = {
    import scala.jdk.CollectionConverters._
    val path = sys.env.get("SPARK_GRAFT_DUCK_JSON")
      .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.isReadable(_))
      .orElse {
        val re = raw"DUCK_r(\d+)\.json".r
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        try s.iterator.asScala.flatMap { p =>
          p.getFileName.toString match {
            case re(n) => Some((n.toInt, p))
            case _ => None
          }
        }.toSeq.sortBy(-_._1).headOption.map(_._2)
        finally s.close()
      }
    if (path.isEmpty)
      System.err.println("[bench] no DUCK_r*.json baseline found in the " +
        "working directory (and SPARK_GRAFT_DUCK_JSON unset) — the derived " +
        "weak set falls back to the static scalingDefense floor")
    path.map { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val cap = raw""""cap_sec"\s*:\s*([0-9.]+)""".r
        .findFirstMatchIn(text).map(_.group(1).toDouble).getOrElse(60.0)
      val sf = raw""""sf"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(text).map(_.group(1))
      val entry = raw""""([A-Za-z0-9_]+)"\s*:\s*([0-9.eE+-]+|"TIMEOUT")""".r
      val m = entry.findAllMatchIn(text).map { m =>
        m.group(1) -> (if (m.group(2) == "\"TIMEOUT\"") cap
                       else m.group(2).toDouble)
      }.toMap -- Seq("cap_sec", "total", "n_timeout",
        // non-query scalar keys of the round-17+ artifact shape
        // (median-of-reps + machine yardstick); the dispersion map's
        // array values never match the scalar-entry regex
        "reps", "sha256_st_mbs")
      if (m.isEmpty)
        System.err.println(s"[bench] duck baseline $p parsed to an EMPTY " +
          "query map — derived weak set will be the static floor only")
      (m, sf)
    }.getOrElse((Map.empty, None))
  }

  /** Bench-only variants, outside the driver correctness gate:
    * dd_minhash_xx is the xxhash64 fast-hash MinHash (no cross-engine
    * oracle exists for xxhash64 — DuckDB has no such function — so it is
    * spec-anchored instead, and benched here to track the md5-vs-fast
    * gap that dominates dedup cost at scan-bound scale). */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // signature-stage-only probes isolate the base-hash cost (end-to-end
    // dd_minhash is band-join dominated at small SF, which would hide it)
    def sigOnly(fast: Boolean): (SparkSession, String) => DataFrame = (s, dir) => {
      graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextFunctions.shinglesFromTokens(col("toks"), graft.operators.Dedup.DefaultShingleN).as("sh"))
        .select(col("doc_id"),
          graft.functions.NativeFunctions.minhash(col("sh"),
            graft.operators.Dedup.DefaultMinhashK, fast).as("sig"))
    }
    Map(
      "dd_minhash_xx" -> ((s, dir) =>
        graft.operators.Dedup.minhashPairs(
          graft.sources.Tables.documents(s, dir), "doc_id", "text", fast = true)
          .orderBy("doc_a", "doc_b")),
      // mm_curate at the PRODUCTION posture — hot-bucket cap ON at the
      // default 2048 (the gated mm_curate pins maxBucket=None for
      // oracle exactness, which walks the sf1 fixture's quadratic pair
      // density uncapped at 19.8×/decade). This row makes the guard's
      // bounded growth a committed sf1 artifact instead of SURVEY prose
      // (round-16 verdict item 2); the capped OUTPUT semantics are
      // gated by dd_phash_capped/dd_minhash_capped.
      "mm_curate_capped" -> ((s, dir) =>
        graft.operators.PerceptualHash.curateImages(
          graft.operators.Multimodal.syntheticImagesFromText(
            graft.sources.Tables.documents(s, dir)
              .filter(pmod(col("doc_id"), lit(3)) === 0),
            "doc_id", "text"))
          .select(col("media_id"), col("cluster_size"), col("pixels"))
          .orderBy("media_id")),
      // the span family's production mode (xxhash64 shingle keys — no
      // DuckDB twin exists, spec-anchored): benched to track how much
      // of dd_spans' >2x-DuckDB residual is the md5 verifiability term
      // (the rest is decomposed in Dedup.sharedSpans' residual-cost note)
      "dd_spans_xx" -> ((s, dir) =>
        graft.operators.Dedup.sharedSpans(
          graft.sources.Tables.documents(s, dir), "doc_id", "text", fast = true)
          .orderBy("doc_a", "doc_b")),
      "mh_sig_md5" -> sigOnly(fast = false),
      "mh_sig_xx" -> sigOnly(fast = true),
      // the PRODUCTION cost of sk_sketches: the constant-memory sketch
      // aggregation alone (HLL++ + one KLL summary per group). The
      // gated twin couples it to an exact-percentile VERIFIER whose
      // cost is the harness, not the operator — this row records what
      // a user actually pays (round-13 verdict item 4)
      "sk_sketches_only" -> ((s, dir) =>
        graft.sources.Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
            percentile_approx(col("value"), array(lit(0.5), lit(0.99)),
              lit(1000)).as("pap"))
          .orderBy("event_type")),
      // the persisted-index SEARCH in isolation: the gated
      // ss_ann_ivf_pq_pruned rebuilds its index every execution (the
      // correctness surface must be self-contained), but production
      // builds once and searches many — this twin memoizes the built
      // index per sfDir (the warm-up pass pays the build) and times the
      // partition-pruned search alone
      "ss_ann_ivf_pq_search" -> ((s, dir) => {
        import graft.operators.ProductQuantization
        val emb = graft.sources.Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (idx, model) = ivfPqIndexCache.getOrElseUpdate(dir, {
          val p = java.nio.file.Files
            .createTempDirectory("graft-bench-ivfpq").toString
          val m = ProductQuantization.buildIvfPqIndex(
            corpus, "vec_id", "embedding", p, dim = 64,
            nCells = 16, coarseIters = 2, m = 8, k = 16, iters = 1)
          (p, m)
        })
        ProductQuantization.ivfPqTopKFromIndex(
          idx, corpus, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          nProbe = 4, rerank = 100, topK = 10, model = Some(model))
      }),
      // SERVING amortization: 8 queries answered in ONE batched pass
      // over the memoized index (ivfPqTopKBatchFromIndex — union-of-
      // probes PartitionFilter, shared scan, per-query TopK reduction).
      // Compare per-query cost against ss_ann_ivf_pq_search's
      // one-query-one-plan time: the batch pays the probe routing and
      // pruned scan once for every query that shares a cell.
      "ss_ann_serve_batch" -> ((s, dir) => {
        import graft.operators.ProductQuantization
        val emb = graft.sources.Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") >= 8)
        val (idx, model) = ivfPqIndexCache.getOrElseUpdate(dir + "#serve", {
          val p = java.nio.file.Files
            .createTempDirectory("graft-bench-serve").toString
          val m = ProductQuantization.buildIvfPqIndex(
            corpus, "vec_id", "embedding", p, dim = 64,
            nCells = 16, coarseIters = 2, m = 8, k = 16, iters = 1)
          (p, m)
        })
        ProductQuantization.ivfPqTopKBatchFromIndex(
          idx, corpus, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec",
          nProbe = 4, rerank = 100, topK = 10, model = Some(model))
      }),
      // the LSH serving twin of ss_ann_serve_batch: 8 queries in one
      // batched pass over the memoized hyperplane bucket index
      // (lshTopKBatchFromIndex — union-of-multiprobes PartitionFilter,
      // shared pruned scan, per-query TopK reduction)
      "ss_ann_serve_batch_lsh" -> ((s, dir) => {
        import graft.operators.SimilaritySearch
        val emb = graft.sources.Tables.embeddings(s, dir)
        val idx = lshIndexCache.getOrElseUpdate(dir, {
          val p = java.nio.file.Files
            .createTempDirectory("graft-bench-lsh-serve").toString
          SimilaritySearch.buildLshBucketIndex(
            emb.filter(col("vec_id") >= 8), "vec_id", "embedding", p,
            dim = 64, nBits = 8)
          p
        })
        SimilaritySearch.lshTopKBatchFromIndex(
          s, idx,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", dim = 64, nBits = 8, k = 10)
      }),
      // IVF with centroids scaled to the corpus (the production posture;
      // the gated ss_ann_ivf fixes nCentroids=16 for its cross-engine
      // oracle, which over-fills cells at larger SF)
      "ss_ann_ivf_scaled" -> ((s, dir) => {
        import graft.operators.SimilaritySearch
        val emb = graft.sources.Tables.embeddings(s, dir)
        // corpus size is bench METADATA, not part of the measured query —
        // computed once per sfDir (the warm-up pass pays it) so the timed
        // reps don't carry an untimed-constructor count job
        val n = corpusCount.getOrElseUpdate(dir, emb.count())
        SimilaritySearch.ivfNeighbors(emb, "vec_id", "embedding", dim = 64,
          nCentroids = SimilaritySearch.nCentroidsFor(n),
          nProbe = 2, k = 3)
      }))
  }

  /** A gate by name: the driver's `SparkEntry.queries` first, then
    * [[benchOnly]]. */
  def gate(name: String): Option[(SparkSession, String) => DataFrame] =
    SparkEntry.queries.get(name).orElse(benchOnly.get(name))

  private val corpusCount = scala.collection.mutable.Map.empty[String, Long]
  private val ivfPqIndexCache =
    scala.collection.mutable.Map.empty[String, (String, graft.operators.IvfPqModel)]
  private val lshIndexCache = scala.collection.mutable.Map.empty[String, String]

  /** Untimed retrieval-quality metadata appended to the bench line: the
    * parity oracle proves the approximate operators compute what they
    * claim; these recall numbers measure whether what they claim is a
    * good approximation — the second gate a production ANN/dedup
    * carries. Measured at the PRODUCTION posture (corpus-scaled
    * nBits/nCentroids, recall amplification on), not the oracle-gated
    * fixture knobs, against exact ground truth over a deterministic
    * ≤512-query sample (see Recall's scale notes: queries are sampled,
    * the corpus never is). dd_minhash is pair-level recall vs exact
    * n-gram Jaccard at the 0.8 near-duplicate bar — the regime the
    * k=64/bands=16 S-curve is tuned to catch.
    *
    * Posture (chosen by RecallProbe's sweep; floors asserted in
    * RecallSpec): the sf0.1 corpus is near-uniform random (true top-1
    * cosine ≈ 0.41 median — no similarity structure to exploit), the
    * worst case for any ANN index, so the measured numbers are a LOWER
    * bound on real-corpus behavior. 8 LSH tables reach 0.90 there
    * (4 reach 0.67); IVF needs nProbe=8 of ~16 cells plus the 2-round
    * Lloyd-refined quantizer for 0.81 (0.76 unrefined, the standard IVF
    * degradation on unclustered data; on the clustered smaller fixtures
    * both sit at ≥ 0.97). Random-guess recall@3 at n=2000 is 0.0015. */
  def measureRecall(spark: SparkSession, dir: String, k: Int = 3): Seq[(String, Double)] = {
    import graft.operators.{Dedup, Recall, SimilaritySearch}
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val n = corpusCount.getOrElseUpdate(dir, emb.count())
    val every = math.max(1L, n / 512)
    val truth = Recall
      .bruteForceNeighbors(emb, "vec_id", "embedding", k, every)
      .cache()
    val nBits = SimilaritySearch.nBitsFor(n)
    val nCents = SimilaritySearch.nCentroidsFor(n)
    def lsh(nTables: Int) = SimilaritySearch.lshNeighbors(
      emb, "vec_id", "embedding", dim = 64, nBits = nBits, k = k, nTables = nTables)
    val ivf = SimilaritySearch.ivfNeighbors(
      emb, "vec_id", "embedding", dim = 64, nCentroids = nCents,
      nProbe = math.min(8, nCents), k = k, refineIters = 2)
    val exactPairs = Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", threshold = 0.8,
      maxDocFreq = None, maxDocFreqFraction = None)
    val mhPairs = Dedup.minhashPairs(docs, "doc_id", "text", fast = true)
    // PQ recall@10 averaged over 16 deterministically-sampled queries
    // (a single query is ±0.3 noisy across random corpora): codebooks
    // train ONCE, each query searches the stored codes, truth is exact
    // top-10 excluding the query itself
    import org.apache.spark.sql.functions.{col => c}
    import graft.operators.ProductQuantization
    val books = ProductQuantization.trainCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 8, k = 16, iters = 1)
    val enc = ProductQuantization.encode(emb, "vec_id", "embedding", books, 64).cache()
    // query ids are sampled from the ACTUAL id column (ids need not be
    // contiguous or 0-based): every ~n/16-th id by value, falling back
    // to the 16 lowest ids if the stride misses (sparse id space)
    import org.apache.spark.sql.functions.{pmod, lit}
    val step = math.max(1L, n / 16)
    val strided = emb.select(c("vec_id").cast("long").as("vid"))
      .filter(pmod(c("vid"), lit(step)) === 0)
      .orderBy("vid").limit(16).collect().map(_.getLong(0)).toSeq
    val qids =
      if (strided.size >= 4) strided
      else emb.select(c("vec_id").cast("long").as("vid"))
        .orderBy("vid").limit(16).collect().map(_.getLong(0)).toSeq
    val pqRecalls = qids.map { qid =>
      val query = emb.filter(c("vec_id") === qid).select(c("embedding").as("qvec"))
      // the query vector is excluded from the SEARCH corpus (codes and
      // re-rank side both), so got is a true top-10 — the previous
      // top-11-then-drop-self variant silently discarded a genuine 11th
      // hit whenever the query was not its own nearest code
      val got = ProductQuantization.pqTopKFromCodes(
        enc.filter(c("vec_id") =!= qid), emb.filter(c("vec_id") =!= qid),
        "vec_id", "embedding", query, books,
        rerank = ProductQuantization.rerankFor(n), topK = 10)
        .collect().map(_.getLong(0)).toSet
      val tru = SimilaritySearch.bruteForceTopK(
        emb.filter(c("vec_id") =!= qid), "vec_id", "embedding", query, 10)
        .collect().map(_.getLong(0)).toSet
      (got & tru).size.toDouble / math.max(1, tru.size)
    }
    enc.unpersist()
    // pHash pair recall vs the UNCAPPED truth: the capped fine cut
    // (9×7 — the 1,152-bucket-ceiling posture the round-12 verdict
    // flagged) against the capped corpus-scaled multiprobe plan
    // (BandIndex.planFor) — the evidence that the planned posture retains
    // recall where the fine cut's fixed keyspace would shed it under
    // the guard cap. Truth = the lossless walk with the cap off.
    import graft.operators.{BandIndex, Multimodal, PerceptualHash}
    val media = Multimodal.syntheticImagesFromText(
      docs.filter(pmod(c("doc_id"), lit(3)) === 0), "doc_id", "text")
    val phTruth = PerceptualHash.phashPairs(media, maxBucket = None)
      .select(c("doc_a"), c("doc_b")).cache()
    val phFine = PerceptualHash.phashPairs(media)
    val phPlanned = PerceptualHash.phashPairsAuto(media)
    val phMp = PerceptualHash.phashPairs(
      media, BandIndex.BandPlan(PerceptualHash.PhashBits, 7, 1))
    val out = Seq(
      "ss_ann_lsh_t1" -> Recall.recallAtK(lsh(1), truth),
      "ss_ann_lsh_t8" -> Recall.recallAtK(lsh(8), truth),
      "ss_ann_ivf_p8" -> Recall.recallAtK(ivf, truth),
      "ss_ann_pq"     -> pqRecalls.sum / math.max(1, pqRecalls.size),
      "dd_minhash"    -> Recall.pairRecall(mhPairs, exactPairs),
      "dd_phash_capped"    -> Recall.pairRecall(phFine, phTruth),
      "dd_phash_planned"   -> Recall.pairRecall(phPlanned, phTruth),
      "dd_phash_multiprobe" -> Recall.pairRecall(phMp, phTruth))
    truth.unpersist()
    phTruth.unpersist()
    out
  }

  /** Deterministic CPU microbenchmark — the machine-speed yardstick the
    * artifact needs to separate code regressions from host drift
    * (round-15 verdict item 3: suite medians crept 1.26× on unchanged
    * plans, and DuckDB — code-identical across rounds — crept 1.16×
    * median on the same artifacts, so the drift is the shared host, not
    * the engine). SHA-256 over a fixed 1 MiB buffer, ~300 ms measured
    * window after a warmup: returns (single-thread MB/s, all-thread
    * aggregate MB/s). Fixed instruction mix, no allocation in the loop —
    * rounds compare machine_st/machine_mt before comparing medians. */
  private def cpuYardstick(threadsReq: Int): (Double, Double, Int) = {
    // clamp to the REAL core count: SPARK_GRAFT_CPUS sizes the Spark
    // local[n] pool, and when it overstates the machine the unclamped
    // pool would measure oversubscription, not aggregate throughput —
    // breaking the yardstick's cross-host comparability (round-16
    // ADVICE). Both the requested and used counts land in the artifact.
    val threads =
      math.max(1, math.min(threadsReq, Runtime.getRuntime.availableProcessors))
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    def mbPerSec(): Double = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var n = 0L
      md.digest(buf) // warm
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300e6.toLong) { md.digest(buf); n += 1 }
      n * 1.0 / ((System.nanoTime() - t0) / 1e9) // MiB/s (1 MiB per digest)
    }
    val st = mbPerSec()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val futs = (1 to threads).map(_ =>
      pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = mbPerSec()
      }))
    val mt = futs.map(_.get()).sum
    pool.shutdown()
    (st, mt, threads)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.local("graft-bench", cpus)
    // Silence the known-benign AQE/accumulator-GC race ("Failed to
    // update accumulator … attempted to access non-existent
    // accumulator", an ERROR-level DAGScheduler stack): it consumed the
    // driver's whole stderr tail capture in round 14, hiding real
    // signal. Real bench failures surface as exceptions in the JSON
    // `failures` field, never via DAGScheduler logs, so FATAL is safe
    // here (bench process only — nothing library-visible changes).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.FATAL)
    // Two more known-benign WARN floods that drowned the round-15
    // driver tail (same rationale — real failures surface in the JSON
    // `failures` field, never via these loggers):
    //  - WindowExec "No Partition Defined" — the DELIBERATE tiny
    //    single-partition windows (token-budget base offsets, boundary
    //    ranks over ≤32 rows), each individually documented at its site
    //  - BlockManager "Block ... already exists" — the benign re-add
    //    race when interleaved reps re-pin the same localCheckpoint
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.storage.BlockManager",
      org.apache.logging.log4j.Level.ERROR)
    // Third benign flood, surfaced once the two above were silenced
    // (round-16 verdict item 8): AccumulatorContext "Attempted to access
    // garbage collected accumulator" — the heartbeat reporting metrics
    // for stages whose accumulators the ContextCleaner already
    // reclaimed, routine across a 100+-query suite in one JVM. Same
    // rationale: real failures surface in the JSON `failures` field.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.util.AccumulatorContext",
      org.apache.logging.log4j.Level.ERROR)

    def exec(name: String, dir: String): Unit =
      gate(name).getOrElse(sys.error(s"unknown gate: $name"))(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // Per-query failure REASONS land in the JSON artifact: a -1.0 says a
    // query failed, the exception class+message says why — the artifact
    // must be self-diagnosing (round-7 post-mortem: 11 bare -1.0s cost a
    // session of root-causing that one recorded message would have
    // answered). The LAST failure reason per query is kept for the
    // emit-time filter: a query whose recorded value is -1.0 (any rep
    // failed) keeps its reason even if a later rep succeeded —
    // an intermittent failure must not erase its own diagnosis.
    val failures = scala.collection.mutable.Map.empty[String, String]
    def reasonOf(e: Throwable): String =
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
    // local-iteration subset: SPARK_GRAFT_BENCH_ONLY=a,b,c times just
    // those headline queries (the driver never sets it — full suite)
    val onlySet = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSet)
    // heavy gates join under the env flag, and are always addressable
    // through an explicit SPARK_GRAFT_BENCH_ONLY selection
    val suite =
      if (sys.env.contains("SPARK_GRAFT_BENCH_HEAVY") || onlySet.isDefined)
        headline ++ heavyHeadline
      else headline
    val names = suite.filter(n => gate(n).isDefined && onlySet.forall(_.contains(n)))
    names.foreach { n =>
      try exec(n, sfDir)
      catch { case e: Throwable =>
        failures(n) = reasonOf(e)
        System.err.println(s"[bench] warm-up $n failed: ${e.getMessage}")
      }
    }
    // Per-query JVM health rides along with every timed rep (round-15
    // verdict item 3 — the interleaved-drift attribution): GC time spent
    // INSIDE the rep, heap used after it, and Janino compilations inside
    // it. A query whose median creeps while its gc_ms share grows is
    // machine/GC fatigue; one whose codegen count is nonzero on every
    // rep is re-compiling a plan that should be cached.
    def gcMsNow(): Long = {
      var s = 0L
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    def heapMbNow(): Long =
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed >> 20
    def codegenCount(): Long =
      try org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      catch { case _: Throwable => -1L }
    // name -> (gc_ms inside rep, heap MB after, codegen compiles inside)
    val jvmSamples =
      scala.collection.mutable.Map.empty[String, Vector[(Long, Long, Long)]]
    // A failed query records -1, never its elapsed-time-to-failure — a
    // fast crash must not masquerade as a fast success in the JSON line.
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val gc0 = gcMsNow(); val cg0 = codegenCount()
      try {
        exec(name, sfDir)
        val dt = (System.nanoTime() - t0) / 1e9
        jvmSamples(name) = jvmSamples.getOrElse(name, Vector.empty) :+
          ((gcMsNow() - gc0, heapMbNow(),
            if (cg0 < 0) -1L else codegenCount() - cg0))
        dt
      }
      catch { case e: Throwable =>
        failures(name) = reasonOf(e)
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      }
    }
    // Reps are interleaved ROUND-ROBIN across the whole suite (rep 1 of
    // every query, then rep 2, …) rather than back-to-back per query: a
    // FIXED isolated block FIRST (round-16 verdict item 5): the declared
    // recurring-weak set runs back-to-back reps at this deterministic
    // pre-suite position every round, so isolated-to-isolated deltas
    // across rounds compare like positions (the r15→r16 confound: the
    // isolated set was derived per run AND ran end-of-suite, so its
    // size/position moved between rounds). Running it here also means
    // these gates' interleaved medians below get a few extra warm
    // executions — a constant of the methodology from this round on.
    val fixedIso = isolatedSet.filter(names.contains)
    val isolatedPre = fixedIso.map { name =>
      val ts = Vector.fill(math.max(1, reps))(timeOnce(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2))
    }
    // contended window on a shared machine then skews at most one rep of
    // each query instead of ALL reps of whichever queries it covers —
    // back-to-back reps let the median inherit the contention (round-4
    // post-mortem: dd_minhash recorded 2.95s contended, 1.55s idle).
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 1 to math.max(1, reps); name <- names)
      samples(name) = samples.getOrElse(name, Vector.empty) :+ timeOnce(name)
    val results = names.map { name =>
      val ts = samples(name)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2))
    }
    // stdout medians at 3 decimals: the driver's tail capture has
    // truncated every full-precision (~6 KB) line since round 5 — the
    // COMPACT stdout line carries totals + medians only (~1.6 KB) and
    // the full-precision dispersion/failures/recall live in
    // bench_out.json (self-contained file artifact, committed per round)
    def sec3(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    // dispersion [min, median, max] makes a contended window visible in
    // the artifact itself: a wide max/min spread flags the recorded
    // median as suspect instead of masquerading as a regression
    val disp = names.map { name =>
      val ts = samples(name).sorted
      "\"" + name + "\":[" + ts.head + "," + ts(ts.size / 2) + "," + ts.last + "]"
    }.mkString("{", ",", "}")
    // failures poison the headline total too (a negative total is an
    // unmissable signal), rather than shrinking it
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    // retrieval quality rides along UNTIMED (recall is a property of the
    // knobs, not of this machine's load); a failure records an empty
    // object rather than poisoning the throughput line
    val recall =
      if (sys.env.contains("SPARK_GRAFT_SKIP_RECALL")) "{}"
      else try measureRecall(spark, sfDir)
        // Locale.ROOT, not the f interpolator: a comma-decimal default
        // locale would render 0,9000 and corrupt the JSON line
        .map { case (k, v) =>
          "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)) }
        .mkString("{", ",", "}")
      catch { case e: Throwable =>
        System.err.println(s"[bench] recall measurement failed: ${e.getMessage}")
        "{}"
      }
    // only queries whose RECORDED value is a failure carry a reason: a
    // warm-up hiccup followed by three clean reps is not a failure, but
    // one failed rep among three (value -1.0) keeps its diagnosis
    val failed = results.filter(_._2 < 0).map(_._1).toSet
    val fails = failures.toSeq.filter(kv => failed(kv._1)).sortBy(_._1)
      .map { case (k, v) => Verify.jsonString(k) + ":" + Verify.jsonString(v) }
      .mkString("{", ",", "}")
    // the bench-only twins (no cross-engine oracle exists — xxhash64 has
    // no DuckDB equivalent; ss_ann_ivf_scaled runs the production
    // posture the fixed-knob oracle can't) are FLAGGED so an artifact
    // parser never counts them as oracle-gated queries
    val benchOnlyList = names.filter(benchOnly.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-SF scaling evidence: queries are also timed (median of
    // `reps`, round-robin) at a second scale factor and the file
    // artifact records [alt, main, main/alt] per query — making the
    // "fixed per-job overhead, not scaling" defense of small-SF ratios
    // adjudicable from the artifact itself. A query whose time grows
    // ~1× across a 10× SF step is overhead-bound; ~10× is scan-bound.
    // With SPARK_GRAFT_SCALING_DIR set, EVERY headline query is swept
    // (the full local-artifact posture); without it, the sweep defaults
    // to the sibling sf0.01 fixture over the DERIVED weak set — this
    // run's own medians joined against the newest committed DUCK_r*.json
    // (>2× DuckDB and >1s), unioned with the `scalingDefense` floor —
    // so the committed artifact always carries the evidence for exactly
    // the queries the per-query 2× letter would grade weak, at a
    // bounded wall-clock cost.
    val envScalingDir = sys.env.get("SPARK_GRAFT_SCALING_DIR")
    val (duck0, duckSf) = try duckBaselineWithSf() catch { case e: Throwable =>
      System.err.println(s"[bench] duck baseline parse failed: ${e.getMessage}")
      (Map.empty[String, Double], None)
    }
    // refuse a baseline recorded at a DIFFERENT scale factor than this
    // run — deriving the weak set across SFs both over- and
    // under-sweeps (round-13 ADVICE)
    // compare the REAL paths when both resolve, else fall back to the
    // trailing sf component: toAbsolutePath resolves relative spellings
    // against the CURRENT working directory, so a bench invoked with a
    // relative sfDir from a different CWD than the recorder would
    // silently discard a valid baseline (round-14 ADVICE)
    def realOf(s: String): Option[String] =
      try Some(java.nio.file.Paths.get(s).toRealPath().toString)
      catch { case _: Throwable => None }
    def baseOf(s: String): String =
      Option(java.nio.file.Paths.get(s).getFileName).map(_.toString).getOrElse(s)
    def normAbs(s: String): String =
      java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString
    def sameSf(a: String, b: String): Boolean = (realOf(a), realOf(b)) match {
      case (Some(x), Some(y)) => x == y
      // one side unresolvable (e.g. recorded dir deleted): require the
      // normalized absolute paths to agree, not just the trailing sf name
      // — two corpora named .../a/sf0.1 and .../b/sf0.1 are NOT the same
      // scale factor (round-15 ADVICE)
      case _ => normAbs(a) == normAbs(b)
    }
    val duck = duckSf match {
      case Some(s) if !sameSf(s, sfDir) =>
        System.err.println(s"[bench] duck baseline sf '$s' " +
          s"(real ${realOf(s)}, base ${baseOf(s)}) != bench sf '$sfDir' " +
          s"(real ${realOf(sfDir)}, base ${baseOf(sfDir)}) — ignoring the " +
          "baseline for weak-set derivation")
        Map.empty[String, Double]
      case _ => duck0
    }
    val derivedWeak = results.collect {
      case (n, v) if v > 1.0 && duck.get(n).exists(d => v > 2.0 * d) => n
    }.toSet
    // ISOLATED medians for the weak set (round-13 verdict item 3): the
    // round-robin interleave protects each query's median from a
    // transient contended window, but as the suite grows the per-rep
    // GC/JIT churn between a query's reps inflates EVERY median a
    // little (measured ~1.19× suite-wide round 12 → 13 on unchanged
    // code, pushing 15 queries over the >1s/>2× weak bars spuriously).
    // Queries whose interleaved median crosses those bars get `reps`
    // additional BACK-TO-BACK reps, recorded alongside — so the
    // committed artifact carries both postures and round-over-round
    // grading is unconfounded.
    // NOTE on isolated-median fidelity (round 15): fresh-JVM spot-checks
    // of the same queries measure ~1.3-2× lower than these end-of-suite
    // back-to-back reps (JVM fatigue after 100+ interleaved queries).
    // A System.gc()+settle before each block was tried and made medians
    // WORSE (the collection repays object warmup inside the timed reps),
    // so the methodology stays identical to round 14 — round-over-round
    // comparisons are like-for-like, and fresh-JVM numbers are recorded
    // separately where a gate's letter turns on them.
    // SPARK_GRAFT_ISOLATE names extra gates to isolate beyond the
    // derived weak set (round-15 verdict item 4: heavy-context gates
    // whose interleaved time crossed the previous round's number need an
    // isolated entry in the artifact so regression-vs-context is
    // adjudicable); unknown names are ignored
    val forcedIsolate = sys.env.get("SPARK_GRAFT_ISOLATE")
      .map(_.split(',').toSet).getOrElse(Set.empty)
      .filter(gate(_).isDefined)
    // end-of-suite isolation ONLY for run-time-derived weak gates not
    // already covered by the fixed pre-suite block; their position is
    // confounded by construction, so the artifact names them separately
    // (isolated_post) and cross-round grading should ignore them until
    // they join the fixed set
    val postNames =
      ((derivedWeak ++ forcedIsolate) -- fixedIso.toSet).toSeq.sorted
    val isolatedPost = postNames.map { name =>
      val ts = Vector.fill(math.max(1, reps))(timeOnce(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2))
    }
    val isolatedJson = (isolatedPre ++ isolatedPost)
      .map { case (k, v) => "\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    val isolatedFixedJson =
      fixedIso.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isolatedPostJson =
      postNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val autoScalingDir =
      if (envScalingDir.isDefined) None
      else {
        val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
        Option(p.getParent).map(_.resolve("sf0.01"))
          .filter(s => java.nio.file.Files.isDirectory(s) &&
            s.toString != p.toString)
          .map(_.toString)
      }
    val scalingNames =
      if (envScalingDir.isDefined) names
      else names.filter(n => derivedWeak(n) || scalingDefense(n))
    val scalingJson = envScalingDir.orElse(autoScalingDir)
      .filter(_ => scalingNames.nonEmpty).map { altDir =>
      scalingNames.foreach { n =>
        try exec(n, altDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] scaling warm-up $n failed: ${e.getMessage}")
        }
      }
      val alt = scala.collection.mutable.Map.empty[String, Vector[Double]]
      def timeAlt(name: String): Double = {
        val t0 = System.nanoTime()
        try { exec(name, altDir); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      for (_ <- 1 to math.max(1, reps); name <- scalingNames)
        alt(name) = alt.getOrElse(name, Vector.empty) :+ timeAlt(name)
      val mainByName = results.toMap
      val entries = scalingNames.map { name =>
        val ts = alt(name)
        val m = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2)
        val main = mainByName(name)
        val ratio = if (m > 0 && main > 0) main / m else -1.0
        "\"" + name + "\":[" + sec3(m) + "," + sec3(main) + "," + sec3(ratio) + "]"
      }.mkString("{", ",", "}")
      s""","scaling":{"alt_sf":${Verify.jsonString(altDir)},"main_sf":${Verify.jsonString(sfDir)},"queries":$entries}"""
    }.getOrElse("")
    // MINIMAL stdout line — the ONLY stdout output. The driver
    // tail-captures stdout and has truncated every per-query line that
    // outgrew ~2.3 KB (rounds 5, 7, 10 — at 81 queries the compact line
    // hit 2.6 KB and came back parsed:null). The stdout line keeps the
    // contract's "queries" key but bounds it to the FIXED relational
    // headline set (q01..q30 — ~0.7 KB, does not grow as training-data
    // gates are added); per-query medians for EVERY gate plus
    // dispersion, failures, recall, and scaling live in bench_out.json
    // (self-contained, committed per round). Full line → stderr.
    // Explicit relational-name set (q01..q30 shape), not startsWith("q"):
    // a future training-data gate named "quality_*" must not leak in and
    // regrow the line past the driver's capture window.
    //
    // Round 18 (scaling-evidence gap, round-17 verdict item 2): the
    // stdout map ADDITIONALLY carries the declared data-bound gates
    // below, so the driver's two-core-count probe observes queries
    // whose wall actually moves with the core count — the q* set is
    // all sub-second and floor-bound at sf0.1, which is why every r17
    // ratio sat at ≈1 and the probe flagged `suspect_cpus_ignored`.
    // Measured at sf0.1 (this round, 8 vs 32 cores): the codec/decode
    // gates run 1.6-1.8× FASTER at 8 cores (dd_phash 0.44 vs 0.69,
    // dd_phash_debiased 0.92 vs 1.62, mm_features_img 0.37 vs 0.63) —
    // at this scale per-task scheduling overhead dominates and more
    // cores mean more overhead, so ratios far BELOW 1 are the honest
    // small-scale signature of a cpus-sensitive gate. Core-ratio ≈
    // core-count needs data-bound scale: the committed sf1 c8-vs-c32
    // sweep (BENCH_local_r18_sf1_c*) carries that evidence. ~14 names
    // ≈ +0.35 KB on the stdout line — still well inside the driver's
    // ~2.3 KB capture window.
    val scalingVisible: Set[String] = Set(
      "dd_phash", "dd_phash_debiased", "mm_features_img",
      "dd_minhash", "dd_minhash_xx", "dd_spans", "dd_spans_xx",
      "ta_dup_fraction", "tp_trim_spans", "mh_sig_md5", "mh_sig_xx",
      "dd_simhash_multiprobe", "ta_tfidf", "ta_bpe_encode")
    val qsBounded = results
      .filter(kv => kv._1.matches("^q\\d\\d_.*") || scalingVisible(kv._1))
      .map { case (k, v) => "\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsBounded,"n_queries":${names.size},"reps":$reps,"queries_full":"bench_out.json","sf":"$sfDir"}"""
    // the FULL artifact — dispersion, failure reasons, recall, scaling —
    // goes ONLY to the self-contained file copy, committed per round.
    // Deliberately NOT echoed to stderr: the driver merges streams in its
    // tail capture, and a ~3 KB stderr echo printed after the minimal
    // stdout line pushed that line out of the window in round 11
    // (BENCH_r11.json parsed:null, 5th recurrence).
    // per-query JVM health: [gc_ms_median, heap_mb_max, codegen_median]
    // across this run's timed reps (interleaved + isolated) — the
    // drift-attribution evidence (round-15 verdict item 3)
    val jvmJson = names.filter(jvmSamples.contains).map { name =>
      val v = jvmSamples(name)
      val gcMed = v.map(_._1).sorted.apply(v.size / 2)
      val heapMax = v.map(_._2).max
      val cgMed = v.map(_._3).sorted.apply(v.size / 2)
      "\"" + name + s"""":[$gcMed,$heapMax,$cgMed]"""
    }.mkString("{", ",", "}")
    // machine yardstick LAST (after the suite) so it cannot perturb the
    // timed reps; both are comparable round-over-round
    val (machSt, machMt, machThreads) =
      try cpuYardstick(cpus) catch { case _: Throwable => (-1.0, -1.0, 0) }
    val machJson = String.format(java.util.Locale.ROOT,
      """{"sha256_st_mbs":%.1f,"sha256_mt_mbs":%.1f,"threads":%d,"threads_req":%s,"cores":%d}""",
      Double.box(machSt), Double.box(machMt), Int.box(machThreads), Int.box(cpus),
      Int.box(Runtime.getRuntime.availableProcessors))
    // Gates whose STANDING-STATE build is memoized per (session, dir)
    // and therefore excluded from the timed reps (round-17 verdict item
    // 8 — name them in the artifact so the reader doesn't need the
    // source): the persisted-index family (the production posture is
    // build-once/search-many; the first warm-up execution pays the
    // build) plus ds_token_budget_incremental's frozen prior-fill
    // totals and the bench-only serve twins' memoized index builds.
    // Corpus-count METADATA (nBitsFor/nCentroidsFor/stride posture
    // knobs) is also memoized per (session, dir) for the ss_recall_*/
    // ss_ann_ivf_scaled gates — counts, not state; listed separately.
    val memoizedJson = Seq(
      "dd_spans_idx_bucketed", "dd_decontaminate_idx",
      "dd_minhash_idx_bucketed", "dd_simhash_idx_bucketed",
      "dd_phash_idx_bucketed", "dd_embedding_idx_bucketed",
      "ss_ann_lsh_pruned", "ss_ann_ivf_pq_pruned",
      "sk_heavy_hitters_incremental", "sk_heavy_hitters_idx",
      "ds_token_budget_incremental",
      "ss_ann_ivf_pq_search", "ss_ann_serve_batch", "ss_ann_serve_batch_lsh")
      .filter(n => names.contains(n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val memoizedCountsJson = Seq(
      "ss_recall_lsh", "ss_recall_lsh_t8", "ss_recall_ivf",
      "ss_recall_ivf_p8", "ss_ann_ivf_scaled")
      .filter(n => names.contains(n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"bench_only":$benchOnlyList,"dispersion":$disp,"failures":$fails,"isolated":$isolatedJson,"isolated_fixed":$isolatedFixedJson,"isolated_post":$isolatedPostJson,"isolated_position":"fixed set pre-suite after warm-up; isolated_post end-of-suite","memoized":$memoizedJson,"memoized_counts":$memoizedCountsJson,"jvm":$jvmJson,"machine":$machJson,"recall":$recall$scalingJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    spark.stop()
    // The minimal stdout line is the LAST thing written to either stream
    // so the driver's merged tail capture always ends with it intact.
    println(line)
    System.out.flush()
  }
}
