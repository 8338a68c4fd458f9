package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Curation and sampling gates over `documents`: the end-to-end curate
  * pipelines, span trimming, key-stable splits, samples, caps, shuffles,
  * mixtures, token budgets, chunking and packing. */
object CurationQueries {
  import Gate.Q
  import Shared._

  /** tp_trim_spans — span TRIMMING, the remediation half of substring
    * dedup (Dedup.trimSharedSpans): each shared span's min-id document
    * is canonical; the max-id side's occurrence is cut, removal
    * intervals merged per doc, text rebuilt from the uncovered token
    * positions. Oracle: same pipeline closed-form with nested-lambda
    * list surgery in DuckDB. */
  val tpTrimSpans: Q = (s, dir) =>
    Dedup.trimSharedSpans(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val tpTrimSpansOracle: String =
    s"""WITH $spanPipelineCtes,
       |rem AS (
       |  SELECT DISTINCT doc_b AS doc, start_b AS s0, start_b + span_len AS e0
       |  FROM spans),
       |${intervalRegionCtes("rem")},
       |mg AS (SELECT doc, region, min(s0) AS s0, max(e0) AS e0 FROM mi GROUP BY 1, 2),
       |ivl AS (
       |  SELECT doc, list(struct_pack(s0 := s0, e0 := e0)) AS l,
       |         -- CAST: sum(BIGINT) is HUGEINT in DuckDB; driver hash is
       |         -- type-sensitive vs Spark's BIGINT
       |         CAST(sum(e0 - s0) AS BIGINT) AS removed
       |  FROM mg GROUP BY doc)
       |SELECT d.doc_id,
       |  CASE WHEN ivl.l IS NULL THEN d.text ELSE
       |    -- array_to_string of an EMPTY list is NULL in DuckDB (a fully
       |    -- trimmed doc); Spark's array_join gives '' — coalesce to match
       |    COALESCE(array_to_string(
       |      list_transform(
       |        list_filter(range(len(string_split(d.text,' '))), i ->
       |          len(list_filter(ivl.l, iv -> i >= iv.s0 AND i < iv.e0)) = 0),
       |        i -> string_split(d.text,' ')[i+1]), ' '), '')
       |  END AS trimmed,
       |  CAST(COALESCE(ivl.removed, 0) AS BIGINT) AS removed_tokens
       |FROM documents d LEFT JOIN ivl ON d.doc_id = ivl.doc
       |ORDER BY d.doc_id""".stripMargin

  /** tp_pack — deterministic contiguous-fill sequence packing
    * (operators.Packing): shard by id hash, per-shard running token
    * offset, pack = floor(offset / budget). Cross-engine identical by
    * construction (pure integer arithmetic + one per-shard window). */
  val tpPack: Q = (s, dir) =>
    graft.operators.Packing.packSequences(
      Tables.documents(s, dir), "doc_id", "text",
      tokenBudget = 1024, nShards = 8)
      .orderBy("doc_id")

  val tpPackOracle: String =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, shard, n,
      |    SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off
      |  FROM t
      |)
      |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
      |  CAST(n AS BIGINT) AS n_tokens,
      |  CAST(off AS BIGINT) AS "offset",
      |  CAST(off // 1024 AS BIGINT) AS pack_id
      |FROM o
      |ORDER BY doc_id""".stripMargin

  /** tp_curate — the END-TO-END curation pipeline (operators.Curation):
    * quality floor → language filter → exact dedup → near-dup cluster
    * representatives → key-stable split assignment. The oracle chains
    * the same five stages in one DuckDB statement (quality/langid
    * expressions, fingerprint group, recursive-CTE components, md5 unit
    * hash), proving the COMPOSITION cross-engine, not just each stage. */
  private val CurateCfg = graft.operators.Curation.Config()

  val tpCurate: Q = (s, dir) =>
    graft.operators.Curation.curate(
      Tables.documents(s, dir), "doc_id", "text", CurateCfg)
      .orderBy("doc_id")

  /** Shared curation-oracle CTE chain (stages 1–4, through `kept`:
    * doc_id, predicted_lang, quality_score; `ex` still carries the
    * surviving text) — used by tp_curate and tp_curate_trim. */
  private def curateCtes: String = {
    val langs = CurateCfg.languages.map(l => s"'$l'").mkString(", ")
    s"""q AS (
       |  SELECT doc_id,
       |    $qualityScoreSql AS quality_score
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
       |), lscores AS (
       |  SELECT doc_id, p.lang, CAST(len(list_intersect(t, p.words)) AS BIGINT) AS score
       |  FROM toks CROSS JOIN $langProfilesSql
       |), lbest AS (
       |  SELECT doc_id, lang, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       |  FROM lscores
       |), lid AS (
       |  SELECT doc_id,
       |    CASE WHEN score = 0 THEN 'und' ELSE lang END AS predicted_lang
       |  FROM lbest WHERE rn = 1
       |), base AS (
       |  SELECT d.doc_id, d.text, q.quality_score, lid.predicted_lang
       |  FROM documents d JOIN q USING (doc_id) JOIN lid USING (doc_id)
       |  WHERE q.quality_score >= ${CurateCfg.minQuality}
       |    AND lid.predicted_lang IN ($langs)
       |), canon AS (
       |  SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(lower(trim(text)))
       |), ex AS (
       |  SELECT b.* FROM base b JOIN canon USING (doc_id)
       |), sh AS (
       |  SELECT doc_id, ${duckShingles("string_split(text,' ')", CurateCfg.nGram)} AS s
       |  FROM ex
       |), prs AS (
       |  SELECT doc_a, doc_b FROM (
       |    $shinglePairsSql)
       |  WHERE jaccard >= ${CurateCfg.jaccardThreshold}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs
       |), reach(doc, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc = e.dst
       |), clus AS (
       |  SELECT doc, min(lab) AS lab FROM reach GROUP BY doc
       |), kept AS (
       |  SELECT e.doc_id, e.predicted_lang, e.quality_score
       |  FROM ex e LEFT JOIN clus c ON c.doc = e.doc_id
       |  WHERE c.doc IS NULL OR c.lab = e.doc_id
       |)""".stripMargin
  }

  /** The key-stable unit hash of Sampling: md5(`key` ‖ `salt`) mapped
    * into [0, 1) modulo TextFunctions.P. */
  private def unitHashSql(key: String, salt: String): String = {
    val P = graft.functions.TextFunctions.P
    s"(('0x' || substr(md5(CAST($key AS VARCHAR) || '$salt'), 1, 15))::BIGINT % $P)\n      / CAST($P AS DOUBLE)"
  }

  /** Sampling.splitByKey's split of unit hash `u`: a CASE over the
    * operator's own cumulative bounds. */
  private def splitCaseSql(weights: Seq[(String, Double)]): String = {
    val cases = graft.operators.Sampling.splitBounds(weights)
      .map { case (name, b) => s"WHEN u < $b THEN '$name'" }.mkString(" ")
    s"CASE $cases ELSE '${weights.last._1}' END AS split"
  }

  /** The split hash of the curated rows: `withu` over `kept`. */
  private def curateWithuCte: String =
    s"""withu AS (
       |  SELECT doc_id, predicted_lang, quality_score,
       |    ${unitHashSql("doc_id", "split")} AS u
       |  FROM kept
       |)""".stripMargin

  val tpCurateOracle: String =
    s"""WITH RECURSIVE $curateCtes,
       |$curateWithuCte
       |SELECT doc_id, predicted_lang, quality_score,
       |  ${splitCaseSql(CurateCfg.splits)}
       |FROM withu
       |ORDER BY doc_id""".stripMargin

  /** tp_curate_trim — the curation pipeline with the substring-dedup
    * stage ON (Curation.Config(trimSpans = true)): after the document-
    * level dedup stages, shared spans ≥ minSpanTokens among the
    * SURVIVORS are trimmed from the max-id side (tp_trim_spans's
    * surgery, doc-freq guard computed over the survivor corpus), and
    * the curated rows carry the rebuilt text + removed-token count.
    * The oracle chains the curate CTEs into the span closed form —
    * proving the six-stage COMPOSITION cross-engine. */
  private val CurateTrimCfg = CurateCfg.copy(trimSpans = true)

  val tpCurateTrim: Q = (s, dir) =>
    graft.operators.Curation.curate(
      Tables.documents(s, dir), "doc_id", "text", CurateTrimCfg)
      .orderBy("doc_id")

  val tpCurateTrimOracle: String = {
    val k = CurateTrimCfg.spanK
    val minSpan = CurateTrimCfg.minSpanTokens
    s"""WITH RECURSIVE $curateCtes,
       |keptx AS (
       |  SELECT kept.doc_id, ex.text FROM kept JOIN ex USING (doc_id)),
       |${spanShingleCtes(k, "keptx", "s")},
       |sshp AS (SELECT doc_id, u.pos AS pos,
       |               ('0x' || substr(md5(u.s),1,15))::BIGINT AS h FROM ssh0),
       |slim AS (
       |  SELECT greatest(${graft.operators.Dedup.MinDocFreqFloor}.0,
       |                  ${graft.operators.Dedup.DefaultMaxDocFreqFraction} * count(*)) AS df_limit
       |  FROM keptx),
       |skeep AS (
       |  SELECT h FROM (
       |    SELECT h, count(DISTINCT doc_id) AS df FROM sshp GROUP BY h), slim
       |  WHERE df <= df_limit),
       |sshk AS (SELECT sshp.* FROM sshp JOIN skeep USING (h)),
       |sm AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
       |  FROM sshk a JOIN sshk b ON a.h = b.h AND a.doc_id < b.doc_id),
       |${spanIslandCtes(k, minSpan, p = "s")},
       |srem AS (
       |  SELECT DISTINCT doc_b AS doc, start_b AS s0, start_b + span_len AS e0
       |  FROM sspans),
       |${intervalRegionCtes("srem", "s")},
       |smg AS (SELECT doc, region, min(s0) AS s0, max(e0) AS e0 FROM smi GROUP BY 1, 2),
       |sivl AS (
       |  SELECT doc, list(struct_pack(s0 := s0, e0 := e0)) AS l,
       |         CAST(sum(e0 - s0) AS BIGINT) AS removed
       |  FROM smg GROUP BY doc),
       |trimd AS (
       |  SELECT kx.doc_id,
       |    CASE WHEN sivl.l IS NULL THEN kx.text ELSE
       |      COALESCE(array_to_string(
       |        list_transform(
       |          list_filter(range(len(string_split(kx.text,' '))), i ->
       |            len(list_filter(sivl.l, iv -> i >= iv.s0 AND i < iv.e0)) = 0),
       |          i -> string_split(kx.text,' ')[i+1]), ' '), '')
       |    END AS text,
       |    CAST(COALESCE(sivl.removed, 0) AS BIGINT) AS removed_tokens
       |  FROM keptx kx LEFT JOIN sivl ON kx.doc_id = sivl.doc),
       |$curateWithuCte
       |SELECT withu.doc_id, predicted_lang, quality_score,
       |  ${splitCaseSql(CurateTrimCfg.splits)},
       |  trimd.text, trimd.removed_tokens
       |FROM withu JOIN trimd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** tp_curate_lm — the curation pipeline with the LM-perplexity stage
    * ON (Curation.Config(perplexityFilter = true)): after the quality/
    * language/dedup stages, an add-1 bigram LM trains on the survivors
    * and documents above the 90th-percentile perplexity are dropped
    * (exact discrete percentile, ties kept; <2-token docs carry NULL
    * perplexity and are kept). The oracle chains the curate CTEs into
    * the ta_perplexity fixed-point recipe and the integer-arithmetic
    * percentile cut — proving the quality → dedup → LM → split
    * COMPOSITION cross-engine. */
  private val CurateLmCfg = CurateCfg.copy(perplexityFilter = true)

  val tpCurateLm: Q = (s, dir) =>
    graft.operators.Curation.curate(
      Tables.documents(s, dir), "doc_id", "text", CurateLmCfg)
      .orderBy("doc_id")

  val tpCurateLmOracle: String = {
    val pct = CurateLmCfg.perplexityKeepPercent
    s"""WITH RECURSIVE $curateCtes,
       |kx AS (
       |  SELECT kept.doc_id, kept.predicted_lang, kept.quality_score, ex.text
       |  FROM kept JOIN ex USING (doc_id)),
       |ptok AS (SELECT doc_id, string_split(text, ' ') AS t FROM kx),
       |puni AS (
       |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM (
       |    SELECT unnest(t) AS w1 FROM ptok)
       |  GROUP BY w1),
       |pv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM puni),
       |pbi AS (
       |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
       |    SELECT doc_id, $bigramsSql
       |    FROM ptok WHERE len(t) >= 2)),
       |pcb AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM pbi GROUP BY 1, 2),
       |plp AS (
       |  SELECT pbi.doc_id,
       |    CAST(floor(ln((cb + 1.0) / (cu + 1.0 * pv.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
       |  FROM pbi JOIN pcb USING (w1, w2) JOIN puni USING (w1), pv),
       |perp AS (
       |  SELECT doc_id,
       |    $perplexitySql
       |  FROM plp GROUP BY doc_id),
       |pcnt AS (SELECT count(*) AS ntot FROM perp),
       |pthr AS (
       |  SELECT min(perplexity) AS thr FROM (
       |    SELECT perplexity,
       |      sum(c) OVER (ORDER BY perplexity
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM (SELECT perplexity, count(*) AS c FROM perp GROUP BY 1)), pcnt
       |  WHERE cum >= (ntot * $pct + 99) // 100),
       |keptlm AS (
       |  SELECT kx.doc_id, kx.predicted_lang, kx.quality_score, perp.perplexity
       |  FROM kx LEFT JOIN perp USING (doc_id), pthr
       |  WHERE perp.perplexity IS NULL OR perp.perplexity <= pthr.thr),
       |withu AS (
       |  SELECT doc_id, predicted_lang, quality_score, perplexity,
       |    ${unitHashSql("doc_id", "split")} AS u
       |  FROM keptlm)
       |SELECT doc_id, predicted_lang, quality_score,
       |  ${splitCaseSql(CurateLmCfg.splits)},
       |  perplexity
       |FROM withu
       |ORDER BY doc_id""".stripMargin
  }

  /** tp_curate_clf — the curation pipeline with the trained-classifier
    * stage ON (Curation.Config(classifierFilter = true)), completing
    * the three-leg quality stack under one composition gate: after the
    * quality/language/dedup stages, QualityClassifier trains on the
    * SURVIVORS' own seed extremes and docs scoring below 0.5 are
    * dropped; output gains clf_prob. The oracle chains the curate CTEs
    * into the shared unrolled training chain (src = the survivors) and
    * the split tail — quality → dedup → TRAIN → score → cut → split,
    * all hash-matched cross-engine. */
  private val CurateClfCfg = CurateCfg.copy(classifierFilter = true)

  val tpCurateClf: Q = (s, dir) =>
    graft.operators.Curation.curate(
      Tables.documents(s, dir), "doc_id", "text", CurateClfCfg)
      .orderBy("doc_id")

  val tpCurateClfOracle: String = {
    s"""WITH RECURSIVE $curateCtes,
       |kx AS (
       |  SELECT kept.doc_id, kept.predicted_lang, kept.quality_score, ex.text
       |  FROM kept JOIN ex USING (doc_id)),
       |${qualityClfCtes("kx", "", "")},
       |keptclf AS (
       |  SELECT kx.doc_id, kx.predicted_lang, kx.quality_score, p.clf_prob
       |  FROM kx LEFT JOIN p USING (doc_id)
       |  WHERE p.clf_prob IS NULL OR p.clf_prob >= ${CurateClfCfg.clfMinProb}),
       |cwithu AS (
       |  SELECT doc_id, predicted_lang, quality_score, clf_prob,
       |    ${unitHashSql("doc_id", "split")} AS u
       |  FROM keptclf)
       |SELECT doc_id, predicted_lang, quality_score,
       |  ${splitCaseSql(CurateClfCfg.splits)},
       |  clf_prob
       |FROM cwithu
       |ORDER BY doc_id""".stripMargin
  }

  /** ds_split — deterministic key-stable train/val/test assignment
    * (operators.Sampling.splitByKey): membership is a pure function of
    * (doc_id, salt), so re-runs and corpus growth never move a document
    * between splits. Oracle recomputes the identical md5-derived unit
    * hash and the EXACT same cumulative bounds (interpolated from the
    * operator, not re-derived). */
  private val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  val dsSplit: Q = (s, dir) =>
    graft.operators.Sampling.splitByKey(
      Tables.documents(s, dir).select("doc_id"), "doc_id", SplitWeights)
      .orderBy("doc_id")

  val dsSplitOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    ${unitHashSql("doc_id", "split")} AS u
       |  FROM documents)
       |SELECT doc_id, ${splitCaseSql(SplitWeights)}
       |FROM u
       |ORDER BY doc_id""".stripMargin

  /** ds_sample_stratified — per-class downsampling over events (keep
    * every purchase, halve clicks, keep 10% of views — the classic
    * class-balance pass), keyed on event_id so the sample is
    * partitioning- and rerun-stable. */
  private val StrataFractions = Seq("click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0)

  val dsSampleStratified: Q = (s, dir) =>
    graft.operators.Sampling.stratifiedSampleByKey(
      Tables.events(s, dir).select("event_id", "event_type"),
      "event_id", "event_type", StrataFractions)
      .orderBy("event_id")

  val dsSampleStratifiedOracle: String = {
    val cases = StrataFractions.map { case (s0, f) => s"WHEN '$s0' THEN $f" }
      .mkString(" ")
    s"""SELECT event_id, event_type FROM (
       |  SELECT event_id, event_type,
       |    ${unitHashSql("event_id", "strata")} AS u,
       |    CASE event_type $cases ELSE -1.0 END AS f
       |  FROM events)
       |WHERE u < f
       |ORDER BY event_id""".stripMargin
  }

  /** ds_semantic_cap — SemDeDup-style semantic diversity pass: cluster
    * embeddings (cl_kmeans), keep at most `SemCapN` members per cluster
    * (key-stable), join back to the documents. Proves the operators
    * COMPOSE under the cross-engine gate, like tp_curate does for the
    * text pipeline. */
  private val SemCapN = 40

  val dsSemanticCap: Q = (s, dir) => {
    val clusters = graft.operators.Clustering.kmeansAssign(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = KmK, iters = KmIters, roundDp = KmRound)
    val capped = graft.operators.Sampling.capPerGroup(
      clusters, "vec_id", "cluster_id", maxPerGroup = SemCapN, salt = "semcap")
    capped.join(Tables.documents(s, dir),
        capped("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("source"))
      .orderBy("doc_id")
  }

  val dsSemanticCapOracle: String =
    s"""$kmeansCtes,
       |withu AS (
       |  SELECT vec_id, cluster_id,
       |    ${unitHashSql("vec_id", "semcap")} AS u
       |  FROM asg
       |), r AS (
       |  SELECT vec_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY u, vec_id) AS rn
       |  FROM withu)
       |SELECT d.doc_id, r.cluster_id, d.source
       |FROM r JOIN documents d ON d.doc_id = r.vec_id
       |WHERE r.rn <= $SemCapN
       |ORDER BY d.doc_id""".stripMargin

  /** tp_shuffle — deterministic global shuffle + shard assignment
    * (Sampling.shuffleShard): shard and within-shard position derive
    * from md5(key‖salt), reproducible under any partitioning. */
  private val ShuffleShards = 16

  val tpShuffle: Q = (s, dir) =>
    graft.operators.Sampling.shuffleShard(
      Tables.documents(s, dir).select("doc_id"), "doc_id", ShuffleShards)
      .orderBy("doc_id")

  val tpShuffleOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'shuffle') AS h,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shuffle'), 1, 15))::BIGINT % ${graft.functions.TextFunctions.P})
       |      % $ShuffleShards AS shard
       |  FROM documents)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM t
       |ORDER BY doc_id""".stripMargin

  /** tp_mixture — mixture weighting by repetition (Sampling
    * .mixtureEpochs): 2.5 epochs of src0, a quarter of src1, src2
    * dropped, everything else 1 epoch — floor(rate) whole copies plus a
    * key-stable Bernoulli(frac) extra. */
  private val MixRates = Seq("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0)

  val tpMixture: Q = (s, dir) =>
    graft.operators.Sampling.mixtureEpochs(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source", MixRates)
      .orderBy("doc_id", "copy")

  val tpMixtureOracle: String = {
    val cases = MixRates.map { case (s0, r) => s"WHEN '$s0' THEN $r" }.mkString(" ")
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    CASE source $cases ELSE 1.0 END AS rate,
       |    ${unitHashSql("doc_id", "mix")} AS u
       |  FROM documents
       |), n AS (
       |  SELECT doc_id, source,
       |    CAST(floor(rate) AS BIGINT) +
       |      (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS n_copies
       |  FROM r)
       |SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
       |  CAST(unnest(range(n_copies)) AS BIGINT) AS copy
       |FROM n WHERE n_copies > 0
       |ORDER BY doc_id, copy""".stripMargin
  }

  /** ds_weighted — weighted sampling without replacement (Sampling
    * .weightedSampleByKey): 50 documents drawn with probability ∝
    * n_chars (importance sampling by length/quality weight). */
  private val WSampleK = 50

  val dsWeighted: Q = (s, dir) =>
    graft.operators.Sampling.weightedSampleByKey(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = WSampleK)
      .orderBy("doc_id")

  val dsWeightedOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id, source, n_chars,
       |    ${unitHashSql("doc_id", "wsample")} AS u
       |  FROM documents
       |), keyed AS (
       |  SELECT doc_id, source, n_chars,
       |    floor(pow(u, 1.0 / CAST(n_chars AS DOUBLE)) * 1000000000.0 + 0.5)
       |      / 1000000000.0 AS sample_key
       |  FROM u
       |), r AS (
       |  SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id ASC) AS rn
       |  FROM keyed)
       |SELECT doc_id, source, n_chars, sample_key FROM r WHERE rn <= $WSampleK
       |ORDER BY doc_id""".stripMargin

  /** ds_cap_per_group — per-source contribution cap (Sampling
    * .capPerGroup): at most `CapN` documents per source, chosen by the
    * key-stable unit hash. */
  private val CapN = 10

  val dsCapPerGroup: Q = (s, dir) =>
    graft.operators.Sampling.capPerGroup(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source", maxPerGroup = CapN)
      .orderBy("doc_id")

  val dsCapPerGroupOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id, source,
       |    ${unitHashSql("doc_id", "cap")} AS u
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
       |  FROM u)
       |SELECT doc_id, source FROM r WHERE rn <= $CapN
       |ORDER BY doc_id""".stripMargin

  /** ds_token_budget — token-budget mixture fill (Sampling
    * .tokenBudgetFill): the unit a training mixture is actually
    * specified in — absolute TOKENS per domain, not doc counts or
    * epoch rates. Each source fills in the key-stable md5 order until
    * its budget is crossed (the crossing document is kept; sources
    * without a budget — src19 here — are dropped). The Spark side runs
    * the scale shape — a distributed two-phase prefix sum (per-stratum
    * sums + base-offset broadcast, no group-sized window) — while the
    * oracle states the SEMANTICS as the single global window it
    * decomposes; hash-equality of the two is exactly the
    * decomposition's correctness proof. */
  private val TokenBudgets: Seq[(String, Long)] =
    (0 until 19).map(i => s"src$i" -> (300L + 60L * (i % 5)))

  val dsTokenBudget: Q = (s, dir) =>
    graft.operators.Sampling.tokenBudgetFill(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_tokens")),
      "doc_id", "source", "n_tokens", TokenBudgets)
      .orderBy("doc_id")

  val dsTokenBudgetOracle: String = {
    val values = TokenBudgets
      .map { case (g, b) => s"('$g', ${b}::BIGINT)" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'budget'), 1, 15))::BIGINT AS h
       |  FROM documents
       |), b(source, budget) AS (VALUES $values),
       |c AS (
       |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
       |    CAST(COALESCE(SUM(t.n_tokens) OVER (
       |      PARTITION BY t.source ORDER BY t.h, t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tokens_before
       |  FROM t JOIN b USING (source))
       |SELECT doc_id, source, n_tokens, tokens_before
       |FROM c WHERE tokens_before < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** ds_token_budget_incremental — the O(Δ) ingest twin
    * (Sampling.tokenBudgetFillIncremental): the standing corpus
    * (id%5 ≠ 0) fills first and its fill is FROZEN (those documents
    * are already in the written mix); the arriving delta (id%5 = 0)
    * fills only each source's REMAINING budget in its own key-stable
    * order — never displacing a taken document, which a from-scratch
    * refill would. Budgets sit near the corpus totals at sf0.01 so the
    * three regimes all occur: sources with headroom admit part of the
    * delta, sources whose budget the corpus already crossed admit
    * none. Only the prior fill's per-source totals enter the plan. */
  private val TokenBudgetsInc: Seq[(String, Long)] =
    (0 until 19).map(i => s"src$i" -> (1050L + 90L * (i % 5)))

  val dsTokenBudgetIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
    // The prior fill is FROZEN by definition (its documents are already
    // in the written mix), so its per-source token totals are memoized
    // per (session, dir) like every persisted-index gate: the first
    // execution pays the corpus fill once, and the timed surface is the
    // O(Δ) delta ingest the operator actually claims — before round 17
    // every rep re-ran the WHOLE corpus fill just to re-derive 19
    // totals, double-charging the gate (~2× a ds_token_budget execution,
    // the round-16 weak-set orphan). Only totals cross the memo — the
    // operator aggregates `taken` to per-group sums anyway, so the plan
    // and the hash gate are unchanged.
    val totals = indexMemo.getOrElseUpdate(
      s"tbtotals:${System.identityHashCode(s)}:$dir", {
        graft.operators.Sampling.tokenBudgetFill(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "source", "n_tokens", TokenBudgetsInc)
          .groupBy("source").agg(sum("n_tokens").as("n_tokens"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      }).asInstanceOf[Seq[(String, Long)]]
    import s.implicits._
    graft.operators.Sampling.tokenBudgetFillIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      "doc_id", "source", "n_tokens", TokenBudgetsInc,
      totals.toDF("source", "n_tokens"))
      .orderBy("doc_id")
  }

  val dsTokenBudgetIncrementalOracle: String = {
    val values = TokenBudgetsInc
      .map { case (g, b) => s"('$g', ${b}::BIGINT)" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'budget'), 1, 15))::BIGINT AS h
       |  FROM documents
       |), b(source, budget) AS (VALUES $values),
       |cc AS (
       |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
       |    CAST(COALESCE(SUM(t.n_tokens) OVER (
       |      PARTITION BY t.source ORDER BY t.h, t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM t JOIN b USING (source) WHERE t.doc_id % 5 <> 0),
       |taken AS (
       |  SELECT source, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tk
       |  FROM cc WHERE cum < budget GROUP BY source),
       |dc AS (
       |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
       |    CAST(COALESCE(tk, 0) AS BIGINT) AS tk,
       |    CAST(COALESCE(SUM(t.n_tokens) OVER (
       |      PARTITION BY t.source ORDER BY t.h, t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p
       |  FROM t JOIN b USING (source) LEFT JOIN taken USING (source)
       |  WHERE t.doc_id % 5 = 0)
       |SELECT doc_id, source, n_tokens, CAST(tk + p AS BIGINT) AS tokens_before
       |FROM dc WHERE tk + p < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** tp_chunk — context-window chunking (Packing.chunkDocuments):
    * `ChunkC`-token chunks, `ChunkOv` tokens of overlap. Pure integer
    * arithmetic + slicing — hash-exact cross-engine. */
  private val ChunkC = 32
  private val ChunkOv = 8

  val tpChunk: Q = (s, dir) =>
    graft.operators.Packing.chunkDocuments(
      Tables.documents(s, dir), "doc_id", "text",
      chunkTokens = ChunkC, overlap = ChunkOv)
      .orderBy("doc_id", "chunk_idx")

  val tpChunkOracle: String = {
    val stride = ChunkC - ChunkOv
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), n AS (
       |  SELECT doc_id, t,
       |    CASE WHEN len(t) <= $ChunkC THEN 1
       |         ELSE CAST(floor((len(t) - $ChunkC + ${stride - 1}) / $stride) AS BIGINT) + 1
       |    END AS nchunks
       |  FROM tok)
       |, ex AS (
       |  SELECT doc_id, t, unnest(range(nchunks)) AS idx FROM n
       |)
       |SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
       |  CAST(len(t[(idx * $stride + 1):(idx * $stride + $ChunkC)]) AS BIGINT) AS n_tokens,
       |  array_to_string(t[(idx * $stride + 1):(idx * $stride + $ChunkC)], ' ') AS chunk_text
       |FROM ex
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("tp_trim_spans", tpTrimSpans, Some(tpTrimSpansOracle), (5, "spans")),
    Gate("tp_pack", tpPack, Some(tpPackOracle)),
    Gate("tp_curate", tpCurate, Some(tpCurateOracle), (12, "union-find")),
    Gate("tp_curate_trim", tpCurateTrim, Some(tpCurateTrimOracle), (20, "spans")),
    Gate("tp_curate_lm", tpCurateLm, Some(tpCurateLmOracle), (23, "lm")),
    Gate("tp_curate_clf", tpCurateClf, Some(tpCurateClfOracle), (29, "classifier")),
    Gate("ds_split", dsSplit, Some(dsSplitOracle)),
    Gate("ds_sample_stratified", dsSampleStratified, Some(dsSampleStratifiedOracle)),
    Gate("ds_semantic_cap", dsSemanticCap, Some(dsSemanticCapOracle), (7, "kmeans")),
    Gate("tp_shuffle", tpShuffle, Some(tpShuffleOracle)),
    Gate("tp_mixture", tpMixture, Some(tpMixtureOracle)),
    Gate("ds_weighted", dsWeighted, Some(dsWeightedOracle)),
    Gate("ds_cap_per_group", dsCapPerGroup, Some(dsCapPerGroupOracle)),
    Gate("ds_token_budget", dsTokenBudget, Some(dsTokenBudgetOracle)),
    Gate("ds_token_budget_incremental", dsTokenBudgetIncremental, Some(dsTokenBudgetIncrementalOracle), (8, "totals"), memo = "state"),
    Gate("tp_chunk", tpChunk, Some(tpChunkOracle)))
}
