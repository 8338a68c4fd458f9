package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Text analysis gates over `documents` (and `customer` names): token
  * statistics, quality signals, language ID, perplexity, the trained
  * quality classifier, BPE training and encoding, TF-IDF, vocabulary,
  * redaction and canonicalization. */
object TextQueries {
  import Gate.Q
  import Shared._

  /** ta_dup_fraction — per-document duplicated-token fraction
    * (Dedup.duplicatedTokenFraction): the substring-dedup curation
    * signal "what fraction of this document lies inside a span shared
    * with another document". Every shared span contributes its interval
    * to both endpoint docs; DISTINCT intervals merge under a sweep
    * (new region iff start exceeds the running max end) so coverage is
    * never double-counted. */
  val taDupFraction: Q = (s, dir) =>
    Dedup.duplicatedTokenFraction(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taDupFractionOracle: String =
    s"""WITH $spanPipelineCtes,
       |iv AS (
       |  SELECT DISTINCT doc, s0, e0 FROM (
       |    SELECT doc_a AS doc, start_a AS s0, start_a + span_len AS e0 FROM spans
       |    UNION ALL
       |    SELECT doc_b, start_b, start_b + span_len FROM spans)),
       |${intervalRegionCtes("iv")},
       |cov AS (SELECT doc, region, max(e0) - min(s0) AS covered FROM mi GROUP BY 1, 2),
       |-- CAST: DuckDB types sum(BIGINT) as HUGEINT; the driver's hash is
       |-- type-sensitive, Spark emits BIGINT — keep both sides BIGINT.
       |dup AS (SELECT doc, CAST(sum(covered) AS BIGINT) AS dup_tokens FROM cov GROUP BY 1)
       |SELECT d.doc_id, len(string_split(d.text,' ')) AS n_tokens,
       |  CAST(COALESCE(dup.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST(COALESCE(dup.dup_tokens, 0) AS DOUBLE)
       |    / len(string_split(d.text,' ')) AS dup_fraction
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc
       |ORDER BY doc_id""".stripMargin

  /** ta_token_bpe — model-token accounting: whitespace words vs BPE-ish
    * pre-tokens (TextAnalysis.BpePattern — lookahead-free so Java and
    * RE2 regex semantics coincide) and their ratio. */
  val taTokenBpe: Q = (s, dir) =>
    TextAnalysis.bpeTokenStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taTokenBpeOracle: String = {
    val pat = TextAnalysis.BpePattern
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS bpe_per_word
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** ta_perplexity — bigram-LM perplexity scoring
    * (TextAnalysis.bigramPerplexity), the model-based quality filter:
    * an add-1-smoothed bigram LM trained on the corpus scores every
    * document's surprise. The oracle recomputes the same counts,
    * smoothing, and the ORDER-INDEPENDENT fixed-point log-prob sum
    * (longs, not doubles — a double sum over shuffled rows would hash
    * differently run to run). */
  val taPerplexity: Q = (s, dir) =>
    TextAnalysis.bigramPerplexity(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taPerplexityOracle: String =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM (
      |    SELECT unnest(t) AS w1 FROM tok)
      |  GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id, $bigramsSql
      |    FROM tok WHERE len(t) >= 2)),
      |cb AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bi GROUP BY w1, w2),
      |lp AS (
      |  SELECT bi.doc_id,
      |    CAST(floor(ln((cb + 1.0) / (cu + 1.0 * v.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
      |  FROM bi JOIN cb USING (w1, w2) JOIN uni USING (w1), v)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  $perplexitySql
      |FROM lp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** ta_perplexity_incremental — NEW docs scored under the FROZEN
    * corpus LM (TextAnalysis.bigramPerplexityFromModel): the
    * dd_minhash_incremental split convention — id%5 = 0 is the
    * incoming delta, the standing corpus trains the model — with
    * out-of-model tokens/bigrams taking the smoothed-zero path. The
    * oracle mirrors the split and the LEFT-join/COALESCE zeros. */
  val taPerplexityIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val (uni, bi) = TextAnalysis.bigramLmModel(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text")
    TextAnalysis.bigramPerplexityFromModel(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
      uni, bi)
      .orderBy("doc_id")
  }

  val taPerplexityIncrementalOracle: String =
    s"""WITH ctok AS (
      |  SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 5 <> 0),
      |uni AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM (
      |    SELECT unnest(t) AS w1 FROM ctok)
      |  GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |cb AS (
      |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS cb FROM (
      |    SELECT $bigramsSql
      |    FROM ctok WHERE len(t) >= 2)
      |  GROUP BY 1, 2),
      |dbi AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id, $bigramsSql
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |          WHERE doc_id % 5 = 0)
      |    WHERE len(t) >= 2)),
      |lp AS (
      |  SELECT dbi.doc_id,
      |    CAST(floor(ln((COALESCE(cb, 0) + 1.0) / (COALESCE(cu, 0) + 1.0 * v.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
      |  FROM dbi LEFT JOIN cb USING (w1, w2) LEFT JOIN uni USING (w1), v)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  $perplexitySql
      |FROM lp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** ta_quality_clf — TRAINED model-based quality classifier
    * (operators.QualityClassifier): logistic regression over hashed
    * bag-of-words + engineered integer features, trained by `ClfIters`
    * full-batch gradient rounds on seed labels derived in-plan from the
    * heuristic quality score's extremes, then scoring every document
    * under the learned fixed-point weights. The oracle unrolls the SAME
    * rounds as chained MATERIALIZED CTEs (materialization is
    * load-bearing: inlined CTE expansion doubles per round) with every
    * accumulated quantity an integer, so the final 6-dp probabilities
    * must hash-match exactly — the ta_perplexity determinism recipe
    * applied to model TRAINING, not just scoring. */

  val taQualityClf: Q = (s, dir) =>
    graft.operators.QualityClassifier.classify(
      Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taQualityClfOracle: String = qualityClfOracle(labWhere = "", scoreWhere = "")

  /** ta_quality_clf_incremental — NEW docs scored under the FROZEN
    * classifier (the ta_perplexity_incremental convention): the
    * standing corpus (id%5 ≠ 0) derives the seed labels and trains the
    * weights; the incoming delta (id%5 = 0) is scored under them — the
    * O(Δ)-per-ingest posture where the model is trained once per corpus
    * version and every batch pays one aggregation. The oracle is the
    * same unrolled training chain with the label set restricted to the
    * corpus split and the scoring restricted to the delta. */
  val taQualityClfIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val w = graft.operators.QualityClassifier.trainWeights(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
    graft.operators.QualityClassifier.scoreRowWise(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("text")), "doc_id", "text", w)
      .select(col("doc_id"), col("n_tokens"), col("clf_prob"), col("clf_label"))
      .orderBy("doc_id")
  }

  val taQualityClfIncrementalOracle: String = qualityClfOracle(
    labWhere = " AND doc_id % 5 <> 0", scoreWhere = "WHERE doc_id % 5 = 0")

  private def qualityClfOracle(labWhere: String, scoreWhere: String): String =
    s"""WITH ${qualityClfCtes("documents", labWhere, scoreWhere)}
       |SELECT p.doc_id, n_tokens, clf_prob,
       |  CAST(CASE WHEN clf_prob >= 0.5 THEN 1 ELSE 0 END AS INT) AS clf_label
       |FROM p ORDER BY doc_id""".stripMargin

  /** ta_bpe_train — REAL distributed BPE vocabulary training
    * (TextAnalysis.bpeTrain): one corpus scan compresses to (word,
    * freq), then `BpeTrainRounds` iterations of corpus-wide pair-count
    * → driver argmax (count DESC, lexicographic tie-break) → greedy
    * in-row merge application. Output is the learned merge table. The
    * oracle unrolls the same rounds in SQL: pair counts via unnest,
    * the argmax via ORDER BY/LIMIT 1, and the greedy non-overlapping
    * application via gaps-and-islands over match positions (keep every
    * other match inside a consecutive run — equal to the fold because
    * overlapping matches only arise when lhs = rhs). Differential-
    * tested against a driver-side reference in TextAnalysisSpec, like
    * k-means. */
  private val BpeTrainRounds = 8

  val taBpeTrain: Q = (s, dir) =>
    TextAnalysis.bpeTrain(Tables.documents(s, dir), "text", BpeTrainRounds)
      .orderBy("merge_rank")

  val taBpeTrainOracle: String = {
    val pat = TextAnalysis.BpePattern
    val roundCtes = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(len(syms) - 1),
         |      i -> struct_pack(a := syms[i + 1], b := syms[i + 2]))) AS pr
         |    FROM s${r - 1})
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |m$r AS (
         |  SELECT word, mi FROM (
         |    SELECT s.word, unnest(list_filter(range(len(s.syms) - 1),
         |      i -> s.syms[i + 1] = x.a AND s.syms[i + 2] = x.b)) AS mi
         |    FROM s${r - 1} s, b$r x)),
         |k$r AS (
         |  SELECT word, list(mi) AS kept FROM (
         |    SELECT word, mi, isl,
         |      row_number() OVER (PARTITION BY word, isl ORDER BY mi) AS rn2
         |    FROM (
         |      SELECT word, mi,
         |        mi - row_number() OVER (PARTITION BY word ORDER BY mi) AS isl
         |      FROM m$r))
         |  WHERE (rn2 - 1) % 2 = 0
         |  GROUP BY word),
         |s$r AS MATERIALIZED (
         |  SELECT s.word, s.freq,
         |    CASE WHEN k.kept IS NULL THEN s.syms ELSE
         |      list_filter(list_transform(range(len(s.syms)), i ->
         |        CASE WHEN list_contains(k.kept, i) THEN x.a || x.b
         |             WHEN list_contains(k.kept, i - 1) THEN NULL
         |             ELSE s.syms[i + 1] END), y -> y IS NOT NULL)
         |    END AS syms
         |  FROM s${r - 1} s
         |  LEFT JOIN k$r k USING (word)
         |  LEFT JOIN b$r x ON true)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to BpeTrainRounds).map(r =>
      s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS word FROM documents)
       |  GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    list_transform(range(length(word)), i -> word[i+1:i+1]) AS syms
       |  FROM w0),
       |$roundCtes
       |SELECT * FROM (
       |$unions)
       |ORDER BY merge_rank""".stripMargin
  }

  /** ta_bpe_encode — per-document MODEL-token counts under the TRAINED
    * vocabulary (TextAnalysis.bpeEncodeCounts): the real budget number
    * a mixture planner uses, where ta_token_bpe's regex count is only
    * the pre-merge upper bound. The oracle rides the ta_bpe_train CTE
    * chain to its final word table (s8) and joins each document's word
    * counts against the learned segment lengths, character-fallback
    * for out-of-table words. */
  val taBpeEncode: Q = (s, dir) =>
    TextAnalysis.bpeEncodeCounts(
      Tables.documents(s, dir), "doc_id", "text", BpeTrainRounds)
      .orderBy("doc_id")

  val taBpeEncodeOracle: String = {
    val pat = TextAnalysis.BpePattern
    val body = taBpeTrainOracle
    // reuse the training oracle's CTE chain; swap its final SELECT for
    // the per-doc encode join against the last round's word table
    val cteEnd = body.lastIndexOf("SELECT * FROM (")
    body.take(cteEnd).stripSuffix("\n") + ",\n" +
      s"""d0 AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS word
         |        FROM documents)
         |  GROUP BY 1, 2)
         |SELECT d0.doc_id,
         |  CAST(sum(d0.cnt * COALESCE(len(s$BpeTrainRounds.syms), length(d0.word))) AS BIGINT)
         |    AS n_bpe_tokens
         |FROM d0 LEFT JOIN s$BpeTrainRounds USING (word)
         |GROUP BY 1
         |ORDER BY doc_id""".stripMargin
  }

  /** ta_token_stats — per-document token statistics. */
  val taTokenStats: Q = (s, dir) =>
    TextAnalysis.tokenStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taTokenStatsOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct_tokens,
      |  CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' ')) AS avg_token_len,
      |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' ')) AS stopword_ratio,
      |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS distinct_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ta_quality — composite quality score. */
  val taQuality: Q = (s, dir) =>
    TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taQualityOracle: String =
    s"""SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS distinct_ratio,
      |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' ')) AS stopword_ratio,
      |  $qualityScoreSql AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ta_langid — heuristic stopword-profile language ID. Oracle-gated:
    * the profile argmax (ties toward the lexicographically larger code,
    * zero hits → "und") is plain SQL over the same profile lists. */
  val taLangid: Q = (s, dir) =>
    TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taLangidOracle: String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
      |), scores AS (
      |  SELECT doc_id, p.lang, CAST(len(list_intersect(t, p.words)) AS BIGINT) AS score
      |  FROM toks CROSS JOIN $langProfilesSql
      |), best AS (
      |  SELECT doc_id, lang, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
      |  FROM scores
      |)
      |SELECT doc_id,
      |  CASE WHEN score = 0 THEN 'und' ELSE lang END AS predicted_lang,
      |  score AS profile_hits
      |FROM best WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** ta_fingerprint — normalized content fingerprint (md5 over
    * lower/trim). */
  val taFingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taFingerprintOracle: String =
    """SELECT doc_id, md5(lower(trim(text))) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ta_repetition — Gopher-style repetition quality signals: fraction
    * of the document covered by its most frequent token bigram/trigram
    * (explode + count + max, map-side combinable — never per-doc
    * quadratic HOF counting). */
  val taRepetition: Q = (s, dir) =>
    TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taRepetitionOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), g2 AS (
      |  SELECT doc_id, unnest(list_transform(range(len(t) - 1),
      |    i -> t[i+1] || ' ' || t[i+2])) AS g FROM tok
      |), g3 AS (
      |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g FROM tok
      |), t2 AS (
      |  SELECT doc_id, max(c) AS c FROM (
      |    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1
      |), t3 AS (
      |  SELECT doc_id, max(c) AS c FROM (
      |    SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1
      |)
      |SELECT tok.doc_id AS doc_id,
      |  CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(t2.c, 0) AS BIGINT) AS top_bigram_count,
      |  CAST(COALESCE(t2.c, 0) * 2 AS DOUBLE) / len(t) AS top_bigram_fraction,
      |  CAST(COALESCE(t3.c, 0) AS BIGINT) AS top_trigram_count,
      |  CAST(COALESCE(t3.c, 0) * 3 AS DOUBLE) / len(t) AS top_trigram_fraction
      |FROM tok
      |LEFT JOIN t2 ON t2.doc_id = tok.doc_id
      |LEFT JOIN t3 ON t3.doc_id = tok.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  /** tx_redact — PII scrub over documents deterministically enriched
    * with synthetic emails and long ids (the raw corpus contains none,
    * which would make the gate vacuous): both engines build the same
    * string and must redact it identically. */
  val txRedact: Q = (s, dir) =>
    TextAnalysis.redact(
      Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@mail.example.com ref "),
          (col("doc_id") * col("doc_id") + 1234567).cast("long")).as("text")),
      "doc_id", "text")
      .orderBy("doc_id")

  val txRedactOracle: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(
       |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com ref '
       |      || CAST(doc_id * doc_id + 1234567 AS VARCHAR),
       |    '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
       |    '${TextAnalysis.LongNumberPattern}', '<NUM>', 'g') AS redacted
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** tx_canonicalize — normalize-before-dedup canonical text
    * (TextAnalysis.canonicalize) over customer names+segments, where
    * case, punctuation AND space runs all genuinely occur
    * ("Customer#000000001 -- FURNITURE" → "customer 000000001
    * furniture"): lower → punct-to-space → collapse → trim, plus the
    * md5 fingerprint exact dedup would group on and a changed flag. */
  val txCanonicalize: Q = (s, dir) =>
    TextAnalysis.canonicalize(
      Tables.customer(s, dir).select(
        col("c_custkey"),
        concat(col("c_name"), lit(" -- "), col("c_mktsegment")).as("text")),
      "c_custkey", "text")
      .orderBy("c_custkey")

  val txCanonicalizeOracle: String =
    """SELECT c_custkey,
      |  trim(regexp_replace(regexp_replace(
      |    lower(c_name || ' -- ' || c_mktsegment),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon,
      |  md5(trim(regexp_replace(regexp_replace(
      |    lower(c_name || ' -- ' || c_mktsegment),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
      |  trim(regexp_replace(regexp_replace(
      |    lower(c_name || ' -- ' || c_mktsegment),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))
      |    <> (c_name || ' -- ' || c_mktsegment) AS changed
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** ta_tfidf — per-document top-terms by TF-IDF (TextAnalysis
    * .tfidfTopTerms). Rank uses the ROUNDED score (term tiebreak), so
    * row selection is cross-engine deterministic. */
  private val TfidfTopM = 5
  private val TfidfRound = 6

  val taTfidf: Q = (s, dir) =>
    TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text",
      topM = TfidfTopM, roundDp = TfidfRound)
      .orderBy("doc_id", "term")

  val taTfidfOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dfq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), nd AS (SELECT count(*) AS n_docs FROM documents
       |), scored AS (
       |  SELECT doc_id, term, tf, df,
       |    floor((CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df)) * 1000000.0 + 0.5) / 1000000.0 AS score
       |  FROM tf JOIN dfq USING (term) CROSS JOIN nd
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
       |FROM r WHERE rn <= $TfidfTopM
       |ORDER BY doc_id, term""".stripMargin

  /** ta_vocab — vocabulary building (TextAnalysis.vocabulary): top-V
    * terms by corpus frequency with document frequencies — integer-only
    * outputs, TakeOrdered plan. */
  private val VocabTopV = 100

  val taVocab: Q = (s, dir) =>
    TextAnalysis.vocabulary(Tables.documents(s, dir), "doc_id", "text",
      topV = VocabTopV)

  val taVocabOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), ptf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |)
       |SELECT term, CAST(SUM(tf) AS BIGINT) AS total_tf,
       |  CAST(COUNT(*) AS BIGINT) AS doc_freq
       |FROM ptf GROUP BY term
       |ORDER BY total_tf DESC, term ASC
       |LIMIT $VocabTopV""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ta_dup_fraction", taDupFraction, Some(taDupFractionOracle), (5, "staging")),
    Gate("ta_token_bpe", taTokenBpe, Some(taTokenBpeOracle)),
    Gate("ta_perplexity", taPerplexity, Some(taPerplexityOracle)),
    Gate("ta_perplexity_incremental", taPerplexityIncremental, Some(taPerplexityIncrementalOracle)),
    Gate("ta_quality_clf", taQualityClf, Some(taQualityClfOracle), (14, "classifier")),
    Gate("ta_quality_clf_incremental", taQualityClfIncremental, Some(taQualityClfIncrementalOracle), (14, "classifier")),
    Gate("ta_bpe_train", taBpeTrain, Some(taBpeTrainOracle), (11, "bpe")),
    Gate("ta_bpe_encode", taBpeEncode, Some(taBpeEncodeOracle), (12, "bpe")),
    Gate("ta_token_stats", taTokenStats, Some(taTokenStatsOracle)),
    Gate("ta_quality", taQuality, Some(taQualityOracle)),
    Gate("ta_langid", taLangid, Some(taLangidOracle)),
    Gate("ta_fingerprint", taFingerprint, Some(taFingerprintOracle)),
    Gate("ta_repetition", taRepetition, Some(taRepetitionOracle)),
    Gate("tx_redact", txRedact, Some(txRedactOracle)),
    Gate("tx_canonicalize", txCanonicalize, Some(txCanonicalizeOracle)),
    Gate("ta_tfidf", taTfidf, Some(taTfidfOracle)),
    Gate("ta_vocab", taVocab, Some(taVocabOracle)))
}
