package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.roundFixed

/** Text-analysis operators for training-data curation: token statistics,
  * quality scoring, heuristic language identification, and content
  * fingerprinting. All are single-pass projections (no shuffle) — at
  * 100 TB these run at scan speed.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a")

  /** Per-document token statistics. All ratios are int/int → double
    * divisions, so results are bit-deterministic across engines. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array in its own projection: it is consumed
    // by 4 expressions below, and re-splitting the text per consumer is
    // the dominant cost (interpreted HOFs get no CSE)
    val t = col("__toks")
    val nTok = size(t)
    val nDistinct = size(array_distinct(t))
    val nStop = size(filter(t, tok => tok.isInCollection(stopwords)))
    df.select(col(idCol), col(textCol), tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        nTok.cast("long").as("n_tokens"),
        nDistinct.cast("long").as("n_distinct_tokens"),
        (length(regexp_replace(col(textCol), " ", "")).cast("double") / nTok)
          .as("avg_token_len"),
        (nStop.cast("double") / nTok).as("stopword_ratio"),
        (nDistinct.cast("double") / nTok).as("distinct_ratio"))
  }

  /** Column-level quality score over a MATERIALIZED token-array column
    * (callers must project the token array first — HOF re-evaluation
    * pitfall) — exposed so Curation can fuse it into one scan instead
    * of joining a metric frame back on the id. */
  def qualityScoreCol(toks: Column): Column = {
    val nTok = size(toks)
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks, tok => tok.isInCollection(stopwords)))
      .cast("double") / nTok
    val lengthScore = least(nTok.cast("double") / 100.0, lit(1.0))
    distinctRatio + lengthScore - stopRatio
  }

  /** Composite quality score in [0,~2]: rewards lexical diversity and
    * reasonable length, penalizes stopword stuffing. Deterministic
    * double arithmetic (no rounding). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("__toks")
    val nTok = size(t)
    val distinctRatio = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = size(filter(t, tok => tok.isInCollection(stopwords)))
      .cast("double") / nTok
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        nTok.cast("long").as("n_tokens"),
        distinctRatio.as("distinct_ratio"),
        stopRatio.as("stopword_ratio"),
        qualityScoreCol(t).as("quality_score"))
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有"))

  /** Column-level language ID over a MATERIALIZED distinct-token array
    * column (same fusion rationale as qualityScoreCol). Deterministic
    * argmax: ties break toward the lexicographically larger code; zero
    * hits → "und". */
  def predictedLangCol(distinctToks: Column): Column = {
    val best = array_max(array(langProfiles.map { case (lang, words) =>
      struct(
        size(array_intersect(distinctToks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }: _*))
    when(best.getField("score") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Heuristic language ID via stopword-profile overlap (n-gram/stopword
    * profiles are the classic public technique; profiles here are tiny
    * built-in lists). */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("__toks")
    val best = array_max(array(langProfiles.map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }: _*))
    df.select(col(idCol), array_distinct(tokens(col(textCol))).as("__toks"))
      .select(
        col(idCol),
        // zero profile hits = no evidence → "und", not an arbitrary tie
        predictedLangCol(toks).as("predicted_lang"),
        best.getField("score").cast("long").as("profile_hits"))
  }

  /** Content fingerprint: md5 over case/whitespace-normalized text —
    * the key for exact dedup across shards. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      md5(lower(trim(col(textCol)))).as("fingerprint"))

  /** BPE-style pre-tokenizer pattern (GPT-2-family shape, simplified to
    * be lookahead-free so RE2-based engines — DuckDB's regex — match
    * Java's semantics exactly): a token is an optional leading space
    * plus a run of letters, digits, or other non-space symbols. The
    * alternatives are first-character-disjoint, so alternation order
    * cannot differ between engines. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Repetition signals (Gopher-style quality filters): the fraction of
    * the document covered by its most frequent token bigram/trigram —
    * high values flag boilerplate, keyword stuffing, and generation
    * loops. Computed entirely IN-ROW — zero shuffles, embarrassingly
    * parallel (the first-cut explode + groupBy(doc, gram) + max +
    * join-back shape measured 7.0s at sf0.1 against sub-second for this
    * projection). The per-doc count is the native fused n-gram hash
    * loop (plans/NGramMaxMultiplicityExpr): the sorted-run HOF over
    * gram strings it replaces interpreted ~2 node evaluations per gram
    * per step. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fused native n-gram counting (graft.plans.NGramMaxMultiplicity):
    // the former grams(·) ∘ max-multiplicity composition materialized every
    // gram as an interpreted concat_ws string — n element_at evals + one
    // allocation per position per row, ta_repetition's dominant term;
    // the fused expression counts n-token windows over the existing
    // array (equality asserted in MaxMultiplicityExprSpec)
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("n_tokens"),
        NativeFunctions.maxMultNgram(col("__toks"), 2).as("top_bigram_count"),
        NativeFunctions.maxMultNgram(col("__toks"), 3).as("top_trigram_count"))
      .select(
        col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        col("top_bigram_count"),
        (col("top_bigram_count") * 2).cast("double")
          ./(col("n_tokens")).as("top_bigram_fraction"),
        col("top_trigram_count"),
        (col("top_trigram_count") * 3).cast("double")
          ./(col("n_tokens")).as("top_trigram_fraction"))
  }

  /** PII scrubbing patterns — lookahead-free with bounded repetition, so
    * Java regex and RE2 (DuckDB) agree byte-for-byte. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{7,}"

  /** Redact email addresses and long digit runs (ids, phone-ish
    * numbers) — the minimal PII scrub pass every training corpus runs.
    * Pure projection, scan-speed. */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      regexp_replace(
        regexp_replace(col(textCol), lit(EmailPattern), lit("<EMAIL>")),
        lit(LongNumberPattern), lit("<NUM>")).as("redacted"))

  /** Canonical text for normalize-before-dedup: lower-case, every
    * non-[a-z0-9 ] character to a space, space runs collapsed, ends
    * trimmed — so "Customer#01 -- NEW" and "customer 01 new" share one
    * exact-dedup fingerprint. ASCII character classes only, which both
    * Java and RE2-family regex engines read identically (the
    * cross-engine constraint the redact patterns follow too). */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), lit("[^a-z0-9 ]"), lit(" ")),
      lit(" +"), lit(" ")))

  /** Per-row canonicalization + the md5 fingerprint `exactGroups` would
    * dedup on, + a changed flag. Pure projection, scan-speed. */
  def canonicalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = canonicalText(col(textCol))
    df.select(
      col(idCol),
      canon.as("canon"),
      md5(canon).as("fingerprint"),
      (canon =!= col(textCol)).as("changed"))
  }

  /** Model-token accounting: whitespace words vs BPE-ish pre-tokens and
    * their ratio — the standard first-order estimate of LLM token cost
    * per document. Single projection, scan-speed. */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bpe = size(regexp_extract_all(col(textCol), lit(BpePattern), lit(0)))
    val ws = size(tokens(col(textCol)))
    df.select(
      col(idCol),
      bpe.cast("long").as("n_bpe_tokens"),
      ws.cast("long").as("n_ws_tokens"),
      (bpe.cast("double") / ws).as("bpe_per_word"))
  }

  /** TF-IDF top terms per document — the classic term-importance signal
    * (keyword extraction, topic hints, near-dup explanation).
    *
    * score = tf · ln(N / df), fixed-point rounded via
    * VectorFunctions.roundFixed (floor(x·10^dp + 0.5)/10^dp — every
    * step the same correctly-rounded IEEE op in both engines, immune to
    * the Spark-vs-DuckDB round() half-way semantics gap). The rounding
    * absorbs cross-libm ln ulps, and the per-doc RANK uses the rounded
    * score (term tiebreak), so row selection is deterministic
    * cross-engine too.
    *
    * Scale: one explode + two map-side-combinable aggregations (term
    * frequencies per doc, document frequencies per term) + a per-doc
    * top-m window. The df table is vocabulary-sized — broadcast back to
    * the tf rows; the window partitions by doc_id, whose cardinality per
    * partition is the document's own vocabulary (bounded), never the
    * corpus. */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String,
      topM: Int = 5, roundDp: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explode_OUTER + null-drop, NOT explode (the Dedup.ngramJaccardPairs
    // rationale): InferFiltersFromGenerate's pushed (size > 0, isnotnull)
    // filter re-evaluates the generator input — here split(text) — twice
    // more per source row; the outer form is excluded from that rule.
    // split() never returns an empty array on non-null text, so the only
    // dropped rows are null-text docs, exactly as before.
    val tf = df
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // the always-true tf >= 1 keeps the tf column alive in this branch;
    // without it column pruning rewrites the branch into a distinct-agg
    // whose exchange subtree no longer matches the tf branch's, and
    // ReuseExchange cannot dedupe — the corpus would be exploded,
    // aggregated, and shuffled TWICE (verified in PlanQualitySpec: one
    // ReusedExchange, one real corpus scan)
    val docFreq = tf.filter(col("tf") >= 1)
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(docFreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        roundFixed(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")), roundDp))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rn") <= topM)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Vocabulary building: global term totals + document frequencies,
    * top-`topV` by total count (term tiebreak) — the first step of
    * tokenizer training and OOV analysis over a corpus.
    *
    * Scale: two map-side-combinable aggregations; the final top-V is a
    * TakeOrdered (k·partitions rows cross the wire, never the whole
    * vocabulary). */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      topV: Int = 100): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc"), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull) // outer + drop: skips InferFiltersFromGenerate (see tfidfTopTerms)
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(sum("tf").as("total_tf"), count(lit(1)).as("doc_freq"))
      .orderBy(col("total_tf").desc, col("term").asc)
      .limit(topV)
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms — distributed keyword search/scoring (the retrieval half of a
    * dedup-by-retrieval or quality-rerank pass).
    *
    * Standard Robertson/Sparck-Jones BM25 with idf = ln(1 + (N − df +
    * 0.5)/(df + 0.5)). Corpus constants (N, Σdl) are integer aggregates
    * (exact in double), broadcast back as a 1-row frame; per-term score
    * components are summed in the WRITTEN term order (FP addition is not
    * associative — a groupBy-sum over exploded terms would be partition-
    * order-dependent), and the total is rounded to `roundDp` to absorb
    * cross-libm ln ulps.
    *
    * Plan shape: the narrow (id, dl, tf…) frame — 8 + 8·|terms| bytes
    * per doc, the text never survives the first projection — is
    * materialized ONCE (localCheckpoint) and feeds both the 1-row stats
    * aggregate and the scoring projection: without it the stats branch
    * and the scoring branch each re-ran the tokenize + count pass over
    * the full corpus (Spark reuses exchanges, not arbitrary projection
    * subtrees). Term counting is size(filter(·)) per term rather than
    * one aggregate-struct fold: |terms| passes over the token array beat
    * the fold's per-token struct rebuild by ~1.5× measured (both are
    * interpreted HOFs; the fold allocates a |terms|-field struct per
    * token, the filters allocate nothing). */
  def bm25(
      df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, roundDp: Int = 6): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("dl"))
    val withTf = base
      .select(
        (col(idCol) +: col("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === t)).cast("long").as(s"tf_$i")
          }): _*)
      // LAZY checkpoint: materialized by the first action that executes
      // the returned plan (the stats broadcast runs first and computes
      // it; the scoring scan then reads it back), so merely BUILDING the
      // DataFrame stays job-free and plan-only callers pay nothing
      .localCheckpoint(eager = false)
    val statCols = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val scoredTerms: Seq[Column] = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs").cast("double") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5)))
      val dlNorm = lit(k1) * ((lit(1.0) - lit(b)) +
        lit(b) * (col("dl").cast("double") /
          (col("sum_dl").cast("double") / col("n_docs").cast("double"))))
      idf * ((tf * lit(k1 + 1.0)) / (tf + dlNorm))
    }
    val total = scoredTerms.reduceLeft(_ + _)
    val nMatched = terms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col(idCol),
        roundFixed(total, roundDp).as("bm25"),
        nMatched.as("n_matched"))
      .filter(col("n_matched") > 0)
  }

  /** N-gram language-model PERPLEXITY scoring — the standard
    * model-based quality filter of LLM data pipelines (documents a
    * corpus-trained LM finds surprising are boilerplate, garbled, or
    * off-distribution; filter above a perplexity threshold): an
    * add-α-smoothed bigram LM trains on the corpus itself in two
    * map-side-combinable count aggregations, and every document scores
    * p(w₂|w₁) = (c(w₁w₂)+α)/(c(w₁)+α·V) over its bigrams. c(w₁) is
    * the token's total occurrence count (the context-count
    * approximation, stated plainly — exact context counts differ only
    * by each doc's final token).
    *
    * Determinism across engines, the part that makes this
    * oracle-gateable: per-bigram log-probs are fixed-pointed to
    * `roundDp` decimals AS LONGS and summed — integer addition is
    * order-independent, where a double sum over shuffled rows is not —
    * then the average exponentiates once per doc. Output one row per
    * document with ≥2 tokens: (doc_id, n_bigrams, perplexity); shorter
    * docs have no bigram evidence and no row.
    *
    * Scale shape: the corpus-sized joins are equi-joins of the doc
    * bigrams against the bigram/unigram count tables (the bigram side
    * reuses the bigram exchange, tfidf-style); V is a 1-row broadcast;
    * nothing is quadratic and no state exceeds the count tables. */
  def bigramPerplexity(
      df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, roundDp: Int = 6): DataFrame = {
    // Self-scoring materializes the tokenized projection ONCE (lazy
    // localCheckpoint — the positionalPosting single-scan fix): the
    // composed plan otherwise runs THREE full tokenize branches (the
    // unigram count, the bigram count, and the per-doc scoring pass)
    // because the count aggregates sit below their exchanges, where
    // reuse can never unify them. Batch-only composition — the
    // streaming path goes through [[bigramPerplexityFromModel]], which
    // stays checkpoint-free (checkpoints are illegal on streams).
    val toks = df
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .localCheckpoint(eager = false)
    val (uni, bi) = bigramLmModelFromToks(toks.select(col("t")))
    scoreTokenized(toks, Seq(idCol), uni, bi, alpha, roundDp)
  }

  /** The trained LM state as two PERSISTABLE count tables — unigram
    * (w1, cu) and bigram (w1, w2, cb), plain columns storable and
    * re-readable as parquet like every other incremental index here —
    * so a production loop trains once per corpus version and every
    * ingest batch scores against the frozen tables. */
  def bigramLmModel(df: DataFrame, textCol: String): (DataFrame, DataFrame) =
    bigramLmModelFromToks(df.select(tokens(col(textCol)).as("t")))

  private def bigramLmModelFromToks(toks: DataFrame): (DataFrame, DataFrame) = {
    // outer + null-drop on both explodes: skips InferFiltersFromGenerate
    // (see tfidfTopTerms — the inferred filter re-runs the tokenize /
    // bigram-transform tree twice more per row)
    val uni = toks.select(explode_outer(col("t")).as("w1"))
      .filter(col("w1").isNotNull)
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val bi = toks
      .filter(size(col("t")) >= 2)
      .select(explode_outer(expr(
        "transform(sequence(0, size(t) - 2), i -> " +
          "named_struct('w1', t[i], 'w2', t[i + 1]))")).as("b"))
      .filter(col("b").isNotNull)
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    (uni, bi)
  }

  /** Score documents against a (possibly persisted-and-reloaded,
    * possibly OTHER-corpus) LM — the O(Δ)-per-ingest twin: out-of-model
    * tokens and bigrams take the smoothed-zero path (cb = 0 / cu = 0 →
    * p = α/(α·V) at worst, the uniform floor), so new text scores
    * without retraining. Within-corpus self-scoring
    * ([[bigramPerplexity]]) matches every key, making the two paths one
    * definition. */
  def bigramPerplexityFromModel(
      df: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame,
      alpha: Double = 1.0, roundDp: Int = 6,
      // extra named grouping columns computed over the input row and
      // carried through the per-doc aggregation — the streaming twin
      // (streaming.StreamingPerplexity) passes its event-time window
      // here so append-mode emission and state expiry work; batch
      // callers leave it empty and the plan is unchanged
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed zeros have log -inf)")
    scoreTokenized(
      df.select(col(idCol) +: carry.map { case (n, c) => c.as(n) } :+
        tokens(col(textCol)).as("t"): _*),
      idCol +: carry.map(_._1), uni, bi, alpha, roundDp)
  }

  /** The scoring body shared by [[bigramPerplexity]] (pre-tokenized,
    * checkpointed self-scoring) and [[bigramPerplexityFromModel]]
    * (streaming-legal): `keyed` carries the key columns plus the
    * materialized token array `t`. */
  private def scoreTokenized(
      keyed: DataFrame, keyNames: Seq[String],
      uni: DataFrame, bi: DataFrame,
      alpha: Double, roundDp: Int): DataFrame = {
    val v = uni.select(count(lit(1)).as("v"))
    val keyCols = keyNames.map(col)
    val docBi = keyed
      .filter(size(col("t")) >= 2)
      .select(keyCols :+ explode_outer(expr(
        "transform(sequence(0, size(t) - 2), i -> " +
          "named_struct('w1', t[i], 'w2', t[i + 1]))")).as("b"): _*)
      .filter(col("b").isNotNull) // outer + drop: skips InferFiltersFromGenerate (see tfidfTopTerms)
      .select(keyCols ++ Seq(col("b.w1").as("w1"), col("b.w2").as("w2")): _*)
    val scaled = math.pow(10, roundDp)
    val lp = floor(log(
      (coalesce(col("cb"), lit(0L)).cast("double") + lit(alpha)) /
        (coalesce(col("cu"), lit(0L)).cast("double") +
          lit(alpha) * col("v").cast("double"))) *
      lit(scaled) + lit(0.5)).cast("long")
    docBi
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(keyCols :+ lp.as("lp_fixed"): _*)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_fixed").as("lp_sum"))
      .select(keyCols ++ Seq(col("n_bigrams"),
        roundFixed(exp(-(col("lp_sum").cast("double") / lit(scaled)) /
          col("n_bigrams").cast("double")), roundDp).as("perplexity")): _*)
  }

  /** REAL distributed BPE merge training (the standard byte-pair-
    * encoding vocabulary learner): the corpus pre-tokenizes once into
    * a (word, freq) table — the ONLY corpus-sized pass; at 100 TB the
    * distinct pre-token vocabulary is millions of rows, and every
    * training round below runs on that compressed table, never the
    * corpus — then `rounds` Lloyd-style iterations each (a) count all
    * adjacent symbol pairs weighted by word frequency (one map-side-
    * combinable aggregation), (b) pick the best pair on the driver
    * (count DESC, then lexicographic (left, right) — fully
    * deterministic), and (c) apply the merge to every word's symbol
    * array in-row via a greedy left-to-right fold (non-overlapping:
    * "aaaa" under rule (a,a) becomes "aa","aa" — the standard BPE
    * application; a higher-order `aggregate`, no shuffle). The word
    * table is lazily localCheckpointed per round so lineage stays flat
    * across iterations.
    *
    * Output: one row per learned merge — (merge_rank, lhs, rhs,
    * pair_count) — the merge table a BPE tokenizer ships. Training
    * stops early if no pair is left (every word fully merged).
    * Differential-tested against the test-side
    * `ReferenceModels.bpeTrainReference` in BpeTrainSpec and
    * oracle-gated as ta_bpe_train (the DuckDB oracle unrolls the same
    * rounds; greedy overlap resolved by a
    * keep-every-other-match-in-a-run window, which equals the fold
    * because overlapping matches only arise when lhs = rhs). */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainLoop(df, textCol, rounds)._1
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .select(col("merge_rank").cast("int"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** The training loop shared by [[bpeTrain]] and [[bpeEncodeCounts]]:
    * returns (learned merges, the word table AFTER all merges — (word,
    * freq, syms), the trained vocabulary's segmentation of every
    * corpus word). */
  private def bpeTrainLoop(df: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrainLoopFromWordFreq(
      df.select(explode_outer(regexp_extract_all(
          col(textCol), lit(BpePattern), lit(0))).as("word"))
        // outer + drop: skips InferFiltersFromGenerate, whose pushed
        // filter re-runs regexp_extract_all twice more per row
        .filter(col("word").isNotNull)
        .groupBy("word").agg(count(lit(1)).as("freq")),
      rounds)

  /** The loop over a precomputed (word, freq) table — lets
    * [[bpeEncodeCounts]] derive training frequencies from the SAME
    * per-doc posting materialization it encodes with (one corpus
    * extraction pass, not two). */
  private def bpeTrainLoopFromWordFreq(wordFreq: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = wordFreq.sparkSession
    import spark.implicits._
    // The ONLY corpus-sized pass stays declarative SQL: pre-tokenize,
    // compress to (word, freq), split to code-point symbols (substring
    // slices by code point — a supplementary-plane emoji is ONE symbol).
    val wordsDf = wordFreq
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("syms"))
    // Size-adaptive round parallelism (the trainWeights convention):
    // ~100k words per task, never above the aggregate's own
    // partitioning — a 100 TB vocabulary keeps full parallelism.
    //
    // The `rounds` iterations drive the RDD view of that table, pinned
    // once — the trainWeights rationale at its sharpest: each SQL-side
    // round here cost ~150 ms of planner machinery (fresh analysis +
    // codegen because the merge pair rides as literals, AQE re-planning,
    // a lazy re-checkpoint) against single-digit-ms of actual work on a
    // Heaps'-law-sized vocabulary, so 8 rounds were ~85% fixed overhead
    // (cross-SF ratio 1.02). Per round now: one mapPartitions pair
    // count (map-side combine into a hash map) → reduceByKey (the same
    // tiny shuffle the SQL groupBy ran) → takeOrdered(1) under
    // (count DESC, lhs, rhs in UTF-8 BYTE order — Spark's binary string
    // collation, NOT Java's UTF-16 compareTo) → in-JVM greedy merge,
    // the exact fold applyBpeMerge evaluates and bpeTrainReference
    // checks independently; the DuckDB oracle gates the result
    // end-to-end. Merge rounds chain as narrow maps over the persisted
    // base (≤ rounds cheap re-applications inside each round's scan —
    // no per-round materialization barrier).
    var words = wordsDf.as[(String, Long, Seq[String])].rdd
    val nWords = words.count()
    val wantPartitions = math.max(1L, math.min(
      words.getNumPartitions.toLong, (nWords + 99999) / 100000)).toInt
    if (wantPartitions < words.getNumPartitions)
      words = words.coalesce(wantPartitions)
    words = words.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    words.count() // pin before the rounds so every round reads blocks
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val bestFirst = new Ordering[(String, String, Long)] {
      def compare(p: (String, String, Long), q: (String, String, Long)): Int = {
        if (p._3 != q._3) return java.lang.Long.compare(q._3, p._3)
        if (p._1 != q._1) return if (utf8Lt(p._1, q._1)) -1 else 1
        if (p._2 == q._2) 0 else if (utf8Lt(p._2, q._2)) -1 else 1
      }
    }
    def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = words
        .mapPartitions { it =>
          val acc = scala.collection.mutable.Map.empty[(String, String), Long]
          it.foreach { case (_, f, syms) =>
            var i = 0
            while (i + 1 < syms.length) {
              val k = (syms(i), syms(i + 1))
              acc(k) = acc.getOrElse(k, 0L) + f
              i += 1
            }
          }
          acc.iterator
        }
        .reduceByKey(_ + _)
        .map { case ((a, b), c) => (a, b, c) }
        .takeOrdered(1)(bestFirst)
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = best.head
        merges += ((r, a, b, cnt))
        words = words.map { case (w, f, syms) => (w, f, applyMerge(syms, a, b)) }
        r += 1
      }
    }
    (merges.result(), words.toDF("word", "freq", "syms"))
  }

  /** Per-document MODEL-token counts under the TRAINED vocabulary —
    * the accounting a data-mixture planner actually budgets with
    * (ta_token_bpe's regex pre-token count is the UPPER bound before
    * merges; this is the real count after `rounds` learned merges):
    * train once on the corpus, then one join of each doc's word counts
    * against the final word table's segment lengths. Words outside the
    * trained table (possible when encoding NEW text) fall back to
    * character count — the byte-fallback analogue. Output:
    * (doc_id, n_bpe_tokens); documents with no pre-tokens have no
    * tokens and no row. */
  def bpeEncodeCounts(
      df: DataFrame, idCol: String, textCol: String, rounds: Int): DataFrame = {
    // ONE corpus extraction pass: the per-doc (doc, word, cnt) posting
    // materializes lazily and serves BOTH sides — training frequencies
    // are its word-marginal (the same counts the direct corpus
    // aggregation computes, associativity of count), and encoding joins
    // it against the learned segment lengths. Before this the train
    // loop and the encode side each ran their own full
    // tokenize→regex→explode scan.
    val posting = df
      .select(col(idCol), explode_outer(regexp_extract_all(
        col(textCol), lit(BpePattern), lit(0))).as("word"))
      .filter(col("word").isNotNull) // outer + drop: skips InferFiltersFromGenerate (regex ×3 otherwise)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val (_, words) = bpeTrainLoopFromWordFreq(
      posting.groupBy("word").agg(sum("cnt").as("freq")), rounds)
    val vocab = words.select(col("word"),
      size(col("syms")).cast("long").as("n_syms"))
    posting
      .join(vocab, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt") *
        coalesce(col("n_syms"), length(col("word")).cast("long")))
        .as("n_bpe_tokens"))
  }
}
