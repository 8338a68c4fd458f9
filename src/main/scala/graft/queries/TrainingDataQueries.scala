package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BandIndex, Dedup, Multimodal, SimilaritySearch, TextAnalysis}
import graft.sources.Tables
import graft.store.Storage

/** Training-data pipeline operators as driver-gated queries over the
  * `documents` and `embeddings` testdata tables.
  *
  * Every probabilistic operator here (MinHash, SimHash, hyperplane LSH)
  * is deliberately built from cross-engine-recomputable primitives —
  * md5-derived hashes, literal coefficient/hyperplane arrays, slice-
  * string band keys — precisely so it can carry a full DuckDB oracle:
  * both engines run the SAME randomized algorithm, so outputs must
  * hash-match exactly, not just statistically. As of round 3 EVERY query
  * here is oracle-gated: mm_features via deterministic synthesis + real
  * BMP/WAV decode (DuckDB recomputes what the parse must find), and
  * sk_sketches via exact aggregates + within-bound booleans.
  */
object TrainingDataQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Collision-safe identifier suffix for per-data-dir shared state
    * (persisted index tables/paths, memo keys): sanitized path tail +
    * length + full hex hashCode. The previous abs-hashCode
    * convention could collide two dirs in one JVM (and
    * math.abs(Int.MinValue) is negative), silently serving one dir's
    * persisted index to the other until an oracle gate tripped. */
  private def dirSlug(dir: String): String = {
    val san = dir.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')
    val tail = if (san.length > 40) san.substring(san.length - 40) else san
    s"${tail}_${dir.length}_${java.lang.Integer.toHexString(dir.hashCode)}"
  }

  /** Reduce a (truth, approx) row-set pair to the single (hits,
    * total_truth, <metric>) row every recall gate emits — the DataFrame
    * twin of Recall.recallAtK/pairRecall, shared so the three gates
    * cannot drift in casts, null handling, or column names. */
  private def recallRow(truth: DataFrame, approx: DataFrame,
      joinCols: Seq[String], metricName: String): DataFrame = {
    // ONE plan over ONE evaluation of truth: the naive hits/total pair
    // (semi-join count × plain count) evaluates the brute-force truth
    // subtree twice — the expensive half of every recall gate. A left
    // join against the DISTINCT approx pairs (distinct restores the
    // semi-join's no-duplication semantics) lets a single aggregate
    // produce both counts from the same pass.
    val marked = approx.select(joinCols.map(col): _*).distinct()
      .withColumn("__hit", lit(1L))
    truth.join(marked, joinCols, "left")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total_truth"))
      .select(col("hits"), col("total_truth"),
        (col("hits").cast("double") / col("total_truth")).as(metricName))
  }

  /** dd_exact — exact dedup groups by content fingerprint. */
  val ddExact: Q = (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("fingerprint")

  val ddExactOracle: String =
    """SELECT md5(text) AS fingerprint,
      |  COUNT(*) AS n_docs,
      |  MIN(doc_id) AS canonical_id
      |FROM documents
      |GROUP BY 1
      |ORDER BY fingerprint""".stripMargin

  /** dd_ngram_jaccard — exact 3-gram Jaccard near-dup pairs via the
    * inverted-index plan; oracle recomputes all-pairs naively. */
  val ddNgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** DuckDB n-gram shingle expression over a token-array SQL expression —
    * the oracle templates interpolate the SAME named defaults the Spark
    * operators use (Dedup.Default*), so a default change regenerates the
    * matching oracle instead of silently desynchronizing the gate. */
  private def duckShingles(tArr: String, n: Int): String =
    s"list_distinct(list_transform(range(len($tArr) - ${n - 1}), i -> " +
      (1 to n).map(j => s"$tArr[i+$j]").mkString(" || ' ' || ") + "))"

  val ddNgramJaccardOracle: String = {
    val n = Dedup.DefaultShingleN
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckShingles("string_split(text,' ')", n)} AS s
       |  FROM documents)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |WHERE jaccard >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared DuckDB CTEs producing the exact n-gram Jaccard pair graph
    * (same named defaults as the Spark operator). */
  private def ngramPairsCtes: String = {
    val n = Dedup.DefaultShingleN
    s"""sh AS (
       |  SELECT doc_id, ${duckShingles("string_split(text,' ')", n)} AS s
       |  FROM documents),
       |prs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= ${Dedup.DefaultMinhashThreshold})""".stripMargin
  }

  /** dd_clusters — duplicate CLUSTERS: connected components over the
    * exact-Jaccard pair graph, canonical representative = min doc id
    * (operators.Dedup.duplicateClusters, iterative min-label
    * propagation). Oracle: DuckDB recursive CTE computing per-doc
    * minimum reachable label — a closed-form definition of the same
    * components. */
  val ddClusters: Q = (s, dir) =>
    Dedup.duplicateClusters(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text"))
      .orderBy("doc_id")

  val ddClustersOracle: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM prs),
       |reach(doc, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc = e.dst)
       |SELECT doc AS doc_id, min(lab) AS cluster_id
       |FROM reach GROUP BY doc
       |ORDER BY doc_id""".stripMargin

  /** dd_clusters_incremental — O(Δ) duplicate-cluster MAINTENANCE
    * (Dedup.mergeClustersIncremental): the standing corpus's persisted
    * labels (doc_id%5 ≠ 0) absorb the pairs the delta introduced
    * (every pair involving a doc_id%5 = 0 doc), with all the merge work
    * on the tiny label graph and the corpus labels rewritten by one
    * broadcast-mapped projection. Equality contract: row-for-row equal
    * to the from-scratch components over the UNION pair graph — so the
    * oracle IS dd_clusters' oracle (the full-corpus recursive CTE).
    * The doc-freq guard is dormant at the gated fixtures (the
    * dd_clusters convention), so corpus-subset pairs ∪ delta-involving
    * pairs = the full pair set exactly. */
  val ddClustersIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // ONE pair enumeration feeds both the standing-state fixture and
    // the delta (lazy localCheckpoint): under the dormant doc-freq
    // guard this gate already relies on — asserted per gated SF by
    // BucketCapDormancySpec "ngram doc-freq guard is DORMANT" — the corpus-
    // subset pairs ARE the full pair set with both ends %5 ≠ 0 — the
    // round-12 form enumerated the quadratic pair walk twice and spent
    // most of its 30s re-running fixture setup, not the operator
    val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").localCheckpoint(true)
    val labels = Dedup.duplicateClusters(
      allPairs.filter(pmod(col("doc_a"), lit(5)) =!= 0 &&
        pmod(col("doc_b"), lit(5)) =!= 0))
    val newPairs = allPairs
      .filter(pmod(col("doc_a"), lit(5)) === 0 ||
        pmod(col("doc_b"), lit(5)) === 0)
    Dedup.mergeClustersIncremental(labels, newPairs).orderBy("doc_id")
  }

  val ddClustersIncrementalOracle: String = ddClustersOracle

  /** dd_keep_best — per-duplicate-cluster representative selection by
    * QUALITY (Dedup.keepBestPerCluster): the curation finalization that
    * keeps each duplicate group's best-written member instead of its
    * minimum id. Components over the exact-Jaccard pair graph (same
    * recursive-CTE truth as dd_clusters — quadratic oracle, skip at
    * sf0.1), quality = the gated ta_quality closed form, argmax ties to
    * the smaller id. */
  val ddKeepBest: Q = (s, dir) =>
    Dedup.keepBestPerCluster(
      Tables.documents(s, dir), "doc_id", "text",
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text"))
      .orderBy("doc_id")

  val ddKeepBestOracle: String =
    s"""WITH RECURSIVE $ngramPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM prs),
       |reach(doc, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc = e.dst),
       |clusters AS (
       |  SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc),
       |scored AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))
       |     + LEAST(len(string_split(text,' ')) / 100.0, 1.0)
       |     - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' '))) AS quality_score
       |  FROM documents),
       |withc AS (
       |  SELECT s.doc_id, COALESCE(c.cluster_id, s.doc_id) AS cid, s.quality_score
       |  FROM scored s LEFT JOIN clusters c ON s.doc_id = c.doc_id),
       |ranked AS (
       |  SELECT doc_id, cid, quality_score,
       |    row_number() OVER (PARTITION BY cid
       |                       ORDER BY quality_score DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cid) AS cluster_size
       |  FROM withc)
       |SELECT doc_id, cluster_size, quality_score
       |FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** dd_keep_best_incremental — O(Δ) SURVIVOR-SET maintenance
    * (Dedup.keepBestStateIncremental): the persisted per-cluster
    * keep-best state (best member by quality, cluster size) absorbs a
    * delta batch — only the delta is scored, the merge runs on the
    * delta-sized label graph, affected state rows re-aggregate, the
    * corpus text is never read. Equality contract with the
    * from-scratch rebuild, so the oracle IS dd_keep_best's (the
    * full-corpus recursive CTE + per-cluster argmax). */
  val ddKeepBestIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    // ONE pair enumeration for the whole gate (the dd_clusters_
    // incremental convention): the round-12 form ran the quadratic
    // walk for the corpus fixture, AGAIN for the delta pairs, and the
    // corpus set was then consumed by BOTH keepBestState and
    // duplicateClusters — 4 enumerations ≈ 61s at sf0.1 of which the
    // operator under test was a fraction; the standing-state fixture
    // is setup, not the measured contract
    val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").localCheckpoint(true)
    val corpusPairs = allPairs.filter(pmod(col("doc_a"), lit(5)) =!= 0 &&
      pmod(col("doc_b"), lit(5)) =!= 0)
    val newPairs = allPairs
      .filter(pmod(col("doc_a"), lit(5)) === 0 ||
        pmod(col("doc_b"), lit(5)) === 0)
    Dedup.keepBestStateIncremental(
      Dedup.keepBestState(corpus, "doc_id", "text", corpusPairs),
      Dedup.duplicateClusters(corpusPairs),
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
      newPairs)
      .select(col("doc_id"), col("cluster_size"), col("quality_score"))
      .orderBy("doc_id")
  }

  val ddKeepBestIncrementalOracle: String = ddKeepBestOracle

  /** dd_spans — shared-SPAN detection (Dedup.sharedSpans): maximal
    * contiguous duplicated token runs across document pairs via a
    * positional shingle inverted index + gaps-and-islands on the match
    * diagonal — the "copied passage" dedup family that document-level
    * Jaccard misses. Oracle: the identical closed form in DuckDB
    * (positional unnest, same relative doc-freq prune, same
    * row_number island fold, same lexicographic-struct argmax). */
  val ddSpans: Q = (s, dir) =>
    Dedup.sharedSpans(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  /** Shared DuckDB CTEs producing the maximal shared-span set (same
    * positional shingles, doc-freq prune, diagonal islands and length
    * floor as Dedup.sharedSpans) — used by dd_spans and
    * ta_dup_fraction. */
  private def spanPipelineCtes: String = {
    val k = Dedup.DefaultSpanK
    val minSpan = Dedup.DefaultMinSpanTokens
    val shingle = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(t) - ${k - 1}),
       |           i -> {'pos': i, 's': $shingle})) AS u
       |  FROM toks WHERE len(t) >= $k),
       |-- 60-bit md5 shingle key: bit-identical to Spark's
       |-- TextFunctions.shingleKey (conv(substr(md5(s),1,15),16,10)) —
       |-- the join and doc-freq guard run on the 8 B key, not the string
       |shp AS (SELECT doc_id, u.pos AS pos,
       |               ('0x' || substr(md5(u.s),1,15))::BIGINT AS h FROM sh0),
       |lim AS (
       |  SELECT greatest(${Dedup.MinDocFreqFloor}.0,
       |                  ${Dedup.DefaultMaxDocFreqFraction} * count(*)) AS df_limit
       |  FROM documents),
       |keep AS (
       |  SELECT h FROM (
       |    SELECT h, count(DISTINCT doc_id) AS df FROM shp GROUP BY h), lim
       |  WHERE df <= df_limit),
       |shk AS (SELECT shp.* FROM shp JOIN keep USING (h)),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
       |  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
       |  FROM m),
       |spans AS (
       |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
       |         count(*) + ${k - 1} AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, island
       |  HAVING count(*) + ${k - 1} >= $minSpan)""".stripMargin
  }

  val ddSpansOracle: String =
    s"""WITH $spanPipelineCtes,
       |agg AS (
       |  SELECT doc_a, doc_b, count(*) AS n_spans,
       |    max(struct_pack(l := span_len, na := -start_a, nb := -start_b)) AS best
       |  FROM spans GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, n_spans, best.l AS max_span,
       |       -best.na AS start_a, -best.nb AS start_b
       |FROM agg ORDER BY doc_a, doc_b""".stripMargin

  /** dd_spans_incremental — incremental shared spans
    * (Dedup.sharedSpansIncremental): docs with id%5 = 0 play the
    * incoming batch against the rest as standing corpus, the split
    * convention of dd_minhash_incremental. The doc-freq guard is
    * computed over the CORPUS side only (the persisted posting index's
    * own stats — what an O(Δ) ingest actually has on hand); the delta
    * side ships unguarded. The oracle rebuilds the identical split
    * pipeline closed-form. */
  val ddSpansIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.sharedSpansIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
  }

  /** dd_spans_idx_bucketed — the incremental span search against the
    * BUCKETED persisted posting index
    * (Dedup.writeSpanPostingIndexBucketed): the corpus postings are
    * written bucketed-and-sorted on the 60-bit shingle key, so the
    * ingest join shuffles only the delta (SpanIndexBucketingSpec
    * asserts the single-exchange plan). The layout must not change
    * results, so the gate shares dd_spans_incremental's oracle
    * verbatim. */
  val ddSpansIdxBucketed: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // table name unique per corpus dir: a shared name would let one
    // dir's DROP/overwrite invalidate another's in-flight scan
    val table = s"graft_span_idx_${dirSlug(dir)}"
    // unlike the filesystem indexes above, the table lives in the
    // SESSION catalog — memo per (session, dir) so a new session
    // rebuilds instead of trusting a dead catalog entry
    indexMemo.getOrElseUpdate(s"spanidx:${System.identityHashCode(s)}:$dir", {
      s.sql(s"DROP TABLE IF EXISTS $table")
      Dedup.writeSpanPostingIndexBucketed(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text",
        table, nBuckets = 8,
        path = Some(java.nio.file.Files
          .createTempDirectory("graft-span-idx-gate").toString))
      table
    })
    Dedup.sharedSpansIncrementalFromIndex(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), s.table(table),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
  }

  val ddSpansIncrementalOracle: String = {
    val k = Dedup.DefaultSpanK
    val minSpan = Dedup.DefaultMinSpanTokens
    val shingle = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(t) - ${k - 1}),
       |           i -> {'pos': i, 's': $shingle})) AS u
       |  FROM toks WHERE len(t) >= $k),
       |shp AS (SELECT doc_id, u.pos AS pos,
       |               ('0x' || substr(md5(u.s),1,15))::BIGINT AS h FROM sh0),
       |delta AS (SELECT * FROM shp WHERE doc_id % 5 = 0),
       |corp AS (SELECT * FROM shp WHERE doc_id % 5 <> 0),
       |lim AS (
       |  SELECT greatest(${Dedup.MinDocFreqFloor}.0,
       |                  ${Dedup.DefaultMaxDocFreqFraction} * count(*)) AS df_limit
       |  FROM documents WHERE doc_id % 5 <> 0),
       |keep AS (
       |  SELECT h FROM (
       |    SELECT h, count(DISTINCT doc_id) AS df FROM corp GROUP BY h), lim
       |  WHERE df <= df_limit),
       |ck AS (SELECT corp.* FROM corp JOIN keep USING (h)),
       |m AS (
       |  SELECT d.doc_id AS doc_a, c.doc_id AS doc_b,
       |         d.pos AS pa, c.pos AS pb, d.pos - c.pos AS diag
       |  FROM delta d JOIN ck c ON d.h = c.h AND d.doc_id <> c.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
       |  FROM m),
       |spans AS (
       |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
       |         count(*) + ${k - 1} AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, island
       |  HAVING count(*) + ${k - 1} >= $minSpan),
       |agg AS (
       |  SELECT doc_a, doc_b, count(*) AS n_spans,
       |    max(struct_pack(l := span_len, na := -start_a, nb := -start_b)) AS best
       |  FROM spans GROUP BY doc_a, doc_b)
       |SELECT doc_a AS delta_id, doc_b AS corpus_id, n_spans, best.l AS max_span,
       |       -best.na AS start_delta, -best.nb AS start_corpus
       |FROM agg ORDER BY delta_id, corpus_id""".stripMargin
  }

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
       |mk AS (
       |  SELECT doc, s0, e0,
       |    CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY doc ORDER BY s0, e0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -9223372036854775808) THEN 1 ELSE 0 END AS nr
       |  FROM iv),
       |mi AS (
       |  SELECT doc, s0, e0, sum(nr) OVER (PARTITION BY doc ORDER BY s0, e0
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region FROM mk),
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
       |mk AS (
       |  SELECT doc, s0, e0,
       |    CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY doc ORDER BY s0, e0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -9223372036854775808) THEN 1 ELSE 0 END AS nr
       |  FROM rem),
       |mi AS (
       |  SELECT doc, s0, e0, sum(nr) OVER (PARTITION BY doc ORDER BY s0, e0
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region FROM mk),
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

  /** dd_span_decontaminate — SPAN-level decontamination
    * (Dedup.contaminationSpans): maximal eval passages (≥12 contiguous
    * tokens) quoted inside training documents, same doc_id%20 split as
    * dd_decontaminate — catches a short eval answer embedded in a long
    * training doc whose whole-document containment stays under the
    * dd_decontaminate threshold. Oracle mirrors the operator exactly:
    * eval-side doc-freq prune, diagonal islands, lexicographic-struct
    * longest-span argmax. */
  val ddSpanDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationSpans(
      docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text")
      .orderBy("train_id", "eval_id")
  }

  val ddSpanDecontaminateOracle: String = {
    val k = Dedup.DefaultSpanK
    val minSpan = Dedup.DefaultMinSpanTokens
    val floor = Dedup.MinDocFreqFloor
    val frac = Dedup.DefaultMaxDocFreqFraction
    val shingle = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(t) - ${k - 1}),
       |           i -> {'pos': i, 's': $shingle})) AS u
       |  FROM toks WHERE len(t) >= $k),
       |-- 60-bit md5 shingle key — same join-key idiom as the
       |-- self-join span pipeline (TextFunctions.shingleKey)
       |shp AS (SELECT doc_id, u.pos AS pos,
       |               ('0x' || substr(md5(u.s),1,15))::BIGINT AS h FROM sh0),
       |tr AS (SELECT doc_id AS train_id, pos, h FROM shp WHERE doc_id % 20 <> 0),
       |ev AS (SELECT doc_id AS eval_id, pos, h FROM shp WHERE doc_id % 20 = 0),
       |lim AS (SELECT greatest($floor.0, $frac * count(*)) AS df_limit
       |        FROM documents WHERE doc_id % 20 = 0),
       |keep AS (
       |  SELECT h FROM (
       |    SELECT h, count(DISTINCT eval_id) AS df FROM ev GROUP BY h), lim
       |  WHERE df <= df_limit),
       |evk AS (SELECT ev.* FROM ev JOIN keep USING (h)),
       |m AS (
       |  SELECT t.train_id, e.eval_id, t.pos AS pa, e.pos AS pb,
       |         t.pos - e.pos AS diag
       |  FROM tr t JOIN evk e ON t.h = e.h AND t.train_id <> e.eval_id),
       |isl AS (
       |  SELECT train_id, eval_id, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY train_id, eval_id, diag ORDER BY pa) AS island
       |  FROM m),
       |spans AS (
       |  SELECT train_id, eval_id, min(pa) AS start_a, min(pb) AS start_b,
       |         count(*) + ${k - 1} AS span_len
       |  FROM isl GROUP BY train_id, eval_id, diag, island
       |  HAVING count(*) + ${k - 1} >= $minSpan),
       |agg AS (
       |  SELECT train_id, eval_id, count(*) AS n_spans,
       |    max(struct_pack(l := span_len, na := -start_a, nb := -start_b)) AS best
       |  FROM spans GROUP BY train_id, eval_id)
       |SELECT train_id, eval_id, n_spans, best.l AS max_span,
       |       -best.na AS start_train, -best.nb AS start_eval
       |FROM agg ORDER BY train_id, eval_id""".stripMargin
  }

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
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM (
      |    SELECT unnest(t) AS w1 FROM tok)
      |  GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(t) - 1),
      |      i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b
      |    FROM tok WHERE len(t) >= 2)),
      |cb AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bi GROUP BY w1, w2),
      |lp AS (
      |  SELECT bi.doc_id,
      |    CAST(floor(ln((cb + 1.0) / (cu + 1.0 * v.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
      |  FROM bi JOIN cb USING (w1, w2) JOIN uni USING (w1), v)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  floor(exp(-(CAST(sum(lp6) AS DOUBLE) / 1000000.0) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS perplexity
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
    """WITH ctok AS (
      |  SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 5 <> 0),
      |uni AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM (
      |    SELECT unnest(t) AS w1 FROM ctok)
      |  GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |cb AS (
      |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS cb FROM (
      |    SELECT unnest(list_transform(range(len(t) - 1),
      |      i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b
      |    FROM ctok WHERE len(t) >= 2)
      |  GROUP BY 1, 2),
      |dbi AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(t) - 1),
      |      i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |          WHERE doc_id % 5 = 0)
      |    WHERE len(t) >= 2)),
      |lp AS (
      |  SELECT dbi.doc_id,
      |    CAST(floor(ln((COALESCE(cb, 0) + 1.0) / (COALESCE(cu, 0) + 1.0 * v.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
      |  FROM dbi LEFT JOIN cb USING (w1, w2) LEFT JOIN uni USING (w1), v)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  floor(exp(-(CAST(sum(lp6) AS DOUBLE) / 1000000.0) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS perplexity
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
  private val ClfNf = graft.operators.QualityClassifier.DefaultNumFeatures
  private val ClfIters = graft.operators.QualityClassifier.DefaultIters
  private val ClfLr = graft.operators.QualityClassifier.DefaultLearningRate
  private val ClfLo = graft.operators.QualityClassifier.DefaultLowQ
  private val ClfHi = graft.operators.QualityClassifier.DefaultHighQ

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

  /** The unrolled training+scoring CTE chain over `src` — any relation
    * with (doc_id, text): ends at `p` (doc_id, n_tokens, clf_prob).
    * Shared by the standalone classifier gates (src = documents) and
    * the curation composition (src = the survivors CTE). CTE names are
    * chosen not to clash with the curate chain (cq, not q). */
  private def qualityClfCtes(src: String, labWhere: String, scoreWhere: String): String = {
    val S = "1000000.0"
    val iterCtes = (1 to ClfIters).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT feat.doc_id, sum(wf * c) AS dot
         |  FROM feat JOIN w${i - 1} USING (f) GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT lab.doc_id,
         |    CAST(floor((1.0/(1.0 + exp(-(CAST(dot AS DOUBLE)/($S * nn.n)))) - y)/nn.n*$S + 0.5) AS BIGINT) AS resid
         |  FROM lab JOIN d$i USING (doc_id) JOIN nn USING (doc_id)),
         |g$i AS MATERIALIZED (
         |  SELECT f, sum(resid * c) AS g FROM feat JOIN r$i USING (doc_id) GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT w${i - 1}.f,
         |    wf - CAST(floor($ClfLr * CAST(COALESCE(g, 0) AS DOUBLE) / nt + 0.5) AS BIGINT) AS wf
         |  FROM w${i - 1} LEFT JOIN g$i USING (f), ntr)""".stripMargin
    }.mkString(",\n")
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |nn AS (SELECT doc_id, len(t) AS n FROM tok),
       |cq AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))
       |     + LEAST(len(string_split(text,' ')) / 100.0, 1.0)
       |     - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' '))) AS q
       |  FROM $src),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN q >= $ClfHi THEN 1 ELSE 0 END AS y
       |  FROM cq WHERE (q >= $ClfHi OR q <= $ClfLo)$labWhere),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, ('0x' || substr(md5(w),1,15))::BIGINT % $ClfNf AS f,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(t) AS w FROM tok)
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, $ClfNf, CAST(len(list_distinct(t)) AS BIGINT) FROM tok
       |  UNION ALL
       |  SELECT doc_id, ${ClfNf + 1}, CAST(floor(least(len(t)*len(t)/100.0, len(t))) AS BIGINT) FROM tok
       |  UNION ALL
       |  SELECT doc_id, ${ClfNf + 2}, CAST(len(t) AS BIGINT) FROM tok),
       |ntr AS (SELECT count(*) AS nt FROM lab),
       |w0 AS (SELECT CAST(r.range AS BIGINT) AS f, CAST(0 AS BIGINT) AS wf FROM range(${ClfNf + 3}) r),
       |$iterCtes,
       |sc AS (SELECT feat.doc_id, sum(wf * c) AS dot FROM feat JOIN w$ClfIters USING (f) GROUP BY 1),
       |p AS (
       |  SELECT nn.doc_id, CAST(nn.n AS BIGINT) AS n_tokens,
       |    floor((1.0/(1.0 + exp(-(CAST(dot AS DOUBLE)/($S * nn.n)))))*$S + 0.5)/$S AS clf_prob
       |  FROM nn JOIN sc USING (doc_id) $scoreWhere)""".stripMargin
  }

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

  lazy val taBpeEncodeOracle: String = {
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

  /** dd_decontaminate — benchmark decontamination: training documents
    * (doc_id % 20 ≠ 0) containing ≥ 50% of some eval document's
    * shingles (doc_id % 20 = 0) — the asymmetric overlap that catches
    * an eval answer quoted inside a longer training doc. Inverted-index
    * plan (Dedup.contaminationPairs) with the relative doc-frequency
    * skew guard ON; the oracle applies the SAME prune (shingles present
    * in > max(floor, 10% of eval docs) eval documents are excluded from
    * the intersection), so the two sides stay equivalent at any scale —
    * not just where the floor happens to disable pruning. */
  val ddDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationPairs(
      docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text")
      .orderBy("train_id", "eval_id")
  }

  /** Guarded containment-pairs oracle shared by dd_decontaminate and
    * tp_decontaminated: mirrors contaminationPairs exactly — postings
    * keyed by the 60-bit md5 shingle key (the span family's
    * TextFunctions.shingleKey, bit-identical cross-engine), eval-side
    * doc-frequency prune (df ≤ max(MinDocFreqFloor, fraction·|eval|);
    * shingles are per-doc distinct so df = #docs up to key collisions,
    * which both engines see identically), containment denominator =
    * the FULL pre-prune shingle-set size. */
  private def decontaminatePairsCtes: String = {
    val n = Dedup.DefaultShingleN
    val floor = Dedup.MinDocFreqFloor
    val frac = Dedup.DefaultMaxDocFreqFraction
    s"""sh AS (
       |  SELECT doc_id, ${duckShingles("string_split(text,' ')", n)} AS s
       |  FROM documents),
       |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 20 <> 0),
       |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 20 = 0),
       |lim AS (SELECT greatest($floor.0, count(*) * $frac) AS df_limit
       |        FROM documents WHERE doc_id % 20 = 0),
       |evx AS (SELECT eval_id, ('0x' || substr(md5(u.s),1,15))::BIGINT AS h
       |        FROM (SELECT eval_id, unnest(s) AS s FROM ev) u(eval_id, s)),
       |keep AS (SELECT h FROM evx, lim
       |         GROUP BY h, df_limit HAVING count(*) <= df_limit),
       |trx AS (SELECT train_id, ('0x' || substr(md5(u.s),1,15))::BIGINT AS h
       |        FROM (SELECT train_id, unnest(s) AS s FROM tr) u(train_id, s)),
       |hits AS (
       |  SELECT t.train_id, e.eval_id, count(*) AS common
       |  FROM trx t JOIN evx e USING (h) JOIN keep k USING (h)
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT train_id, eval_id,
       |    CAST(common AS DOUBLE) / len(ev.s) AS containment
       |  FROM hits JOIN ev USING (eval_id)
       |  WHERE CAST(common AS DOUBLE) / len(ev.s) >= 0.5)""".stripMargin
  }

  val ddDecontaminateOracle: String =
    s"""WITH $decontaminatePairsCtes
       |SELECT train_id, eval_id, containment FROM pairs
       |ORDER BY train_id, eval_id""".stripMargin

  /** tp_decontaminated — the REMOVAL half of decontamination: the
    * training corpus with every contaminated document dropped
    * (left_anti against the dd_decontaminate pair set — the anti-join
    * shuffles only ids, never text). */
  val tpDecontaminated: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val pairs = Dedup.contaminationPairs(
      train, docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text")
    train.join(pairs.select(col("train_id")).distinct(),
        col("doc_id") === col("train_id"), "left_anti")
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  val tpDecontaminatedOracle: String =
    s"""WITH $decontaminatePairsCtes
       |SELECT d.doc_id, d.source, d.lang
       |FROM documents d
       |WHERE d.doc_id % 20 <> 0
       |  AND d.doc_id NOT IN (SELECT DISTINCT train_id FROM pairs)
       |ORDER BY d.doc_id""".stripMargin

  /** dd_decontaminate_idx — dd_decontaminate against the PERSISTED
    * eval posting index (Dedup.evalPostingIndex written to parquet,
    * reloaded, searched by contaminationPairsFromIndex): the
    * production shape — eval suites freeze per benchmark release, the
    * eval corpus is never re-read per train ingest, and the train
    * batch is the O(Δ) probe by construction. Shares dd_decontaminate's
    * oracle VERBATIM — the index round-trip must not change results
    * (the convention every persisted index here follows). */
  val ddDecontaminateIdx: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_eval_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"evalidx:${System.identityHashCode(s)}:$dir", {
      Dedup.evalPostingIndex(
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text")
        .write.mode("overwrite").parquet(path)
      path
    })
    Dedup.contaminationPairsFromIndex(
      docs.filter(pmod(col("doc_id"), lit(20)) =!= 0), Storage.readParquet(s, path),
      "doc_id", "text")
      .orderBy("train_id", "eval_id")
  }

  /** dd_minhash — MinHash(64)+LSH(16 bands) near-dup pairs. Fully
    * oracle-gated: the md5-derived base hash, the universal-hash
    * coefficient literals, the band keys (signature slices, not opaque
    * hashes) and the estimated-Jaccard re-rank are all recomputable in
    * DuckDB SQL, so even the PROBABILISTIC pipeline is checked exactly —
    * both engines run the same LSH, so they must emit the same pairs. */
  val ddMinhash: Q = (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  /** Shared oracle prefix: tokens → shingles → md5 base hashes →
    * 64-component signatures with the same (a·h+b) mod P family and the
    * same coefficient stream as TextFunctions.minhashCoefficients. */
  private def minhashOraclePrefix: String = {
    val n = Dedup.DefaultShingleN
    val k = Dedup.DefaultMinhashK
    val bands = Dedup.DefaultMinhashBands
    val r = k / bands
    val P = graft.functions.TextFunctions.P
    val (a, b) = graft.functions.TextFunctions.minhashCoefficients(k)
    val aL = a.mkString("[", ",", "]")
    val bL = b.mkString("[", ",", "]")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${duckShingles("t", n)} AS s
       |  FROM tok WHERE len(t) >= $n
       |), hs AS (
       |  SELECT doc_id, s, list_transform(s, x ->
       |    ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hv
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id, s, list_transform(range($k), i ->
       |    list_min(list_transform(hv, h -> (($aL)[i+1] * h + ($bL)[i+1]) % $P))) AS sig
       |  FROM hs
       |), banded AS (
       |  SELECT doc_id, sig, r.band AS band,
       |    array_to_string(sig[(r.band*$r+1):(r.band*$r+$r)], '_') AS bkey
       |  FROM sig, range($bands) r(band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.doc_a
       |  JOIN sig sb ON sb.doc_id = cand.doc_b
       |)""".stripMargin
  }

  val ddMinhashOracle: String =
    s"""$minhashOraclePrefix
       |SELECT doc_a, doc_b, est_jaccard FROM scored
       |WHERE est_jaccard >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The shared capped-walk oracle tail over `banded` + a per-pair
    * score join: mirrors BandIndex.pairs' PRODUCTION posture — the
    * hot-bucket guard ON — exactly, because its survivor-chain
    * semantics are deterministic. A pair (a < b) surfaces iff, at its
    * FIRST colliding band (the `keep` suppression both engines agree
    * on), the bucket admits it under the cap: every pair when the
    * bucket has ≤ cap members; otherwise all pairs among the `cap`
    * lowest-id members (rank(b) ≤ cap, since rank(a) < rank(b)) plus
    * the representative chains (rank(a) = 1). Round 16 proved this
    * posture both load-bearing and bug-prone — an O(m²·log m) re-sort
    * survived three rounds because every gate pinned maxBucket=None —
    * so the guard itself is now cross-engine-gated (round-16 verdict
    * item 1); HotBucketGuardSpec is secondary evidence. */
  private def cappedEmitCtes(cap: Int): String =
    s"""fb AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, min(a.band) AS fband
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), rk AS (
       |  SELECT band, bkey, doc_id,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rk,
       |    count(*) OVER (PARTITION BY band, bkey) AS m
       |  FROM banded
       |), emit AS (
       |  SELECT f.doc_a, f.doc_b
       |  FROM fb f
       |  JOIN rk ra ON ra.band = f.fband AND ra.doc_id = f.doc_a
       |  JOIN rk rb ON rb.band = f.fband AND rb.bkey = ra.bkey
       |            AND rb.doc_id = f.doc_b
       |  WHERE ra.m <= $cap OR rb.rk <= $cap OR ra.rk = 1
       |)""".stripMargin

  /** dd_minhash_capped — dd_minhash with the hot-bucket guard ON (the
    * 100 TB production posture every other gate pins OFF for oracle
    * exactness). The cap is pinned to 2 — the smallest legal value —
    * so the sf0.01 fixture's 3-member band buckets (13 of them,
    * measured) actually cross it and the survivor-chain branch runs
    * under the cross-engine gate, not just under its unit spec. */
  private val MinhashCappedCap = 2

  val ddMinhashCapped: Q = (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
      maxBucket = Some(MinhashCappedCap))
      .orderBy("doc_a", "doc_b")

  val ddMinhashCappedOracle: String = {
    val k = Dedup.DefaultMinhashK
    s"""$minhashOraclePrefix,
       |${cappedEmitCtes(MinhashCappedCap)}
       |SELECT e.doc_a, e.doc_b,
       |  CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k AS est_jaccard
       |FROM emit e
       |JOIN sig sa ON sa.doc_id = e.doc_a
       |JOIN sig sb ON sb.doc_id = e.doc_b
       |WHERE CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k
       |      >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd_minhash_incremental — new-batch-vs-corpus MinHash dedup
    * (Dedup.minhashPairsIncremental against an in-plan
    * BandIndex.build of the corpus): docs with id%5 = 0 are the
    * incoming delta, the rest the standing corpus; pairs are
    * delta×corpus band collisions only (within-corpus and within-delta
    * pairs never form), scored by the same signature estimate. The
    * oracle rides the shared signature prefix with a split candidate
    * join. */
  val ddMinhashIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.minhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      BandIndex.build(Dedup.minhashBanded(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
  }

  val ddMinhashIncrementalOracle: String = {
    val k = Dedup.DefaultMinhashK
    s"""$minhashOraclePrefix,
       |candx AS (
       |  SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS corpus_id
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
       |SELECT delta_id, corpus_id,
       |  CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k AS est_jaccard
       |FROM candx
       |JOIN sig sa ON sa.doc_id = candx.delta_id
       |JOIN sig sb ON sb.doc_id = candx.corpus_id
       |WHERE CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k
       |      >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY delta_id, corpus_id""".stripMargin
  }

  /** dd_minhash_idx_bucketed — the incremental MinHash search against
    * the BUCKETED persisted band index
    * (BandIndex.write of the capped MinHash index): the corpus's banded
    * signature rows are written bucketed-and-sorted on the fused band
    * key, so the ingest join shuffles only the delta
    * (MinhashIndexBucketingSpec asserts the single-exchange plan). The
    * layout must not change results, so the gate shares
    * dd_minhash_incremental's oracle verbatim — the
    * dd_spans_idx_bucketed convention. */
  val ddMinhashIdxBucketed: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val table = s"graft_mh_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"mhidx:${System.identityHashCode(s)}:$dir", {
      s.sql(s"DROP TABLE IF EXISTS $table")
      BandIndex.write(
        BandIndex.build(Dedup.minhashBanded(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
        table, nBuckets = 8,
        path = Some(java.nio.file.Files
          .createTempDirectory("graft-mh-idx-gate").toString))
      table
    })
    Dedup.minhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), s.table(table),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
  }

  /** dd_recall_minhash — MinHash dedup QUALITY under the cross-engine
    * gate: pair-level recall of the banded MinHash pipeline against the
    * exact n-gram Jaccard pair graph at the 0.8 near-duplicate bar (the
    * regime the k=64/bands=16 S-curve is tuned to catch), reduced to one
    * (hits, total, pair_recall) row. Truth runs with the skew guard OFF
    * (the exact graph, not the pruned production one) so the metric is
    * against ground truth, and both engines recompute the identical
    * signatures — the measured recall number itself must hash-match. */
  val ddRecallMinhash: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, maxDocFreq = None, maxDocFreqFraction = None)
      .select("doc_a", "doc_b")
    val found = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b")
    recallRow(truth, found, Seq("doc_a", "doc_b"), "pair_recall")
  }

  val ddRecallMinhashOracle: String =
    s"""$minhashOraclePrefix,
       |truth AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.8
       |), found AS (
       |  SELECT doc_a, doc_b FROM scored
       |  WHERE est_jaccard >= ${Dedup.DefaultMinhashThreshold}
       |), h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM found f
       |                WHERE f.doc_a = t.doc_a AND f.doc_b = t.doc_b)
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS pair_recall
       |FROM h, tot""".stripMargin

  /** dd_minhash_verified — LSH candidates (permissive est ≥ 0.3 cut)
    * re-ranked by exact shingle Jaccard (≥ 0.5). Oracle-gated like
    * dd_minhash. */
  val ddMinhashVerified: Q = (s, dir) =>
    Dedup.minhashPairsVerified(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  val ddMinhashVerifiedOracle: String =
    s"""$minhashOraclePrefix
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |      len(list_distinct(sa.s || sb.s)) AS jaccard
       |  FROM (SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= ${Dedup.DefaultCandThreshold}) c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b
       |)
       |WHERE jaccard >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** dd_simhash — 64-bit single-hash SimHash, 8 banded slices, Hamming
    * ≤ 3. Oracle-gated: the md5-derived hash words and bit votes are
    * recomputed in DuckDB with the same shifts. */
  val ddSimhash: Q = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  /** dd_simhash_multiprobe — SimHash at the DEEP rung of
    * BandIndex.planFor's 64-bit ladder (2 × 32-bit bands, 1-bit
    * multiprobe — the ≥ 67M-doc posture, 8.59e9-key universe): the
    * probing side expands each 32-bit band key to its 33-key flip set,
    * the exact side stays plain keys. Shares dd_simhash's oracle
    * VERBATIM — both plans are lossless at Hamming ≤ 3, and a lossless
    * candidate walk followed by the exact filter returns the identical
    * pair set (the property that makes the band plan a free scale
    * knob, proven across the family by this gate + the pHash pair). */
  val ddSimhashMultiprobe: Q = (s, dir) =>
    Dedup.simhashPairs(
      Tables.documents(s, dir), "doc_id", "text",
      plan = BandIndex.BandPlan(Dedup.DefaultSimhashBits, bands = 2, flips = 1))
      .orderBy("doc_a", "doc_b")

  val ddSimhashOracle: String = {
    val bands = Dedup.DefaultSimhashBands
    val rw = Dedup.DefaultSimhashBits / bands
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1
      |), th AS (
      |  SELECT doc_id, list_transform(t, s ->
      |    [('0x' || substr(md5(s), 1, 8))::BIGINT,
      |     ('0x' || substr(md5(s), 9, 8))::BIGINT]) AS hs
      |  FROM tok
      |), sig AS (
      |  SELECT doc_id, list_transform(range(64), j -> CASE WHEN
      |      list_sum(list_transform(hs, h ->
      |        CASE WHEN ((h[(j // 32) + 1] >> CAST(31 - (j % 32) AS INTEGER)) & 1) = 1
      |             THEN 1 ELSE -1 END)) > 0
      |    THEN 1 ELSE 0 END) AS sig
      |  FROM th
      |), banded AS (
      |  SELECT doc_id, sig, r.band AS band,
      |    array_to_string(sig[(r.band*$rw+1):(r.band*$rw+$rw)], '_') AS bkey
      |  FROM sig, range($bands) r(band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |), scored AS (
      |  SELECT doc_a, doc_b,
      |    len(list_filter(range(64), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.doc_a
      |  JOIN sig sb ON sb.doc_id = cand.doc_b
      |)
      |SELECT doc_a, doc_b, hamming FROM scored
      |WHERE hamming <= ${Dedup.DefaultMaxHamming}
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd_simhash_incremental — new-batch-vs-corpus SimHash dedup
    * (Dedup.simhashPairsIncremental against an in-plan
    * BandIndex.build of the corpus): the dd_minhash_incremental split
    * convention (id%5 = 0 is the delta) over the banded signature
    * index; pairs are delta×corpus band collisions only, scored by
    * signature Hamming distance. Oracle rides the shared signature
    * CTEs with a split candidate join. */
  val ddSimhashIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.simhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      BandIndex.build(Dedup.simhashBanded(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
  }

  val ddSimhashIncrementalOracle: String = {
    val bands = Dedup.DefaultSimhashBands
    val rw = Dedup.DefaultSimhashBits / bands
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1
      |), th AS (
      |  SELECT doc_id, list_transform(t, s ->
      |    [('0x' || substr(md5(s), 1, 8))::BIGINT,
      |     ('0x' || substr(md5(s), 9, 8))::BIGINT]) AS hs
      |  FROM tok
      |), sig AS (
      |  SELECT doc_id, list_transform(range(64), j -> CASE WHEN
      |      list_sum(list_transform(hs, h ->
      |        CASE WHEN ((h[(j // 32) + 1] >> CAST(31 - (j % 32) AS INTEGER)) & 1) = 1
      |             THEN 1 ELSE -1 END)) > 0
      |    THEN 1 ELSE 0 END) AS sig
      |  FROM th
      |), banded AS (
      |  SELECT doc_id, sig, r.band AS band,
      |    array_to_string(sig[(r.band*$rw+1):(r.band*$rw+$rw)], '_') AS bkey
      |  FROM sig, range($bands) r(band)
      |), candx AS (
      |  SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS corpus_id
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |), scored AS (
      |  SELECT delta_id, corpus_id,
      |    len(list_filter(range(64), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |  FROM candx
      |  JOIN sig sa ON sa.doc_id = candx.delta_id
      |  JOIN sig sb ON sb.doc_id = candx.corpus_id
      |)
      |SELECT delta_id, corpus_id, hamming FROM scored
      |WHERE hamming <= ${Dedup.DefaultMaxHamming}
      |ORDER BY delta_id, corpus_id""".stripMargin
  }

  /** dd_simhash_idx_bucketed — dd_minhash_idx_bucketed's SimHash twin
    * (BandIndex.write of the capped SimHash index): bucketed persisted banded
    * signatures, delta-only shuffle on ingest, results proven
    * layout-independent by sharing dd_simhash_incremental's oracle. */
  val ddSimhashIdxBucketed: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val table = s"graft_sh_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"shidx:${System.identityHashCode(s)}:$dir", {
      s.sql(s"DROP TABLE IF EXISTS $table")
      BandIndex.write(
        BandIndex.build(Dedup.simhashBanded(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
        table, nBuckets = 8,
        path = Some(java.nio.file.Files
          .createTempDirectory("graft-sh-idx-gate").toString))
      table
    })
    Dedup.simhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), s.table(table),
      "doc_id", "text")
      .orderBy("delta_id", "corpus_id")
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
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS distinct_ratio,
      |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' ')) AS stopword_ratio,
      |  (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))
      |   + LEAST(len(string_split(text,' ')) / 100.0, 1.0)
      |   - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' '))) AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ta_langid — heuristic stopword-profile language ID. Oracle-gated:
    * the profile argmax (ties toward the lexicographically larger code,
    * zero hits → "und") is plain SQL over the same profile lists. */
  val taLangid: Q = (s, dir) =>
    TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val taLangidOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
      |), scores AS (
      |  SELECT doc_id, p.lang, CAST(len(list_intersect(t, p.words)) AS BIGINT) AS score
      |  FROM toks CROSS JOIN (
      |    VALUES ('en', ['the','a','of','and','to','in','is']),
      |           ('es', ['el','la','de','y','que','en','los']),
      |           ('fr', ['le','la','de','et','les','des','un']),
      |           ('de', ['der','die','und','das','ist','von','den']),
      |           ('zh', ['的','了','是','我','不','在','有'])) AS p(lang, words)
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

  /** ss_topk_cosine — exact brute-force top-10 cosine neighbors of
    * vec_id=0 (the ANN correctness baseline). */
  val ssTopkCosine: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10)
  }

  val ssTopkCosineOracle: String =
    """SELECT vec_id,
      |  list_dot_product(CAST(embedding AS DOUBLE[]), q) /
      |  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |   sqrt(list_dot_product(q, q))) AS cos
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

  /** DuckDB twin of SimilaritySearch.lshNeighbors over `embeddings`,
    * with the same literal hyperplanes; `extraPredicate` narrows the
    * final selection (dd_embedding's near-dup cut). */
  private def lshOracle(nBits: Int, k: Int, extraPredicate: String = "TRUE"): String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val bucket = hyperplaneBitsSql("v", hyperplanes(nBits, 64))
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, $bucket AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |)
       |SELECT vec_id, neighbor_id, cos FROM r
       |WHERE rn <= $k AND ($extraPredicate)
       |ORDER BY vec_id, neighbor_id""".stripMargin
  }

  val ssAnnLshOracle: String = lshOracle(nBits = 6, k = 3)

  /** ss_ann_lsh_multi — the multi-table recall-amplified LSH path under
    * the cross-engine gate (previously the one ANN path anchored only by
    * the randomized differential spec): a pair is a candidate if it
    * collides in ANY of the plane tables; duplicate candidates collapse
    * (identical cosine from the same vectors) and the per-vector top-k
    * uses the same (cos DESC, neighbor ASC) order the single-table gate
    * pins. Spark bounds the top-k map-side via TopKAggregator; the
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
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), b AS (
       |  SELECT vec_id, v,
       |    $bucketCols
       |  FROM e
       |), p AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
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
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), nb AS (
       |  SELECT GREATEST(1, LEAST($LshT8MaxBits, CAST(ceil(
       |    ln(GREATEST(CAST(count(*) AS DOUBLE) / 256.0, 1.0)) / ln(2.0)) AS INT))) AS nbits
       |  FROM e
       |), nthq AS (
       |  SELECT GREATEST(1, count(*) // 256) AS nth FROM e
       |), bf AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM e a JOIN e c ON a.vec_id <> c.vec_id
       |  WHERE a.vec_id % (SELECT nth FROM nthq) = 0
       |), bfr AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM bf
       |), truth AS (
       |  SELECT vec_id, neighbor_id FROM bfr WHERE rn <= 3
       |), b AS (
       |  SELECT vec_id, v, substr($bits10, 1, (SELECT nbits FROM nb)) AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= 3
       |), h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM approx a
       |                WHERE a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id)
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS recall
       |FROM h, tot""".stripMargin
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
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), nb AS (
       |  SELECT GREATEST(1, LEAST($LshT8MaxBits, CAST(ceil(
       |    ln(GREATEST(CAST(count(*) AS DOUBLE) / 256.0, 1.0)) / ln(2.0)) AS INT))) AS nbits
       |  FROM e
       |), nthq AS (
       |  SELECT GREATEST(1, count(*) // 256) AS nth FROM e
       |), bf AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM e a JOIN e c ON a.vec_id <> c.vec_id
       |  WHERE a.vec_id % (SELECT nth FROM nthq) = 0
       |), bfr AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM bf
       |), truth AS (
       |  SELECT vec_id, neighbor_id FROM bfr WHERE rn <= 3
       |), b AS (
       |  SELECT vec_id, v,
       |    $bucketCols
       |  FROM e
       |), p AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM b a JOIN b c ON ($anyCollision) AND a.vec_id <> c.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM p
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= 3
       |), h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM approx a
       |                WHERE a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id)
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS recall
       |FROM h, tot""".stripMargin
  }

  /** op_salted_agg — two-phase salted aggregation (operators.Skew) under
    * the cross-engine gate: the salted decomposition must be EXACTLY the
    * plain GROUP BY (sums go through decimal, so partial-merge order
    * cannot shift the value). Proves the skew-mitigation rewrite is
    * algebraically invisible, not just spec-plausible. */
  val opSaltedAgg: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    graft.operators.Skew.saltedAggregate(
      Tables.events(s, dir),
      keys = Seq("event_type"),
      aggs = Map(
        "sum_value" -> (col("value").cast(DecimalType(18, 2)), "sum"),
        "n" -> (lit(1), "count"),
        "min_value" -> (col("value"), "min"),
        "max_value" -> (col("value"), "max")),
      saltFactor = 8)
      .select(col("event_type"),
        col("sum_value").cast("double").as("sum_value"),
        col("n"), col("min_value"), col("max_value"))
      .orderBy("event_type")
  }

  val opSaltedAggOracle: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** op_bloom_join — Bloom-pruned selective join (operators.BloomJoin):
    * lineitem (fact) joined to the p_size = 1 slice of part (~2% of
    * keys). The Bloom filter of the dim keys rides into the fact scan as
    * a plan-literal projection filter, so non-matching fact rows die
    * BEFORE the exchange. The gate is the exactness contract itself: a
    * Bloom filter has no false negatives and the equi-join eliminates
    * false positives, so the oracle is the plain UN-pruned join — the
    * rewrite must be row-for-row invisible. Sums go through decimal so
    * partial-merge order cannot shift values cross-engine. */
  val opBloomJoin: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val dim = Tables.part(s, dir)
      .filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_brand"))
    val fact = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    graft.operators.BloomJoin.bloomPrunedJoin(fact, dim, "l_partkey", "p_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("sum_price"))
      .orderBy("p_brand")
  }

  val opBloomJoinOracle: String =
    """SELECT p_brand,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size = 1
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

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
       |    (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))
       |     + LEAST(len(string_split(text,' ')) / 100.0, 1.0)
       |     - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' '))) AS quality_score
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
       |), lscores AS (
       |  SELECT doc_id, p.lang, CAST(len(list_intersect(t, p.words)) AS BIGINT) AS score
       |  FROM toks CROSS JOIN (
       |    VALUES ('en', ['the','a','of','and','to','in','is']),
       |           ('es', ['el','la','de','y','que','en','los']),
       |           ('fr', ['le','la','de','et','les','des','un']),
       |           ('de', ['der','die','und','das','ist','von','den']),
       |           ('zh', ['的','了','是','我','不','在','有'])) AS p(lang, words)
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
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
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

  /** The key-stable split tail over `kept` (withu CTE + split CASE). */
  private def curateSplitSelect: (String, String) = {
    val P = graft.functions.TextFunctions.P
    val bounds = graft.operators.Sampling.splitBounds(CurateCfg.splits)
    val splitCases = bounds.map { case (name, b) => s"WHEN u < $b THEN '$name'" }
      .mkString(" ")
    val withu =
      s"""withu AS (
         |  SELECT doc_id, predicted_lang, quality_score,
         |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 15))::BIGINT % $P)
         |      / CAST($P AS DOUBLE) AS u
         |  FROM kept
         |)""".stripMargin
    val caseExpr =
      s"CASE $splitCases ELSE '${CurateCfg.splits.last._1}' END AS split"
    (withu, caseExpr)
  }

  val tpCurateOracle: String = {
    val (withu, caseExpr) = curateSplitSelect
    s"""WITH RECURSIVE $curateCtes,
       |$withu
       |SELECT doc_id, predicted_lang, quality_score,
       |  $caseExpr
       |FROM withu
       |ORDER BY doc_id""".stripMargin
  }

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
    val (withu, caseExpr) = curateSplitSelect
    val k = CurateTrimCfg.spanK
    val minSpan = CurateTrimCfg.minSpanTokens
    val shingle = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH RECURSIVE $curateCtes,
       |keptx AS (
       |  SELECT kept.doc_id, ex.text FROM kept JOIN ex USING (doc_id)),
       |stoks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM keptx),
       |ssh0 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(t) - ${k - 1}),
       |           i -> {'pos': i, 's': $shingle})) AS u
       |  FROM stoks WHERE len(t) >= $k),
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
       |sisl AS (
       |  SELECT doc_a, doc_b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
       |  FROM sm),
       |sspans AS (
       |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
       |         count(*) + ${k - 1} AS span_len
       |  FROM sisl GROUP BY doc_a, doc_b, diag, island
       |  HAVING count(*) + ${k - 1} >= $minSpan),
       |srem AS (
       |  SELECT DISTINCT doc_b AS doc, start_b AS s0, start_b + span_len AS e0
       |  FROM sspans),
       |smk AS (
       |  SELECT doc, s0, e0,
       |    CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY doc ORDER BY s0, e0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -9223372036854775808) THEN 1 ELSE 0 END AS nr
       |  FROM srem),
       |smi AS (
       |  SELECT doc, s0, e0, sum(nr) OVER (PARTITION BY doc ORDER BY s0, e0
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region FROM smk),
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
       |$withu
       |SELECT withu.doc_id, predicted_lang, quality_score,
       |  $caseExpr,
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
    val P = graft.functions.TextFunctions.P
    val pct = CurateLmCfg.perplexityKeepPercent
    val bounds = graft.operators.Sampling.splitBounds(CurateLmCfg.splits)
    val splitCases = bounds.map { case (name, b) => s"WHEN u < $b THEN '$name'" }
      .mkString(" ")
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
       |    SELECT doc_id, unnest(list_transform(range(len(t) - 1),
       |      i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b
       |    FROM ptok WHERE len(t) >= 2)),
       |pcb AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM pbi GROUP BY 1, 2),
       |plp AS (
       |  SELECT pbi.doc_id,
       |    CAST(floor(ln((cb + 1.0) / (cu + 1.0 * pv.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp6
       |  FROM pbi JOIN pcb USING (w1, w2) JOIN puni USING (w1), pv),
       |perp AS (
       |  SELECT doc_id,
       |    floor(exp(-(CAST(sum(lp6) AS DOUBLE) / 1000000.0) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS perplexity
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
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
       |  FROM keptlm)
       |SELECT doc_id, predicted_lang, quality_score,
       |  CASE $splitCases ELSE '${CurateLmCfg.splits.last._1}' END AS split,
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
    val P = graft.functions.TextFunctions.P
    val bounds = graft.operators.Sampling.splitBounds(CurateClfCfg.splits)
    val splitCases = bounds.map { case (name, b) => s"WHEN u < $b THEN '$name'" }
      .mkString(" ")
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
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
       |  FROM keptclf)
       |SELECT doc_id, predicted_lang, quality_score,
       |  CASE $splitCases ELSE '${CurateClfCfg.splits.last._1}' END AS split,
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

  val dsSplitOracle: String = {
    val P = graft.functions.TextFunctions.P
    val bounds = graft.operators.Sampling.splitBounds(SplitWeights)
    val cases = bounds.map { case (name, b) => s"WHEN u < $b THEN '$name'" }
      .mkString(" ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
       |  FROM documents)
       |SELECT doc_id, CASE $cases ELSE '${SplitWeights.last._1}' END AS split
       |FROM u
       |ORDER BY doc_id""".stripMargin
  }

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
    val P = graft.functions.TextFunctions.P
    val cases = StrataFractions.map { case (s0, f) => s"WHEN '$s0' THEN $f" }
      .mkString(" ")
    s"""SELECT event_id, event_type FROM (
       |  SELECT event_id, event_type,
       |    (('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'strata'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u,
       |    CASE event_type $cases ELSE -1.0 END AS f
       |  FROM events)
       |WHERE u < f
       |ORDER BY event_id""".stripMargin
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
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $IvfCentroids
       |), sims AS (
       |  SELECT e.vec_id, e.v, cents.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, cents.c) DESC, cents.cid ASC) AS rnk
       |  FROM e CROSS JOIN cents
       |), assign AS (
       |  SELECT vec_id, v, cid AS cell FROM sims WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id, v, cid AS bucket FROM sims WHERE rnk <= $IvfProbe
       |), cand AS (
       |  SELECT p.vec_id, m.vec_id AS neighbor_id,
       |    list_dot_product(p.v, m.v) /
       |    (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(m.v, m.v))) AS cos
       |  FROM probes p JOIN assign m ON m.cell = p.bucket AND m.vec_id <> p.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
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
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), ncq AS (
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
       |), assign AS (
       |  SELECT vec_id, v, cid AS cell FROM sims WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id, v, cid AS bucket FROM sims
       |  WHERE rnk <= LEAST($IvfProbe, (SELECT nc FROM ncq))
       |), cand AS (
       |  SELECT p.vec_id, m.vec_id AS neighbor_id,
       |    list_dot_product(p.v, m.v) /
       |    (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(m.v, m.v))) AS cos
       |  FROM probes p JOIN assign m ON m.cell = p.bucket AND m.vec_id <> p.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
       |),
       |nthq AS (
       |  SELECT GREATEST(1, count(*) // 256) AS nth FROM e
       |), bf AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM e a JOIN e c ON a.vec_id <> c.vec_id
       |  WHERE a.vec_id % (SELECT nth FROM nthq) = 0
       |), bfr AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM bf
       |), truth AS (
       |  SELECT vec_id, neighbor_id FROM bfr WHERE rn <= $IvfK
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= $IvfK
       |), h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM approx a
       |                WHERE a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id)
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS recall
       |FROM h, tot""".stripMargin

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

  val ssRecallIvfP8Oracle: String = {
    // local, not the object's EmbDim: that val is declared LATER in this
    // object and would still be 0 when this one initializes (range(0)
    // silently empties every Lloyd mean CTE)
    val dim = 64
    val iterCtes = (1 to 2).map { i =>
      s"""s$i AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
         |      c.cid ASC) AS rn
         |  FROM e CROSS JOIN c${i - 1} c),
         |a$i AS (SELECT vec_id, v, cid AS cluster FROM s$i WHERE rn = 1),
         |m$i AS (
         |  SELECT cluster, i.idx,
         |    floor(avg(v[i.idx + 1]) * 1000000.0 + 0.5) / 1000000.0 AS m
         |  FROM a$i, range($dim) i(idx) GROUP BY 1, 2),
         |g$i AS (SELECT cluster AS cid, list(m ORDER BY idx) AS c FROM m$i GROUP BY 1),
         |c$i AS (
         |  SELECT c${i - 1}.cid, COALESCE(g$i.c, c${i - 1}.c) AS c
         |  FROM c${i - 1} LEFT JOIN g$i USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), ncq AS (
       |  SELECT GREATEST(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 128.0) AS INT)) AS nc
       |  FROM e
       |), c0 AS (
       |  SELECT cid, c FROM (
       |    SELECT vec_id AS cid, v AS c,
       |      row_number() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= (SELECT nc FROM ncq)
       |),
       |$iterCtes,
       |sf AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
       |      c.cid ASC) AS rnk
       |  FROM e CROSS JOIN c2 c
       |), assign AS (
       |  SELECT vec_id, v, cid AS cell FROM sf WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id, v, cid AS bucket FROM sf
       |  WHERE rnk <= LEAST(8, (SELECT nc FROM ncq))
       |), cand AS (
       |  SELECT p.vec_id, m.vec_id AS neighbor_id,
       |    list_dot_product(p.v, m.v) /
       |    (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(m.v, m.v))) AS cos
       |  FROM probes p JOIN assign m ON m.cell = p.bucket AND m.vec_id <> p.vec_id
       |), r AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM cand
       |), nthq AS (
       |  SELECT GREATEST(1, count(*) // 256) AS nth FROM e
       |), bf AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM e a JOIN e c ON a.vec_id <> c.vec_id
       |  WHERE a.vec_id % (SELECT nth FROM nthq) = 0
       |), bfr AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM bf
       |), truth AS (
       |  SELECT vec_id, neighbor_id FROM bfr WHERE rn <= $IvfK
       |), approx AS (
       |  SELECT vec_id, neighbor_id FROM r WHERE rn <= $IvfK
       |), h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM approx a
       |                WHERE a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id)
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS recall
       |FROM h, tot""".stripMargin
  }

  /** mm_features — multimodal binary columns with a REAL decode: image
    * rows are well-formed 24bpp BMPs and audio rows PCM-8 WAVs (built by
    * MediaCodec from the document text), parsed back header-by-header in
    * executor mapPartitions; video rows are deliberately undecodable and
    * degrade to metadata-only. FULLY oracle-gated: the synthesis is
    * deterministic from (doc_id, text), so DuckDB recomputes what the
    * decoder MUST find — geometry, sample counts, byte sizes, and the
    * mean pixel/sample value — verifying the encode→bytes→parse round
    * trip cross-engine. */
  val mmFeatures: Q = (s, dir) =>
    Multimodal.extractDecodedFeatures(
      Multimodal.syntheticMediaFromText(Tables.documents(s, dir), "doc_id", "text"))
      .toDF().orderBy("media_id")

  val mmFeaturesOracle: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 3 AS m, length(text) AS l,
      |    greatest(1, length(text) // 12) AS h,
      |    list_transform(range(length(text)), i -> ascii(text[i+1:i+1])) AS bs
      |  FROM documents
      |)
      |SELECT doc_id AS media_id,
      |  CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
      |  CAST(CASE m WHEN 0 THEN 54 + 12*h WHEN 1 THEN 44 + l ELSE l END AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN m = 0 THEN 4 END AS BIGINT) AS width,
      |  CAST(CASE WHEN m = 0 THEN h END AS BIGINT) AS height,
      |  CAST(CASE WHEN m = 1 THEN 8000 + (doc_id % 5) * 2000 END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN m = 1 THEN l END AS BIGINT) AS n_samples,
      |  -- COALESCE: an empty-text row has an empty byte list, and DuckDB's
      |  -- list_sum over an empty list is NULL where the Spark decoder
      |  -- zero-pads the pixel block and reads mean 0.0 — align on 0
      |  CASE WHEN m = 0 THEN CAST(COALESCE(list_sum(list_transform(range(least(l, 12*h)), i -> bs[i+1])), 0) AS DOUBLE) / (12.0 * h)
      |       WHEN m = 1 THEN CAST(list_sum(bs) AS DOUBLE) / l END AS mean_byte
      |FROM d
      |ORDER BY media_id""".stripMargin

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

  // lazy: EmbNBits is defined further down the object; an eager val
  // here would read its uninitialized 0 during object init
  lazy val ssAnnLshPrunedOracle: String = {
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
       |  list_dot_product(b.v, q.v) /
       |  (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos
       |FROM b JOIN probed ON b.bucket = probed.bk, q
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  /** mm_features_img — the real-world image containers (PNG + JPEG via
    * `javax.imageio`, public JDK API): id%3 = 0 docs become PNGs and
    * id%3 = 1 JPEGs (real encodes of the text bytes as 4-wide 24bpp
    * rows, the mm_features BMP geometry), id%3 = 2 an undecodable
    * payload. The oracle recomputes what the decode MUST find:
    * geometry for every decodable row (codec-exact for both formats)
    * and the mean channel value for PNG only — PNG is lossless, so the
    * decoded mean equals the encoded text-byte mean bit-for-bit, while
    * JPEG's low bits are codec-dependent (its decode is bounded by
    * MultimodalSpec's drift assertion instead). n_bytes is excluded:
    * container size is encoder-dependent for both formats. */
  val mmFeaturesImg: Q = (s, dir) =>
    Multimodal.extractImageFeatures(
      Multimodal.syntheticImagesFromText(Tables.documents(s, dir), "doc_id", "text"))
      .toDF()
      .select(col("media_id"), col("format"), col("width"), col("height"),
        when(col("format") === "png", col("mean_byte")).as("mean_png"))
      .orderBy("media_id")

  val mmFeaturesImgOracle: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 3 AS m, length(text) AS l,
      |    greatest(1, length(text) // 12) AS h,
      |    list_transform(range(length(text)), i -> ascii(text[i+1:i+1])) AS bs
      |  FROM documents
      |)
      |SELECT doc_id AS media_id,
      |  CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'bin' END AS format,
      |  CAST(CASE WHEN m < 2 THEN 4 END AS BIGINT) AS width,
      |  CAST(CASE WHEN m < 2 THEN h END AS BIGINT) AS height,
      |  -- COALESCE: mmFeaturesOracle's empty-text alignment (Spark's
      |  -- zero-padded decode reads 0.0; DuckDB's empty list_sum is NULL)
      |  CASE WHEN m = 0 THEN CAST(COALESCE(list_sum(list_transform(range(least(l, 12*h)), i -> bs[i+1])), 0) AS DOUBLE) / (12.0 * h) END AS mean_png
      |FROM d
      |ORDER BY media_id""".stripMargin

  /** dd_phash — IMAGE near-duplicate pairs by DCT perceptual hash
    * (operators.PerceptualHash): the PNG rows of the synthetic image
    * corpus (id%3 = 0 — PNG is lossless, so the decoded pixel grid is
    * exactly the source text bytes and DuckDB can recompute the hash
    * without a codec) are decoded, 63-bit-pHashed (integer grayscale →
    * nearest-neighbor 32×32 → fixed-point DCT with the SHARED literal
    * coefficient table → lower-median threshold), and paired by banded
    * Hamming search (9 bands × 7 bits — lossless for Hamming ≤ 8). The
    * oracle runs the identical integer chain in SQL: same table
    * literals, same floor-division downsample indices, same lower
    * median, same band keys. JPEG invariance (re-encode/resize copies
    * hashing within maxHamming) is PerceptualHashSpec's job — a lossy
    * decode is real but not oracle-recomputable. */
  val ddPhash: Q = (s, dir) =>
    // maxBucket = None: the oracle enumerates UNCAPPED band candidates,
    // so gate parity must not depend on every bucket staying under the
    // default cap (a batch of identical texts shares one signature
    // bucket and would silently diverge under the cap's survivor
    // chaining). The gated fixtures are small; production calls keep
    // the default guard.
    graft.operators.PerceptualHash.phashPairs(
      Multimodal.syntheticImagesFromText(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text"),
      maxBucket = None)
      .orderBy("doc_a", "doc_b")

  /** Oracle CTE prefix computing each PNG image's 63 AC DCT
    * coefficients — ends with `c1 (doc_id, c)`; the per-image-median
    * and corpus-median signature tails both build on it. */
  private def phashCoefCtes: String = {
    import graft.operators.PerceptualHash.dctTableSql
    s"""WITH d AS (
      |  SELECT doc_id, greatest(1, length(text) // 12) AS h,
      |    list_transform(range(length(text)), i -> ascii(text[i+1:i+1])) AS bs
      |  FROM documents WHERE doc_id % 3 = 0
      |), t AS (SELECT $dctTableSql AS tt
      |), g AS (
      |  -- 32×32 nearest-neighbor grayscale: p = j*32+i; src row (j*h)//32,
      |  -- src col i//8 (width 4); gray = r+g+b with zero-padding past EOT
      |  SELECT doc_id, list_transform(range(1024), p ->
      |      COALESCE(bs[12*((p//32)*h//32) + 3*((p%32)//8) + 1], 0)
      |    + COALESCE(bs[12*((p//32)*h//32) + 3*((p%32)//8) + 2], 0)
      |    + COALESCE(bs[12*((p//32)*h//32) + 3*((p%32)//8) + 3], 0)) AS g32
      |  FROM d
      |), r1 AS (
      |  -- row DCT pass: q = y*8+v → R[y][v] = Σ_x g32[y][x]·T[v][x]
      |  SELECT doc_id, list_transform(range(256), q ->
      |    list_sum(list_transform(range(32), x ->
      |      g32[(q//8)*32 + x + 1] * tt[(q%8)+1][x+1]))) AS r
      |  FROM g, t
      |), c1 AS (
      |  -- column pass: q = u*8+v → C[u][v] = Σ_y T[u][y]·R[y][v]
      |  SELECT doc_id, list_transform(range(64), q ->
      |    list_sum(list_transform(range(32), y ->
      |      tt[(q//8)+1][y+1] * r[y*8 + (q%8) + 1]))) AS c
      |  FROM r1, t
      |)""".stripMargin
  }

  /** The shared band projection tail over a `sig (doc_id, sig)` CTE. */
  private val phashBandedCte: String =
    """, banded AS (
      |  SELECT doc_id, sig, r.band AS band,
      |    array_to_string(sig[(r.band*7+1):(r.band*7+7)], '_') AS bkey
      |  FROM sig, range(9) r(band)
      |)""".stripMargin

  /** The shared oracle CTE chain computing each PNG image's 63-bit
    * pHash signature and its banded rows — ends with `sig (doc_id,
    * sig)` and `banded (doc_id, sig, band, bkey)`; composed by both the
    * full-pair and the incremental-index pHash oracles. The Spark side
    * PACKS the same 63 bits into one long and bands by shift+mask
    * (Dedup.packedSignatureBanded) — an identical position partition,
    * so candidates and Hamming scores agree bit-for-bit with this
    * list-based form. */
  private def phashSigCtes: String =
    s"""$phashCoefCtes, sigt AS (
      |  -- 63 AC values (drop DC c[1]); lower median = 32nd smallest
      |  SELECT doc_id, c, (list_sort(c[2:64]))[32] AS med FROM c1
      |), sig AS (
      |  SELECT doc_id, list_transform(range(63), i ->
      |    CASE WHEN c[i+2] > med THEN 1 ELSE 0 END) AS sig
      |  FROM sigt
      |)$phashBandedCte""".stripMargin

  val ddPhashOracle: String = {
    import graft.operators.PerceptualHash.{DefaultMaxHamming => MaxHam}
    s"""$phashSigCtes, cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |), scored AS (
      |  SELECT doc_a, doc_b,
      |    len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.doc_a
      |  JOIN sig sb ON sb.doc_id = cand.doc_b
      |)
      |SELECT doc_a, doc_b, hamming FROM scored
      |WHERE hamming <= $MaxHam
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd_phash_capped — dd_phash with the hot-bucket guard ON at cap 8:
    * the synthetic image corpus's band buckets reach 37 members at
    * sf0.01 (measured), so MANY buckets cross the cap and the capped
    * walk's survivor-pairs + representative-chains + first-band
    * suppression all execute under the cross-engine gate — exactly the
    * production path that harbored the round-16 O(m²·log m) re-sort
    * through three rounds of green maxBucket=None gates. The oracle
    * mirrors the deterministic semantics via the shared capped-emit
    * CTEs (see [[cappedEmitCtes]]); the Hamming filter is the last
    * word on both sides, as in dd_phash. */
  private val PhashCappedCap = 8

  val ddPhashCapped: Q = (s, dir) =>
    graft.operators.PerceptualHash.phashPairs(
      Multimodal.syntheticImagesFromText(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text"),
      maxBucket = Some(PhashCappedCap))
      .orderBy("doc_a", "doc_b")

  val ddPhashCappedOracle: String = {
    import graft.operators.PerceptualHash.{DefaultMaxHamming => MaxHam}
    s"""$phashSigCtes, ${cappedEmitCtes(PhashCappedCap)}
      |SELECT e.doc_a, e.doc_b,
      |  len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |FROM emit e
      |JOIN sig sa ON sa.doc_id = e.doc_a
      |JOIN sig sb ON sb.doc_id = e.doc_b
      |WHERE len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) <= $MaxHam
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd_phash_idx_bucketed — the O(Δ) pHash ingest against the BUCKETED
    * persisted band index (BandIndex.write of PerceptualHash.phashBanded),
    * completing the bucketed-index family across every dedup modality
    * (spans, MinHash, SimHash, embeddings, images): the corpus images'
    * packed (doc, sig, band, bkey) rows are written bucketed-and-sorted
    * on the fused band key, so the ingest join shuffles only the delta
    * (PerceptualHashSpec asserts the delta-only-exchange plan). Split
    * convention: the family's %5 — among the PNG rows (doc_id%3 = 0),
    * delta = doc_id%5 = 0, corpus = the rest. maxBucket = None like the
    * dd_phash gate (the oracle enumerates uncapped band candidates). */
  val ddPhashIdxBucketed: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0)
    val table = s"graft_ph_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"phidx:${System.identityHashCode(s)}:$dir", {
      s.sql(s"DROP TABLE IF EXISTS $table")
      BandIndex.write(
        BandIndex.build(graft.operators.PerceptualHash.phashBanded(
          Multimodal.syntheticImagesFromText(
            docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
          maxBucket = None),
        table, nBuckets = 4,
        path = Some(java.nio.file.Files
          .createTempDirectory("graft-ph-idx-gate").toString))
      table
    })
    graft.operators.PerceptualHash.phashPairsIncremental(
      Multimodal.syntheticImagesFromText(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text"),
      s.table(table))
      .orderBy("delta_id", "corpus_id")
  }

  /** dd_phash_multiprobe — the 100×-regime pHash posture
    * (PerceptualHash.phashPairs at the 7 × 9-bit, 1-flip rung of
    * BandIndex.planFor's 63-bit ladder): the SAME near-dup pair set
    * generated with a coarser band cut whose bucket universe is 3,584
    * (vs the fine cut's hard 1,152 ceiling), losslessness at
    * Hamming ≤ 8 bought back by 1-bit multiprobe on the probing side
    * (BandIndex.probePairs — pigeonhole: ≤ 8 differing bits
    * across 7 bands leaves some band with ≤ 1). Shares dd_phash's
    * oracle VERBATIM: any lossless candidate scheme followed by the
    * exact Hamming ≤ 8 filter yields the identical pair set, which is
    * precisely the property that makes the plan a free knob at scale. */
  val ddPhashMultiprobe: Q = (s, dir) =>
    graft.operators.PerceptualHash.phashPairs(
      Multimodal.syntheticImagesFromText(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text"),
      BandIndex.BandPlan(graft.operators.PerceptualHash.PhashBits, bands = 7, flips = 1),
      maxBucket = None)
      .orderBy("doc_a", "doc_b")

  /** dd_phash_multiprobe_idx — the O(Δ) ingest at the DEEPEST ladder
    * rung (3 × 21-bit bands, 2-flip multiprobe — the ≥ 10⁶-image
    * posture, 6.29M-bucket universe): the corpus index stores EXACT
    * 21-bit band keys (the unchanged persistable layout — multiprobe
    * never changes the stored index), the delta expands read-side to
    * its 696-key probe sets. Same %5 split and shared truth oracle as
    * dd_phash_idx_bucketed: both plans are lossless at Hamming ≤ 8, so
    * both equal the uncapped delta × corpus pair set. */
  val ddPhashMultiprobeIdx: Q = (s, dir) => {
    import graft.operators.PerceptualHash
    val plan = BandIndex.BandPlan(PerceptualHash.PhashBits, bands = 3, flips = 2)
    val docs = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0)
    val idx = BandIndex.build(PerceptualHash.phashBanded(
      Multimodal.syntheticImagesFromText(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text"),
      plan), maxBucket = None)
    PerceptualHash.phashPairsIncremental(
      Multimodal.syntheticImagesFromText(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text"),
      idx, plan)
      .orderBy("delta_id", "corpus_id")
  }

  /** dd_phash_debiased — image near-dup pairs with CORPUS-median
    * thresholds (PerceptualHash.phashPairsDebiased): every signature
    * bit re-balanced to ~50/50 by construction, the fix for the
    * per-image hash's biased-band regime (measured at sf0.1: the
    * classic banding passes 45% of all pairs; de-biased keys spread
    * over the full 2^7 space). Medians are the lower median
    * (k = (n+1)//2-th smallest, integer) per coefficient position —
    * the oracle recomputes them from the same integer chain. */
  val ddPhashDebiased: Q = (s, dir) =>
    graft.operators.PerceptualHash.phashPairsDebiased(
      Multimodal.syntheticImagesFromText(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text"),
      maxBucket = None)
      .orderBy("doc_a", "doc_b")

  val ddPhashDebiasedOracle: String = {
    import graft.operators.PerceptualHash.{DefaultMaxHamming => MaxHam}
    s"""$phashCoefCtes, medt AS (
      |  SELECT p.i AS i, c[p.i+2] AS v FROM c1, range(63) p(i)
      |), medl AS (
      |  -- corpus lower median per coefficient position: the
      |  -- (n+1)//2-th smallest (1-based), matching phashMedians
      |  SELECT i, (list_sort(list(v)))[CAST((count(*)+1)//2 AS INT)] AS med
      |  FROM medt GROUP BY i
      |), med AS (
      |  SELECT list(med ORDER BY i) AS m FROM medl
      |), sig AS (
      |  SELECT doc_id, list_transform(range(63), i ->
      |    CASE WHEN c[i+2] > m[i+1] THEN 1 ELSE 0 END) AS sig
      |  FROM c1, med
      |)$phashBandedCte, cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |), scored AS (
      |  SELECT doc_a, doc_b,
      |    len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.doc_a
      |  JOIN sig sb ON sb.doc_id = cand.doc_b
      |)
      |SELECT doc_a, doc_b, hamming FROM scored
      |WHERE hamming <= $MaxHam
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** mm_curate — end-to-end IMAGE curation
    * (PerceptualHash.curateImages): decode-filter → pHash near-dup
    * pairs → connected components → per-cluster KEEP-LARGEST (decoded
    * pixel count, ties to the smaller id) — tp_curate's shape on the
    * image modality, riding the modality-agnostic
    * Dedup.keepBestStateScored. The oracle composes the pHash pair CTEs
    * with the dd_clusters recursive-component CTE and the
    * dd_keep_best argmax, with quality = the synthetic PNG's decoded
    * pixel count (width 4 × height len//12). */
  val mmCurate: Q = (s, dir) =>
    graft.operators.PerceptualHash.curateImages(
      Multimodal.syntheticImagesFromText(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text"),
      maxBucket = None)
      .select(col("media_id"), col("cluster_size"), col("pixels"))
      .orderBy("media_id")

  val mmCurateOracle: String = {
    import graft.operators.PerceptualHash.{DefaultMaxHamming => MaxHam}
    val sigCtes = phashSigCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$sigCtes, cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |), prs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |      len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |    FROM cand
      |    JOIN sig sa ON sa.doc_id = cand.doc_a
      |    JOIN sig sb ON sb.doc_id = cand.doc_b)
      |  WHERE hamming <= $MaxHam
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM prs
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM prs
      |), reach(doc, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.doc = e.dst
      |), clusters AS (
      |  SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc
      |), px AS (
      |  SELECT doc_id,
      |    CAST(4 * greatest(1, length(text) // 12) AS BIGINT) AS pixels
      |  FROM documents WHERE doc_id % 3 = 0
      |), withc AS (
      |  SELECT p.doc_id, COALESCE(c.cluster_id, p.doc_id) AS cid, p.pixels
      |  FROM px p LEFT JOIN clusters c ON p.doc_id = c.doc_id
      |), ranked AS (
      |  SELECT doc_id, cid, pixels,
      |    row_number() OVER (PARTITION BY cid
      |                       ORDER BY pixels DESC, doc_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY cid) AS cluster_size
      |  FROM withc)
      |SELECT doc_id AS media_id, cluster_size, pixels
      |FROM ranked WHERE rn = 1
      |ORDER BY media_id""".stripMargin
  }

  val ddPhashIdxBucketedOracle: String = {
    import graft.operators.PerceptualHash.{DefaultMaxHamming => MaxHam}
    s"""$phashSigCtes, cand AS (
      |  SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS corpus_id
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |), scored AS (
      |  SELECT delta_id, corpus_id,
      |    len(list_filter(range(63), i -> sa.sig[i+1] <> sb.sig[i+1])) AS hamming
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = cand.delta_id
      |  JOIN sig sb ON sb.doc_id = cand.corpus_id
      |)
      |SELECT delta_id, corpus_id, hamming FROM scored
      |WHERE hamming <= $MaxHam
      |ORDER BY delta_id, corpus_id""".stripMargin
  }

  /** dd_embedding — embedding-cosine near-duplicate pairs via hyperplane
    * LSH buckets (the scale path for vector dedup — exact all-pairs
    * cosine is quadratic). Oracle-gated like ss_ann_lsh. The cosine cut
    * is an explicit PARAMETER threaded into both the Spark query and the
    * DuckDB oracle: `EmbFixtureThreshold` = 0.4 is a fixture calibration
    * (this synthetic random corpus has max pairwise cosine ≈ 0.51, so the
    * production cut returns nothing); `EmbProductionThreshold` = 0.9 is
    * what a trained-embedding near-dup pass would use. */
  private[queries] val EmbNBits = 4
  private[queries] val EmbK = 5
  private[queries] val EmbFixtureThreshold = 0.4
  val EmbProductionThreshold = 0.9

  def ddEmbeddingAt(threshold: Double): Q = (s, dir) =>
    SimilaritySearch.lshNeighbors(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, nBits = EmbNBits, k = EmbK)
      .filter(col("cos") >= threshold)
      .filter(col("vec_id") < col("neighbor_id"))
      .orderBy("vec_id", "neighbor_id")

  def ddEmbeddingOracleAt(threshold: Double): String =
    lshOracle(nBits = EmbNBits, k = EmbK,
      extraPredicate = s"cos >= $threshold AND vec_id < neighbor_id")

  val ddEmbedding: Q = ddEmbeddingAt(EmbFixtureThreshold)
  val ddEmbeddingOracle: String = ddEmbeddingOracleAt(EmbFixtureThreshold)

  /** dd_embedding_incremental — each NEW vector's near-duplicates among
    * the EXISTING corpus (SimilaritySearch.lshNeighborsIncremental):
    * the dd_minhash_incremental split convention over the hyperplane
    * bucket index; per-delta top-k among corpus bucket-mates only, so
    * the pair set is the arrival-time answer, not the cross-split
    * subset of the symmetric run. Threshold 0.35 keeps the fixture gate
    * non-trivial (this random corpus peaks near cosine 0.51). */
  private val EmbIncThreshold = 0.35

  val ddEmbeddingIncremental: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    SimilaritySearch.lshNeighborsIncremental(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      "vec_id", "embedding", dim = 64, nBits = EmbNBits, k = EmbK)
      .filter(col("cos") >= EmbIncThreshold)
      .orderBy("delta_id", "corpus_id")
  }

  val ddEmbeddingIncrementalOracle: String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val bucket = hyperplaneBitsSql("v", hyperplanes(EmbNBits, 64))
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, $bucket AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS delta_id, c.vec_id AS corpus_id,
       |    list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |  WHERE a.vec_id % 5 = 0 AND c.vec_id % 5 <> 0
       |), r AS (
       |  SELECT delta_id, corpus_id, cos,
       |    row_number() OVER (PARTITION BY delta_id ORDER BY cos DESC, corpus_id ASC) AS rn
       |  FROM p
       |)
       |SELECT delta_id, corpus_id, cos FROM r
       |WHERE rn <= $EmbK AND cos >= $EmbIncThreshold
       |ORDER BY delta_id, corpus_id""".stripMargin
  }

  /** dd_embedding_idx_bucketed — the incremental embedding neighbor
    * search against the BUCKETED persisted hyperplane index
    * (SimilaritySearch.writeEmbBucketIndexBucketed), completing the
    * bucketed-index family across every dedup modality (spans, MinHash,
    * SimHash, embeddings): the corpus's (id, vec, norm, bucket) rows
    * are written bucketed-and-sorted on the bucket string, so the
    * ingest join shuffles only the delta (EmbIndexBucketingSpec asserts
    * the plan). Layout must not change results — shares
    * dd_embedding_incremental's oracle verbatim. */
  val ddEmbeddingIdxBucketed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val table = s"graft_emb_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"embidx:${System.identityHashCode(s)}:$dir", {
      s.sql(s"DROP TABLE IF EXISTS $table")
      graft.operators.SimilaritySearch.writeEmbBucketIndexBucketed(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "vec_id", "embedding",
        table, nBuckets = 4, dim = 64, nBits = EmbNBits,
        path = Some(java.nio.file.Files
          .createTempDirectory("graft-emb-idx-gate").toString))
      table
    })
    graft.operators.SimilaritySearch.lshNeighborsIncrementalFromIndex(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0), s.table(table),
      "vec_id", "embedding", dim = 64, nBits = EmbNBits, k = EmbK)
      .filter(col("cos") >= EmbIncThreshold)
      .orderBy("delta_id", "corpus_id")
  }

  /** sk_sketches — approximate aggregates (HLL++ distinct count) next
    * to their exact twins: the constant-memory alternative to exact
    * distinct at 100 TB. Sketch INTERNALS are engine-specific, so raw
    * sketch values can't hash-match DuckDB — instead the query emits
    * exact aggregates alongside a deterministic WITHIN-BOUND boolean
    * (|approx−exact| inside the sketch's guarantee, rsd 0.02 → 0.1
    * cap), and the oracle recomputes the exact columns with a literal
    * TRUE: if Spark's HLL ever violates its bound the boolean flips and
    * the hash gate fails. ONE aggregation over ONE scan — this is the
    * cost a user pays.
    *
    * The KLL-percentile within-bound check (approx percentile between
    * exact interpolated p±5%/±0.5% rank values) lives in
    * [[skSketchesVerified]], asserted per-round by SketchSpec at two
    * SFs rather than inside this gate: its exact-order-statistics
    * harness (window-rank sort) cost 5-6× the production aggregate in
    * rounds 13-14 and is a VERIFIER, not an operator a user runs —
    * the round-14 verdict's explicit alternative ("gate exact columns
    * only and move bound-checks to the spec"). */
  val skSketches: Q = (s, dir) =>
    // Two-level aggregate instead of `countDistinct` alongside the other
    // aggs: Spark plans mixed distinct/non-distinct aggregation as an
    // Expand ×2 of every input row (one replica per grouping id) through
    // the partial aggregate — the q24 CUBE-over-base argument, and ×2
    // the shuffle volume at 100 TB. Level 1 collapses to (event_type,
    // user_id) pair counts map-side; level 2 re-derives every column
    // exactly: n_events = Σ pair counts, exact_users = count of non-null
    // user_id groups, and the HLL sketch is DUPLICATE-INSENSITIVE (same
    // value ⇒ same register update), so approx_users over the deduped
    // pairs is bit-identical to the raw-stream sketch. Oracle unchanged.
    Tables.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("pair_events"))
      .groupBy("event_type")
      .agg(
        sum(col("pair_events")).as("n_events"),
        count(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
      .select(
        col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.1).as("approx_users_ok"))
      .orderBy("event_type")

  /** The FULL sketch verifier (spec surface, not driver-gated): the
    * gate's columns plus the KLL percentile_approx values checked
    * against exact window-rank interpolated bounds — see the
    * [[skSketches]] scaladoc for why this is a spec, not a gate. */
  val skSketchesVerified: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // ONE events scan, shared: the verifier's exact-percentile pipeline
    // (vals → ranked/marks → bounds) and the production sketch aggregate
    // previously each re-scanned `events` — the round-14 verdict's
    // double-scan call-out, and at 100 TB the scan IS the cost. The
    // 3-column projection is pinned once (Materialize.stage — column-
    // pruned to exactly what both consumers need) and every subtree
    // below reads the pin.
    val base = graft.operators.Materialize.stage(
      Tables.events(s, dir).select(
        col("event_type"), col("user_id"), col("value").cast("double").as("x")))
    // The VERIFIER's exact bound windows ride the q23 window-rank exact
    // percentile (one spillable sort per group + boundary-rank
    // interpolation), NOT Spark's `percentile` value-buffer aggregate —
    // that buffer is the ObjectHashAggregate OOM regime at 100 TB group
    // sizes that SURVEY §11/q23 exist to avoid, and round 13 measured
    // this gate paying 113× DuckDB for its own harness. Same
    // interpolation formula (pos = (n−1)·p, lo + (hi−lo)·frac over the
    // sorted multiset), so the within-bound booleans are unchanged.
    val ps = Seq(0.45 -> "b45", 0.55 -> "b55", 0.985 -> "b985", 0.995 -> "b995")
    val vals = base.filter(col("x").isNotNull)
      .select(col("event_type"), col("x"))
    // ONE window pass carries BOTH the rank and the group size: count()
    // over the unordered partition frame shares the rank window's
    // exchange + sort, which deletes the former separate `marks`
    // aggregate AND its broadcast join (two whole stages of the
    // verifier — the round-14 "6× its own production cost" residue).
    // Boundary positions lo = floor((nv−1)·p) are then in-row
    // expressions and the interpolation folds into one tiny
    // per-event_type aggregate over just the boundary rows.
    val win = Window.partitionBy("event_type")
    val ranked = vals.select(col("event_type"), col("x"),
      row_number().over(win.orderBy("x")).as("rn"),
      count(lit(1)).over(win).as("nv"))
    def lo(p: Double): Column = floor((col("nv") - 1) * lit(p)).cast("long")
    val needed = ps.map { case (p, _) =>
      col("rn") === lo(p) + 1 || col("rn") === lo(p) + 2 }.reduce(_ || _)
    def interp(p: Double, nm: String): Column = {
      val frac = (max(col("nv")) - 1) * lit(p) -
        floor((max(col("nv")) - 1) * lit(p))
      val vlo = max(when(col("rn") === lo(p) + 1, col("x")))
      val vhi = max(when(col("rn") === lo(p) + 2, col("x")))
      (vlo + (coalesce(vhi, vlo) - vlo) * frac).as(nm)
    }
    val bounds = ranked.filter(needed)
      .groupBy(col("event_type"))
      .agg(interp(0.45, "b45"), interp(0.55, "b55"),
        interp(0.985, "b985"), interp(0.995, "b995"))
      .select("event_type", "b45", "b55", "b985", "b995")
    base.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("x"), array(lit(0.5), lit(0.99)),
          lit(1000)).as("pap"))
      .join(bounds, Seq("event_type"), "left")
      .select(
        col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.1).as("approx_users_ok"),
        element_at(col("pap"), 1).between(col("b45"), col("b55")).as("p50_ok"),
        element_at(col("pap"), 2).between(col("b985"), col("b995")).as("p99_ok"))
      .orderBy("event_type")
  }

  val skSketchesOracle: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS approx_users_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** sk_heavy_hitters — exact frequent word bigrams via the two-phase
    * Misra–Gries-then-verify plan (operators.HeavyHitters): bounded
    * per-partition candidate sketches, then exact counts of candidates
    * only, thresholded at ⌈φ·N⌉ occurrences. The sketch is a superset
    * filter, never the answer, so the output hash-matches the plain
    * GROUP-BY/HAVING oracle exactly — the same sketch-internals-free
    * gating stance as sk_sketches, made stronger here because the
    * verified answer needs no tolerance booleans at all. */
  val skHeavyHitters: Q = (s, dir) =>
    graft.operators.HeavyHitters.heavyHitters(
      Tables.documents(s, dir), "text", n = 2, phi = 0.001)

  val skHeavyHittersOracle: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |tot AS (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n FROM t),
      |g AS (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
      |  FROM t WHERE len(t) >= 2)
      |SELECT gram, CAST(count(*) AS BIGINT) AS cnt
      |FROM g, tot
      |GROUP BY gram, tot.n
      |HAVING count(*) >= ceil(0.001 * tot.n)
      |ORDER BY cnt DESC, gram""".stripMargin

  /** sk_heavy_hitters_incremental — exact frequent bigrams over
    * corpus ∪ delta where the corpus (doc_id%5 ≠ 0) is served from the
    * persisted UNTHRESHOLDED candidate index
    * (HeavyHitters.buildIndex — exact counts for the Misra–Gries
    * superset + a validated `_hh_meta.txt` sidecar) and only the delta
    * (doc_id%5 = 0) is scanned; the corpus text is re-read only for
    * provably-possible fresh crossers, an empty set on this fixture
    * (HeavyHittersSpec plants the non-empty posture). Exactness is
    * unconditional, so the gate shares the from-scratch oracle over
    * all documents verbatim. */
  val skHeavyHittersIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_hh_idx_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"hhidx:${System.identityHashCode(s)}:$dir", {
      graft.operators.HeavyHitters.buildIndex(corpus, "text", path)
      path
    })
    graft.operators.HeavyHitters.heavyHittersIncremental(
      corpus, docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      "text", path, phi = 0.001)
  }

  /** sk_heavy_hitters_idx — the SERVE path: exact heavy hitters read
    * from the persisted unthresholded candidate index ALONE (no corpus
    * access at all — any φ coarser than the built capacity's guarantee
    * thresholds directly on the indexed exact counts). Index built
    * once per (session, dir) over the full corpus; shares the
    * from-scratch oracle verbatim, so the layout and sidecar cannot
    * change results. */
  val skHeavyHittersIdx: Q = (s, dir) => {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_hh_idx_full_${dirSlug(dir)}"
    indexMemo.getOrElseUpdate(s"hhidxfull:${System.identityHashCode(s)}:$dir", {
      graft.operators.HeavyHitters.buildIndex(
        Tables.documents(s, dir), "text", path)
      path
    })
    graft.operators.HeavyHitters.heavyHittersFromIndex(s, path, phi = 0.001)
  }

  /** op_sessionize — gap-based sessionization of the events stream
    * (30-minute silence closes a session), the batch twin of the
    * streaming flatMapGroupsWithState sessionizer
    * (streaming.StreamingIngest — StreamingIngestSpec asserts the two
    * agree on a replayed fixture). Session bounds emitted as epoch
    * MICROS bigints, the q21_asof_join cross-engine timestamp
    * convention. One shuffle: the lag window and the running
    * session-number sum share the (user_id, event_time) sort, and the
    * session aggregate groups within the same partitioning. */
  val opSessionize: Q = (s, dir) =>
    graft.streaming.StreamingIngest
      .sessionizeEvents(Tables.events(s, dir), "ts", gapMinutes = 30)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  val opSessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, ts,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |g AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_no
      |  FROM f)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) AS session_end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id, sess_no
      |ORDER BY user_id, session_start_us""".stripMargin

  /** cl_kmeans — deterministic Lloyd's k-means over embeddings
    * (operators.Clustering): seed centroids = the k lowest vec_ids,
    * assignment = argmax(v·c − ½|c|²) with cid tiebreak, component
    * means rounded to `KmRound` dp each round. Fully oracle-gated: the
    * oracle unrolls the SAME `KmIters` Lloyd rounds as chained CTEs —
    * every FP step is a sequential dot product or a correctly-rounded
    * scalar op, and the round() collapses the engines' partial-sum
    * order difference, so the integer assignments must match exactly. */
  private val KmK = 8
  private val KmIters = 2
  private val KmRound = 6
  private val EmbDim = 64

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

  /** Shared DuckDB CTE prefix computing the k-means assignment (`asg`:
    * vec_id, cluster_id) — unrolled Lloyd rounds, same constants as the
    * Spark operator. */
  private def kmeansCtes: String = {
    val iterCtes = (1 to KmIters).map { i =>
      s"""s$i AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
         |      c.cid ASC) AS rn
         |  FROM e CROSS JOIN c${i - 1} c),
         |a$i AS (SELECT vec_id, v, cid AS cluster FROM s$i WHERE rn = 1),
         |m$i AS (
         |  SELECT cluster, i.idx,
         |    floor(avg(v[i.idx + 1]) * 1000000.0 + 0.5) / 1000000.0 AS m
         |  FROM a$i, range($EmbDim) i(idx) GROUP BY 1, 2),
         |g$i AS (SELECT cluster AS cid, list(m ORDER BY idx) AS c FROM m$i GROUP BY 1),
         |c$i AS (
         |  SELECT c${i - 1}.cid, COALESCE(g$i.c, c${i - 1}.c) AS c
         |  FROM c${i - 1} LEFT JOIN g$i USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $KmK),
       |$iterCtes,
       |sf AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
       |      c.cid ASC) AS rn
       |  FROM e CROSS JOIN c$KmIters c),
       |asg AS (SELECT vec_id, cid AS cluster_id FROM sf WHERE rn = 1)""".stripMargin
  }

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
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |      list_dot_product(e.v, c.v) - 0.5 * list_dot_product(c.v, c.v) DESC,
           |      c.cid ASC) AS rn
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
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.v, c.v) - 0.5 * list_dot_product(c.v, c.v) DESC,
       |        c.cid ASC) AS rn
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
       |  list_dot_product(e.v, q.v) /
       |  (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos
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
  /** Per-corpus memo for the persisted-index gates: each index is a
    * deterministic function of its corpus directory, so repeated
    * executions in one JVM (bench warm-up + reps; Verify's single
    * pass) reuse ONE build — the production posture (build once,
    * search many) — instead of writing a fresh never-deleted index
    * copy into the temp dir per execution. */
  private val indexMemo =
    new scala.collection.concurrent.TrieMap[String, AnyRef]

  /** Memoized embeddings row count per (session, dir) — the corpus-scaled
    * knobs (nBitsFor / nCentroidsFor / sampleEveryNthFor) all need it and
    * the gates re-run many times per bench session. */
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    indexMemo.getOrElseUpdate(
      s"embcount:${System.identityHashCode(s)}:$dir",
      java.lang.Long.valueOf(Tables.embeddings(s, dir).count())
    ).asInstanceOf[java.lang.Long].longValue()

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
    val iterCtes = (1 to IvfPqCoarseIters).map { i =>
      s"""cqs$i AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
         |      c.cid ASC) AS rn
         |  FROM e CROSS JOIN cq${i - 1} c),
         |cqa$i AS (SELECT vec_id, v, cid AS cluster FROM cqs$i WHERE rn = 1),
         |cqm$i AS (
         |  SELECT cluster, i.idx,
         |    floor(avg(v[i.idx + 1]) * 1000000.0 + 0.5) / 1000000.0 AS m
         |  FROM cqa$i, range($EmbDim) i(idx) GROUP BY 1, 2),
         |cqg$i AS (SELECT cluster AS cid, list(m ORDER BY idx) AS c FROM cqm$i GROUP BY 1),
         |cq$i AS (
         |  SELECT cq${i - 1}.cid, COALESCE(cqg$i.c, cq${i - 1}.c) AS c
         |  FROM cq${i - 1} LEFT JOIN cqg$i USING (cid))""".stripMargin
    }.mkString(",\n")
    val coarse =
      s"""cq0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $IvfPqCells),
         |$iterCtes,
         |cqsf AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(e.v, c.c) - 0.5 * list_dot_product(c.c, c.c) DESC,
         |      c.cid ASC) AS rn
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

  val dsSemanticCapOracle: String = {
    val P = graft.functions.TextFunctions.P
    s"""$kmeansCtes,
       |withu AS (
       |  SELECT vec_id, cluster_id,
       |    (('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'semcap'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
       |  FROM asg
       |), r AS (
       |  SELECT vec_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY u, vec_id) AS rn
       |  FROM withu)
       |SELECT d.doc_id, r.cluster_id, d.source
       |FROM r JOIN documents d ON d.doc_id = r.vec_id
       |WHERE r.rn <= $SemCapN
       |ORDER BY d.doc_id""".stripMargin
  }

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
       |), e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), qv AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0
       |), c AS (
       |  SELECT vec_id AS doc_id,
       |    floor((list_dot_product(v, q) /
       |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))))
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

  /** tp_shuffle — deterministic global shuffle + shard assignment
    * (Sampling.shuffleShard): shard and within-shard position derive
    * from md5(key‖salt), reproducible under any partitioning. */
  private val ShuffleShards = 16

  val tpShuffle: Q = (s, dir) =>
    graft.operators.Sampling.shuffleShard(
      Tables.documents(s, dir).select("doc_id"), "doc_id", ShuffleShards)
      .orderBy("doc_id")

  val tpShuffleOracle: String = {
    val P = graft.functions.TextFunctions.P
    s"""WITH t AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'shuffle') AS h,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shuffle'), 1, 15))::BIGINT % $P)
       |      % $ShuffleShards AS shard
       |  FROM documents)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

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
    val P = graft.functions.TextFunctions.P
    val cases = MixRates.map { case (s0, r) => s"WHEN '$s0' THEN $r" }.mkString(" ")
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    CASE source $cases ELSE 1.0 END AS rate,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
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

  /** op_zorder — multi-dimensional layout clustering (operators.Layout):
    * the Morton interleave key over (custkey, orderkey). Pure unrolled
    * integer shifts — bit-identical in any engine; the layout WRITE path
    * (range partition + sort by this key) is asserted in LayoutSpec. */
  private val ZBits = 21

  val opZorder: Q = (s, dir) =>
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      graft.operators.Layout.zorderKey(
        col("o_custkey"), col("o_orderkey"), ZBits).as("zkey"))
      .orderBy("zkey", "o_orderkey")

  val opZorderOracle: String = {
    val zTerms = (0 until ZBits).map(i =>
      s"(((o_custkey >> $i) & 1) << ${2 * i}) + (((o_orderkey >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""SELECT o_orderkey, o_custkey, CAST($zTerms AS BIGINT) AS zkey
       |FROM orders
       |ORDER BY zkey, o_orderkey""".stripMargin
  }

  /** op_zorder3 — the n-column fold (round-robin interleave, bit i of
    * column j at position i·n+j) hash-locked on lineitem's three keys;
    * 3·ZBits3 = 45 bits. The 2-column gate above pins the classic
    * interleave; this pins the generalization LayoutSpec layout-tests. */
  private val ZBits3 = 15

  val opZorder3: Q = (s, dir) =>
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      graft.operators.Layout.zorderKey(
        Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")), ZBits3).as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber")

  val opZorder3Oracle: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val zTerms = (for { i <- 0 until ZBits3; (c, j) <- cols.zipWithIndex }
      yield s"((($c >> $i) & 1) << ${i * 3 + j})").mkString(" + ")
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       |  CAST($zTerms AS BIGINT) AS zkey
       |FROM lineitem
       |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
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

  val dsWeightedOracle: String = {
    val P = graft.functions.TextFunctions.P
    s"""WITH u AS (
       |  SELECT doc_id, source, n_chars,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wsample'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
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
  }

  /** ds_cap_per_group — per-source contribution cap (Sampling
    * .capPerGroup): at most `CapN` documents per source, chosen by the
    * key-stable unit hash. */
  private val CapN = 10

  val dsCapPerGroup: Q = (s, dir) =>
    graft.operators.Sampling.capPerGroup(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source", maxPerGroup = CapN)
      .orderBy("doc_id")

  val dsCapPerGroupOracle: String = {
    val P = graft.functions.TextFunctions.P
    s"""WITH u AS (
       |  SELECT doc_id, source,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 15))::BIGINT % $P)
       |      / CAST($P AS DOUBLE) AS u
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
       |  FROM u)
       |SELECT doc_id, source FROM r WHERE rn <= $CapN
       |ORDER BY doc_id""".stripMargin
  }

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

  /** ft_normalize — per-dimension min-max embedding normalization
    * (operators.Features): exact min/max aggregates + one correctly-
    * rounded rescale per component, so even the double outputs
    * hash-match cross-engine. */
  val ftNormalize: Q = (s, dir) =>
    graft.operators.Features.minMaxNormalize(
      Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy("vec_id", "pos")

  val ftNormalizeOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (
       |  SELECT vec_id, CAST(i.idx AS BIGINT) AS pos, v[i.idx + 1] AS x
       |  FROM e, range($EmbDim) i(idx)
       |), st AS (
       |  SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1
       |)
       |SELECT vec_id, x.pos,
       |  CASE WHEN mx = mn THEN 0.0 ELSE (x - mn) / (mx - mn) END AS x_norm
       |FROM x JOIN st USING (pos)
       |ORDER BY vec_id, pos""".stripMargin

  /** op_merge_scd2 — SCD2 incremental merge (operators.Merge): customer
    * is the dimension, per-customer order totals are the change batch
    * (plus synthetic brand-new keys to exercise the insert branch).
    * Tracked value goes through DECIMAL(18,2) on both sides, so change
    * detection and outputs are exact. */
  val opMergeScd2: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").cast(DecimalType(18, 2)).as("acctbal"),
      to_date(lit("2024-01-01")).as("valid_from"),
      to_date(lit("2099-12-31")).as("valid_to"),
      lit(true).as("is_current"))
    val fromOrders = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("acctbal"))
    val newKeys = Tables.customer(s, dir)
      .filter(pmod(col("c_custkey"), lit(100)) === 0)
      .select((col("c_custkey") + 1000000).as("custkey"),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2)).as("acctbal"))
    graft.operators.Merge.scd2Merge(
      base, fromOrders.unionByName(newKeys), "custkey",
      trackedCols = Seq("acctbal"), attrCols = Seq("segment"),
      effectiveDate = "2024-06-01", endOfTime = "2099-12-31")
      .select(col("custkey"), col("segment"),
        col("acctbal").cast("double").as("acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("custkey", "valid_from")
  }

  val opMergeScd2Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal,
      |    DATE '2024-01-01' AS valid_from, DATE '2099-12-31' AS valid_to,
      |    TRUE AS is_current
      |  FROM customer
      |), upd AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS acctbal
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, CAST(0 AS DECIMAL(18,2))
      |  FROM customer WHERE c_custkey % 100 = 0
      |), j AS (
      |  SELECT b.custkey AS bk, u.custkey AS uk, b.segment AS segment,
      |    b.acctbal AS bbal, u.acctbal AS ubal,
      |    b.valid_from AS valid_from, b.valid_to AS valid_to
      |  FROM base b FULL OUTER JOIN upd u ON b.custkey = u.custkey
      |)
      |SELECT custkey, segment, CAST(acctbal AS DOUBLE) AS acctbal,
      |  valid_from, valid_to, is_current
      |FROM (
      |  SELECT bk AS custkey, segment, bbal AS acctbal, valid_from, valid_to,
      |    TRUE AS is_current
      |  FROM j WHERE bk IS NOT NULL AND (uk IS NULL OR bbal IS NOT DISTINCT FROM ubal)
      |  UNION ALL
      |  SELECT bk, segment, bbal, valid_from, DATE '2024-06-01', FALSE
      |  FROM j WHERE bk IS NOT NULL AND uk IS NOT NULL AND bbal IS DISTINCT FROM ubal
      |  UNION ALL
      |  SELECT uk, segment, ubal, DATE '2024-06-01', DATE '2099-12-31', TRUE
      |  FROM j WHERE uk IS NOT NULL AND (bk IS NULL OR bbal IS DISTINCT FROM ubal)
      |)
      |ORDER BY custkey, valid_from""".stripMargin

  val queries: Map[String, Q] = Map(
    "ta_vocab" -> taVocab,
    "op_zorder" -> opZorder,
    "op_zorder3" -> opZorder3,
    "ds_cap_per_group" -> dsCapPerGroup,
    "ds_token_budget" -> dsTokenBudget,
    "ds_token_budget_incremental" -> dsTokenBudgetIncremental,
    "ds_weighted" -> dsWeighted,
    "ds_semantic_cap" -> dsSemanticCap,
    "ft_normalize" -> ftNormalize,
    "tp_chunk" -> tpChunk,
    "tp_decontaminated" -> tpDecontaminated,
    "cl_kmeans" -> clKmeans,
    "cl_kmeans_native" -> clKmeansNative,
    "ta_tfidf" -> taTfidf,
    "ss_bm25" -> ssBm25,
    "ss_hybrid_rrf" -> ssHybridRrf,
    "tp_shuffle" -> tpShuffle,
    "tp_mixture" -> tpMixture,
    "op_merge_scd2" -> opMergeScd2,
    "op_sessionize" -> opSessionize,
    "mm_features" -> mmFeatures,
    "mm_features_img" -> mmFeaturesImg,
    "mm_curate" -> mmCurate,
    "dd_phash" -> ddPhash,
    "dd_phash_capped" -> ddPhashCapped,
    "dd_phash_idx_bucketed" -> ddPhashIdxBucketed,
    "dd_phash_multiprobe" -> ddPhashMultiprobe,
    "dd_phash_multiprobe_idx" -> ddPhashMultiprobeIdx,
    "dd_phash_debiased" -> ddPhashDebiased,
    "sk_sketches" -> skSketches,
    "sk_heavy_hitters" -> skHeavyHitters,
    "sk_heavy_hitters_incremental" -> skHeavyHittersIncremental,
    "sk_heavy_hitters_idx" -> skHeavyHittersIdx,
    "dd_embedding" -> ddEmbedding,
    "dd_embedding_incremental" -> ddEmbeddingIncremental,
    "dd_embedding_idx_bucketed" -> ddEmbeddingIdxBucketed,
    "dd_exact" -> ddExact,
    "dd_clusters" -> ddClusters,
    "dd_clusters_incremental" -> ddClustersIncremental,
    "dd_keep_best" -> ddKeepBest,
    "dd_keep_best_incremental" -> ddKeepBestIncremental,
    "dd_spans" -> ddSpans,
    "dd_spans_incremental" -> ddSpansIncremental,
    "dd_spans_idx_bucketed" -> ddSpansIdxBucketed,
    "dd_span_decontaminate" -> ddSpanDecontaminate,
    "ss_ann_pq" -> ssAnnPq,
    "ss_ann_pq_codes" -> ssAnnPqCodes,
    "ss_ann_ivf_pq" -> ssAnnIvfPq,
    "ss_ann_ivf_pq_pruned" -> ssAnnIvfPqPruned,
    "ss_ann_lsh_pruned" -> ssAnnLshPruned,
    "ta_dup_fraction" -> taDupFraction,
    "dd_minhash_incremental" -> ddMinhashIncremental,
    "dd_minhash_idx_bucketed" -> ddMinhashIdxBucketed,
    "tx_canonicalize" -> txCanonicalize,
    "tp_trim_spans" -> tpTrimSpans,
    "ta_token_bpe" -> taTokenBpe,
    "ta_bpe_train" -> taBpeTrain,
    "ta_bpe_encode" -> taBpeEncode,
    "ta_perplexity" -> taPerplexity,
    "ta_quality_clf" -> taQualityClf,
    "ta_quality_clf_incremental" -> taQualityClfIncremental,
    "ta_perplexity_incremental" -> taPerplexityIncremental,
    "ds_split" -> dsSplit,
    "ds_sample_stratified" -> dsSampleStratified,
    "tp_curate" -> tpCurate,
    "tp_curate_trim" -> tpCurateTrim,
    "tp_curate_lm" -> tpCurateLm,
    "tp_curate_clf" -> tpCurateClf,
    "op_salted_agg" -> opSaltedAgg,
    "op_bloom_join" -> opBloomJoin,
    "ta_repetition" -> taRepetition,
    "tx_redact" -> txRedact,
    "tp_pack" -> tpPack,
    "dd_ngram_jaccard" -> ddNgramJaccard,
    "dd_decontaminate" -> ddDecontaminate,
    "dd_decontaminate_idx" -> ddDecontaminateIdx,
    "dd_minhash" -> ddMinhash,
    "dd_minhash_capped" -> ddMinhashCapped,
    "dd_minhash_verified" -> ddMinhashVerified,
    "dd_simhash" -> ddSimhash,
    "dd_simhash_multiprobe" -> ddSimhashMultiprobe,
    "dd_simhash_incremental" -> ddSimhashIncremental,
    "dd_simhash_idx_bucketed" -> ddSimhashIdxBucketed,
    "ta_token_stats" -> taTokenStats,
    "ta_quality" -> taQuality,
    "ta_langid" -> taLangid,
    "ta_fingerprint" -> taFingerprint,
    "ss_topk_cosine" -> ssTopkCosine,
    "ss_ann_lsh" -> ssAnnLsh,
    "ss_ann_lsh_multi" -> ssAnnLshMulti,
    "ss_recall_lsh" -> ssRecallLsh,
    "ss_recall_lsh_t8" -> ssRecallLshT8,
    "ss_recall_ivf" -> ssRecallIvf,
    "ss_recall_ivf_p8" -> ssRecallIvfP8,
    "dd_recall_minhash" -> ddRecallMinhash,
    "ss_ann_ivf" -> ssAnnIvf,
    "ss_ann_ivf_native" -> ssAnnIvfNative)

  val oracles: Map[String, String] = Map(
    "ta_vocab" -> taVocabOracle,
    "op_zorder" -> opZorderOracle,
    "op_zorder3" -> opZorder3Oracle,
    "ds_cap_per_group" -> dsCapPerGroupOracle,
    "ds_token_budget" -> dsTokenBudgetOracle,
    "ds_token_budget_incremental" -> dsTokenBudgetIncrementalOracle,
    "ds_weighted" -> dsWeightedOracle,
    "ds_semantic_cap" -> dsSemanticCapOracle,
    "ft_normalize" -> ftNormalizeOracle,
    "tp_chunk" -> tpChunkOracle,
    "tp_decontaminated" -> tpDecontaminatedOracle,
    "cl_kmeans" -> clKmeansOracle,
    "cl_kmeans_native" -> clKmeansOracle,
    "ta_tfidf" -> taTfidfOracle,
    "ss_bm25" -> ssBm25Oracle,
    "ss_hybrid_rrf" -> ssHybridRrfOracle,
    "tp_shuffle" -> tpShuffleOracle,
    "tp_mixture" -> tpMixtureOracle,
    "op_merge_scd2" -> opMergeScd2Oracle,
    "op_sessionize" -> opSessionizeOracle,
    "mm_features" -> mmFeaturesOracle,
    "mm_features_img" -> mmFeaturesImgOracle,
    "mm_curate" -> mmCurateOracle,
    "dd_phash" -> ddPhashOracle,
    "dd_phash_capped" -> ddPhashCappedOracle,
    "dd_phash_idx_bucketed" -> ddPhashIdxBucketedOracle,
    "dd_phash_multiprobe" -> ddPhashOracle,
    "dd_phash_multiprobe_idx" -> ddPhashIdxBucketedOracle,
    "dd_phash_debiased" -> ddPhashDebiasedOracle,
    "sk_sketches" -> skSketchesOracle,
    "sk_heavy_hitters" -> skHeavyHittersOracle,
    "sk_heavy_hitters_incremental" -> skHeavyHittersOracle,
    "sk_heavy_hitters_idx" -> skHeavyHittersOracle,
    "dd_exact" -> ddExactOracle,
    "dd_clusters" -> ddClustersOracle,
    "dd_clusters_incremental" -> ddClustersIncrementalOracle,
    "dd_keep_best" -> ddKeepBestOracle,
    "dd_keep_best_incremental" -> ddKeepBestIncrementalOracle,
    "dd_spans" -> ddSpansOracle,
    "dd_spans_incremental" -> ddSpansIncrementalOracle,
    "dd_spans_idx_bucketed" -> ddSpansIncrementalOracle,
    "dd_span_decontaminate" -> ddSpanDecontaminateOracle,
    "ss_ann_pq" -> ssAnnPqOracle,
    "ss_ann_pq_codes" -> ssAnnPqOracle,
    "ss_ann_ivf_pq" -> ssAnnIvfPqOracle,
    "ss_ann_ivf_pq_pruned" -> ssAnnIvfPqOracle,
    "ss_ann_lsh_pruned" -> ssAnnLshPrunedOracle,
    "ta_dup_fraction" -> taDupFractionOracle,
    "dd_minhash_incremental" -> ddMinhashIncrementalOracle,
    "dd_minhash_idx_bucketed" -> ddMinhashIncrementalOracle,
    "tx_canonicalize" -> txCanonicalizeOracle,
    "tp_trim_spans" -> tpTrimSpansOracle,
    "ta_token_bpe" -> taTokenBpeOracle,
    "ta_bpe_train" -> taBpeTrainOracle,
    "ta_bpe_encode" -> taBpeEncodeOracle,
    "ta_perplexity" -> taPerplexityOracle,
    "ta_quality_clf" -> taQualityClfOracle,
    "ta_quality_clf_incremental" -> taQualityClfIncrementalOracle,
    "ta_perplexity_incremental" -> taPerplexityIncrementalOracle,
    "ds_split" -> dsSplitOracle,
    "ds_sample_stratified" -> dsSampleStratifiedOracle,
    "tp_curate" -> tpCurateOracle,
    "tp_curate_trim" -> tpCurateTrimOracle,
    "tp_curate_lm" -> tpCurateLmOracle,
    "tp_curate_clf" -> tpCurateClfOracle,
    "op_salted_agg" -> opSaltedAggOracle,
    "op_bloom_join" -> opBloomJoinOracle,
    "ta_repetition" -> taRepetitionOracle,
    "tx_redact" -> txRedactOracle,
    "tp_pack" -> tpPackOracle,
    "dd_ngram_jaccard" -> ddNgramJaccardOracle,
    "dd_decontaminate" -> ddDecontaminateOracle,
    "dd_decontaminate_idx" -> ddDecontaminateOracle,
    "dd_embedding" -> ddEmbeddingOracle,
    "dd_embedding_incremental" -> ddEmbeddingIncrementalOracle,
    "dd_embedding_idx_bucketed" -> ddEmbeddingIncrementalOracle,
    "dd_minhash" -> ddMinhashOracle,
    "dd_minhash_capped" -> ddMinhashCappedOracle,
    "dd_minhash_verified" -> ddMinhashVerifiedOracle,
    "dd_simhash" -> ddSimhashOracle,
    "dd_simhash_multiprobe" -> ddSimhashOracle,
    "dd_simhash_incremental" -> ddSimhashIncrementalOracle,
    "dd_simhash_idx_bucketed" -> ddSimhashIncrementalOracle,
    "ta_token_stats" -> taTokenStatsOracle,
    "ta_quality" -> taQualityOracle,
    "ta_langid" -> taLangidOracle,
    "ta_fingerprint" -> taFingerprintOracle,
    "ss_topk_cosine" -> ssTopkCosineOracle,
    "ss_ann_lsh" -> ssAnnLshOracle,
    "ss_ann_lsh_multi" -> ssAnnLshMultiOracle,
    "ss_recall_lsh" -> ssRecallLshOracle,
    "ss_recall_lsh_t8" -> ssRecallLshT8Oracle,
    "ss_recall_ivf" -> ssRecallIvfOracle,
    "ss_recall_ivf_p8" -> ssRecallIvfP8Oracle,
    "dd_recall_minhash" -> ddRecallMinhashOracle,
    "ss_ann_ivf" -> ssAnnIvfOracle,
    "ss_ann_ivf_native" -> ssAnnIvfOracle)
}
