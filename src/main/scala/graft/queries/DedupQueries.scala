package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{BandIndex, Dedup, SimilaritySearch}
import graft.sources.Tables
import graft.store.Storage

/** Text dedup and decontamination gates over `documents` (exact, n-gram
  * Jaccard, clusters and keep-best, shared spans, MinHash, SimHash) and
  * embedding near-dup pairs over `embeddings`. */
object DedupQueries {
  import Gate.Q
  import Shared._

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

  val ddNgramJaccardOracle: String = {
    val n = Dedup.DefaultShingleN
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckShingles("string_split(text,' ')", n)} AS s
       |  FROM documents)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  $shinglePairsSql)
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
       |    $shinglePairsSql)
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
       |    $qualityScoreSql AS quality_score
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
    s"""WITH ${spanShingleCtes(k)},
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
       |${spanIslandCtes(k, minSpan)},
       |agg AS (
       |  SELECT doc_a, doc_b, count(*) AS n_spans,
       |    max(struct_pack(l := span_len, na := -start_a, nb := -start_b)) AS best
       |  FROM spans GROUP BY doc_a, doc_b)
       |SELECT doc_a AS delta_id, doc_b AS corpus_id, n_spans, best.l AS max_span,
       |       -best.na AS start_delta, -best.nb AS start_corpus
       |FROM agg ORDER BY delta_id, corpus_id""".stripMargin
  }

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
    s"""WITH ${spanShingleCtes(k)},
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
       |${spanIslandCtes(k, minSpan, "train_id", "eval_id")},
       |agg AS (
       |  SELECT train_id, eval_id, count(*) AS n_spans,
       |    max(struct_pack(l := span_len, na := -start_a, nb := -start_b)) AS best
       |  FROM spans GROUP BY train_id, eval_id)
       |SELECT train_id, eval_id, n_spans, best.l AS max_span,
       |       -best.na AS start_train, -best.nb AS start_eval
       |FROM agg ORDER BY train_id, eval_id""".stripMargin
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

  val ddMinhashOracle: String =
    s"""$minhashOraclePrefix
       |SELECT doc_a, doc_b, est_jaccard FROM scored
       |WHERE est_jaccard >= ${Dedup.DefaultMinhashThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

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
       |  ${estJaccardSql(k)} AS est_jaccard
       |FROM emit e
       |JOIN sig sa ON sa.doc_id = e.doc_a
       |JOIN sig sb ON sb.doc_id = e.doc_b
       |WHERE ${estJaccardSql(k)}
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
       |  ${bandJoinSql()}
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
       |SELECT delta_id, corpus_id,
       |  ${estJaccardSql(k)} AS est_jaccard
       |FROM candx
       |JOIN sig sa ON sa.doc_id = candx.delta_id
       |JOIN sig sb ON sb.doc_id = candx.corpus_id
       |WHERE ${estJaccardSql(k)}
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
       |    $shinglePairsSql)
       |  WHERE jaccard >= 0.8
       |), found AS (
       |  SELECT doc_a, doc_b FROM scored
       |  WHERE est_jaccard >= ${Dedup.DefaultMinhashThreshold}
       |), ${recallSql("found", Seq("doc_a", "doc_b"), "pair_recall")}""".stripMargin

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

  /** SimHash signature CTEs: `tok`, `th` (two 32-bit md5 words per
    * token), `sig (doc_id, sig)` — the 64 bit votes — and `banded`. */
  private def simhashSigCtes: String = {
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
      |)""".stripMargin
  }

  val ddSimhashOracle: String =
    s"$simhashSigCtes, $bandPairsCte, ${hammingPairsSql(64, Dedup.DefaultMaxHamming)}"

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

  val ddSimhashIncrementalOracle: String =
    s"""$simhashSigCtes, candx AS (
      |  SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS corpus_id
      |  ${bandJoinSql()}
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |), ${hammingPairsSql(64, Dedup.DefaultMaxHamming, "candx", "delta_id", "corpus_id")}""".stripMargin

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

  /** dd_embedding — embedding-cosine near-duplicate pairs via hyperplane
    * LSH buckets (the scale path for vector dedup — exact all-pairs
    * cosine is quadratic). Oracle-gated like ss_ann_lsh. The cosine cut
    * is an explicit PARAMETER threaded into both the Spark query and the
    * DuckDB oracle: `EmbFixtureThreshold` = 0.4 is a fixture calibration
    * (this synthetic random corpus has max pairwise cosine ≈ 0.51, so the
    * production cut returns nothing); `EmbProductionThreshold` = 0.9 is
    * what a trained-embedding near-dup pass would use. */
  private val EmbK = 5
  private val EmbFixtureThreshold = 0.4
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
    s"""WITH $embCte, b AS (
       |  SELECT vec_id, v, $bucket AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS delta_id, c.vec_id AS corpus_id,
       |    ${cosSql("a.v", "c.v")} AS cos
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

  val gates: Seq[Gate] = Seq(
    Gate("dd_exact", ddExact, Some(ddExactOracle)),
    Gate("dd_ngram_jaccard", ddNgramJaccard, Some(ddNgramJaccardOracle), (4, "staging")),
    Gate("dd_clusters", ddClusters, Some(ddClustersOracle), (8, "union-find")),
    Gate("dd_clusters_incremental", ddClustersIncremental, Some(ddClustersOracle), (18, "union-find")),
    Gate("dd_keep_best", ddKeepBest, Some(ddKeepBestOracle), (8, "union-find")),
    Gate("dd_keep_best_incremental", ddKeepBestIncremental, Some(ddKeepBestOracle), (19, "union-find")),
    Gate("dd_spans", ddSpans, Some(ddSpansOracle), (5, "staging")),
    Gate("dd_spans_incremental", ddSpansIncremental, Some(ddSpansIncrementalOracle)),
    Gate("dd_spans_idx_bucketed", ddSpansIdxBucketed, Some(ddSpansIncrementalOracle), (6, "index-build"), memo = "state"),
    Gate("dd_span_decontaminate", ddSpanDecontaminate, Some(ddSpanDecontaminateOracle)),
    Gate("dd_decontaminate", ddDecontaminate, Some(ddDecontaminateOracle)),
    Gate("tp_decontaminated", tpDecontaminated, Some(tpDecontaminatedOracle)),
    Gate("dd_decontaminate_idx", ddDecontaminateIdx, Some(ddDecontaminateOracle), (5, "index-build"), memo = "state"),
    Gate("dd_minhash", ddMinhash, Some(ddMinhashOracle)),
    Gate("dd_minhash_capped", ddMinhashCapped, Some(ddMinhashCappedOracle)),
    Gate("dd_minhash_incremental", ddMinhashIncremental, Some(ddMinhashIncrementalOracle)),
    Gate("dd_minhash_idx_bucketed", ddMinhashIdxBucketed, Some(ddMinhashIncrementalOracle), (2, "index-build"), memo = "state"),
    Gate("dd_recall_minhash", ddRecallMinhash, Some(ddRecallMinhashOracle)),
    Gate("dd_minhash_verified", ddMinhashVerified, Some(ddMinhashVerifiedOracle)),
    Gate("dd_simhash", ddSimhash, Some(ddSimhashOracle)),
    Gate("dd_simhash_multiprobe", ddSimhashMultiprobe, Some(ddSimhashOracle)),
    Gate("dd_simhash_incremental", ddSimhashIncremental, Some(ddSimhashIncrementalOracle)),
    Gate("dd_simhash_idx_bucketed", ddSimhashIdxBucketed, Some(ddSimhashIncrementalOracle), (2, "index-build"), memo = "state"),
    Gate("dd_embedding", ddEmbedding, Some(ddEmbeddingOracle)),
    Gate("dd_embedding_incremental", ddEmbeddingIncremental, Some(ddEmbeddingIncrementalOracle)),
    Gate("dd_embedding_idx_bucketed", ddEmbeddingIdxBucketed, Some(ddEmbeddingIncrementalOracle), (2, "index-build"), memo = "state"))
}
