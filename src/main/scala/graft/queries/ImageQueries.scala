package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{BandIndex, Multimodal}
import graft.sources.Tables

/** Multimodal gates over media synthesized from `documents`: decoded
  * features, pHash image near-dup pairs and image curation. */
object ImageQueries {
  import Gate.Q
  import Shared._

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
    s"$phashSigCtes, $bandPairsCte, ${hammingPairsSql(63, MaxHam)}"
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
      |  ${hammingSql(63)} AS hamming
      |FROM emit e
      |JOIN sig sa ON sa.doc_id = e.doc_a
      |JOIN sig sb ON sb.doc_id = e.doc_b
      |WHERE ${hammingSql(63)} <= $MaxHam
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
      |)$phashBandedCte, $bandPairsCte, ${hammingPairsSql(63, MaxHam)}""".stripMargin
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
    s"""$sigCtes, $bandPairsCte, prs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |      ${hammingSql(63)} AS hamming
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
      |  ${bandJoinSql(" AND a.doc_id <> b.doc_id")}
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |), ${hammingPairsSql(63, MaxHam, "cand", "delta_id", "corpus_id")}""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("mm_features", mmFeatures, Some(mmFeaturesOracle)),
    Gate("mm_features_img", mmFeaturesImg, Some(mmFeaturesImgOracle)),
    Gate("dd_phash", ddPhash, Some(ddPhashOracle)),
    Gate("dd_phash_capped", ddPhashCapped, Some(ddPhashCappedOracle)),
    Gate("dd_phash_idx_bucketed", ddPhashIdxBucketed, Some(ddPhashIdxBucketedOracle), (2, "index-build"), memo = "state"),
    Gate("dd_phash_multiprobe", ddPhashMultiprobe, Some(ddPhashOracle), (1, "staging")),
    Gate("dd_phash_multiprobe_idx", ddPhashMultiprobeIdx, Some(ddPhashIdxBucketedOracle)),
    Gate("dd_phash_debiased", ddPhashDebiased, Some(ddPhashDebiasedOracle), (6, "medians")),
    Gate("mm_curate", mmCurate, Some(mmCurateOracle), (3, "union-find")))
}
