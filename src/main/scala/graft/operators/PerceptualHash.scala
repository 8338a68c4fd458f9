package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** DCT perceptual hash (pHash) — the image near-duplicate modality the
  * text/vector dedup families don't cover: two RE-ENCODED or RESIZED
  * copies of the same picture have different bytes, different exact
  * hashes, and (for a lossy re-encode) different pixel values, yet the
  * SIGN PATTERN of their low-frequency DCT coefficients is nearly
  * identical. The classic recipe (Zauner 2010, "Implementation and
  * Benchmarking of Perceptual Image Hash Functions"): grayscale,
  * downsample to 32×32, 2-D DCT-II, keep the 8×8 low-frequency block,
  * threshold each AC coefficient against the block median → a 63-bit
  * signature compared by Hamming distance.
  *
  * Everything after decode is INTEGER arithmetic, chosen so a second
  * engine reproduces the hash bit-for-bit (the dd_phash oracle recomputes
  * it in DuckDB SQL from the same source bytes):
  *   - grayscale = r+g+b (no division — the sum preserves order, which
  *     is all the DCT sign structure needs),
  *   - downsample = nearest-neighbor at integer indices
  *     (src_y = j·h/32, src_x = i·w/32, floor division),
  *   - DCT = fixed-point with a SHARED literal coefficient table
  *     T[u][x] = round(cos((2x+1)uπ/64)·2^14) — the table is generated
  *     once here and inlined as integers into the oracle SQL (the
  *     hyperplane-LSH convention: both engines run identical integer
  *     sums, no libm in the hot path),
  *   - threshold = strict > against the LOWER MEDIAN (32nd smallest of
  *     the 63 AC values) — a total-order integer comparison, no
  *     half-ulp ties.
  *
  * Scale shape: the hash is a per-row map over the media partition
  * iterator (decode is CPU-bound JVM work — the mapPartitions contract
  * of [[Multimodal]]); each image collapses to ONE packed long (8
  * bytes) BEFORE any shuffle, so candidate search moves 8-byte
  * signatures, never pixels or bit arrays. Pairing rides the packed
  * banded index ([[Dedup.packedSignaturePairs]] over [[BandIndex]] —
  * shift+mask band keys, bit_count(xor) Hamming): 9 bands × 7 bits — a
  * pair within Hamming ≤ 8 must collide in some band (pigeonhole), so
  * the default ≤ 8 search is lossless. Caveat the banding does NOT
  * fix: DCT sign bits of natural-image corpora are biased, so band keys
  * occupy far fewer than 2^7 values and candidate volume grows
  * near-quadratically on clustered corpora — [[phashBanded]] +
  * Occupancy.stats is the pre-flight that detects the regime, and
  * packing makes each surviving candidate cost one XOR+POPCNT instead of
  * a 63-element array zip.
  */
object PerceptualHash {
  import BandIndex.BandPlan

  /** Downsample side: every image is reduced to Size×Size. */
  val Size = 32

  /** Low-frequency block side: the hash keeps an 8×8 DCT corner. */
  val HashSide = 8

  /** Fixed-point scale for the DCT coefficient table (2^14: products
    * stay far inside Long — |C| ≤ 32²·765·2^28 ≈ 2.1e14). */
  val Scale: Long = 1L << 14

  /** Signature length: the 8×8 block minus the DC coefficient. */
  val PhashBits: Int = HashSide * HashSide - 1 // 63

  /** 63 = 9 bands × 7 bits: a pair differing in ≤ 8 bits leaves ≥ 1 of
    * the 9 bands untouched (pigeonhole), so banded candidate generation
    * is LOSSLESS for any maxHamming ≤ 8 — and 8 is the default: pHash
    * near-dup practice puts the same-image threshold near 8–10 of 64
    * bits (re-encodes land ≤ ~4, distinct images ≥ ~20), so the default
    * uses the full lossless range rather than SimHash's text-tuned 3. */
  val DefaultPhashBands = 9
  val DefaultMaxHamming = 8

  /** The fine 9 × 7 cut, lossless at the default Hamming ≤ 8 — the
    * first rung of [[BandIndex.planFor]]'s pHash ladder, which serves
    * up to ~295k images at the default bucket target. */
  val DefaultPhashPlan: BandPlan = BandPlan(PhashBits, DefaultPhashBands)

  /** The shared fixed-point DCT-II row table: T(u)(x) =
    * round(cos((2x+1)uπ/64) · 2^14), u < 8, x < 32. Generated once from
    * libm and INLINED as integer literals into the oracle SQL, so both
    * engines use the identical table and never re-derive it. */
  lazy val dctTable: Array[Array[Long]] = Array.tabulate(HashSide, Size) {
    (u, x) => math.round(math.cos(((2 * x + 1) * u * math.Pi) / (2.0 * Size)) * Scale)
  }

  /** The table as a DuckDB list-of-lists literal, for oracle SQL. */
  def dctTableSql: String =
    dctTable.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** 63-bit pHash of a decoded image. Integer-exact given the pixel
    * grid; None only upstream (decode failures never reach here). */
  def phashOfRgb(img: MediaCodec.RgbImage): Array[Int] = {
    val ac = acOfRgb(img)
    val med = { val sorted = ac.clone(); java.util.Arrays.sort(sorted); sorted(31) }
    ac.map(c => if (c > med) 1 else 0)
  }

  /** The 63 low-frequency AC DCT coefficients of a decoded image (the
    * pre-threshold stage of [[phashOfRgb]]) — exposed so the DE-BIASED
    * variant can threshold them against CORPUS medians instead of the
    * per-image block median. Integer-exact. */
  def acOfRgb(img: MediaCodec.RgbImage): Array[Long] = {
    val w = img.width; val h = img.height
    // nearest-neighbor 32×32 grayscale (gray = r+g+b)
    val g = Array.ofDim[Long](Size, Size)
    var j = 0
    while (j < Size) {
      val sy = j * h / Size
      var i = 0
      while (i < Size) {
        val rgb = img.rgb(sy * w + i * w / Size)
        g(j)(i) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        i += 1
      }
      j += 1
    }
    // separable DCT: R(y)(v) = Σ_x g(y)(x)·T(v)(x); C(u)(v) = Σ_y T(u)(y)·R(y)(v)
    val t = dctTable
    val r = Array.ofDim[Long](Size, HashSide)
    var y = 0
    while (y < Size) {
      var v = 0
      while (v < HashSide) {
        var s = 0L
        var x = 0
        while (x < Size) { s += g(y)(x) * t(v)(x); x += 1 }
        r(y)(v) = s
        v += 1
      }
      y += 1
    }
    val ac = new Array[Long](PhashBits)
    var u = 0
    while (u < HashSide) {
      var v = 0
      while (v < HashSide) {
        if (u != 0 || v != 0) {
          var s = 0L
          var yy = 0
          while (yy < Size) { s += t(u)(yy) * r(yy)(v); yy += 1 }
          ac(u * HashSide + v - 1) = s
        }
        v += 1
      }
      u += 1
    }
    ac
  }

  /** [[phashOfRgb]] packed into one long: bit i = AC position i. 63 bits
    * fit with the sign bit free, so the packed form is lossless and the
    * long's band-b slice (bits b·r … b·r+r−1) is exactly the array
    * form's slice — [[Dedup.packedSignatureBanded]]'s contract. */
  def phashOfRgbPacked(img: MediaCodec.RgbImage): Long = {
    val bits = phashOfRgb(img)
    var sig = 0L
    var i = 0
    while (i < bits.length) { if (bits(i) == 1) sig |= (1L << i); i += 1 }
    sig
  }

  /** Per-image PACKED signatures from a media table: (media_id, sig:
    * long) for every DECODABLE row — undecodable payloads drop (the
    * corrupt-member contract), they can never near-duplicate anything.
    * One mapPartitions pass; 8 BYTES per image leave the stage (the
    * round-11 form shipped a 63-int array ≈ 250 B through every band
    * shuffle and zipped the arrays per candidate pair — packing cut
    * dd_phash's banded walk from the suite's slowest query to long
    * XOR + POPCNT arithmetic with identical pairs and scores). */
  def phashSignatures(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      MediaCodec.decodeRgb(Option(m.bytes).getOrElse(Array.emptyByteArray))
        .map(img => (m.media_id, phashOfRgbPacked(img)))
    }).toDF("media_id", "sig")
  }

  /** Image near-duplicate pairs: banded Hamming search over the packed
    * pHash signatures at `plan` — [[Dedup.simhashPairs]]'s posture with
    * the signature swapped for the perceptual one. The fine cut
    * (flips = 0) rides the grouped bucket walk; a multiprobe plan rides
    * the probe join ([[BandIndex.probePairs]]). Any plan lossless at
    * `maxHamming` yields the identical pair set (the exact Hamming
    * filter is the last word), so every plan shares the dd_phash oracle;
    * a lossy plan is refused. Output (doc_a, doc_b, hamming). */
  def phashPairs(media: Dataset[Multimodal.MediaRow],
      plan: BandPlan = DefaultPhashPlan,
      maxHamming: Int = DefaultMaxHamming,
      maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): DataFrame =
    Dedup.packedSignaturePairs(
      phashSignatures(media), "media_id", "sig", plan, maxBucket,
      maxScore = Some(maxHamming))
      .transform(Dedup.withinHamming(plan, maxHamming))

  /** [[phashPairs]] with the plan DERIVED from the corpus size
    * ([[BandIndex.planFor]]) — the production entry point (gates pin
    * plans so their oracles stay deterministic). The count is posture
    * metadata over the media table's id column (no decode). */
  def phashPairsAuto(media: Dataset[Multimodal.MediaRow],
      maxHamming: Int = DefaultMaxHamming,
      maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): DataFrame =
    phashPairs(media,
      BandIndex.planFor(PhashBits, media.select("media_id").count(), maxHamming),
      maxHamming, maxBucket)

  /** INCREMENTAL pHash dedup — each new image batch against the
    * existing corpus's banded index at the same `plan` cut
    * (`BandIndex.build(phashBanded(corpus, plan))` or its persisted
    * form; the index stores exact keys only), the O(Δ) ingest family
    * contract ([[Dedup.simhashPairsIncremental]]'s shape): under a
    * multiprobe plan the delta's rows expand to their probe sets
    * read-side, so a bucketed index still shuffles nothing corpus-side. */
  def phashPairsIncremental(delta: Dataset[Multimodal.MediaRow],
      corpusIndex: DataFrame,
      plan: BandPlan = DefaultPhashPlan,
      maxHamming: Int = DefaultMaxHamming): DataFrame =
    Dedup.packedSignaturePairsIncremental(
      phashSignatures(delta), corpusIndex, "media_id", "sig", plan)
      .transform(Dedup.withinHamming(plan, maxHamming))

  /** The banded occupancy-observability projection for pHash
    * ([[Dedup.simhashBanded]]'s convention — feed to Occupancy.stats),
    * and the rows a pHash index is built from: sign bits of real image
    * corpora are heavily biased (smooth images share low-frequency
    * structure), so the 7-bit band keys occupy far fewer than 2^7
    * values and this is THE projection to watch before a large run — a
    * max/p99 far above n/(bands·2^r) means the banding is in its skewed
    * regime and the guard cap will chain, trading pair recall for
    * boundedness. */
  def phashBanded(media: Dataset[Multimodal.MediaRow],
      plan: BandPlan = DefaultPhashPlan): DataFrame =
    Dedup.packedSignatureBanded(phashSignatures(media), "media_id", "sig", plan)

  // ---- DE-BIASED variant: corpus-median thresholds -------------------
  //
  // The classic per-image-median hash has a structural scale problem on
  // real corpora: natural images share low-frequency structure, so the
  // DCT sign bits are heavily BIASED (measured on the synthetic corpus
  // at sf0.1: the 9×7-bit banding leaves only 368 of 1,152 possible
  // buckets occupied, the hottest holding 24% of the corpus, and 45% of
  // ALL pairs collide in some band — near-quadratic candidate volume).
  // Thresholding each coefficient against its CORPUS median re-balances
  // every bit to ~50/50 BY CONSTRUCTION (spec-asserted), so a pair of
  // INDEPENDENT images agrees on a 7-bit band with probability ~2^-7
  // instead of ~0.5. Honest measurement on the gated corpus, though:
  // band pass-rate only drops 44.9% → 42.2% at sf0.1, because these
  // text-rendered images are genuinely CLUSTERED — members of a
  // near-dup cluster agree on (almost) every bit no matter where the
  // thresholds sit, and no marginal re-balancing can (or should)
  // separate them. Moral for 100 TB: de-biasing removes the
  // avoidable, bias-driven collisions; residual candidate volume is a
  // property of the corpus's true duplication structure, detected
  // pre-flight by the [[phashBanded]] occupancy probe and bounded by
  // the hot-bucket cap — while the packed representation keeps each
  // surviving candidate at one XOR+POPCNT. The medians are a FROZEN
  // MODEL (63 longs — the quality-classifier convention): built once
  // over the corpus, shipped as plan literals, reused verbatim for
  // delta scoring so signatures never shift under ingest.

  /** Per-position corpus lower-medians of the 63 AC coefficients — the
    * de-biased variant's frozen model. The k-th smallest
    * (k = ⌈n/2⌉ = (n+1)/2, integer) is computed per position from a
    * count-per-distinct-value histogram + cumulative window (63
    * bounded partitions — never a per-position value list in one
    * buffer), so the build is one linear pass + one histogram-sized
    * sort however large the corpus. */
  def phashMedians(media: Dataset[Multimodal.MediaRow]): Array[Long] =
    phashMediansFromCoefs(acTable(media))

  /** The (media_id, coefs) AC-coefficient table — ONE decode+DCT pass;
    * the de-biased entry points below stage it so medians and
    * signatures share a single decode of the corpus. */
  private def acTable(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      MediaCodec.decodeRgb(Option(m.bytes).getOrElse(Array.emptyByteArray))
        .map(img => (m.media_id, acOfRgb(img)))
    }).toDF("media_id", "coefs")
  }

  private def phashMediansFromCoefs(coefs: DataFrame): Array[Long] = {
    import org.apache.spark.sql.expressions.Window
    val hist = coefs
      // outer + null-drop: skips InferFiltersFromGenerate (a non-outer
      // generate's inferred filter re-reads the coefs attribute cheaply
      // here, but keeps the convention uniform with the decode-bearing
      // projections)
      .select(posexplode_outer(col("coefs")).as(Seq("i", "v")))
      .filter(col("i").isNotNull)
      .groupBy("i", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val n = hist.filter(col("i") === 0).agg(sum("c")).head.getLong(0)
    require(n > 0, "phashMedians needs at least one decodable image")
    val k = (n + 1L) / 2L
    val rows = hist
      .withColumn("cum", sum("c").over(Window.partitionBy("i").orderBy("v")))
      .filter(col("cum") >= lit(k))
      .groupBy("i").agg(min("v").as("med"))
      .collect()
    val med = new Array[Long](PhashBits)
    rows.foreach(r => med(r.getInt(0)) = r.getLong(1))
    med
  }

  /** Packed de-biased signatures AGAINST A FROZEN median model: bit i =
    * (ac_i > medians(i)). The medians enter the mapPartitions closure as
    * literals — scoring a delta against a persisted model touches only
    * the delta (the frozen-model incremental contract). */
  def phashSignaturesWithMedians(media: Dataset[Multimodal.MediaRow],
      medians: Array[Long]): DataFrame = {
    require(medians.length == PhashBits, s"need $PhashBits medians")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      MediaCodec.decodeRgb(Option(m.bytes).getOrElse(Array.emptyByteArray))
        .map { img =>
          val ac = acOfRgb(img)
          var sig = 0L
          var i = 0
          while (i < ac.length) {
            if (ac(i) > medians(i)) sig |= (1L << i)
            i += 1
          }
          (m.media_id, sig)
        }
    }).toDF("media_id", "sig")
  }

  /** End-to-end IMAGE curation — the tp_curate of the image modality:
    * decode-filter (corrupt payloads drop), pHash near-dup pairs,
    * connected components, and per-cluster KEEP-LARGEST — the image
    * world's "keep the best copy" (a re-encoded or downscaled copy of
    * a picture should lose to the original; pixel count is the
    * resolution signal the way the heuristic quality score is the text
    * signal). Rides [[Dedup.keepBestStateScored]] — the
    * modality-agnostic survivor machinery — with quality = decoded
    * width × height. Output: one row per cluster (cluster_id,
    * media_id = kept copy, pixels, cluster_size); singletons keep
    * themselves. Ties (same pixel count — e.g. a byte-identical
    * re-encode) go to the smaller id, the family's determinism rule. */
  def curateImages(media: Dataset[Multimodal.MediaRow],
      plan: BandPlan = DefaultPhashPlan,
      maxHamming: Int = DefaultMaxHamming,
      maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): DataFrame = {
    import media.sparkSession.implicits._
    // decoded pixel counts: the same one-decode-pass shape as the
    // signatures (a production run would fuse the two decodes; the
    // composition keeps each operator independently oracle-checkable)
    val scored = media.mapPartitions(_.flatMap { m =>
      MediaCodec.decodeRgb(Option(m.bytes).getOrElse(Array.emptyByteArray))
        .map(img => (m.media_id, img.width.toLong * img.height))
    }).toDF("doc_id", "quality_score")
    Dedup.keepBestStateScored(
      scored,
      phashPairs(media, plan, maxHamming, maxBucket).select("doc_a", "doc_b"))
      .select(col("cluster_id"), col("doc_id").as("media_id"),
        col("quality_score").cast("long").as("pixels"), col("cluster_size"))
  }

  /** De-biased image near-duplicate pairs: [[phashPairs]]'s banded walk
    * over corpus-median signatures (self-trained — the model is the
    * corpus's own medians; production ingest freezes [[phashMedians]]
    * once and scores deltas with [[phashSignaturesWithMedians]]).
    * Output (doc_a, doc_b, hamming). */
  def phashPairsDebiased(media: Dataset[Multimodal.MediaRow],
      plan: BandPlan = DefaultPhashPlan,
      maxHamming: Int = DefaultMaxHamming,
      maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): DataFrame = {
    // ONE decode+DCT pass: the former composition ran the full
    // decode+AC pipeline TWICE per execution — once inside
    // phashMedians' histogram and again for the signatures. At the
    // sf0.1 fixture the gate is pair-walk-dominated so the wall is
    // unchanged (~0.3 s decode job saved, A/B measured a wash), but the
    // decode is the term that is LINEAR in corpus bytes — at 100 TB
    // this halves it, while the walk stays bucket-cap-bounded. The
    // 63-long coefficient table (~0.5 KB/image) stages once and feeds
    // both. Medians and the (ac_i > med_i) packing are
    // formula-identical, so pairs — and the DuckDB gate hash — are
    // unchanged; the frozen-model entry points (phashMedians +
    // phashSignaturesWithMedians) keep their one-pass-each contracts
    // for the incremental posture.
    val coefs = acTable(media).localCheckpoint(eager = false)
    val meds = phashMediansFromCoefs(coefs)
    val sig = (0 until PhashBits).map { i =>
      when(element_at(col("coefs"), i + 1) > lit(meds(i)), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    // the sig projection is STAGED before the banded walk: projection
    // collapse would otherwise re-inline the 63-term packing into every
    // band slice and pair comparison downstream (the §18
    // Generate-filter lesson — measured as 2 extra ~1 s jobs here);
    // 16 bytes/row, one cheap pin
    val sigs = coefs.select(col("media_id"), sig.as("sig"))
      .localCheckpoint(eager = false)
    Dedup.packedSignaturePairs(
      sigs, "media_id", "sig", plan, maxBucket, maxScore = Some(maxHamming))
      .transform(Dedup.withinHamming(plan, maxHamming))
  }
}
