package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.fixtures.MediaFixtures
import graft.operators.BandIndex.BandPlan
import graft.operators.Multimodal.MediaRow

/** Perceptual image hash: the dedup property the byte/text families
  * can't see — a RE-ENCODED (PNG→JPEG) or RESIZED copy of an image has
  * different bytes but a nearby pHash, while distinct images are far
  * apart. Planted-copy tests per the family convention, plus the
  * incremental/index round trips. */
class PerceptualHashSpec extends SparkSpecBase {

  /** A "photo-like" test image: bilinear value-noise (a deterministic
    * random 9×9 grid interpolated up to w×h). pHash thresholds DCT sign
    * structure against the block median, so the fixture needs ENERGY
    * ACROSS the whole 8×8 low-frequency block — a two-sinusoid pattern
    * leaves most coefficients near zero, where lossy re-encode noise
    * flips signs; value-noise up to ~8 cycles keeps every hashed
    * coefficient's magnitude far above JPEG quantization error. */
  private def blobs(w: Int, h: Int, seed: Int): Array[Byte] = {
    val G = 8 // grid cells per side
    val rng = new java.util.Random(seed)
    val grid = Array.fill(3, G + 1, G + 1)(rng.nextInt(256))
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val gy = y.toDouble * G / h
      val y0 = gy.toInt; val fy = gy - y0
      var x = 0
      while (x < w) {
        val gx = x.toDouble * G / w
        val x0 = gx.toInt; val fx = gx - x0
        val i = (y * w + x) * 3
        var c = 0
        while (c < 3) {
          val g = grid(c)
          val v = g(y0)(x0) * (1 - fx) * (1 - fy) + g(y0)(x0 + 1) * fx * (1 - fy) +
            g(y0 + 1)(x0) * (1 - fx) * fy + g(y0 + 1)(x0 + 1) * fx * fy
          px(i + c) = v.toInt.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    px
  }

  private val W = 64; private val H = 64
  private val baseA = blobs(W, H, seed = 1)
  private val baseB = blobs(W, H, seed = 5) // a DIFFERENT image

  private def hashOf(bytes: Array[Byte]): Array[Int] =
    PerceptualHash.phashOfRgb(MediaCodec.decodeRgb(bytes).get)

  private def ham(a: Array[Int], b: Array[Int]): Int =
    a.zip(b).count { case (x, y) => x != y }

  /** A pHash band plan and the pHash ladder at the default radius. */
  private def plan(bands: Int, flips: Int): BandPlan =
    BandPlan(PerceptualHash.PhashBits, bands, flips)
  private def bandPlanFor(n: Long): BandPlan =
    BandIndex.planFor(PerceptualHash.PhashBits, n, PerceptualHash.DefaultMaxHamming)
  private def phashIndex(media: org.apache.spark.sql.Dataset[MediaRow],
      p: BandPlan = PerceptualHash.DefaultPhashPlan,
      maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)) =
    BandIndex.build(PerceptualHash.phashBanded(media, p), maxBucket)

  test("re-encode invariance: PNG vs JPEG of the same pixels hash within maxHamming") {
    val png = hashOf(MediaCodec.encodePng24(W, H, baseA))
    val jpg = hashOf(MediaCodec.encodeJpeg24(W, H, baseA))
    val d = ham(png, jpg)
    assert(d <= PerceptualHash.DefaultMaxHamming,
      s"JPEG re-encode moved the hash $d bits (> ${PerceptualHash.DefaultMaxHamming})")
  }

  test("resize invariance: a half-size copy hashes within maxHamming") {
    val bmp = MediaCodec.encodeBmp24(W, H, baseA)
    val small = MediaFixtures.resizeBmp24(bmp, W / 2, H / 2).get
    val d = ham(hashOf(bmp), hashOf(small))
    assert(d <= PerceptualHash.DefaultMaxHamming,
      s"2x downscale moved the hash $d bits")
  }

  test("distinct images are far apart (no trivial all-match hash)") {
    val d = ham(hashOf(MediaCodec.encodePng24(W, H, baseA)),
      hashOf(MediaCodec.encodePng24(W, H, baseB)))
    assert(d > 2 * PerceptualHash.DefaultMaxHamming,
      s"distinct images only $d bits apart — hash has no discrimination")
  }

  private def mediaRows: Seq[MediaRow] = Seq(
    MediaRow(1L, "image", "png", W, H, 0L, MediaCodec.encodePng24(W, H, baseA)),
    MediaRow(2L, "image", "jpeg", W, H, 0L, MediaCodec.encodeJpeg24(W, H, baseA)),
    MediaRow(3L, "image", "bmp", W / 2, H / 2,
      0L, MediaFixtures.resizeBmp24(MediaCodec.encodeBmp24(W, H, baseA), W / 2, H / 2).get),
    MediaRow(4L, "image", "png", W, H, 0L, MediaCodec.encodePng24(W, H, baseB)),
    MediaRow(5L, "image", "bin", 0, 0, 0L, Array[Byte](1, 2, 3)))

  test("phashPairs finds exactly the planted copy cluster; corrupt rows drop") {
    import spark.implicits._
    val pairs = PerceptualHash.phashPairs(spark.createDataset(mediaRows))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected the {1,2,3} copy cluster, got $pairs")
  }

  test("incremental vs full: delta-vs-corpus pairs match the planted cluster") {
    import spark.implicits._
    val delta = spark.createDataset(mediaRows.filter(_.media_id == 2L))
    val corpus = spark.createDataset(mediaRows.filter(_.media_id != 2L))
    val idx = phashIndex(corpus)
    val inc = PerceptualHash.phashPairsIncremental(delta, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((2L, 1L), (2L, 3L)), s"got $inc")
  }

  test("band index round-trips through parquet") {
    import spark.implicits._
    val corpus = spark.createDataset(mediaRows.filter(_.media_id != 2L))
    val p = java.nio.file.Files.createTempDirectory("phash-idx").toString
    phashIndex(corpus).write.mode("overwrite").parquet(p)
    val delta = spark.createDataset(mediaRows.filter(_.media_id == 2L))
    val inc = PerceptualHash.phashPairsIncremental(delta, spark.read.parquet(p))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((2L, 1L), (2L, 3L)), s"got $inc")
  }

  /** A realistic-ish corpus for the DE-BIASED variant: the planted copy
    * cluster {1 = PNG, 2 = JPEG re-encode, 3 = half-size copy} plus 16
    * DISTINCT value-noise images — corpus medians must be dominated by
    * distinct images, not the copies themselves (a 4-image corpus would
    * put the copies' own coefficients AT the median boundary, where
    * re-encode jitter decides bits). */
  private def debiasRows: Seq[MediaRow] =
    mediaRows.filter(_.media_id <= 3L) ++ (0 until 16).map { j =>
      MediaRow(100L + j, "image", "png", W, H, 0L,
        MediaCodec.encodePng24(W, H, blobs(W, H, seed = 50 + j)))
    }

  test("debiased: corpus-median bits are ~50/50 balanced by construction") {
    import spark.implicits._
    val sigs = PerceptualHash.phashSignaturesDebiased(spark.createDataset(debiasRows))
      .collect().map(_.getLong(1))
    val n = sigs.length.toDouble
    (0 until PerceptualHash.PhashBits).foreach { i =>
      val ones = sigs.count(s => ((s >> i) & 1L) == 1L) / n
      // exact-median split: ones/n ∈ (0.5 − ties/n, 0.5]; the copies
      // perturb it slightly — a wide band still catches a biased bit
      assert(ones >= 0.25 && ones <= 0.75,
        f"bit $i is ${ones * 100}%.0f%% ones — corpus-median thresholding " +
          "must re-balance every bit")
    }
  }

  test("debiased pairs still find exactly the planted copy cluster") {
    import spark.implicits._
    val pairs = PerceptualHash.phashPairsDebiased(spark.createDataset(debiasRows))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected the {1,2,3} copy cluster, got $pairs")
  }

  test("curateImages keeps the LARGEST copy per cluster; corrupt rows drop") {
    import spark.implicits._
    // copy cluster {1 = 64×64 PNG, 2 = 64×64 JPEG, 3 = 32×32 downscale}:
    // the half-size copy must lose on pixels; 1 vs 2 tie at 4096 →
    // smaller id wins; distinct image 4 keeps itself; corrupt 5 drops
    val kept = PerceptualHash.curateImages(spark.createDataset(mediaRows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(kept.toSeq === Seq(
      (1L, 1L, 4096L, 3L),
      (4L, 4L, 4096L, 1L)), s"got ${kept.toSeq}")
  }

  test("packed signature path equals the array form bit-for-bit") {
    // the packed long IS the array signature: bit i = AC position i —
    // the contract Dedup.packedSignatureBanded's band slices rely on
    mediaRows.filter(_.format != "bin").foreach { m =>
      val img = MediaCodec.decodeRgb(m.bytes).get
      val arr = PerceptualHash.phashOfRgb(img)
      val packed = PerceptualHash.phashOfRgbPacked(img)
      (0 until PerceptualHash.PhashBits).foreach { i =>
        assert(((packed >> i) & 1L).toInt == arr(i),
          s"media ${m.media_id}: bit $i diverges between packed and array")
      }
    }
  }

  private def withNoBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The single-exchange bucketed-join shape (MinhashIndexBucketingSpec's
    * assertion): one bb-exchange (the delta's) + a bucketed corpus scan. */
  private def assertDeltaOnlyExchange(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bbExchanges = """Exchange hashpartitioning\(bb#""".r.findAllIn(plan).length
    assert(bbExchanges === 1,
      s"expected exactly 1 bb-exchange (delta side), got $bbExchanges:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"corpus side must be a bucketed scan:\n$plan")
  }

  test("bucketed-index incremental phash: delta-only exchange, identical results") {
    import spark.implicits._
    val delta = spark.createDataset(mediaRows.filter(_.media_id == 2L))
    val corpus = spark.createDataset(mediaRows.filter(_.media_id != 2L))
    val table = "ph_idx_bucketed_spec"
    val path = java.nio.file.Files.createTempDirectory("graft-ph-bidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    BandIndex.write(phashIndex(corpus), table, nBuckets = 4, path = Some(path))
    try withNoBroadcast {
      val via = PerceptualHash.phashPairsIncremental(delta, spark.table(table))
        .orderBy("delta_id", "corpus_id")
      val direct = PerceptualHash.phashPairsIncremental(
        delta, phashIndex(corpus))
        .orderBy("delta_id", "corpus_id")
      val got = via.collect().toSeq
      assert(got.nonEmpty && got === direct.collect().toSeq)
      assertDeltaOnlyExchange(via)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  // ---- corpus-scaled band plans + multiprobe --------------------------

  test("flipMasks enumerates exactly the <=flips-bit neighborhoods") {
    // flips=1 over r bits: the r single-bit masks; flips=2 adds C(r,2)
    Seq(7, 9, 21).foreach { r =>
      val f1 = BandIndex.flipMasks(r, 1)
      assert(f1.length == r && f1.toSet.size == r)
      assert(f1.forall(m => java.lang.Long.bitCount(m) == 1 && m < (1L << r)))
      val f2 = BandIndex.flipMasks(r, 2)
      assert(f2.length == r + r * (r - 1) / 2 && f2.toSet.size == f2.length)
      assert(f2.forall(m =>
        java.lang.Long.bitCount(m) >= 1 && java.lang.Long.bitCount(m) <= 2 &&
          m < (1L << r)))
      assert(BandIndex.flipMasks(r, 0).isEmpty)
    }
    intercept[IllegalArgumentException](BandIndex.flipMasks(7, 3))
  }

  test("bandPlanFor: keyspace scales with corpus size, lossless at maxHamming") {
    assert(plan(9, 0).keyspace == 1152L &&
      plan(7, 1).keyspace == 3584L &&
      plan(3, 2).keyspace == 6291456L)
    // default target 256: the fine cut serves ~295k, then the ladder climbs
    assert(bandPlanFor(0) == plan(9, 0))
    assert(bandPlanFor(100000) == plan(9, 0))
    assert(bandPlanFor(500000) == plan(7, 1))
    assert(bandPlanFor(10000000) == plan(3, 2))
    assert(bandPlanFor(100000000000L) == plan(3, 2)) // last rung + cap governs
    // every rung covers the default Hamming radius losslessly
    Seq(bandPlanFor(0), bandPlanFor(500000), bandPlanFor(10000000)).foreach {
      p => assert(p.losslessMaxHamming >= PerceptualHash.DefaultMaxHamming)
    }
    // probe volume ladder: 9, 70, 696 rows per signature
    assert(plan(9, 0).probesPerRow == 9L &&
      plan(7, 1).probesPerRow == 70L && plan(3, 2).probesPerRow == 696L)
  }

  test("multiprobe pairs equal the fine-cut pairs on every lossless plan") {
    import spark.implicits._
    val media = spark.createDataset(debiasRows)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fine = pairsOf(PerceptualHash.phashPairs(media, maxBucket = None)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int")))
    assert(fine.map(p => (p._1, p._2)).contains((1L, 2L))) // non-degenerate
    Seq(plan(7, 1), plan(3, 2)).foreach { p =>
      val mp = pairsOf(PerceptualHash.phashPairs(media, p, maxBucket = None)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int")))
      assert(mp === fine, s"plan $p diverged from the fine cut")
    }
    // a lossy plan is refused, not silently degraded
    intercept[IllegalArgumentException](
      PerceptualHash.phashPairs(media, plan(7, 0)))
  }

  test("phashPairsAuto picks the fine cut at fixture scale and matches it") {
    import spark.implicits._
    val media = spark.createDataset(mediaRows)
    val auto = PerceptualHash.phashPairsAuto(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $auto")
  }

  test("multiprobe incremental against the bucketed 7-band index: " +
    "delta-only exchange, equals the fine-cut incremental") {
    import spark.implicits._
    val mp = plan(7, 1)
    val delta = spark.createDataset(mediaRows.filter(_.media_id == 2L))
    val corpus = spark.createDataset(mediaRows.filter(_.media_id != 2L))
    val table = "ph_idx_mp_spec"
    val path = java.nio.file.Files.createTempDirectory("graft-ph-mpidx").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    BandIndex.write(phashIndex(corpus, mp), table, nBuckets = 4, path = Some(path))
    try withNoBroadcast {
      val via = PerceptualHash.phashPairsIncremental(
        delta, spark.table(table), mp)
        .orderBy("delta_id", "corpus_id")
      val got = via.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 1L), (2L, 3L)), s"got $got")
      // the stored index is exact-keys-only: multiprobe is a read-side
      // knob, so the bucketed layout still shuffles nothing corpus-side
      assertDeltaOnlyExchange(via)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("wider bands refine buckets: max occupancy never grows up the ladder") {
    import spark.implicits._
    // band b of the 3×21 cut spans exactly bands 3b..3b+2 of the 9×7
    // cut, so every 21-bit bucket is a SUBSET of each of its three
    // 7-bit super-buckets — max occupancy is monotonically non-
    // increasing as the plan widens (the hot-bucket relief the ladder
    // exists to buy; the keyspace row in BandIndex.planFor's scaladoc is the
    // other half of the argument)
    val media = spark.createDataset(debiasRows)
    def maxOcc(bands: Int): Long =
      Occupancy.stats(PerceptualHash.phashBanded(media, plan(bands, 0)), 2048, "band", "bkey")
        .select(col("max_occ")).head.getLong(0)
    val fine = maxOcc(9); val mid = maxOcc(7); val wide = maxOcc(3)
    assert(wide <= fine, s"21-bit buckets ($wide) must refine 7-bit ones ($fine)")
    assert(mid >= 1 && fine >= 1)
  }
}
