package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

/** Differential gate for the NATIVE pair walks
  * (plans.PackedBucketPairs / plans.JaccardBucketPairs): the compiled
  * walk must reproduce the banded walk's pairs BIT-FOR-BIT — same
  * first-colliding-band dedup, same hot-bucket survivor+chain branch,
  * same least/greatest direction, same scores — across dormant AND
  * engaged cap regimes. The reference ("HOF walk" in the test names,
  * after the interpreted walk it replaced) is the test-side
  * ReferenceModels.bandedPairs over the collected signatures. */
class BucketPairsNativeSpec extends SparkSpecBase {

  /** Random packed-signature corpus with planted near-duplicate
    * clusters (low-Hamming neighbors force multi-band collisions, so
    * the first-colliding-band dedup is exercised, not just band 0). */
  private def packedSigs(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val base = rnd.nextLong() & ((1L << 63) - 1)
      val sig =
        if (i % 3 == 0 && i > 0) {
          // near-dup of a previous row: flip 0-9 random bits
          val prev = (i - 1).toLong
          var s = prevSig.getOrElse(prev, base)
          val flips = rnd.nextInt(10)
          (0 until flips).foreach(_ => s ^= (1L << rnd.nextInt(63)))
          s
        } else base
      prevSig(i.toLong) = sig
      (i.toLong, sig)
    }
    spark.createDataFrame(rows).toDF("doc", "sig")
  }
  private val prevSig = scala.collection.mutable.Map.empty[Long, Long]

  private def collectPairs(df: DataFrame): Set[(Long, Long, Any)] =
    df.select(col("doc_a"), col("doc_b"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet

  private def packedBoth(sigs: DataFrame, bits: Int, bands: Int,
      cap: Option[Int]): (Set[(Long, Long, Any)], Set[(Long, Long, Any)]) = {
    val native =
      Dedup.packedSignaturePairs(sigs, "doc", "sig", BandIndex.BandPlan(bits, bands), cap)
    val rows = sigs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val model = ReferenceModels.bandedPairs[Long, Any](rows, bands,
      ReferenceModels.packedSlice(bits / bands), ReferenceModels.hammingLong, cap)
    (collectPairs(native), model)
  }

  test("native packed walk == HOF walk (dormant cap, several band cuts)") {
    val sigs = packedSigs(400, seed = 18L)
    for (bands <- Seq(9, 7, 3)) {
      val (n, h) = packedBoth(sigs, 63, bands, Some(Dedup.DefaultMaxBucket))
      assert(n === h, s"bands=$bands dormant-cap mismatch")
      assert(n.nonEmpty, s"bands=$bands walk found no pairs — vacuous test")
    }
  }

  test("native packed walk == HOF walk (ENGAGED cap: survivor pairs + chains)") {
    val sigs = packedSigs(400, seed = 19L)
    for (cap <- Seq(2, 5, 16)) {
      val (n, h) = packedBoth(sigs, 63, 9, Some(cap))
      assert(n === h, s"cap=$cap engaged-cap mismatch")
      assert(n.nonEmpty, s"cap=$cap walk found no pairs — vacuous test")
    }
  }

  test("native packed walk == HOF walk (uncapped, the dd_phash oracle posture)") {
    val sigs = packedSigs(300, seed = 20L)
    val (n, h) = packedBoth(sigs, 63, 9, None)
    assert(n === h)
    assert(n.nonEmpty)
  }

  test("native packed maxScore pushdown == post-filter") {
    val sigs = packedSigs(300, seed = 21L)
    val pushed = collectPairs(Dedup.packedSignaturePairs(
      sigs, "doc", "sig", BandIndex.BandPlan(63, 9), Some(8), maxScore = Some(8)))
    val post = collectPairs(Dedup.packedSignaturePairs(
      sigs, "doc", "sig", BandIndex.BandPlan(63, 9), Some(8)).filter(col("score") <= 8))
    assert(pushed === post)
    assert(pushed.nonEmpty, "no pairs within Hamming 8 — vacuous test")
  }

  test("native jaccard walk == HOF walk on the real corpus (dormant + engaged caps)") {
    val docs = Tables.documents(spark, sfDir)
    val sigs = ReferenceModels.minhashSigs(docs, "doc_id", "text")
    val r = Dedup.DefaultMinhashK / Dedup.DefaultMinhashBands
    for (cap <- Seq(Some(Dedup.DefaultMaxBucket), Some(2), Some(4))) {
      val native = Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val model = ReferenceModels.bandedPairs(sigs, Dedup.DefaultMinhashBands,
        ReferenceModels.arraySlice[Long](r), ReferenceModels.estJaccard, cap)
        .filter(_._3 >= Dedup.DefaultMinhashThreshold)
      assert(native === model, s"cap=$cap jaccard mismatch")
      assert(native.nonEmpty, s"cap=$cap found no pairs — vacuous test")
    }
  }

  test("gate shapes still produce pairs end-to-end (phash native walk)") {
    val media = Multimodal.syntheticImagesFromText(
      Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text")
    val pairs = PerceptualHash.phashPairs(media, maxBucket = None).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Int]("hamming") <= PerceptualHash.DefaultMaxHamming))
  }
}
