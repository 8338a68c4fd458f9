package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.{Dedup, Multimodal, PerceptualHash}
import graft.sources.Tables

/** ENGAGEMENT guard for the round-17 capped-posture oracle gates.
  *
  * dd_minhash_capped / dd_phash_capped cross-engine-gate the hot-bucket
  * survivor-chain walk — but only if the sf0.01 fixture actually has
  * band buckets OVER their pinned caps. If fixture drift ever empties
  * the over-cap population, those gates silently degrade into
  * dd_minhash/dd_phash twins and the production guard is un-gated again
  * — precisely how the round-16 O(m²·log m) re-sort survived three
  * rounds (every gate pinned maxBucket=None, so no gate ever ran the
  * capped branch). These tests pin the engagement precondition itself.
  *
  * The caps asserted here mirror the gates' pinned knobs in
  * DedupQueries (MinhashCappedCap = 2) and ImageQueries (PhashCappedCap = 8). */
class CappedGateSpec extends SparkSpecBase {

  private val gateDir = "/root/testdata/sf0.01"

  test("dd_minhash_capped: cap 2 engages at sf0.01 (over-cap band buckets exist)") {
    val banded =
      Dedup.minhashBanded(Tables.documents(spark, gateDir), "doc_id", "text")
    val maxM = banded.groupBy("band", "bkey").count()
      .agg(max("count")).head.getLong(0)
    assert(maxM > 2,
      s"largest minhash band bucket has $maxM members <= cap 2: " +
        "the dd_minhash_capped gate would be DORMANT (survivor-chain branch never runs)")
  }

  test("dd_phash_capped: cap 8 engages at sf0.01, and capped pairs are a subset of uncapped") {
    val media = Multimodal.syntheticImagesFromText(
      Tables.documents(spark, gateDir)
        .filter(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text")
    val banded = Dedup.packedSignatureBanded(
      PerceptualHash.phashSignatures(media), "media_id", "sig",
      PerceptualHash.DefaultPhashPlan)
    val maxM = banded.groupBy("band", "bkey").count()
      .agg(max("count")).head.getLong(0)
    assert(maxM > 8,
      s"largest pHash band bucket has $maxM members <= cap 8: " +
        "the dd_phash_capped gate would be DORMANT")
    // semantics sanity beyond the oracle: every capped-emitted pair is a
    // co-bucket pair at its first colliding band, so it must also exist
    // in the unguarded walk (the cap only ever SUPPRESSES pairs)
    def pairSet(maxBucket: Option[Int]): Set[(Long, Long)] =
      PerceptualHash.phashPairs(media, maxBucket = maxBucket)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairSet(Some(8))
    val uncapped = pairSet(None)
    assert(capped.subsetOf(uncapped),
      s"capped pairs not a subset of uncapped: ${capped -- uncapped}")
  }
}
