package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental dedup gates (dd_minhash_incremental,
  * dd_simhash_incremental, dd_embedding_incremental) share DuckDB
  * oracles that do NOT model the default-on corpus-side bucket cap —
  * the cross-engine hashes agree only while the cap is DORMANT on the
  * fixture (every bucket under the cap ⇒ the capped index is
  * bit-identical to the uncapped one). This spec asserts that dormancy
  * directly, at both scales an oracle gate runs at (sf0.001 locally,
  * sf0.01 in the driver): the max per-(band,bkey)/bucket occupancy of
  * each gated corpus index stays below its cap with ≥4× headroom. A
  * testdata regeneration that lands a hot bucket fails HERE, loudly,
  * as a fixture problem — not as an inscrutable oracle hash mismatch
  * three layers away. */
class BucketCapDormancySpec extends SparkSpecBase {

  private val gateDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .filter(d => new java.io.File(d).isDirectory)

  /** Corpus split convention shared by all three incremental gates:
    * id % 5 != 0 is the standing corpus the index is built over. */
  private def corpusDocs(dir: String): DataFrame =
    Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0)

  private def maxOccupancy(banded: DataFrame, keys: Seq[String]): Long =
    banded.groupBy(keys.map(col): _*).count()
      .agg(max("count")).collect().head.getLong(0)

  test("minhash band-bucket occupancy on the gated fixtures is far below DefaultMaxBucket") {
    gateDirs.foreach { dir =>
      val occ = maxOccupancy(
        Dedup.minhashBanded(corpusDocs(dir), "doc_id", "text"),
        Seq("band", "bkey"))
      assert(occ * 4 <= Dedup.DefaultMaxBucket,
        s"$dir: max minhash (band,bkey) occupancy $occ is within 4x of the " +
          s"cap ${Dedup.DefaultMaxBucket} — the dd_minhash_incremental oracle " +
          "does not model the cap; regenerate the fixture or cap-model the oracle")
    }
  }

  test("ngram doc-freq guard is DORMANT on the incremental cluster/keep-best fixtures") {
    // dd_clusters_incremental / dd_keep_best_incremental derive their
    // corpus-side pair fixture by FILTERING one full-corpus
    // ngramJaccardPairs enumeration (DedupQueries) — which
    // equals an independent subset-corpus enumeration only while the
    // relative doc-frequency guard drops nothing on EITHER corpus (the
    // posting lists and the df limit both shift with composition).
    // Assert that dormancy directly (round-13 ADVICE): the max shingle
    // doc-frequency of both the full corpus and the %5-split standing
    // corpus stays at or below each corpus's own limit.
    import graft.functions.TextFunctions._
    gateDirs.foreach { dir =>
      val full = Tables.documents(spark, dir)
      Seq("full" -> full,
          "corpus(%5!=0)" -> full.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        .foreach { case (label, docs) =>
          val nDocs = docs.count()
          val limit = math.max(Dedup.MinDocFreqFloor.toDouble,
            Dedup.DefaultMaxDocFreqFraction * nDocs)
          val maxDf = docs
            .select(col("doc_id"), tokens(col("text")).as("toks"))
            .select(col("doc_id"),
              explode_outer(shinglesFromTokens(col("toks"), Dedup.DefaultShingleN)).as("s"))
            .filter(col("s").isNotNull)
            .groupBy("s").count().agg(max("count")).collect().head.getLong(0)
          assert(maxDf <= limit,
            s"$dir/$label: max shingle doc-freq $maxDf exceeds the guard " +
              s"limit $limit — the filtered-full-enumeration fixture no " +
              "longer equals a subset-corpus enumeration; restructure the " +
              "gate (or pin maxDocFreqFraction = None on both sides)")
        }
    }
  }

  test("simhash band-bucket occupancy on the gated fixtures is far below DefaultMaxBucket") {
    // load-bearing family: an r-bit simhash band key has <= 2^r values
    // (256 at the 64/8 default), so occupancy grows ~n/256 with corpus
    // size — this is the first cap a bigger fixture would hit
    gateDirs.foreach { dir =>
      val occ = maxOccupancy(
        Dedup.simhashBanded(corpusDocs(dir), "doc_id", "text"),
        Seq("band", "bkey"))
      assert(occ * 4 <= Dedup.DefaultMaxBucket,
        s"$dir: max simhash (band,bkey) occupancy $occ is within 4x of the " +
          s"cap ${Dedup.DefaultMaxBucket} — the dd_simhash_incremental oracle " +
          "does not model the cap")
    }
  }

  test("phash band-bucket occupancy on the gated fixtures stays below the default cap") {
    // dd_phash's GATE runs uncapped on both sides (oracle parity never
    // depends on the guard), but the incremental/index family defaults
    // the cap on — and pHash is the family's KNOWN-skewed member: DCT
    // sign bits of image corpora are biased, so 7-bit band keys occupy
    // far fewer than 2^7 values (measured at sf0.1: 368 of 1,152
    // possible buckets, hottest holding ~24% of the corpus). This
    // asserts (a) the guard stays dormant at the gate fixtures so the
    // spec oracles stay exact, and (b) the Occupancy.stats projection
    // actually SEES the bias regime (occupied buckets ≪ the key space)
    // — the pre-flight signal a production run would alert on.
    gateDirs.foreach { dir =>
      val media = Multimodal.syntheticImagesFromText(
        Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text")
      val banded = PerceptualHash.phashBanded(media)
      val stats = Occupancy.stats(banded, Dedup.DefaultMaxBucket.toLong,
        "band", "bkey").collect().head
      val (nBuckets, maxOcc, nOver) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(4))
      assert(maxOcc <= Dedup.DefaultMaxBucket && nOver == 0,
        s"$dir: max phash (band,bkey) occupancy $maxOcc breaches the cap " +
          s"${Dedup.DefaultMaxBucket} — the phash incremental specs' " +
          "oracles do not model the cap")
      val keySpace =
        PerceptualHash.DefaultPhashBands.toLong *
          (1L << (PerceptualHash.PhashBits / PerceptualHash.DefaultPhashBands))
      assert(nBuckets < keySpace,
        s"$dir: $nBuckets occupied buckets >= the $keySpace-key space — " +
          "the bias-regime observability assumption no longer holds")
    }
  }

  test("embedding LSH bucket occupancy on the gated fixtures is far below DefaultMaxBucketOccupancy") {
    gateDirs.foreach { dir =>
      val corpus = Tables.embeddings(spark, dir)
        .filter(pmod(col("vec_id"), lit(5)) =!= 0)
      // nBits = 4 pins the gated posture (dd_embedding_incremental's
      // EmbNBits), not the corpus-scaled default
      val occ = maxOccupancy(
        SimilaritySearch.lshBuckets(corpus, "vec_id", "embedding",
          dim = 64, nBits = 4),
        Seq("bucket"))
      assert(occ * 4 <= SimilaritySearch.DefaultMaxBucketOccupancy,
        s"$dir: max LSH bucket occupancy $occ is within 4x of the cap " +
          s"${SimilaritySearch.DefaultMaxBucketOccupancy} — the " +
          "dd_embedding_incremental oracle does not model the cap")
    }
  }
}
