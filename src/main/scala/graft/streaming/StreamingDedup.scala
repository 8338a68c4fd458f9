package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.operators.{Dedup, SimilaritySearch}
import graft.operators.BandIndex.BandPlan
import graft.streaming.HorizonBuckets.{Arrival, Member}

/** Streaming near-duplicate notices — the arrival-time twins of the
  * batch dedup families (the batch operator's keep/drop decision, made
  * at arrival time instead of in a nightly sweep).
  *
  * Semantics (closed-form, anchored to each batch operator in spec): a
  * document is flagged iff it matches ANY earlier-arrived document it
  * shares a band bucket with, within the watermark horizon. Earlier
  * documents register whether or not they were themselves flagged — so
  * a doc similar only to an already-flagged near-dup still drops
  * (duplicate-CLUSTER semantics, the same greedy the batch pipeline's
  * connected-components pass applies). On a bounded replay below the
  * bucket cap this makes the flagged set exactly the later elements of
  * the batch operator's pairs when arrival order follows id order.
  *
  * Scale design: signatures and band keys are the batch families' own
  * zero-shuffle projections; the only stateful shuffle keys on the band
  * bucket, the batch plans' one exchange. The state, pruning, timeout
  * and cap contract is [[HorizonBuckets]]'s; each twin's cap mirrors its
  * batch family's hot-bucket guard. A doc flagged in several bands
  * emits one notice per matching band, naming the newest matching
  * member; consumers treat notice-presence as the drop signal (dedup of
  * notices would cost a second stateful shuffle). */
object StreamingDedup {

  case class DupNotice(
      doc_id: Long, event_time: java.sql.Timestamp, matched_doc_id: Long)

  /** First-match notices over band-bucketed arrivals: one per (arrival,
    * bucket) that holds an earlier in-horizon member `similar` to it. */
  private def dupNotices[K, P](arrivals: Dataset[Arrival[K, P]], horizonMs: Long, cap: Int)(
      similar: (P, P) => Boolean)(
      implicit keyEnc: Encoder[K], stateEnc: Encoder[List[Member[P]]],
      outEnc: Encoder[DupNotice]): DataFrame =
    HorizonBuckets(arrivals, horizonMs, cap, HorizonBuckets.byArrival[P]) { (a, earlier) =>
      earlier.find(m => similar(m.payload, a.payload))
        .map(m => DupNotice(a.doc, new java.sql.Timestamp(a.arrivalMs), m.doc))
    }.toDF()

  /** `(band, bkey)` band-bucket rows → arrivals keyed on that pair. */
  private def bandArrivals(banded: DataFrame): DataFrame =
    banded.select(struct(col("band").as("_1"), col("bkey").as("_2")).as("key"),
      col("doc").as("doc_id"), col("event_time"), col("sig").as("payload"))

  /** MinHash notices for `docs` (a STREAMING DataFrame carrying `idCol`,
    * `textCol` and an event-time `timeCol`) — the twin of
    * `Dedup.minhashPairs`: est-Jaccard ≥ `threshold` within a shared
    * band of `Dedup.minhashBanded`, the batch projection itself.
    * `horizonMinutes` is both the watermark and the dedup memory. The
    * bucket cap is `Dedup.DefaultMaxBucket`, the batch walk's.
    *
    * `fingerprintShortDocs`: documents with fewer than `n` tokens have
    * no shingles and are silently excluded by default (the batch
    * anchor, minhashPairs, excludes them the same way). With the flag
    * on they instead carry a constant signature derived from
    * md5(lower(trim(text))) and occupy a single fingerprint band — so
    * EXACT copies of short documents are flagged at est 1.0 while
    * distinct short documents share no bucket. This is the streaming
    * twin of a batch exact-dedup stage for the sub-shingle regime
    * (used by StreamingCuration). */
  def minhashDupStream(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      n: Int = Dedup.DefaultShingleN, k: Int = Dedup.DefaultMinhashK,
      bands: Int = Dedup.DefaultMinhashBands,
      threshold: Double = Dedup.DefaultMinhashThreshold,
      fast: Boolean = false,
      fingerprintShortDocs: Boolean = false): DataFrame = {
    require(horizonMinutes >= 1)
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val timed = docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"), col("event_time"),
        col(textCol).as("__text"))
    // `fast` swaps md5 for xxhash64 exactly like the batch operator
    val long = bandArrivals(Dedup.minhashBanded(
      timed, "doc_id", "__text", n, k, bands, fast, carry = Seq("event_time")))
    // 60-bit fingerprint (15 md5 hex chars) repeated k times: identical
    // short docs agree on every component (est 1.0); the single band -1
    // keeps their state footprint at one bucket row per doc
    val fp = conv(substring(md5(lower(trim(col("__text")))), 1, 15), 16, 10).cast("long")
    val short = timed.filter(size(tokens(col("__text"))) < n)
      .select(struct(lit(-1).as("_1"), fp.cast("string").as("_2")).as("key"),
        col("doc_id"), col("event_time"), array_repeat(fp, k).as("payload"))
    val banded = if (fingerprintShortDocs) long.unionByName(short) else long
    dupNotices(banded.as[Arrival[(Int, String), Seq[Long]]],
      horizonMinutes * 60 * 1000L, Dedup.DefaultMaxBucket) { (a, b) =>
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / k >= threshold
    }
  }

  /** Streaming embedding-cosine notices — the twin of `dd_embedding`
    * (SimilaritySearch.lshNeighbors + a cosine cut): a vector is flagged
    * iff its exact cosine ≥ `threshold` against ANY earlier in-horizon
    * arrival it shares a hyperplane LSH bucket with (any of the
    * `nTables` tables). The bucket keys are the batch path's own
    * `lshBucketCols`; norms are computed once per vector in the
    * projection; NULL vectors drop there (the batch walk pairs none).
    * `maxBucketState` mirrors `SimilaritySearch.DefaultMaxBucketOccupancy`.
    *
    * `nBits` is explicit (a stream cannot count its corpus; size it with
    * `SimilaritySearch.nBitsFor` from the expected in-horizon volume).
    * `dim` is the embedding dimensionality. */
  def embeddingDupStream(
      spark: SparkSession, docs: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      nTables: Int = 1, threshold: Double = 0.9,
      maxBucketState: Int = SimilaritySearch.DefaultMaxBucketOccupancy): DataFrame = {
    require(nBits >= 1 && nBits <= 30, "nBits must be in [1, 30]")
    require(nTables >= 1, "nTables must be >= 1")
    require(horizonMinutes >= 1)
    import spark.implicits._
    import graft.functions.VectorFunctions
    val bucketCols = SimilaritySearch.lshBucketCols(dim, nBits, nTables)
    val banded = docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"), col("event_time"),
        VectorFunctions.asDoubles(col(vecCol)).as("v"))
      .select(col("*"), VectorFunctions.norm(col("v")).as("nrm"))
      // a NULL vector, or one with a NULL element (its norm is NULL), is
      // never a candidate in the batch walk either (plans.ScoreTopK)
      .filter(col("nrm").isNotNull)
      .select(
        // table t's key is prefixed inside lshBucketCols when nTables>1;
        // the scalar cast keeps nTables=1 keys string-typed too
        explode(array(bucketCols.map(_.cast("string")): _*)).as("key"),
        col("doc_id"), col("event_time"),
        struct(col("v").as("_1"), col("nrm").as("_2")).as("payload"))
      .as[Arrival[String, (Seq[Double], Double)]]

    // exact cosine, same left-to-right accumulation as the batch
    // VectorFunctions.dot, so boundary values cannot drift between the
    // two postures; zero-norm vectors never match (batch: NaN cosine
    // fails every >= cut)
    def cos(a: (Seq[Double], Double), b: (Seq[Double], Double)): Double =
      if (a._2 == 0.0 || b._2 == 0.0) Double.NegativeInfinity
      else {
        var s = 0.0
        var i = 0
        val m = math.min(a._1.length, b._1.length)
        while (i < m) { s += a._1(i) * b._1(i); i += 1 }
        s / (a._2 * b._2)
      }

    dupNotices(banded, horizonMinutes * 60 * 1000L, maxBucketState)(cos(_, _) >= threshold)
  }

  /** The shared tail of the PACKED-signature twins (pHash images,
    * SimHash text): `sigs` (doc_id, watermarked event_time, long sig)
    * band-exploded by `Dedup.packedSignatureBanded` at `plan`, an
    * arrival flagged iff its signature is within `maxHamming`
    * (bit_count of xor) of an earlier in-horizon member of a shared
    * (band, bkey) bucket. 24 bytes of state per member. */
  private def packedDupNotices(sigs: DataFrame, plan: BandPlan,
      horizonMinutes: Int, maxHamming: Int, maxBucketState: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    val banded = bandArrivals(
      Dedup.packedSignatureBanded(sigs, "doc_id", "sig", plan, carry = Seq("event_time")))
      .as[Arrival[(Int, Long), Long]]
    dupNotices(banded, horizonMinutes * 60 * 1000L, maxBucketState) { (a, b) =>
      java.lang.Long.bitCount(a ^ b) <= maxHamming
    }
  }

  /** Streaming TEXT near-duplicate detection by SimHash — the
    * arrival-time twin of `Dedup.simhashPairs`: a document is flagged
    * iff its packed 64-bit SimHash is within `maxHamming` of ANY earlier
    * in-horizon arrival sharing a band bucket. The signature is
    * computed in the STATELESS projection before the stateful shuffle —
    * 8 bytes move per band, never text — and the band cut defaults to
    * the batch side's corpus-scaled 4 × 16 plan, so the streamed
    * candidate walk is the batch walk's arrival-time greedy at the same
    * (lossless at Hamming ≤ 3) cut. Degenerate docs (< `minTokens`
    * non-empty tokens) drop exactly like the batch guard. */
  def simhashDupStream(
      spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      bits: Int = Dedup.DefaultSimhashBits,
      bands: Int = Dedup.DefaultSimhashBands,
      maxHamming: Int = Dedup.DefaultMaxHamming, minTokens: Int = 1,
      maxBucketState: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import graft.functions.TextFunctions
    require(horizonMinutes >= 1)
    require(bits == 64,
      s"simhashDupStream: bits must be 64 (the packed SimHash width), got bits = $bits")
    require(bits % bands == 0 && bands >= 2, "bands must divide bits, >= 2")
    val sigs = docs
      .select(col(idCol).cast("long").as("doc_id"),
        to_timestamp(col(timeCol)).as("event_time"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(array_remove(col("__t"), "")) >= minTokens)
      // the batch side's native signature (graft.plans.SimHash64):
      // bit-identical to packBits(simhashBits(·)), codegen'd
      .select(col("doc_id"), col("event_time"),
        NativeFunctions.simhash64(col("__t")).as("sig"))
      .withWatermark("event_time", s"$horizonMinutes minutes")
    packedDupNotices(sigs, BandPlan(bits, bands), horizonMinutes, maxHamming, maxBucketState)
  }

  /** Streaming IMAGE near-duplicate detection — the arrival-time twin
    * of `PerceptualHash.phashPairs`: an image is flagged iff its packed
    * 63-bit pHash is within `maxHamming` of ANY earlier in-horizon
    * arrival it shares a band bucket with. Decode + hash happen per row
    * in the stateless map BEFORE the stateful shuffle — 8 bytes of
    * signature move, never pixels. Corrupt payloads drop at decode,
    * exactly like the batch operator. The cap is load-bearing here the
    * way the batch cap is: pHash is the family's KNOWN-skewed banding
    * (biased DCT sign bits → few occupied keys; see
    * PerceptualHash.phashBanded). */
  def phashDupStream(
      spark: SparkSession, media: DataFrame, idCol: String, bytesCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      bands: Int = graft.operators.PerceptualHash.DefaultPhashBands,
      maxHamming: Int = graft.operators.PerceptualHash.DefaultMaxHamming,
      maxBucketState: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import graft.operators.{MediaCodec, PerceptualHash}
    require(horizonMinutes >= 1)
    require(PerceptualHash.PhashBits % bands == 0, "bands must divide 63")
    import spark.implicits._
    val sigs = media
      .select(col(idCol).cast("long"), to_timestamp(col(timeCol)),
        col(bytesCol))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, t, bytes) =>
        MediaCodec.decodeRgb(Option(bytes).getOrElse(Array.emptyByteArray))
          .map(img => (id, t, PerceptualHash.phashOfRgbPacked(img)))
      })
      .toDF("doc_id", "event_time", "sig")
      .withWatermark("event_time", s"$horizonMinutes minutes")
    packedDupNotices(sigs, BandPlan(PerceptualHash.PhashBits, bands),
      horizonMinutes, maxHamming, maxBucketState)
  }
}
