package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.NativeFunctions
import graft.operators.{Dedup, SimilaritySearch}

/** Streaming MinHash near-duplicate detection — the streaming twin of
  * `Dedup.minhashPairs` for continuous ingestion (the batch operator's
  * keep/drop decision, made at arrival time instead of in a nightly
  * sweep).
  *
  * Semantics (closed-form, anchored to the batch operator in spec): a
  * document is flagged iff its signature est-Jaccard ≥ `threshold`
  * against ANY earlier-arrived document it shares an LSH band bucket
  * with, within the watermark horizon. Earlier documents register
  * whether or not they were themselves flagged — so a doc similar only
  * to an already-flagged near-dup still drops (duplicate-CLUSTER
  * semantics, the same greedy the batch pipeline's connected-components
  * pass applies). On a bounded replay this makes the flagged set exactly
  * `{doc_b | (doc_a, doc_b) ∈ minhashPairs}` when arrival order follows
  * id order.
  *
  * Scale design: signatures and band keys are the SAME zero-shuffle
  * projection as the batch path (one codegen'd `graft_minhash` call);
  * the only stateful shuffle keys on the band bucket — the minimum
  * communication for the problem, identical to the batch plan's one
  * exchange. State per bucket is the (doc_id, arrival, signature) list
  * of members inside the horizon: pruned by event time on every visit
  * and reclaimed whole by EventTimeTimeout, so state is bounded by
  * bucket occupancy within the horizon — the only retention contract
  * that survives at stream scale. A doc flagged in several bands emits
  * one notice per matching band; consumers treat notice-presence as the
  * drop signal (dedup of notices would cost a second stateful shuffle).
  */
object StreamingDedup {

  case class BandRow(
      bkey: String, doc_id: Long, event_time: java.sql.Timestamp, sig: Seq[Long])
  case class BucketState(members: List[(Long, Long, Seq[Long])]) // (doc, arrivalMs, sig)
  case class DupNotice(
      doc_id: Long, event_time: java.sql.Timestamp, matched_doc_id: Long)

  /** Duplicate notices for `docs` (a STREAMING DataFrame carrying
    * `idCol`, `textCol` and an event-time `timeCol`). `horizonMinutes`
    * is both the watermark and the dedup memory.
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
    require(k % bands == 0, "bands must divide k")
    require(horizonMinutes >= 1)
    import spark.implicits._
    import graft.functions.TextFunctions._
    val r = k / bands
    val horizonMs = horizonMinutes * 60 * 1000L

    // identical signature + band-key projection to Dedup.minhashPairs —
    // zero shuffles, codegen'd; the band index is folded into the key so
    // one stateful operator covers all bands
    val isLong = size(col("toks")) >= n
    // 60-bit fingerprint (15 md5 hex chars) repeated k times: identical
    // short docs agree on every component (est 1.0); the single "F" band
    // keeps their state footprint at one bucket row per doc
    val fpSig = array_repeat(
      conv(substring(md5(lower(trim(col("__text")))), 1, 15), 16, 10).cast("long"), k)
    val sigExpr =
      if (!fingerprintShortDocs)
        NativeFunctions.minhash(shinglesFromTokens(col("toks"), n), k, fast)
      else when(isLong,
        NativeFunctions.minhash(shinglesFromTokens(col("toks"), n), k, fast))
        .otherwise(fpSig)
    val bandIdx =
      if (!fingerprintShortDocs) sequence(lit(0), lit(bands - 1))
      else when(isLong, sequence(lit(0), lit(bands - 1))).otherwise(sequence(lit(0), lit(0)))
    val prefix = (i: Column) =>
      if (!fingerprintShortDocs) i.cast("string")
      else when(isLong, i.cast("string")).otherwise(lit("F"))
    val banded = docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"), col("event_time"),
        col(textCol).as("__text"), tokens(col(textCol)).as("toks"))
      .filter(if (fingerprintShortDocs) lit(true) else isLong)
      .select(col("doc_id"), col("event_time"), col("toks"), col("__text"),
        // `fast` swaps md5 for xxhash64 exactly like the batch operator
        // (the production mode when no cross-engine anchor is needed)
        sigExpr.as("sig"))
      .select(col("doc_id"), col("event_time"), col("sig"), col("toks"), col("__text"),
        explode(transform(bandIdx, i =>
          concat(prefix(i), lit(":"),
            array_join(slice(col("sig"), i * r + 1, lit(r)).cast("array<string>"), "_"))))
          .as("bkey"))
      .select(col("bkey"), col("doc_id"), col("event_time"), col("sig"))
      .as[BandRow]

    def est(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / k

    banded
      .groupByKey(_.bkey)
      .flatMapGroupsWithState[BucketState, DupNotice](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // every member is past the horizon (timeout fires at
            // newest+horizon) — reclaim the bucket outright
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_._2 >= wm - horizonMs)
            val out = List.newBuilder[DupNotice]
            // arrival order within the micro-batch: (event_time, doc_id)
            rows.toSeq.sortBy(e => (e.event_time.getTime, e.doc_id)).foreach { e =>
              val t = e.event_time.getTime
              // first matching member only: one notice per (doc, band) —
              // a hot duplicate cluster must not emit O(bucket occupancy)
              // notices per arrival. `t - at <= horizonMs` enforces the
              // horizon EXACTLY: watermark pruning alone leaves members
              // farther apart than the horizon visible when both arrive
              // before the watermark advances (e.g. in one micro-batch),
              // so it remains purely a state bound, not the semantics
              members.iterator
                .find { case (d, at, s) =>
                  d != e.doc_id && at <= t && t - at <= horizonMs &&
                    est(s, e.sig) >= threshold }
                .foreach { case (d, _, _) => out += DupNotice(e.doc_id, e.event_time, d) }
              members = (e.doc_id, t, e.sig) :: members
            }
            state.update(BucketState(members))
            val newest = members.iterator.map(_._2).max
            state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
            out.result().iterator
          }
      }.toDF()
  }

  case class VecRow(
      bkey: String, doc_id: Long, event_time: java.sql.Timestamp,
      v: Seq[Double], nrm: Double)
  case class VecBucketState(
      members: List[(Long, Long, Seq[Double], Double)]) // (doc, arrivalMs, vec, norm)

  /** Streaming embedding-cosine near-duplicate detection — the
    * arrival-time twin of `dd_embedding` (SimilaritySearch.lshNeighbors
    * + a cosine cut), the way `minhashDupStream` twins
    * `Dedup.minhashPairs`: a vector is flagged iff its exact cosine
    * ≥ `threshold` against ANY earlier in-horizon arrival it shares a
    * hyperplane LSH bucket with (any of the `nTables` tables). Earlier
    * members register whether or not they were themselves flagged
    * (duplicate-CLUSTER greedy, matching the batch pipeline).
    *
    * Scale design, mirroring the batch operator point for point:
    *   - the bucket keys are the SAME `lshBucketCols` plane-literal
    *     expressions the batch path groups on — a codegen'd zero-shuffle
    *     projection; the only stateful shuffle keys on the bucket;
    *   - norms are computed once per vector at projection time, not per
    *     candidate comparison;
    *   - state per bucket is the in-horizon member list, pruned by event
    *     time each visit and reclaimed whole by EventTimeTimeout — AND
    *     additionally capped at `maxBucketState` most-recent members,
    *     the streaming form of the batch hot-bucket occupancy guard: a
    *     dense semantic cluster landing in one bucket bounds state and
    *     per-arrival scan work at O(cap) instead of O(cluster). A doc
    *     matching only evicted members goes unflagged — the same
    *     candidate-pool trade the batch guard makes, and in the regime
    *     that triggers it (near-identical cluster) the most-recent
    *     members ARE matches, so cluster semantics survive.
    *
    * `nBits` is explicit (a stream cannot count its corpus; size it with
    * `SimilaritySearch.nBitsFor` from the expected in-horizon volume).
    * `dim` is the embedding dimensionality. One notice per (doc, table),
    * first matching member only — notice-presence is the drop signal. */
  def embeddingDupStream(
      spark: SparkSession, docs: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      nTables: Int = 1, threshold: Double = 0.9,
      maxBucketState: Int = SimilaritySearch.DefaultMaxBucketOccupancy): DataFrame = {
    require(nBits >= 1 && nBits <= 30, "nBits must be in [1, 30]")
    require(nTables >= 1, "nTables must be >= 1")
    require(horizonMinutes >= 1)
    require(maxBucketState >= 2, "maxBucketState must be >= 2")
    import spark.implicits._
    import graft.functions.VectorFunctions
    val horizonMs = horizonMinutes * 60 * 1000L

    val bucketCols = SimilaritySearch.lshBucketCols(dim, nBits, nTables)
    val banded = docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"), col("event_time"),
        VectorFunctions.asDoubles(col(vecCol)).as("v"))
      .select(col("doc_id"), col("event_time"), col("v"),
        VectorFunctions.norm(col("v")).as("nrm"),
        // table t's key is prefixed inside lshBucketCols when nTables>1;
        // the scalar cast keeps nTables=1 keys string-typed too
        explode(array(bucketCols.map(_.cast("string")): _*)).as("bkey"))
      .select(col("bkey"), col("doc_id"), col("event_time"), col("v"), col("nrm"))
      .as[VecRow]

    // exact cosine, same left-to-right accumulation as the batch
    // VectorFunctions.dot, so boundary values cannot drift between the
    // two postures; zero-norm vectors never match (batch: NaN cosine
    // fails every >= cut)
    def cos(a: Seq[Double], na: Double, b: Seq[Double], nb: Double): Double =
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else {
        var s = 0.0
        var i = 0
        val m = math.min(a.length, b.length)
        while (i < m) { s += a(i) * b(i); i += 1 }
        s / (na * nb)
      }

    banded
      .groupByKey(_.bkey)
      .flatMapGroupsWithState[VecBucketState, DupNotice](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[VecRow], state: GroupState[VecBucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // state list is maintained newest-first (arrivals prepend in
            // ascending order), so the occupancy cap keeps the most
            // recent `maxBucketState` members deterministically
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_._2 >= wm - horizonMs)
            val out = List.newBuilder[DupNotice]
            rows.toSeq.sortBy(e => (e.event_time.getTime, e.doc_id)).foreach { e =>
              val t = e.event_time.getTime
              members.iterator
                .find { case (d, at, v, nrm) =>
                  d != e.doc_id && at <= t && t - at <= horizonMs &&
                    cos(v, nrm, e.v, e.nrm) >= threshold }
                .foreach { case (d, _, _, _) =>
                  out += DupNotice(e.doc_id, e.event_time, d) }
              members = ((e.doc_id, t, e.v, e.nrm) :: members).take(maxBucketState)
            }
            state.update(VecBucketState(members))
            val newest = members.iterator.map(_._2).max
            state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
            out.result().iterator
          }
      }.toDF()
  }

  case class PhashRow(
      bkey: String, doc_id: Long, event_time: java.sql.Timestamp, sig: Long)
  case class PhashBucketState(members: List[(Long, Long, Long)]) // (doc, arrivalMs, sig)

  /** The shared stateful core of the PACKED-signature streaming
    * detectors (pHash images, SimHash text): per band bucket, an
    * arrival is flagged iff its long signature is within `maxHamming`
    * (bit_count of xor) of ANY earlier in-horizon member — the
    * arrival-time greedy the batch pair walk twins. State per bucket =
    * the in-horizon (doc, arrivalMs, sig) list (24 B/member),
    * event-time pruned, EventTimeTimeout-reclaimed, capped at
    * `maxBucketState` most-recent members. */
  private def packedDupNotices(banded: Dataset[PhashRow],
      horizonMs: Long, maxHamming: Int, maxBucketState: Int): DataFrame = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.bkey)
      .flatMapGroupsWithState[PhashBucketState, DupNotice](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[PhashRow], state: GroupState[PhashBucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // newest-first list: arrivals prepend in ascending order, so
            // the occupancy cap keeps the most recent members
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_._2 >= wm - horizonMs)
            val out = List.newBuilder[DupNotice]
            rows.toSeq.sortBy(e => (e.event_time.getTime, e.doc_id)).foreach { e =>
              val t = e.event_time.getTime
              members.iterator
                .find { case (d, at, s) =>
                  d != e.doc_id && at <= t && t - at <= horizonMs &&
                    java.lang.Long.bitCount(s ^ e.sig) <= maxHamming }
                .foreach { case (d, _, _) => out += DupNotice(e.doc_id, e.event_time, d) }
              members = ((e.doc_id, t, e.sig) :: members).take(maxBucketState)
            }
            state.update(PhashBucketState(members))
            val newest = members.iterator.map(_._2).max
            state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
            out.result().iterator
          }
      }.toDF()
  }

  /** The fused "band:key" string column over a packed long `sig` —
    * Dedup.packedSignatureBanded's shift+mask slices folded into one
    * key so a single stateful operator covers all bands (the batch
    * side's `bb` convention). */
  private def packedBandKeys(sig: org.apache.spark.sql.Column,
      bands: Int, r: Int): org.apache.spark.sql.Column = {
    val mask = (1L << r) - 1
    explode(transform(sequence(lit(0), lit(bands - 1)), b =>
      concat(b.cast("string"), lit(":"),
        call_function("shiftright", sig, (b * r).cast("int"))
          .bitwiseAND(lit(mask)).cast("string"))))
  }

  /** Streaming TEXT near-duplicate detection by SimHash — the
    * arrival-time twin of `Dedup.simhashPairs`, completing the packed
    * Hamming family's streaming coverage (MinHash and pHash have
    * theirs): a document is flagged iff its packed 64-bit SimHash is
    * within `maxHamming` of ANY earlier in-horizon arrival sharing a
    * band bucket. The signature is computed in the STATELESS
    * projection before the stateful shuffle — 8 bytes move per band,
    * never text — and the band cut defaults to the batch side's
    * corpus-scaled 4 × 16 plan, so the streamed candidate walk is the
    * batch walk's arrival-time greedy at the same (lossless at
    * Hamming ≤ 3) cut. Degenerate docs (< `minTokens` non-empty
    * tokens) drop exactly like the batch guard. */
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
    require(maxBucketState >= 2, "maxBucketState must be >= 2")
    import spark.implicits._
    val horizonMs = horizonMinutes * 60 * 1000L
    val banded = docs
      .select(col(idCol).cast("long").as("doc_id"),
        to_timestamp(col(timeCol)).as("event_time"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(array_remove(col("__t"), "")) >= minTokens)
      // the batch side's native signature (graft.plans.SimHash64):
      // bit-identical to packBits(simhashBits(·)), codegen'd
      .select(col("doc_id"), col("event_time"),
        NativeFunctions.simhash64(col("__t")).as("sig"))
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col("doc_id"), col("event_time"), col("sig"),
        packedBandKeys(col("sig"), bands, bits / bands).as("bkey"))
      .select(col("bkey"), col("doc_id"), col("event_time"), col("sig"))
      .as[PhashRow]
    packedDupNotices(banded, horizonMs, maxHamming, maxBucketState)
  }

  /** Streaming IMAGE near-duplicate detection — the arrival-time twin
    * of `PerceptualHash.phashPairs`, the way `minhashDupStream` twins
    * `Dedup.minhashPairs`: an image is flagged iff its packed 63-bit
    * pHash is within `maxHamming` of ANY earlier in-horizon arrival it
    * shares a band bucket with. Earlier members register whether or not
    * they were themselves flagged (duplicate-CLUSTER greedy). Corrupt
    * payloads drop at decode, exactly like the batch operator.
    *
    * Scale design, mirroring the batch operator point for point:
    *   - decode + hash happen per-row in the stateless map BEFORE the
    *     stateful shuffle — 8 bytes of signature move, never pixels;
    *   - band keys are the batch path's shift+mask slices
    *     (Dedup.packedSignatureBanded) folded into one string key, so a
    *     single stateful operator covers all bands;
    *   - state per bucket is the in-horizon (doc, arrival, sig) list —
    *     24 bytes per member — pruned by event time each visit,
    *     reclaimed whole by EventTimeTimeout, and capped at
    *     `maxBucketState` most-recent members: pHash is the family's
    *     KNOWN-skewed banding (biased DCT sign bits → few occupied
    *     keys), so the streaming occupancy guard is load-bearing here
    *     the way the batch cap is (see PerceptualHash.phashBanded).
    * One notice per (doc, band), first matching member only —
    * notice-presence is the drop signal. */
  def phashDupStream(
      spark: SparkSession, media: DataFrame, idCol: String, bytesCol: String,
      timeCol: String = "timestamp", horizonMinutes: Int = 10,
      bands: Int = graft.operators.PerceptualHash.DefaultPhashBands,
      maxHamming: Int = graft.operators.PerceptualHash.DefaultMaxHamming,
      maxBucketState: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import graft.operators.{MediaCodec, PerceptualHash}
    require(horizonMinutes >= 1)
    require(PerceptualHash.PhashBits % bands == 0, "bands must divide 63")
    require(maxBucketState >= 2, "maxBucketState must be >= 2")
    import spark.implicits._
    val horizonMs = horizonMinutes * 60 * 1000L

    val banded = media
      .select(col(idCol).cast("long"), to_timestamp(col(timeCol)),
        col(bytesCol))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, t, bytes) =>
        MediaCodec.decodeRgb(Option(bytes).getOrElse(Array.emptyByteArray))
          .map(img => (id, t, PerceptualHash.phashOfRgbPacked(img)))
      })
      .toDF("doc_id", "event_time", "sig")
      .withWatermark("event_time", s"$horizonMinutes minutes")
      .select(col("doc_id"), col("event_time"), col("sig"),
        packedBandKeys(col("sig"), bands,
          PerceptualHash.PhashBits / bands).as("bkey"))
      .select(col("bkey"), col("doc_id"), col("event_time"), col("sig"))
      .as[PhashRow]
    packedDupNotices(banded, horizonMs, maxHamming, maxBucketState)
  }
}
