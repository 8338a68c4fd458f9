package graft.operators

import graft.SparkSpecBase
import graft.operators.BandIndex.BandPlan
import graft.sources.Tables

class DedupSpec extends SparkSpecBase {

  private def truthPairs(): Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exactGroups fingerprints every distinct document") {
    val docs = Tables.documents(spark, sfDir)
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val total = groups.collect().map(_.getAs[Long]("n_docs")).sum
    assert(total === docs.count())
  }

  test("ngramJaccardPairs finds the planted near-duplicates with high similarity") {
    val pairs = Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(pairs.nonEmpty, "synthetic corpus plants near-dup pairs")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("minhashPairs recovers the exact-jaccard ground truth (recall ≥ 0.9, no spurious pairs below 0.3)") {
    val truth = truthPairs()
    val found = Dedup.minhashPairs(Tables.documents(spark, sfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} true pairs")
  }

  test("simhashPairs recovers most planted near-duplicates") {
    val truth = truthPairs()
    val found = Dedup.simhashPairs(Tables.documents(spark, sfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.7, s"simhash recall $recall over ${truth.size} true pairs")
  }

  test("packed simhash equals the bit-array reference: signatures bit-for-bit, pairs row-for-row") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sfDir)
    // the array form stays as the spec-anchored reference (the oracle's
    // formulation); the production walk rides the packed long
    val arraySigs = docs
      .select(col("doc_id").as("doc"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(array_remove(col("toks"), "")) >= 1)
      .select(col("doc"), ReferenceModels.simhashBits(col("toks"), 64).as("sig"))
    // 1. packBits is position-preserving, bit 63 (sign position) included,
    //    and the native codegen'd expression (graft.plans.SimHash64 — the
    //    production signature since round 14) equals the composed form
    //    bit-for-bit on every document
    graft.GraftExtensions.register(spark)
    docs
      .select(col("doc_id").as("doc"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(array_remove(col("toks"), "")) >= 1)
      .select(col("doc"),
        ReferenceModels.simhashBits(col("toks"), 64).as("sig"),
        ReferenceModels.packBits(ReferenceModels.simhashBits(col("toks"), 64), 64).as("packed"),
        call_function("graft_simhash64", col("toks")).as("native"))
      .collect().foreach { r =>
        val arr = r.getSeq[Int](1); val p = r.getLong(2); val nv = r.getLong(3)
        assert(nv == p,
          s"doc ${r.getLong(0)}: native graft_simhash64 diverges from packBits∘simhashBits")
        (0 until 64).foreach { i =>
          assert(((p >>> i) & 1L).toInt == arr(i),
            s"doc ${r.getLong(0)}: bit $i diverges between packed and array")
        }
      }
    // 2. the packed bucket walk = the reference banded walk over the bit
    //    ARRAYS (same bands, same cap, same first-colliding-band dedup),
    //    scores included
    val bitRows = arraySigs.collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    val ref = ReferenceModels.bandedPairs[Seq[Int], Int](bitRows, Dedup.DefaultSimhashBands,
      ReferenceModels.arraySlice[Int](64 / Dedup.DefaultSimhashBands),
      (x, y) => x.zip(y).count { case (a, b) => a != b },
      Some(Dedup.DefaultMaxBucket))
      .filter(_._3 <= Dedup.DefaultMaxHamming)
    val got = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.nonEmpty && got === ref)
  }

  test("simhash band-plan ladder: every lossless rung returns the identical pair set") {
    val docs = Tables.documents(spark, sfDir)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fine = pairsOf(Dedup.simhashPairs(docs, "doc_id", "text"))
    // the legacy 8×8 cut, the new default 4×16, and the deep 2×32+1-flip
    // multiprobe rung: all lossless at Hamming ≤ 3 ⇒ all equal
    val legacy = pairsOf(Dedup.simhashPairs(docs, "doc_id", "text", plan = BandPlan(64, 8)))
    val deep = pairsOf(Dedup.simhashPairs(
      docs, "doc_id", "text", plan = BandPlan(64, bands = 2, flips = 1)))
    assert(fine.nonEmpty && legacy === fine && deep === fine)
    // a lossy plan is refused, not silently degraded
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", plan = BandPlan(64, bands = 2, flips = 0)))
    // the ladder scales the keyspace with the corpus
    assert(BandIndex.planFor(64, 1000, Dedup.DefaultMaxHamming) == BandPlan(64, 4, 0))
    assert(BandIndex.planFor(64, 100000000L, Dedup.DefaultMaxHamming) == BandPlan(64, 2, 1))
  }

  test("minhashPairsVerified equals the exact-jaccard ground truth on this corpus") {
    val truth = Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val verified = Dedup.minhashPairsVerified(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verified === truth)
  }

  test("short and empty documents survive every dedup operator (no out-of-bounds shingles)") {
    import spark.implicits._
    // real corpora contain docs shorter than the shingle width n=3 — an
    // unguarded sequence(0, size-n) steps DOWNWARD below zero and throws
    val docs = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "exactly three tokens"),
      (5L, "a full length document with plenty of tokens to shingle"),
      (6L, "a full length document with plenty of tokens to shingle"))
      .toDF("doc_id", "text")
    val ngram = Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect()
    val mh = Dedup.minhashPairs(docs, "doc_id", "text").collect()
    val mhv = Dedup.minhashPairsVerified(docs, "doc_id", "text").collect()
    val sh = Dedup.simhashPairs(docs, "doc_id", "text").collect()
    // docs 5/6 are identical → every operator must still pair them,
    // while the sub-n docs (1,2,3) must be silently shingle-less
    assert(ngram.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 6L)))
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 6L)))
    assert(mhv.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 6L)))
    // exact set (not `contains`): the degenerate-doc guard keeps the
    // empty doc out of the signature table, so no spurious short-doc pairs
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 6L)))
  }

  test("relative doc-freq guard prunes boilerplate candidates ≥10× without changing the ≥0.5 result set") {
    import spark.implicits._
    // 60 docs, every one ending in the same 7-token boilerplate (its 5
    // pure-boilerplate shingles have df=60 — the quadratic hot key); docs
    // 58/59 are planted duplicates sharing 30 unique tokens
    val boiler = "this document is provided entirely as is"
    val docs = (0 until 60).map { i =>
      val unique =
        if (i >= 58) (0 until 30).map(j => s"dup$j").mkString(" ")
        else (0 until 30).map(j => s"u${i}x$j").mkString(" ")
      (i.toLong, s"$unique $boiler")
    }.toDF("doc_id", "text")
    def pairs(guarded: Boolean, threshold: Double): Set[(Long, Long)] =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = threshold,
        maxDocFreqFraction = if (guarded) Some(Dedup.DefaultMaxDocFreqFraction) else None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidate pairs (threshold 0): boilerplate joins every doc to every
    // other → C(60,2); the guard collapses that to the planted pair
    val candUnguarded = pairs(guarded = false, threshold = 0.0).size
    val candGuarded = pairs(guarded = true, threshold = 0.0).size
    assert(candUnguarded === 60 * 59 / 2)
    assert(candGuarded >= 1 && candUnguarded >= 10 * candGuarded,
      s"unguarded $candUnguarded vs guarded $candGuarded")
    // ...without changing the ≥0.5-Jaccard result set
    assert(pairs(guarded = true, threshold = 0.5) ===
      pairs(guarded = false, threshold = 0.5))
    assert(pairs(guarded = true, threshold = 0.5) === Set((58L, 59L)))
  }

  test("contaminationPairs: asymmetric containment catches a quoted eval doc that Jaccard misses") {
    import spark.implicits._
    val evalSet = Seq((100L, "what is the capital of freedonia answer sylvania city"))
      .toDF("doc_id", "text")
    val train = Seq(
      // eval text quoted verbatim inside a much longer training doc:
      // containment of the EVAL doc is 1.0, symmetric jaccard low
      (1L, (0 until 60).map(i => s"filler$i").mkString(" ") +
        " what is the capital of freedonia answer sylvania city and more trailing prose"),
      (2L, "completely unrelated training document about other topics entirely"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationPairs(train, evalSet, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.map(h => (h._1, h._2)).toSet === Set((1L, 100L)))
    assert(hits.head._3 === 1.0) // every eval shingle appears in the train doc
    // the symmetric-jaccard dedup would NOT flag this pair even far below 0.5
    val j = Dedup.ngramJaccardPairs(
      train.union(evalSet), "doc_id", "text", threshold = 0.15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 100L)))
  }

  test("contaminationPairs matches a naive guarded reference when the doc-freq prune ENGAGES") {
    import spark.implicits._
    // The sf0.01 gate passes with the floor disabling the prune; this
    // corpus is built so the prune fires (boilerplate shingles in all 60
    // eval docs, df_limit = max(5, 60*0.1) = 6) and asserts Spark still
    // equals the guarded-oracle semantics: prune eval shingles with
    // df > limit, containment denominator = FULL pre-prune shingle count.
    //
    // Shingle accounting (n=3): eval doc = 8-token boiler + 8 unique
    // tokens → 14 shingles: 6 pure-boiler (df=60 → pruned), 2 boundary
    // + 6 pure-unique (df=1 → kept). Train 1 shares only the boiler:
    // 6/14 ≈ 0.43 unguarded, 0 guarded. Train 2 shares eval-100's unique
    // tail: 6/14 ≈ 0.43 both ways. Threshold 0.3 separates the regimes.
    val boiler = "terms of service apply to this content always"
    def tail(i: Int) = (0 until 8).map(j => s"u${i}x$j").mkString(" ")
    val evalDocs = (0 until 60).map(i => (100L + i, s"$boiler ${tail(i)}"))
    val trainDocs = Seq(
      (1L, s"$boiler plus entirely unrelated trailing prose tokens"),
      (2L, s"${tail(0)} with additional training only material"))
    val evalDF = evalDocs.toDF("doc_id", "text")
    val trainDF = trainDocs.toDF("doc_id", "text")
    val threshold = 0.3

    def shingles(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val limit = math.max(Dedup.MinDocFreqFloor.toDouble,
      evalDocs.size * Dedup.DefaultMaxDocFreqFraction)
    val df = evalDocs.toSeq.flatMap { case (_, t) => shingles(t) }
      .groupBy(identity).map { case (s, xs) => s -> xs.size }
    val naive = (for {
      (tid, ttext) <- trainDocs
      (eid, etext) <- evalDocs
      esh = shingles(etext)
      kept = esh.filter(s => df(s) <= limit)
      common = shingles(ttext) & kept
      c = common.size.toDouble / esh.size
      if c >= threshold
    } yield (tid, eid, c)).toSet

    val got = Dedup.contaminationPairs(trainDF, evalDF, "doc_id", "text",
        threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === naive)
    assert(got.map(p => (p._1, p._2)) === Set((2L, 100L)),
      "only the prune-surviving pair remains")
    // prove the prune actually engaged: unguarded keeps the boilerplate
    // pair (train 1 × every eval doc) that the guard must drop
    val unguarded = Dedup.contaminationPairs(trainDF, evalDF, "doc_id", "text",
        threshold = threshold, maxDocFreq = None, maxDocFreqFraction = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((1L, 100L)))
    assert(unguarded.size === 60 + 1, "train 1 pairs with all 60 eval docs unguarded")
  }

  test("duplicateClusters: min-label propagation finds components of the pair graph") {
    import spark.implicits._
    // two components: a 4-doc chain (needs >1 propagation round) and a pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("sharedSpans fast mode (xxhash64 keys) equals the md5 gate path row-for-row") {
    // shingle keys only mediate EQUALITY — any collision-free hash
    // yields the same match set, so the production fast mode must
    // reproduce the gated md5 results exactly at fixture scale
    val docs = Tables.documents(spark, sfDir)
    val md5 = Dedup.sharedSpans(docs, "doc_id", "text")
      .orderBy("doc_a", "doc_b").collect().toSeq
    val fast = Dedup.sharedSpans(docs, "doc_id", "text", fast = true)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(md5.nonEmpty && fast === md5)
  }

  test("mergeClustersIncremental equals a from-scratch rebuild over the union pair graph") {
    import spark.implicits._
    // standing corpus: components {1,2,3,4} (chain) and {10,11}; delta
    // pairs (a) BRIDGE the two old components via new doc 20,
    // (b) attach new doc 21 to the bridge, (c) form a fresh-only
    // component {30,31}, (d) connect two members of ONE old component
    // (5 pairs 2: a label self-loop that must collapse harmlessly)
    val oldPairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 2L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(oldPairs)
    val newPairs = Seq(
      (4L, 20L), (20L, 11L), (20L, 21L), (30L, 31L), (5L, 3L))
      .toDF("doc_a", "doc_b")
    val merged = Dedup.mergeClustersIncremental(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Dedup.duplicateClusters(oldPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === rebuilt)
    // the bridge collapsed both old components + both new docs to min 1
    assert(merged(11L) === 1L && merged(20L) === 1L && merged(21L) === 1L)
    assert(merged(30L) === 30L && merged(31L) === 30L)
  }

  test("mergeClustersIncremental dormant posture: same-component pairs change nothing") {
    import spark.implicits._
    val oldPairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(oldPairs)
    // every new pair re-observes an existing component internally
    val newPairs = Seq((1L, 3L), (11L, 10L)).toDF("doc_a", "doc_b")
    val merged = Dedup.mergeClustersIncremental(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === before)
  }

  test("keepBestStateIncremental equals the from-scratch rebuild; corpus text never re-read") {
    import spark.implicits._
    // corpus: cluster {1,2} (2 higher quality via stopword bonus),
    // singletons 3 and 10; delta: doc 20 bridges 3 and 10, doc 21
    // pairs with nobody, doc 22 joins {1,2} with the highest quality
    def doc(tag: String, good: Boolean, n: Int): String = {
      val words = (if (good) Seq("the", "a") else Seq.empty) ++
        (0 until n).map(i => s"${tag}_$i")
      words.mkString(" ")
    }
    val corpusRows = Seq(
      (1L, doc("c1", good = false, 30)),
      (2L, doc("c2", good = true, 30)),
      (3L, doc("c3", good = false, 30)),
      (10L, doc("c10", good = true, 30)))
    val deltaRows = Seq(
      (20L, doc("d20", good = true, 30)),
      (21L, doc("d21", good = false, 30)),
      (22L, doc("d22", good = true, 40)))
    val corpusDir = java.nio.file.Files.createTempDirectory("kb-corpus").toString
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val oldPairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val state = Dedup.keepBestState(corpus, "doc_id", "text", oldPairs)
      .localCheckpoint() // materialize BEFORE the corpus files vanish
    val labels = Dedup.duplicateClusters(oldPairs).localCheckpoint()
    // the LshIndexSpec convention: delete the corpus files — if the
    // incremental path re-read any corpus text it would throw
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpusDir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.delete)
    val newPairs = Seq((3L, 20L), (20L, 10L), (22L, 1L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBestStateIncremental(
      state, labels, deltaRows.toDF("doc_id", "text"), "doc_id", "text", newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val rebuilt = Dedup.keepBestState(
      (corpusRows ++ deltaRows).toDF("doc_id", "text"), "doc_id", "text",
      oldPairs.unionByName(newPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === rebuilt)
    val byCluster = got.map(r => r._1 -> r).toMap
    // {1,2,22}: 22 wins on quality; {3,10,20}: collapses to min label 3
    // with the best of the three; 21 is a singleton
    assert(byCluster(1L)._2 === 22L && byCluster(1L)._4 === 3L)
    assert(byCluster(3L)._4 === 3L)
    assert(byCluster(21L) === ((21L, 21L, byCluster(21L)._3, 1L)))
  }

  test("maxDocFreq skew guard only prunes, never invents pairs") {
    val unpruned = truthPairs()
    val pruned = Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text",
      n = 3, threshold = 0.5, maxDocFreq = Some(50L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((pruned -- unpruned).isEmpty)
  }

  // --- sharedSpans: span-level (duplicated substring) dedup -----------

  /** Documents over disjoint per-doc vocabularies except for planted
    * spans, so every shingle match comes from a plant. */
  private def spanDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  test("sharedSpans finds a planted span with exact length and positions") {
    // doc 1: 10 unique + span(15) + 5 unique; doc 2: 3 unique + span + 7 unique
    val span = words("s", 15)
    val d1 = (words("a", 10) ++ span ++ words("z", 5)).mkString(" ")
    val d2 = (words("b", 3) ++ span ++ words("y", 7)).mkString(" ")
    val out = Dedup.sharedSpans(spanDocs(1L -> d1, 2L -> d2), "doc_id", "text",
      maxDocFreqFraction = None).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Long]("n_spans") === 1L)
    assert(r.getAs[Long]("max_span") === 15L)
    assert(r.getAs[Int]("start_a") === 10 && r.getAs[Int]("start_b") === 3)
  }

  test("sharedSpans reports multiple spans and picks the longest as max_span") {
    val spanA = words("p", 20)
    val spanB = words("q", 13)
    val d1 = (spanA ++ words("a", 4) ++ spanB).mkString(" ")
    val d2 = (spanB ++ words("b", 6) ++ spanA).mkString(" ")
    val r = Dedup.sharedSpans(spanDocs(1L -> d1, 2L -> d2), "doc_id", "text",
      maxDocFreqFraction = None).collect().head
    assert(r.getAs[Long]("n_spans") === 2L)
    assert(r.getAs[Long]("max_span") === 20L)
    assert(r.getAs[Int]("start_a") === 0 && r.getAs[Int]("start_b") === 19)
  }

  test("sharedSpans ignores spans below minSpanTokens and docs shorter than k") {
    val span = words("s", 11) // below the 12-token floor
    val d1 = (words("a", 8) ++ span).mkString(" ")
    val d2 = (span ++ words("b", 8)).mkString(" ")
    val docs = spanDocs(1L -> d1, 2L -> d2, 3L -> "tiny doc", 4L -> "")
    assert(Dedup.sharedSpans(docs, "doc_id", "text",
      maxDocFreqFraction = None).collect().isEmpty)
  }

  test("sharedSpans doc-freq guard drops boilerplate spans but floors at MinDocFreqFloor") {
    // one 20-token span planted in 7 of 10 docs: df=7 > max(5, 0.1*10)
    val span = words("s", 20)
    val boiler = (1 to 7).map(i =>
      i.toLong -> (words(s"u$i", 5) ++ span).mkString(" "))
    val others = (8 to 10).map(i => i.toLong -> words(s"v$i", 25).mkString(" "))
    val docs = spanDocs(boiler ++ others: _*)
    val guarded = Dedup.sharedSpans(docs, "doc_id", "text").collect()
    assert(guarded.isEmpty, "boilerplate span must be pruned by the relative guard")
    val unguarded = Dedup.sharedSpans(docs, "doc_id", "text",
      maxDocFreqFraction = None).collect()
    assert(unguarded.length === 21, "7 boilerplate docs pair all-with-all unguarded")
    // floor: the same span in only 5 docs stays (df=5 <= floor 5)
    val small = spanDocs(boiler.take(5) ++ others: _*)
    assert(Dedup.sharedSpans(small, "doc_id", "text").collect().length === 10)
  }

  test("contaminationSpans finds an eval passage quoted inside a long training doc") {
    // 14-token eval answer quoted inside a 60-token training doc:
    // whole-doc containment is low but the span is an exact leak
    val answer = words("s", 14)
    val train = spanDocs(
      1L -> (words("a", 30) ++ answer ++ words("z", 16)).mkString(" "),
      2L -> words("c", 40).mkString(" "))
    val eval_ = spanDocs(
      100L -> (words("q", 20) ++ answer).mkString(" "))
    val out = Dedup.contaminationSpans(train, eval_, "doc_id", "text").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("train_id") === 1L && r.getAs[Long]("eval_id") === 100L)
    assert(r.getAs[Long]("max_span") === 14L)
    assert(r.getAs[Int]("start_train") === 30 && r.getAs[Int]("start_eval") === 20)
    // the whole-document containment pass misses this pair at its 0.5
    // threshold (12 of 32 eval 3-grams ≈ 0.375) — the span pass is the
    // one that catches a short quoted answer in a longer eval doc
    val coarse = Dedup.contaminationPairs(train, eval_, "doc_id", "text",
      threshold = 0.5, maxDocFreqFraction = None).collect()
    assert(coarse.isEmpty, "doc-level containment stays under threshold by design")
  }

  test("minhashPairsIncremental equals the cross-split subset of full-corpus minhash pairs") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val full = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = Dedup.minhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      BandIndex.build(Dedup.minhashBanded(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full-corpus pairs are (min,max)-ordered; incremental is
    // (delta, corpus) — normalize before comparing
    val incNorm = inc.map { case (d, c, j) => (math.min(d, c), math.max(d, c), j) }
    val fullCross = full.filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
    assert(incNorm === fullCross,
      s"incremental must find exactly the cross-split pairs (${incNorm.size} vs ${fullCross.size})")
    assert(inc.nonEmpty, "fixture plants cross-split near-duplicates")
  }

  test("sharedSpansIncremental: cross-batch parity with the full-corpus run, and re-ingest safety") {
    import org.apache.spark.sql.functions.col
    // delta ids are all below corpus ids, so the full-corpus (min,max)
    // pair orientation coincides with (delta, corpus) and every column
    // must match exactly; guard OFF on both sides for exact parity
    // (guard-on differs by design: corpus-side doc-freqs only)
    val answer = words("s", 14)
    val delta = spanDocs(
      1L -> (words("a", 30) ++ answer ++ words("z", 16)).mkString(" "),
      2L -> words("c", 40).mkString(" "))
    val corpus = spanDocs(
      100L -> (words("q", 20) ++ answer).mkString(" "),
      101L -> (answer ++ words("y", 25)).mkString(" "),
      102L -> words("w", 35).mkString(" "))
    val full = Dedup.sharedSpans(
      delta.union(corpus), "doc_id", "text", maxDocFreqFraction = None)
      .filter(col("doc_a") < 100 && col("doc_b") >= 100)
      .orderBy("doc_a", "doc_b")
      .collect().map(_.toSeq).toSeq
    val inc = Dedup.sharedSpansIncremental(
      delta, corpus, "doc_id", "text", maxDocFreqFraction = None)
      .orderBy("delta_id", "corpus_id")
      .collect().map(_.toSeq).toSeq
    assert(inc.nonEmpty, "fixture plants cross-batch shared spans")
    assert(inc === full,
      "incremental must reproduce the cross-batch subset of the full-corpus spans")
    // re-ingest: a doc already in the corpus arrives again in the delta
    // with the same id — it must not be reported as its own duplicate
    val reingest = Dedup.sharedSpansIncremental(
      corpus.filter(col("doc_id") === 100L), corpus, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(reingest.forall { case (d, c) => d != c },
      s"self-pairs leaked on re-ingest: ${reingest.filter(p => p._1 == p._2).toSeq}")
  }

  test("persisted incremental indexes reload from parquet and search identically") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString

    // MinHash band index: write → reload → search must equal the
    // direct (index-derived-in-query) run row for row
    val mhIndex = BandIndex.build(Dedup.minhashBanded(corpus, "doc_id", "text"))
    mhIndex.write.mode("overwrite").parquet(s"$dir/mh")
    val mhDirect = Dedup.minhashPairsIncremental(delta, mhIndex, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val mhReloaded = Dedup.minhashPairsIncremental(
      delta, spark.read.parquet(s"$dir/mh"), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(mhDirect.nonEmpty && mhReloaded === mhDirect)

    // span posting index: same round trip
    Dedup.spanPostingIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/span")
    val spDirect = Dedup.sharedSpansIncremental(delta, corpus, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val spReloaded = Dedup.sharedSpansIncrementalFromIndex(
      delta, spark.read.parquet(s"$dir/span"), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(spReloaded === spDirect)
  }

  test("simhashPairsIncremental equals the cross-split subset of full-corpus simhash pairs") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val full = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val inc = Dedup.simhashPairsIncremental(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      BandIndex.build(Dedup.simhashBanded(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val incNorm = inc.map { case (d, c, h) => (math.min(d, c), math.max(d, c), h) }
    val fullCross = full.filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
    assert(incNorm === fullCross,
      s"incremental must find exactly the cross-split pairs (${incNorm.size} vs ${fullCross.size})")
    assert(inc.nonEmpty, "fixture plants cross-split near-duplicates")
    // re-ingest safety: an indexed doc arriving again is not its own dup
    val re = Dedup.simhashPairsIncremental(
      docs.filter(col("doc_id") < 50),
      BandIndex.build(Dedup.simhashBanded(docs, "doc_id", "text")), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(re.forall { case (d, c) => d != c },
      s"self-pairs leaked: ${re.filter(p => p._1 == p._2).toSeq}")
  }

  test("minhashPairsIncremental never reports a re-ingested doc as its own duplicate") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    // re-ingest a slice of the already-indexed corpus verbatim: every
    // delta doc collides with itself in every band at est 1.0, and the
    // self-pair filter must drop exactly those identity pairs while
    // keeping genuine cross-doc duplicates
    val delta = docs.filter(col("doc_id") < 50)
    val pairs = Dedup.minhashPairsIncremental(
      delta, BandIndex.build(Dedup.minhashBanded(docs, "doc_id", "text")), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.forall { case (d, c) => d != c },
      s"self-pairs leaked: ${pairs.filter(p => p._1 == p._2)}")
  }

  test("duplicatedTokenFraction merges overlapping intervals and never double-counts") {
    // doc 1 shares [0,16) with doc 2 and [8,24) with doc 3 → merged
    // coverage [0,24) = 24 of its 30 tokens; identical intervals from
    // multiple partners must also collapse (docs 2,3 vs 1)
    val a = words("a", 16); val b = words("b", 16)
    val d1 = (a ++ b.take(8) ++ words("z", 6)).mkString(" ") // a0..a15 b0..b7 z0..z5
    val d2 = (a ++ words("y", 10)).mkString(" ")             // shares a[0,16)
    val d3 = (a.drop(8) ++ b.take(8) ++ words("x", 10)).mkString(" ") // shares d1[8,24)
    val docs = spanDocs(1L -> d1, 2L -> d2, 3L -> d3)
    val out = Dedup.duplicatedTokenFraction(docs, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 === 30L)
    assert(out(1L)._2 === 24L, s"doc 1 merged coverage: ${out(1L)}")
    assert(math.abs(out(1L)._3 - 24.0 / 30.0) < 1e-12)
    assert(out(2L)._2 === 16L && out(3L)._2 === 16L)
    // all fractions bounded by 1 — the double-count regression guard
    out.values.foreach { case (n, d, f) => assert(d <= n && f <= 1.0) }
  }

  test("duplicatedTokenFraction reports zero for untouched docs and handles short docs") {
    val span = words("s", 14)
    val docs = spanDocs(
      1L -> (span ++ words("a", 6)).mkString(" "),
      2L -> (words("b", 3) ++ span).mkString(" "),
      3L -> words("c", 25).mkString(" "),
      4L -> "tiny")
    val out = Dedup.duplicatedTokenFraction(docs, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((20L, 14L)))
    assert(out(2L) === ((17L, 14L)))
    assert(out(3L) === ((25L, 0L)))
    assert(out(4L) === ((1L, 0L)))
  }

  test("trimSharedSpans removes the copy, keeps the canonical, resolves chains to one survivor") {
    // chain 1 < 2 < 3 all sharing one 14-token span: only doc 1 keeps it
    val span = words("s", 14)
    val docs = spanDocs(
      1L -> (words("a", 5) ++ span).mkString(" "),
      2L -> (span ++ words("b", 5)).mkString(" "),
      3L -> (words("c", 2) ++ span ++ words("d", 3)).mkString(" "),
      4L -> words("e", 20).mkString(" "))
    val out = Dedup.trimSharedSpans(docs, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (((words("a", 5) ++ span).mkString(" "), 0L)),
      "canonical copy untouched")
    assert(out(2L) === ((words("b", 5).mkString(" "), 14L)))
    assert(out(3L) === (((words("c", 2) ++ words("d", 3)).mkString(" "), 14L)))
    assert(out(4L) === ((words("e", 20).mkString(" "), 0L)), "untouched doc byte-identical")
  }

  test("trimSharedSpans merges overlapping removal intervals before cutting") {
    // doc 3 shares [0,16) with doc 1 and [8,24) with doc 2 → one merged
    // cut [0,24), not 32 tokens of double-removal
    val a = words("p", 16); val b = words("q", 16)
    val docs = spanDocs(
      1L -> (a ++ words("u", 9)).mkString(" "),
      2L -> (a.drop(8) ++ b.take(8) ++ words("v", 9)).mkString(" "),
      3L -> (a ++ b.take(8) ++ words("w", 6)).mkString(" "))
    val out = Dedup.trimSharedSpans(docs, "doc_id", "text",
      maxDocFreqFraction = None)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(3L)._2 === 24L, s"merged removal: ${out(3L)}")
    assert(out(3L)._1 === words("w", 6).mkString(" "))
    // docs 1 and 2 are each the min-id side of their spanning pairs
    // ((1,3) and (2,3)); their 8-token overlap (1,2) is below the floor
    assert(out(1L)._2 === 0L)
    assert(out(2L)._2 === 0L)
  }

  test("sharedSpans handles a shingle repeated WITHIN a document (two diagonals, one row)") {
    // doc 1 contains the span twice; doc 2 once → two islands on two
    // diagonals, merged per-pair: n_spans=2, both full-length
    val span = words("s", 12)
    val d1 = (span ++ words("a", 3) ++ span).mkString(" ")
    val d2 = (words("b", 2) ++ span).mkString(" ")
    val r = Dedup.sharedSpans(spanDocs(1L -> d1, 2L -> d2), "doc_id", "text",
      maxDocFreqFraction = None).collect().head
    assert(r.getAs[Long]("n_spans") === 2L)
    assert(r.getAs[Long]("max_span") === 12L)
    assert(r.getAs[Int]("start_a") === 0 && r.getAs[Int]("start_b") === 2)
  }

  test("span machinery survives the quadratic-match adversary: one repeated shingle, n^2 matches") {
    // two docs of n identical tokens: EVERY positional shingle matches
    // every other (n' = n-k+1 shingles ⇒ n'^2 cross-matches) and a
    // within-doc repeat slips the DISTINCT-doc frequency guard by
    // design. The per-(pair, diagonal) aggregation state must stay
    // bounded by n' (one diagonal's run), never buffer the whole n'^2
    // match set in one row — the round-9 self-review regression case.
    import spark.implicits._
    val n = 400
    val text = Seq.fill(n)("x").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val out = Dedup.sharedSpans(
      docs, "doc_id", "text", maxDocFreqFraction = None).collect()
    assert(out.length === 1)
    val r = out.head
    // the longest shared run is the zero diagonal: all n tokens
    assert(r.getAs[Long]("max_span") === n.toLong)
    assert(r.getAs[Int]("start_a") === 0 && r.getAs[Int]("start_b") === 0)
    // one island per diagonal long enough to clear the span floor:
    // diagonals d in (-(n'-12), n'-12) where n' = n-k+1 shingles
    val nShingles = n - Dedup.DefaultSpanK + 1
    val expectedSpans = 2L * (nShingles - Dedup.DefaultMinSpanTokens +
      Dedup.DefaultSpanK - 1) + 1
    assert(r.getAs[Long]("n_spans") === expectedSpans,
      s"one maximal island per qualifying diagonal, got ${r.getAs[Long]("n_spans")}")
  }
}
