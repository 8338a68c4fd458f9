package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** HeavyHitters: the gate (sk_heavy_hitters) proves end-to-end equality
  * with the exact oracle at fixture scale, where the tiny vocabulary
  * never fills a 2000-counter sketch — so the COMPRESS path (the
  * decrement/evict branch that makes the memory bound real) would be
  * dormant without this spec. Here tiny capacities over randomized
  * skewed streams drive eviction constantly, and we assert the two
  * properties the operator's correctness argument rests on:
  *
  *   1. the per-partition summary respects its memory bound
  *      (≤ capacity survivors) and the undercount bound
  *      (est ≤ true ≤ est + n_p/capacity);
  *   2. the end-to-end two-phase result EQUALS the exact
  *      GROUP-BY/HAVING answer whenever capacity > 1/φ — i.e. the
  *      sketch never costs an answer, under every seed and partition
  *      layout tried.
  */
class HeavyHittersSpec extends SparkSpecBase {
  import HeavyHitters.misraGries

  /** Zipf-ish skewed stream over `vocab` items: item i with weight
    * 1/(i+1), the shape where a sketch earns its keep. */
  private def skewedStream(rnd: Random, n: Int, vocab: Int): Seq[String] = {
    val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
    val cum = w.scanLeft(0.0)(_ + _).tail
    val tot = cum.last
    Seq.fill(n) {
      val x = rnd.nextDouble() * tot
      val i = cum.indexWhere(x <= _)
      s"w${if (i < 0) vocab - 1 else i}"
    }
  }

  test("misraGries: memory bound and undercount bound hold under eviction") {
    for (seed <- 1 to 5; cap <- Seq(2, 4, 8)) {
      val rnd = new Random(seed)
      val stream = skewedStream(rnd, 2000, 50)
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val s = misraGries(stream.iterator, cap)
      assert(s.total == stream.size)
      assert(s.grams.length <= cap, s"cap=$cap seed=$seed kept ${s.grams.length}")
      val err = stream.size.toLong / cap
      s.grams.zip(s.counts).foreach { case (g, est) =>
        val t = exact(g)
        assert(est <= t && t <= est + err,
          s"cap=$cap seed=$seed gram=$g est=$est true=$t err=$err")
      }
      // survival guarantee: anything with count > n/cap is in the summary
      val kept = s.grams.toSet
      exact.foreach { case (g, t) =>
        if (t > err) assert(kept.contains(g), s"cap=$cap seed=$seed lost $g ($t > $err)")
      }
    }
  }

  test("two-phase heavy hitters equals the exact aggregate under constant eviction") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- 1 to 3; parts <- Seq(1, 3, 7)) {
      val rnd = new Random(100 + seed)
      // documents of 20 tokens each → bigram stream with Zipf skew
      val docs = Seq.tabulate(120) { i =>
        (i.toLong, skewedStream(rnd, 20, 40).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(parts)
      val phi = 0.02
      // capacity 2/phi = 100 >> forced down to the guarantee edge: just
      // above 1/phi, so eviction runs while the superset bound holds
      val got = HeavyHitters.heavyHitters(df, "text", n = 2, phi = phi,
          capacity = (1 / phi).toInt + 7)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val grams = docs.flatMap(_._2.split(" ").sliding(2).map(_.mkString(" ")))
      val thr = math.ceil(phi * grams.size).toLong
      val want = grams.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
        .filter(_._2 >= thr).toSeq.sortBy { case (g, c) => (-c, g) }
      assert(got == want, s"seed=$seed parts=$parts")
    }
  }

  private def exactHh(docs: Seq[(Long, String)], phi: Double): Seq[(String, Long)] = {
    val grams = docs.flatMap(_._2.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")))
    val thr = math.ceil(phi * grams.size).toLong
    grams.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .filter(_._2 >= thr).toSeq.sortBy { case (g, c) => (-c, g) }
  }

  test("index: from-index serving equals from-scratch for any served phi") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(7)
    val docs = Seq.tabulate(80)(i => (i.toLong, skewedStream(rnd, 25, 30).mkString(" ")))
    val df = docs.toDF("doc_id", "text").repartition(5)
    val path = java.nio.file.Files.createTempDirectory("hh-idx").toString
    HeavyHitters.buildIndex(df, "text", path, n = 2, capacity = 64)
    for (phi <- Seq(0.02, 0.05)) {
      val got = HeavyHitters.heavyHittersFromIndex(spark, path, phi)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exactHh(docs, phi), s"phi=$phi")
    }
    // the sidecar guards the guarantee: a phi finer than the built
    // capacity must be refused, not silently under-served
    intercept[IllegalArgumentException] {
      HeavyHitters.heavyHittersFromIndex(spark, path, 0.01)
    }
  }

  test("incremental: exact over corpus ∪ delta, fresh-crosser recount both dormant and active") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(11)
    val corpus = Seq.tabulate(100)(i => (i.toLong, skewedStream(rnd, 25, 30).mkString(" ")))
    val cdf = corpus.toDF("doc_id", "text").repartition(4)
    val path = java.nio.file.Files.createTempDirectory("hh-idx-inc").toString
    HeavyHitters.buildIndex(cdf, "text", path, n = 2, capacity = 64)

    // dormant posture: delta drawn from the same distribution — every
    // heavy gram is already an indexed candidate, no corpus re-read
    val delta1 = Seq.tabulate(20)(i => (1000L + i, skewedStream(rnd, 25, 30).mkString(" ")))
    val got1 = HeavyHitters.heavyHittersIncremental(
        cdf, delta1.toDF("doc_id", "text"), "text", path, phi = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got1 == exactHh(corpus ++ delta1, 0.05))

    // active posture: the delta hammers a gram ABSENT from the corpus
    // ("zz qq" repeated), which must newly cross via the recount path —
    // and its corpus count (zero) must come back exact
    val delta2 = delta1 ++ Seq.tabulate(10)(i =>
      (2000L + i, Seq.fill(30)("zz qq").mkString(" ").split(" ").mkString(" ")))
    val got2 = HeavyHitters.heavyHittersIncremental(
        cdf, delta2.toDF("doc_id", "text"), "text", path, phi = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want2 = exactHh(corpus ++ delta2, 0.05)
    assert(got2 == want2)
    assert(want2.exists(_._1 == "zz qq"), "fixture must exercise a fresh crosser")
  }

  test("incremental dormant posture provably never opens the corpus (physical deletion)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(23)
    val corpus = Seq.tabulate(60)(i => (i.toLong, skewedStream(rnd, 25, 30).mkString(" ")))
    val corpusDir = java.nio.file.Files.createTempDirectory("hh-corpus").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val corpusDf = spark.read.parquet(corpusDir)
    val path = java.nio.file.Files.createTempDirectory("hh-idx-del").toString
    HeavyHitters.buildIndex(corpusDf, "text", path, n = 2, capacity = 64)

    // the LshIndexSpec convention: delete the corpus files outright —
    // if the dormant ingest touched them at all it would throw, so a
    // green run PROVES the O(Δ) claim physically, not just in-plan
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpusDir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.delete)

    val delta = Seq.tabulate(15)(i => (500L + i, skewedStream(rnd, 25, 30).mkString(" ")))
    val got = HeavyHitters.heavyHittersIncremental(
        corpusDf, delta.toDF("doc_id", "text"), "text", path, phi = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exactHh(corpus ++ delta, 0.05))
    assert(got.nonEmpty)
  }

  test("short and empty documents contribute no n-grams") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, ""), (2L, "one"), (3L, "a b a b a b")).toDF("doc_id", "text")
    val out = HeavyHitters.heavyHitters(df, "text", n = 2, phi = 0.3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 5 bigrams total from doc 3: "a b"×3, "b a"×2; thr = ceil(1.5) = 2
    assert(out == Seq(("a b", 3L), ("b a", 2L)))
  }
}
