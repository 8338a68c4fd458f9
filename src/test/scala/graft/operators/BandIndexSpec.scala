package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.BandIndex.BandPlan
import graft.sources.Tables

/** The banded-signature index contract, table-driven over the MinHash,
  * SimHash and pHash families and over band plans (the pHash fine cut
  * and both multiprobe rungs, SimHash's deep rung): an incremental
  * search against a built index returns exactly the cross-split subset
  * of the full pairs, scores included, and a written bucketed index
  * probes with one delta-side exchange and the in-plan index's answer.
  * Split convention: doc_id%5 = 0 is the delta, the rest the corpus. */
class BandIndexSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  /** One family at one plan over the fixture. `banded(part)` bands the
    * docs (or images) whose doc_id satisfies `part`; `inc` searches an
    * index with delta rows; `full` is the uncapped full-pair run. */
  private case class Family(name: String,
      banded: Column => DataFrame,
      inc: (Column, DataFrame) => DataFrame,
      full: () => DataFrame)

  private def images(part: Column) = Multimodal.syntheticImagesFromText(
    docs.filter(pmod(col("doc_id"), lit(3)) === 0).filter(part), "doc_id", "text")

  private val minhash = Family("minhash",
    part => Dedup.minhashBanded(docs.filter(part), "doc_id", "text"),
    (part, idx) => Dedup.minhashPairsIncremental(docs.filter(part), idx, "doc_id", "text"),
    () => Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = None))

  private def simhash(plan: BandPlan) = Family(s"simhash ${plan.bands}x${plan.flips}",
    part => Dedup.simhashBanded(docs.filter(part), "doc_id", "text", plan),
    (part, idx) => Dedup.simhashPairsIncremental(docs.filter(part), idx, "doc_id", "text", plan),
    () => Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = None))

  private def phash(plan: BandPlan) = Family(s"phash ${plan.bands}x${plan.flips}",
    part => PerceptualHash.phashBanded(images(part), plan),
    (part, idx) => PerceptualHash.phashPairsIncremental(images(part), idx, plan),
    () => PerceptualHash.phashPairs(images(lit(true)), maxBucket = None))

  private def phashPlan(bands: Int, flips: Int) =
    BandPlan(PerceptualHash.PhashBits, bands, flips)

  private val families = Seq(
    minhash,
    simhash(Dedup.DefaultSimhashPlan),
    phash(phashPlan(9, 0)), phash(phashPlan(7, 1)), phash(phashPlan(3, 2)))

  private val isDelta = pmod(col("doc_id"), lit(5)) === 0

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Number](2).doubleValue)).toSet

  for (f <- families)
    test(s"${f.name}: incremental against an uncapped built index equals the " +
      "cross-split subset of the full pairs") {
      val inc = triples(f.inc(isDelta, BandIndex.build(f.banded(!isDelta), maxBucket = None)))
        .map { case (d, c, s) => (math.min(d, c), math.max(d, c), s) }
      val fullCross = triples(f.full())
        .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      assert(inc.nonEmpty, "fixture plants cross-split near-duplicates")
      assert(inc === fullCross)
    }

  private def withNoBroadcast[A](body: => A): A = {
    // at fixture scale the delta would broadcast, which proves nothing
    // about the bucketed layout
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** One bb-partitioned exchange (the delta's) and a bucketed corpus
    * scan, counted in AQE's final plan only (the trailing "Initial
    * Plan" section repeats every node). */
  private def assertDeltaOnlyExchange(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bbExchanges = """Exchange hashpartitioning\(bb#""".r.findAllIn(plan).length
    assert(bbExchanges === 1,
      s"expected exactly 1 bb-exchange (delta side), got $bbExchanges:\n$plan")
    assert(plan.contains("Bucketed: true"), s"corpus side must be a bucketed scan:\n$plan")
  }

  for (f <- Seq(minhash, simhash(Dedup.DefaultSimhashPlan), simhash(BandPlan(64, 2, 1)),
      phash(phashPlan(3, 2))))
    test(s"${f.name}: write, probe — delta-only exchange, " +
      "equals the in-plan capped index") {
      val table = "band_idx_spec_" + f.name.replaceAll("[^a-z0-9]", "_")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      BandIndex.write(BandIndex.build(f.banded(!isDelta)), table, nBuckets = 4,
        path = Some(Files.createTempDirectory("graft-band-idx").toString))
      try withNoBroadcast {
        val via = f.inc(isDelta, spark.table(table))
        val reference = f.inc(isDelta, BandIndex.build(f.banded(!isDelta)))
        def rows(df: DataFrame) = df.orderBy("delta_id", "corpus_id").collect().toSeq
        val got = rows(via)
        assert(got.nonEmpty && got === rows(reference))
        assertDeltaOnlyExchange(via)
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
}
