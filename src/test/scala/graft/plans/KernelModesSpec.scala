package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.NativeFunctions
import graft.functions.{TextFunctions, VectorFunctions}

/** Eval ≡ codegen for the native kernels that eval and codegen share:
  * the same query runs once fully compiled (whole-stage codegen on,
  * CODEGEN_ONLY, no fallback) and once fully interpreted (whole-stage
  * codegen off, NO_CODEGEN), over hostile inputs — null arrays, null
  * elements, length/dim mismatch, empty arrays. Inputs are read back
  * from parquet so no optimizer rule can evaluate the projection
  * before execution. */
class KernelModesSpec extends SparkSpecBase {

  import spark.implicits._

  private val dir = Files.createTempDirectory("graft-kernel-modes").toString

  private def stored(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Doubles compared by bit image, arrays element-wise. */
  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).sortBy(_.head.asInstanceOf[Long])

  /** Runs `out` over `input` compiled and interpreted; asserts equal
    * results and that the compiled plan keeps `fn` inside a
    * whole-stage-codegen stage. */
  private def assertModesAgree(input: DataFrame, fn: String, out: Column*): Unit = {
    val q = () => input.select(col("id") +: out: _*)
    val compiled = withConf(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(s"""\\*\\(\\d+\\) Project \\[[^\\n]*$fn""".r.findFirstIn(plan).nonEmpty, plan)
      canon(df.collect())
    }
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      canon(q().collect())
    }
    assert(compiled === interpreted)
  }

  private val vectors = Seq[(Long, Option[Seq[Option[Double]]])](
    (1L, Some(Seq(Some(0.5), Some(-1.0), Some(2.0), Some(0.25)))),
    (2L, Some(Seq(Some(3.0), Some(0.0), Some(-0.5), Some(1.5)))),
    (3L, None),                                            // null array
    (4L, Some(Seq(Some(1.0), None, Some(1.0), Some(1.0)))), // null element
    (5L, Some(Seq(Some(1.0), Some(2.0), Some(3.0)))),       // dim mismatch
    (6L, Some(Seq.empty)),                                  // empty
    (7L, Some(Seq(Some(Double.NaN), Some(1.0), Some(1.0), Some(1.0)))))

  private val centers = Array(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
    Array(0.5, 0.5, 0.5, 0.5), Array(1.0, 0.0, 0.0, 0.0)) // tie with cid 10
  private val cids = Array(10L, 20L, 30L, 40L)

  test("DotProduct: eval and codegen agree (nulls, mismatch, empty, NaN)") {
    val df = stored("dot", vectors.map { case (id, v) =>
      (id, v, v.map(_.reverse))
    }.toDF("id", "a", "b"))
    assertModesAgree(df, "graft_dot",
      VectorFunctions.dot(col("a"), col("b")).as("ab"),
      VectorFunctions.dot(col("a"), col("a")).as("aa"),
      VectorFunctions.dot(col("a"), array(lit(1.0), lit(1.0), lit(1.0), lit(1.0))).as("a1"))
  }

  test("MinHashSignature: eval and codegen agree (nulls, empty, md5 and fast hashes)") {
    val df = stored("minhash", Seq[(Long, Option[Seq[String]])](
      (1L, Some(Seq("a b c", "b c d", "c d e"))),
      (2L, None),
      (3L, Some(Seq("x", null, "y"))),
      (4L, Some(Seq.empty))).toDF("id", "sh"))
    assertModesAgree(df, "graft_minhash",
      NativeFunctions.minhash(col("sh"), 16, fast = false).as("md5"),
      NativeFunctions.minhash(col("sh"), 16, fast = true).as("xx"))
  }

  test("NearestCenter: eval and codegen agree (nulls, dim mismatch, empty, ties)") {
    val df = stored("nearest", vectors.toDF("id", "v"))
    assertModesAgree(df, "graft_nearest_center",
      NativeFunctions.nearestCenter(col("v"), centers, cids).as("c"))
  }

  test("NearestCenters: eval and codegen agree (nulls, dim mismatch, empty, ties)") {
    val df = stored("nearests", vectors.toDF("id", "v"))
    assertModesAgree(df, "graft_nearest_centers",
      NativeFunctions.nearestCenters(col("v"), centers, cids, 3).as("cs"))
  }

  private val tokenArrays = Seq[(Long, Option[Seq[String]])](
    (1L, Some(Seq("the", "quick", "brown", "fox", "jumps"))),
    (2L, None),                              // null array
    (3L, Some(Seq.empty)),                   // empty
    (4L, Some(Seq("solo"))),                 // single token
    (5L, Some(Seq("a", null, "b", "c"))))    // null element

  test("SimHash64: eval and codegen agree (null, empty, single token, null element)") {
    val df = stored("simhash", tokenArrays.toDF("id", "toks"))
    assertModesAgree(df, "graft_simhash64",
      NativeFunctions.simhash64(col("toks")).as("sig"))
  }

  test("SpanKeys: eval and codegen agree (null, empty, single token, md5 and fast hashes)") {
    val df = stored("spankeys", tokenArrays.toDF("id", "toks"))
    assertModesAgree(df, "graft_span_keys",
      TextFunctions.positionalShingleKeys(col("toks"), 1).as("k1"),
      TextFunctions.positionalShingleKeys(col("toks"), 3).as("k3"),
      TextFunctions.positionalShingleKeys(col("toks"), 3, fast = true).as("k3x"))
  }

  test("ScoreTopK: eval and codegen agree with NULL-vector members") {
    val df = stored("scoretopk", Seq[(Long, Option[Seq[(Long, Option[Seq[Double]], Option[Double])]])](
      (1L, Some(Seq((1L, Some(Seq(1.0, 0.0)), Some(1.0)),
        (2L, Some(Seq(1.0, 1.0)), Some(math.sqrt(2.0))),
        (3L, None, None), (4L, None, None)))),
      (2L, Some(Seq((5L, None, None), (6L, None, None)))), // only NULL vectors
      (3L, None),
      (4L, Some(Seq.empty))).toDF("id", "ms"))
    assertModesAgree(df, "graft_score_topk",
      NativeFunctions.scoreTopK(col("ms"), col("ms"), 2).as("top"))
    val top = df.select(NativeFunctions.scoreTopK(col("ms"), col("ms"), 2))
      .collect().flatMap(r => Option(r.getSeq[Row](0)).toSeq.flatten)
      .map(p => (p.getLong(0), p.getLong(1))).toSet
    assert(top === Set((1L, 2L), (2L, 1L)))
  }

  test("ScoreTopK: eval and codegen agree with NULL-norm members (a vector with a NULL element)") {
    val df = stored("scoretopk_nullnorm", Seq[(Long, Seq[(Long, Seq[Option[Double]], Option[Double])])](
      (1L, Seq((1L, Seq(Some(1.0), Some(0.0)), Some(1.0)),
        (2L, Seq(Some(1.0), Some(1.0)), Some(math.sqrt(2.0))),
        (3L, Seq(Some(1.0), None), None), (4L, Seq(Some(1.0), None), None))),
      (2L, Seq((5L, Seq(None, Some(1.0)), None), (6L, Seq(None, Some(1.0)), None)))).toDF("id", "ms"))
    assertModesAgree(df, "graft_score_topk",
      NativeFunctions.scoreTopK(col("ms"), col("ms"), 2).as("top"))
    val top = df.select(NativeFunctions.scoreTopK(col("ms"), col("ms"), 2))
      .collect().flatMap(r => Option(r.getSeq[Row](0)).toSeq.flatten)
      .map(p => (p.getLong(0), p.getLong(1))).toSet
    assert(top === Set((1L, 2L), (2L, 1L)))
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    super.afterAll()
  }
}
