package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.NativeFunctions.maxMultNgram
import graft.operators.ReferenceModels.{grams, topRunCountHof}

class MaxMultiplicityExprSpec extends SparkSpecBase {

  import spark.implicits._

  test("graft_maxmult_ngram equals topRunCountHof∘grams (corpus + random + degenerate)") {
    // the real corpus (the ta_repetition input) at the gated n = 2, 3
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
    // random token arrays over a tiny vocabulary (rich repeat structure),
    // plus degenerate shapes: empty, shorter than n, single token
    val rnd = new scala.util.Random(0xF00D)
    val synth = ((1 to 300).map { i =>
      (100000L + i, (0 until rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(5)}"))
    } ++ Seq((200001L, Seq.empty[String]), (200002L, Seq("solo"))))
      .toDF("id", "t")
    // null ELEMENTS: concat_ws skips them — the fused fallback must agree
    val nullElem = spark.sql(
      "SELECT 0L AS id, array('a', CAST(NULL AS STRING), 'a', NULL, 'a') AS t")
    Seq(docs, synth, nullElem).foreach { df =>
      Seq(2, 3).foreach { n =>
        val bad = df.select(
            maxMultNgram(col("t"), n).as("fused"),
            topRunCountHof(grams(col("t"), n)).as("composed"))
          .filter(!(col("fused") <=> col("composed"))).count()
        assert(bad === 0L, s"n=$n: fused n-gram maxmult diverges from the composition")
      }
    }
    // a null array is null; fewer than n tokens count 0
    val edge = Seq((1L, None), (2L, Some(Seq("x")))).toDF("id", "t")
      .select(col("id"), maxMultNgram(col("t"), 2).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(edge === Map(1L -> None, 2L -> Some(0L)))
  }
}
