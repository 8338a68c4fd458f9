package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Distributed BPE merge training, differential-tested against the
  * driver-side reference implementation (the k-means/zorder pattern):
  * the distributed trainer's merge table must equal the plain-Scala
  * trainer's on the same word counts, rule by rule. */
class BpeTrainSpec extends SparkSpecBase {

  test("distributed trainer equals the driver-side reference on the fixture corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val got = TextAnalysis.bpeTrain(docs, "text", rounds = 8)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq
    // reference input: the same pre-token counts, computed through the
    // same regexp so only the TRAINING loop is under differential test
    val wordFreq = docs
      .select(explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
      .groupBy("word").count()
      .as[(String, Long)].collect().toMap
    val want = ReferenceModels.bpeTrainReference(wordFreq, rounds = 8)
    assert(got === want)
    assert(got.size === 8, "fixture corpus must sustain 8 merge rounds")
    // ranks are 1..8 and counts non-increasing is NOT required (a merge
    // can create a more frequent pair), but every count is positive
    assert(got.map(_._1) === (1 to 8))
    assert(got.forall(_._4 > 0))
  }

  test("greedy merge application is left-to-right and non-overlapping") {
    import spark.implicits._
    // 'aaaa' under the first learned rule (a,a) must count 3 pairs then
    // merge to [aa][aa], NOT [aa][a][a] or an overlapped triple
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(docs, "text", rounds = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m.head === ((1, "a", "a", 3L)))
    // round 2 sees [aa][aa] -> pair (aa,aa) once
    assert(m(1) === ((2, "aa", "aa", 1L)))
  }

  test("encode counts sit between the pre-token floor and the character ceiling, and merges only shrink them") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val enc8 = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", rounds = 8)
      .as[(Long, Long)].collect().toMap
    val enc2 = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", rounds = 2)
      .as[(Long, Long)].collect().toMap
    val bounds = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(TextAnalysis.BpePattern), lit(0)))
        .cast("long").as("floor"))
      .as[(Long, Long)].collect().toMap
    assert(enc8.keySet === bounds.keySet)
    enc8.foreach { case (id, n) =>
      assert(n >= bounds(id), s"doc $id: $n below the one-symbol-per-word floor")
      assert(n <= enc2(id), s"doc $id: more merges must never increase the count")
    }
    assert(enc8.values.sum < enc2.values.sum,
      "8 rounds must compress the corpus strictly more than 2 on this fixture")
  }

  test("training stops early when every word is fully merged") {
    import spark.implicits._
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(docs, "text", rounds = 5)
      .as[(Int, String, String, Long)].collect().toSeq
    // 'ab' -> merge (a,b) -> single symbol -> no pairs left
    assert(m === Seq((1, "a", "b", 1L)))
  }
}
