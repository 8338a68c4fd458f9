package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.{NativeFunctions, TextFunctions}
import graft.operators.{Dedup, ReferenceModels}
import graft.sources.Tables

class MinHashSignatureExprSpec extends SparkSpecBase {

  test("native expression is bit-identical to the HOF formulation") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
    val both = docs.select(
      col("doc_id"),
      ReferenceModels.minhashSignature(col("sh"), 64).as("hof"),
      NativeFunctions.minhash(col("sh"), 64, fast = false).as("native"))
    val mismatches = both.filter(col("hof") =!= col("native")).count()
    assert(mismatches === 0)
  }

  test("native expression participates in codegen (no fallback)") {
    val plan = Tables.documents(spark, sfDir)
      .select(NativeFunctions.minhash(split(col("text"), " "), 16, fast = false))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [graft_minhash"), plan)
  }

  test("minhashPairs native and HOF paths agree end-to-end") {
    // the native operator vs the reference banded walk over signatures
    // computed by the HOF ReferenceModels.minhashSignature
    val docs = Tables.documents(spark, sfDir)
    val nat = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hof = ReferenceModels.bandedPairs(
      ReferenceModels.minhashSigs(docs, "doc_id", "text"), Dedup.DefaultMinhashBands,
      ReferenceModels.arraySlice[Long](Dedup.DefaultMinhashK / Dedup.DefaultMinhashBands),
      ReferenceModels.estJaccard, Some(Dedup.DefaultMaxBucket))
      .filter(_._3 >= Dedup.DefaultMinhashThreshold)
    assert(nat === hof)
    assert(nat.nonEmpty)
  }

  test("fast (xxhash64) mode: native and HOF agree bit-for-bit; md5 default untouched") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = docs.select(
      ReferenceModels.minhashSignature(col("sh"), 64, fast = true).as("hof_xx"),
      NativeFunctions.minhash(col("sh"), 64, fast = true).as("native_xx"),
      ReferenceModels.minhashSignature(col("sh"), 64).as("hof_md5"),
      NativeFunctions.minhash(col("sh"), 64, fast = false).as("native_md5"))
    assert(both.filter(col("hof_xx") =!= col("native_xx")).count() === 0)
    assert(both.filter(col("hof_md5") =!= col("native_md5")).count() === 0)
    // and fast mode is a genuinely different hash family, not a no-op
    assert(both.filter(col("hof_xx") === col("hof_md5")).count() === 0)
  }

  test("fast minhashPairs recovers the exact-jaccard ground truth like the md5 path") {
    val docs = Tables.documents(spark, sfDir)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", fast = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"fast-hash recall $recall over ${truth.size} true pairs")
  }
}
