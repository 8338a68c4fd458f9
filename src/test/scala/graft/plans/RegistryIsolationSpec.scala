package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkSpecBase
import graft.operators.{Clustering, Dedup, SimilaritySearch, TextAnalysis}
import graft.sources.Tables

/** Operators build their native columns directly (ColumnBridge), so they
  * run on a session that never registered anything and leave its
  * FunctionRegistry and optimizer untouched: the `graft_*` names are only
  * the expressions' `prettyName`s in plans, never registered functions. */
class RegistryIsolationSpec extends SparkSpecBase {

  private val operators: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "minhashPairs" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")),
    "simhashPairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text")),
    "lshNeighbors (1 table)" -> ((s, dir) =>
      SimilaritySearch.lshNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nBits = 3, k = 3)),
    "lshNeighbors (4 tables)" -> ((s, dir) =>
      SimilaritySearch.lshNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nBits = 3, k = 3, nTables = 4)),
    "ivfNeighbors" -> ((s, dir) =>
      SimilaritySearch.ivfNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nCentroids = 8, nProbe = 2, k = 3)),
    // 65 centroids × 64 dims is above LiteralAssignMaxTerms: the native
    // NearestCenter assignment path
    "kmeansAssign (native)" -> ((s, dir) =>
      Clustering.kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 65, iters = 1)),
    "repetitionStats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("operators on a fresh session match the main session and register no graft_* function") {
    assert(65L * 64 > Clustering.LiteralAssignMaxTerms)
    val fresh = spark.newSession()
    operators.foreach { case (name, op) =>
      val got = rows(op(fresh, sfDir))
      assert(got.nonEmpty, s"$name: empty result — vacuous comparison")
      assert(got === rows(op(spark, sfDir)), s"$name: fresh session diverges")
    }
    val graftFns = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"operators registered $graftFns on the session")
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }
}
