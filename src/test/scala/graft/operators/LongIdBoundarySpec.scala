package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

/** The pair walks and ANN scorers take bigint ids only: any other id
  * type is refused up front with an IllegalArgumentException naming the
  * column and its type — never cast, never walked another way. */
class LongIdBoundarySpec extends SparkSpecBase {

  private def docs(idType: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id").cast(idType).as("doc_id"), col("text"))

  private def sigs(idType: String): DataFrame =
    docs(idType).select(col("doc_id"), xxhash64(col("text")).as("sig"))

  private def emb(idType: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast(idType).as("vec_id"), col("embedding"))

  private val entries: Seq[(String, String, String => DataFrame)] = Seq(
    ("minhashPairs", "doc_id", t => Dedup.minhashPairs(docs(t), "doc_id", "text")),
    ("packedSignaturePairs", "doc_id",
      t => Dedup.packedSignaturePairs(sigs(t), "doc_id", "sig", BandIndex.BandPlan(64, 4))),
    ("lshNeighbors", "vec_id",
      t => SimilaritySearch.lshNeighbors(emb(t), "vec_id", "embedding", dim = 64, nBits = 3)),
    ("ivfNeighbors", "vec_id",
      t => SimilaritySearch.ivfNeighbors(emb(t), "vec_id", "embedding", dim = 64,
        nCentroids = 8)))

  for (idType <- Seq("decimal(18,0)", "string"); (op, idCol, run) <- entries)
    test(s"$op refuses a $idType id column by name") {
      val e = intercept[IllegalArgumentException](run(idType))
      assert(e.getMessage.contains(s"'$idCol' is $idType"), e.getMessage)
      assert(e.getMessage.contains(op), e.getMessage)
    }
}
