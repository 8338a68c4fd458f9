package graft.store

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout — the shuffle-elimination strategy for the
  * joins a 100 TB warehouse runs every day. Writing both sides of a
  * recurring join bucketed (and sorted) BY THE JOIN KEY with the same
  * bucket count lets Spark plan a SortMergeJoin with NO exchange on
  * either side: each task zips bucket i of the left table with bucket i
  * of the right. The shuffle is paid once at write time and amortized
  * over every subsequent join — the same contract as Hive bucketing,
  * executed by Spark's native bucketed parquet source.
  *
  * At 1000 executors the difference is not latency but network: a
  * shuffle join of two 100 TB tables moves both across the wire; a
  * co-bucketed join moves nothing.
  */
object Bucketing {

  /** Save `df` as a bucketed+sorted parquet table registered in the
    * session catalog. `path` makes it external (required for tests and
    * for any table not under the warehouse root). */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
      nBuckets: Int, path: Option[String] = None): Unit = {
    require(nBuckets >= 1)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
