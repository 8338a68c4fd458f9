package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps each gate name to a `(spark, sfDir) => DataFrame`;
  * `oracleSql` carries the DuckDB-equivalent SQL the driver
  * hash-compares against at sf0.01. Both maps come from one registry,
  * [[gates]]: each family object declares its gates once, with query,
  * oracle and construct budget on the same line.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pricing-summary aggregate (scan → filter → hash agg → sort). */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every oracle-gated query, family by family. */
  val gates: Seq[Gate] = Gate.uniquelyNamed(
    RelationalQueries.gates ++ DedupQueries.gates ++ ImageQueries.gates ++
      AnnQueries.gates ++ TextQueries.gates ++ CurationQueries.gates ++
      SketchQueries.gates ++ OpsQueries.gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  val oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
