package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys at cluster scale. AQE handles
  * skewed *sort-merge joins* automatically; a skewed *aggregation* key
  * (one user producing 1% of 100 TB) still serializes into a single
  * reducer. Two-phase salted aggregation breaks that: phase 1 aggregates
  * (key, salt) across `saltFactor` reducers, phase 2 merges the ≤
  * saltFactor partials per key — a shuffle of saltFactor·keys tiny rows.
  *
  * Only algebraic aggregates decompose this way (sum/count/min/max —
  * avg = sum/count at the end); that restriction is inherent, not an
  * implementation limit.
  */
object Skew {

  /** groupBy(keys).agg(sum/count/min/max) with salting. `aggs` maps
    * output column name → (valueColumn, "sum"|"count"|"min"|"max"). */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[String],
      aggs: Map[String, (Column, String)],
      saltFactor: Int = 16): DataFrame = {
    require(saltFactor > 0)
    // deterministic salt: spread rows by a hash of the whole row's
    // monotonically-unstable bits is NOT reproducible — use a cheap
    // hash of a value column + spark_partition_id to stay deterministic
    // per row placement-independent where possible; pmod of xxhash64
    // over all agg inputs is sufficient spread for hot keys.
    val saltSrc = aggs.values.map(_._1).toSeq
    val salted = df.withColumn("__salt",
      pmod(xxhash64(saltSrc :+ spark_partition_id(): _*), lit(saltFactor)))

    def apply1(fn: String, c: Column): Column = fn match {
      case "sum" => sum(c)
      case "count" => count(c)
      case "min" => min(c)
      case "max" => max(c)
    }
    val partials = aggs.toSeq.map { case (name, (c, fn)) =>
      apply1(fn, c).as(s"__p_$name")
    }
    val finals = aggs.toSeq.map { case (name, (_, fn)) =>
      val merge = if (fn == "count") "sum" else fn // counts merge by summing
      apply1(merge, col(s"__p_$name")).as(name)
    }
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(partials.head, partials.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }
}
