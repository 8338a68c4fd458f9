package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpecBase
import graft.sources.Tables

class SkewSpec extends SparkSpecBase {

  test("saltedAggregate equals direct groupBy for algebraic aggregates") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy("event_type").agg(
      sum(col("value").cast(DecimalType(18, 2))).as("total"),
      count(col("value")).as("n"),
      min(col("value")).as("lo"),
      max(col("value")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDecimal(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    val salted = Skew.saltedAggregate(ev, Seq("event_type"), Map(
      "total" -> (col("value").cast(DecimalType(18, 2)), "sum"),
      "n" -> (col("value"), "count"),
      "lo" -> (col("value"), "min"),
      "hi" -> (col("value"), "max")), saltFactor = 8)
      .collect().map(r => r.getString(0) ->
        (r.getDecimal(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, (t, n, lo, hi)) =>
      val (dt, dn, dlo, dhi) = direct(k)
      assert(t.compareTo(dt) === 0, s"$k total")
      assert(n === dn && lo === dlo && hi === dhi, k)
    }
  }

  test("AQE splits a skewed shuffle join at runtime (the config-level skew path)") {
    import spark.implicits._
    // the other half of the skew story next to manual salting: AQE's
    // OptimizeSkewedJoin re-plans oversized partitions at runtime. Build
    // a 1-hot-key fact, shrink the skew thresholds so local data
    // qualifies, and assert the executed SMJ is marked skew=true.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = (1L to 60000L)
        .map(i => (if (i % 10 == 0) 7L else i % 1000, i))
        .toDF("k", "payload")
      val dim = (0L until 1000L).map(i => (i, s"d$i")).toDF("k", "tag")
      val qe = fact.join(dim, "k").queryExecution
      assert(qe.toRdd.count() === 60000L) // materialize THIS execution
      val p = qe.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
