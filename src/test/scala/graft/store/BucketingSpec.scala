package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

class BucketingSpec extends SparkSpecBase {

  test("co-bucketed tables join with ZERO exchanges (shuffle paid at write time)") {
    val dir = Files.createTempDirectory("graft_bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketing.writeBucketed(Tables.customer(spark, sfDir), "bkt_customer",
        "c_custkey", nBuckets = 4, path = Some(s"$dir/customer"))
      Bucketing.writeBucketed(
        Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice"),
        "bkt_orders", "o_custkey", nBuckets = 4, path = Some(s"$dir/orders"))
      // disable broadcast so the co-location (not a broadcast) is what
      // eliminates the exchanges — the shape that matters when BOTH
      // sides are 100 TB facts
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark,
        "bkt_customer", "bkt_orders", "c_custkey", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right join
      val expected = Tables.customer(spark, sfDir).join(
        Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
    }
  }
}
