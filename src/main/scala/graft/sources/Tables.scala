package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Storage

/** Canonical readers for the driver-generated testdata tables
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * Design notes for scale:
  *   - Everything is a plain parquet scan → Catalyst gets full predicate
  *     pushdown + column pruning; callers must NOT cache or collect here.
  *   - Every read goes through [[Storage.readParquet]], which takes the
  *     schema from a driver-side footer read: building a table's frame
  *     starts no Spark job.
  *   - `events.ts` has shipped in two layouts across testdata
  *     regenerations (INT64 TIMESTAMP(NANOS) and native timestamp[us]);
  *     [[events]] branches on the footer schema so both load as
  *     TimestampType with the conversion, when needed, inside the scan
  *     projection (whole-stage codegen, one long div per row).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other    => Storage.readParquet(spark, path(dir, other))
    }

  /** events with `ts` as a proper TimestampType (µs), adapting to however
    * the generator wrote the column. Two layouts have been observed across
    * testdata regenerations:
    *
    *   - parquet `timestamp[us]` (or `[ms]/[s]`): Spark reads a native
    *     Timestamp(NTZ) column — pass it through untouched (just normalize
    *     NTZ → TimestampType via cast so downstream interval arithmetic and
    *     the DuckDB oracle agree on the type).
    *   - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects this
    *     ([PARQUET_TYPE_ILLEGAL]) unless `nanosAsLong` is set, in which
    *     case the column surfaces as a raw long. We convert ns → µs with
    *     integer division *inside the scan projection* so it stays in
    *     whole-stage codegen (one long div per row).
    *
    * The nanosAsLong flag is set once per session and deliberately NOT
    * restored: Spark consults it again at every EXECUTION of an
    * events-derived plan (parquet footer → Catalyst conversion happens
    * per scan, not just at read-schema time), so a save/restore around
    * this read would make a later action on the returned DataFrame throw
    * PARQUET_TYPE_ILLEGAL. The flag's only effect on non-nanos reads —
    * including the timestamp[us] layout — is nil. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(key).forall(_ != "true")) spark.conf.set(key, "true")
    val raw = Storage.readParquet(spark, path(dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case _ =>
        // TimestampNTZType: the generator's naive wall clock is the UTC
        // rendering of the instant (the same epoch micros the INT64
        // layout stores), so interpret it as UTC REGARDLESS of the
        // session time zone. A bare cast interprets the wall clock in
        // the session zone — under America/New_York every instant
        // shifts 5h and the two physical layouts of the same data
        // disagree; from_utc_timestamp reverses the session-zone
        // interpretation exactly (TablesSpec proves session-
        // independence). Known corner: wall times inside a DST
        // transition hour of the session zone are ambiguous for the
        // cast — absent from UTC-generated data.
        raw.withColumn("ts", from_utc_timestamp(
          col("ts").cast(org.apache.spark.sql.types.TimestampType),
          spark.conf.get("spark.sql.session.timeZone")))
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every table as a temp view (idempotent) so SQL-text entry
    * points (SURVEY §2 A22) can run against the same relations the DuckDB
    * oracle sees. Views are lazy and their schemas come from memoized
    * driver-side footer reads, so registering starts no Spark job; it is
    * still memoized per (session, dir), so repeated query invocations in
    * one session do not even re-list the files. */
  private val registered =
    new java.util.WeakHashMap[SparkSession, String]()

  def registerAll(spark: SparkSession, dir: String): Unit =
    registered.synchronized {
      // keyed by the session OBJECT (weakly, so dropped sessions don't
      // pin memory) and tracking the LAST dir registered: switching a
      // session between sfDirs re-registers every time, so SQL-text
      // queries can never silently read a stale scale factor.
      if (registered.get(spark) != dir) {
        all.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
        registered.put(spark, dir)
      }
    }
}
