package graft.pipeline

import org.apache.spark.sql.types._

/** Trusted-layer schema registry — the Spark counterpart of the
  * reference's `TRUSTED_SCHEMAS` dict (src/utils/schema_registry.py:3-62):
  * one entry per trusted table with columns, partition columns and
  * location suffix.
  *
  * Two deliberate semantic choices (SURVEY.md §1.3-1.4, §7 hazards):
  *   - date/timestamp-like columns stay StringType: the reference's
  *     queries do *lexicographic* comparisons on ISO-8601 strings
  *     (`SUBSTRING(ts,1,10)`, `MIN(session_id)`), so typed timestamps
  *     would change results.
  *   - unlike the reference (whose trusted writer never enforces its
  *     registry — schema_registry.py is aspirational), `enforce = true`
  *     casts on write; `enforce = false` reproduces the lax reference
  *     behavior byte-for-byte.
  */
object SchemaRegistry {

  /** Partition column appended to every trusted table
    * (raw_to_trusted_processor.py:131-132). */
  val PartitionCol = "ingestion_date"

  case class TableDef(
      name: String,
      schema: StructType,
      sourceFormat: String, // "csv" | "jsonl"
      locationSuffix: String) {
    def trustedName: String = s"trusted_$name"
    def withPartition: StructType =
      StructType(schema.fields :+ StructField(PartitionCol, StringType, nullable = true))
  }

  /** users — ref schema_registry.py:4-12; CSV per FIXTURES.md §1. */
  val users: TableDef = TableDef(
    "users",
    StructType(Seq(
      StructField("user_id", StringType),
      StructField("signup_date", StringType),
      StructField("subscription_tier", StringType),
      StructField("age_group", StringType),
      StructField("gender", StringType))),
    "csv", "users")

  /** videos — ref schema_registry.py:15-24 ("patent_id" per the CSV
    * header, not the Trino DDL's parent_id; FIXTURES.md §2). */
  val videos: TableDef = TableDef(
    "videos",
    StructType(Seq(
      StructField("video_id", StringType),
      StructField("title", StringType),
      StructField("genre", StringType),
      StructField("duration_seconds", IntegerType),
      StructField("patent_id", StringType))),
    "csv", "videos")

  /** devices — ref schema_registry.py:27-36. */
  val devices: TableDef = TableDef(
    "devices",
    StructType(Seq(
      StructField("device", StringType),
      StructField("os", StringType),
      StructField("model", StringType),
      StructField("os_version", DecimalType(3, 1)))),
    "csv", "devices")

  /** events — ref schema_registry.py:39-57 / trino_client.py:281-295;
    * timestamp deliberately a string (see object scaladoc). */
  val events: TableDef = TableDef(
    "events",
    StructType(Seq(
      StructField("timestamp", StringType),
      StructField("account_id", StringType),
      StructField("video_id", StringType),
      StructField("user_id", StringType),
      StructField("event_name", StringType),
      StructField("value", DoubleType),
      StructField("device", StringType),
      StructField("app_version", StringType),
      StructField("device_os", StringType),
      StructField("network_type", StringType),
      StructField("ip", StringType),
      StructField("country", StringType),
      StructField("session_id", StringType))),
    "jsonl", "events")

  val all: Seq[TableDef] = Seq(users, videos, devices, events)

  def get(name: String): Option[TableDef] = all.find(_.name == name)
}
