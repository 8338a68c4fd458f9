package graft.pipeline

import java.util.concurrent.Executors

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.store.{LayerPaths, Storage}

/** Stage 2: raw → trusted. For each registry table: read the raw daily
  * file (CSV or JSONL), append the `ingestion_date` literal, optionally
  * enforce the registry schema, and write Snappy parquet partitioned by
  * ingestion_date — ref raw_to_trusted_processor.py:86-211. Per-table
  * failures are isolated (the remaining tables still load) and reported
  * in the JobResult — ref :114-116, 181-186.
  *
  * Scale: in enforce mode each table is one Spark job, its write. Raw
  * files are read with their registry types (no inference scan), the
  * row count is observed while the write runs (no read-back), and the
  * tables load concurrently, one driver thread each. Reads and writes
  * stream through executors (nothing is collected to the driver), and
  * the partition layout gives downstream queries pruning on
  * ingestion_date for free. Post-processing also rebuilds the gold
  * `gold_user_sessions` table ([[UserSessions]]) the notebook's Q1–Q3
  * statements read, so `Pipeline.run` still returns one result per
  * stage.
  */
class RawToTrusted(
    spark: SparkSession,
    paths: LayerPaths,
    ingestionDate: String,
    enforceSchema: Boolean = true,
    tables: Seq[SchemaRegistry.TableDef] = SchemaRegistry.all)
    extends Processor[Seq[(SchemaRegistry.TableDef, Try[DataFrame])]] {

  override def jobName: String = s"raw_to_trusted[$ingestionDate]"

  /** Read each table's raw file — dispatch on registered source format
    * (ref raw_to_trusted_processor.py:100-104). Enforce mode reads with
    * the registry types, so no schema-inference job runs; lax mode
    * infers, as the reference does. */
  override def extract(): Seq[(SchemaRegistry.TableDef, Try[DataFrame])] =
    tables.map { t =>
      val ext = if (t.sourceFormat == "jsonl") "jsonl" else "csv"
      val path = paths.rawKey(ingestionDate, s"${t.name}_$ingestionDate.$ext")
      t -> Try {
        if (t.sourceFormat == "jsonl") {
          if (enforceSchema) Storage.readJsonl(spark, path, t.withPartition)
          else Storage.readJsonl(spark, path)
        } else {
          if (enforceSchema) Storage.readCsv(spark, path, csvSchema(t, path))
          else Storage.readCsv(spark, path)
        }
      }
    }

  /** The CSV file's own columns in header order, each typed as the
    * registry column it resolves to by name; columns the registry does
    * not know stay strings. Matching by name keeps reordered or extra
    * header columns loading as they did under inference. */
  private def csvSchema(t: SchemaRegistry.TableDef, path: String): StructType = {
    val header = Storage.readCsvHeader(spark, path).getOrElse(
      throw new IllegalArgumentException(s"$path is empty: no CSV header"))
    val resolver = spark.sessionState.conf.resolver
    StructType(header.map { name =>
      val dataType = t.schema.fields.find(f => resolver(f.name, name)).map(_.dataType)
      StructField(name, dataType.getOrElse(StringType))
    })
  }

  /** Append the partition literal (ref :131-132) and, in enforce mode,
    * cast/project to the registry schema (the reference never enforces —
    * SURVEY.md §1.3 — so `enforceSchema=false` replicates lax mode). A
    * raw file's own ingestion_date wins where it is set. */
  override def transform(in: Seq[(SchemaRegistry.TableDef, Try[DataFrame])]) =
    in.map { case (t, tried) =>
      t -> tried.map { df =>
        val withDate =
          if (df.columns.contains(SchemaRegistry.PartitionCol)) df
          else df.withColumn(SchemaRegistry.PartitionCol, lit(ingestionDate))
        if (enforceSchema) {
          val cols = t.schema.fields.map(f => col(f.name).cast(f.dataType)) :+
            coalesce(col(SchemaRegistry.PartitionCol).cast("string"), lit(ingestionDate))
              .as(SchemaRegistry.PartitionCol)
          withDate.select(cols: _*)
        } else withDate
      }
    }

  /** Write the tables concurrently, one thread per table; collect
    * per-table failures without aborting the rest (ref :114-116).
    * Returns total rows written. The pool is created here so its threads
    * inherit the caller's Spark local properties (job group, scheduler
    * pool). */
  override def load(in: Seq[(SchemaRegistry.TableDef, Try[DataFrame])]): Long = {
    val pool = Executors.newFixedThreadPool(math.max(1, in.size))
    val results =
      try in.map { case (t, tried) =>
        pool.submit[(String, Try[Long])](() => t.name -> tried.flatMap(df => Try(write(t, df))))
      }.map(_.get())
      finally pool.shutdown()
    failedTables = results.collect { case (n, Failure(_)) => n }
    results.collect { case (_, Success(n)) => n }.sum
  }

  /** One table's write; the rows it puts in this run's partition are
    * counted by an observation of the same job. */
  private def write(t: SchemaRegistry.TableDef, df: DataFrame): Long = {
    val rows = Observation()
    Storage.writeTrusted(
      df.observe(rows, count(when(col(SchemaRegistry.PartitionCol) === ingestionDate, 1)).as("n")),
      SchemaRegistry.PartitionCol, paths.trustedTable(t.locationSuffix))
    rows.get("n").asInstanceOf[Long]
  }

  @volatile private var failedTables: Seq[String] = Seq.empty

  /** Register trusted views for analytics — ref duckdb_client.py:308-348
    * (`setup_trusted_tables_from_parquet`). Views are lazy; partition
    * pruning applies when queries filter ingestion_date. Then, when this
    * run loaded the events, rebuild the gold [[UserSessions]] table from
    * all of them; a failed build is reported as the failed table
    * `gold_user_sessions`, and the previous snapshot stays current until
    * a later build succeeds. Either way `gold_user_sessions` is
    * registered over the current snapshot, if there is one. */
  override def postProcess(result: JobResult): Unit = {
    registerTrusted()
    val gold = paths.goldTable(UserSessions.Table)
    val events = SchemaRegistry.events
    if (result.success && tables.exists(_.name == events.name) && !failedTables.contains(events.name))
      Try(UserSessions.refresh(spark, gold, spark.table(events.trustedName)))
        .failed.foreach(_ => failedTables :+= UserSessions.ViewName)
    UserSessions.register(spark, gold)
  }

  private def registerTrusted(): Unit =
    tables.filterNot(t => failedTables.contains(t.name)).foreach { t =>
      val root = paths.trustedTable(t.locationSuffix)
      if (Storage.exists(spark, root)) {
        // read with the registry schema: the hive-layout partition value
        // "2025-09-09" would otherwise be *inferred* as DATE, breaking
        // the reference's string semantics (SURVEY.md §7 hazard (f)).
        // In lax mode the column set is unknown, so disable partition
        // type inference instead.
        val df =
          if (enforceSchema) Storage.readParquet(spark, root, t.withPartition)
          else {
            // lax mode needs string-typed partition columns for this one
            // read; save/restore the session conf so we don't silently
            // change partition typing for every later read in the session
            val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
            val prev = spark.conf.getOption(key)
            spark.conf.set(key, "false")
            // (safe: partition-column typing is resolved eagerly while
            // the relation is created, not at action time)
            try spark.read.parquet(root)
            finally prev match {
              case Some(v) => spark.conf.set(key, v)
              case None    => spark.conf.unset(key)
            }
          }
        df.createOrReplaceTempView(t.trustedName)
      }
    }

  final def runWithFailures(): JobResult = {
    val r = run()
    r.copy(failedTables = failedTables,
      success = r.success && failedTables.isEmpty)
  }
}
