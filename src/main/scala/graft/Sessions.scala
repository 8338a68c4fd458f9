package graft

import org.apache.spark.sql.SparkSession

/** Session construction for this library's mains and specs.
  *
  * [[withEngineDefaults]] holds the settings every long-lived session
  * running the full workload needs, workload-keyed rather than machine-
  * or scale-keyed:
  *
  *   - `spark.sql.codegen.cache.maxEntries = 4096` (static conf — must
  *     be set BEFORE the session exists). Spark's generated-class cache
  *     defaults to 100 entries; a 100+-query workload carries several
  *     hundred WholeStageCodegen/ordering/serde units, so the default
  *     thrashes and every query re-compiles every unit every execution
  *     (round-17 measurement: 4-50 Janino recompiles PER EXECUTION per
  *     query in suite context vs 0 single-query; raising the cap
  *     removed them all and cut the 25-gate weak-subset total 23%).
  *     The cache is keyed by generated source and lives per JVM, so the
  *     value depends on the number of distinct plans in the workload,
  *     not on core count or data scale.
  *
  * Shuffle partitioning, AQE knobs and broadcast thresholds are NOT
  * engine defaults: they are machine/data-scale decisions left to AQE and
  * per-deployment sizing. [[local]] makes the one local-mode sizing choice
  * the bench, the tools and the specs share: `cpus` task slots and as many
  * shuffle partitions. */
object Sessions {

  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 4096L

  /** Local task slots: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Apply the resident-engine settings to a session builder. */
  def withEngineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config(CodegenCacheKey, CodegenCacheEntries)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI, WARN logging and the engine defaults. */
  def local(appName: String, cpus: Int = Sessions.cpus): SparkSession = {
    val spark = withEngineDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
