package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.store.LayerPaths

/** Sequential two-stage medallion pipeline — ref src/jobs/pipeline.py:
  * 32-64. The reference shells out to subprocesses per stage; one
  * SparkSession running both stages in-process is the Spark-native
  * equivalent, with the same short-circuit on stage-1 failure
  * (pipeline.py:47).
  */
object Pipeline {

  case class Config(
      root: String,
      ingestionDate: String,
      enforceSchema: Boolean = true,
      landingPrefix: String = "landing",
      rawPrefix: String = "raw",
      trustedPrefix: String = "trusted")

  object Config {
    /** Build a Config from an env-profile map (EnvProfile.load): the
      * reference's MINIO_BUCKET is the storage root (an explicit
      * override wins) and the *_PREFIX keys name the layers —
      * ref config/dev.env:7,11-13 + utils/config.py Settings fields. */
    def fromProfile(profile: Map[String, String], rootOverride: Option[String],
        ingestionDate: String): Config =
      Config(
        rootOverride.orElse(profile.get("MINIO_BUCKET")).getOrElse(
          sys.error("storage root: pass --root or set MINIO_BUCKET in the profile")),
        ingestionDate,
        landingPrefix = profile.getOrElse("LANDING_PREFIX", "landing"),
        rawPrefix = profile.getOrElse("RAW_PREFIX", "raw"),
        trustedPrefix = profile.getOrElse("TRUSTED_PREFIX", "trusted"))
  }

  def run(spark: SparkSession, cfg: Config): Seq[JobResult] = {
    val paths = LayerPaths(cfg.root, cfg.landingPrefix, cfg.rawPrefix, cfg.trustedPrefix)
    val r1 = new LandingToRaw(spark, paths, cfg.ingestionDate).run()
    if (!r1.success) return Seq(r1)
    val r2 = new RawToTrusted(spark, paths, cfg.ingestionDate, cfg.enforceSchema)
      .runWithFailures()
    Seq(r1, r2)
  }

  /** CLI — ref job_manager.py:19-38 (`--ingestion_date`) + the env
    * profile selection of utils/config.py (`--env dev|test|prod`,
    * `--conf_dir` defaulting to `config/`). Explicit `--root` overrides
    * the profile's MINIO_BUCKET. */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val date = opts.getOrElse("ingestion_date",
      sys.error("--ingestion_date YYYY-MM-DD required"))
    val cfg =
      if (opts.contains("env") || opts.contains("conf_dir"))
        Config.fromProfile(
          EnvProfile.load(opts.getOrElse("conf_dir", "config"), opts.get("env")),
          opts.get("root"), date)
      else Config(opts.getOrElse("root",
        sys.error("--root <dir with landing/> required (or --env/--conf_dir)")), date)
    val spark = Sessions.withEngineDefaults(SparkSession.builder())
      .master(opts.getOrElse("master", "local[4]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        opts.getOrElse("shuffle_partitions", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = run(spark, cfg)
    results.foreach(r => println(
      s"${r.jobName}: success=${r.success} records=${r.recordsProcessed} " +
        f"secs=${r.durationSeconds}%.2f failed=${r.failedTables.mkString(",")}"))
    spark.stop()
    if (!results.forall(_.success)) sys.exit(1)
  }
}
