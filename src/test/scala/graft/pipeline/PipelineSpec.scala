package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.{JobCounter, SparkSpecBase}
import graft.fixtures.StreamProFixture
import graft.store.{LayerPaths, Storage}

class PipelineSpec extends SparkSpecBase with TimeLimits {

  private val Date = StreamProFixture.IngestionDate

  lazy val root: String = {
    val dir = Files.createTempDirectory("graft-pipeline")
    StreamProFixture.writeLanding(dir)
    dir.toString
  }

  lazy val results: Seq[JobResult] = Pipeline.run(spark,
    Pipeline.Config(root, StreamProFixture.IngestionDate))

  test("both stages succeed") {
    assert(results.length === 2)
    assert(results.forall(_.success), results.map(_.error).mkString("; "))
  }

  test("Pipeline.run returns exactly the two stage results, the trusted row count last") {
    assert(results.map(_.jobName) === Seq(s"landing_to_raw[$Date]", s"raw_to_trusted[$Date]"))
    val trustedRows = SchemaRegistry.all.map(t =>
      spark.table(t.trustedName).where(col(SchemaRegistry.PartitionCol) === Date).count()).sum
    assert(results.last.recordsProcessed === trustedRows)
  }

  test("running the raw→trusted phases one by one also registers gold_user_sessions") {
    val paths = rawLake()
    spark.catalog.dropTempView(UserSessions.ViewName)
    val stage = new RawToTrusted(spark, paths, Date)
    stage.preProcess()
    val rows = stage.load(stage.transform(stage.extract()))
    stage.postProcess(JobResult(stage.jobName, success = true, 0.0, rows))
    assert(spark.table(UserSessions.ViewName).count() ===
      spark.table("trusted_events").where(col("user_id").isNotNull).select("user_id").distinct().count())
  }

  test("landing→raw copies bytes verbatim into the hive-partitioned raw layer") {
    results
    val paths = LayerPaths(root)
    val rawFiles = Storage.listObjects(spark,
      s"${paths.raw}/ingestion_date=${StreamProFixture.IngestionDate}")
    assert(rawFiles.size === 4)
    val landingCsv = Files.readAllBytes(java.nio.file.Paths.get(
      s"$root/landing/users_${StreamProFixture.IngestionDate}.csv"))
    val rawCsv = Files.readAllBytes(java.nio.file.Paths.get(
      s"$root/raw/ingestion_date=${StreamProFixture.IngestionDate}/users_${StreamProFixture.IngestionDate}.csv"))
    assert(landingCsv.sameElements(rawCsv))
  }

  test("filename parser accepts date-suffixed drops and rejects others") {
    assert(LandingToRaw.parseFileName("users_2025-09-09.csv") ===
      Some(("users", "2025-09-09")))
    assert(LandingToRaw.parseFileName("user_events_2025-09-09.jsonl") ===
      Some(("user_events", "2025-09-09")))
    assert(LandingToRaw.parseFileName("README.md") === None)
    assert(LandingToRaw.parseFileName("users.csv") === None)
  }

  test("raw→trusted writes partitioned parquet with enforced registry schemas") {
    results
    val paths = LayerPaths(root)
    for (t <- SchemaRegistry.all) {
      val part = s"${paths.trustedTable(t.locationSuffix)}/ingestion_date=${StreamProFixture.IngestionDate}"
      assert(Storage.exists(spark, part), s"partition missing for ${t.name}")
      val df = spark.table(t.trustedName)
      // partition col present, typed string (hazard (f) in SURVEY.md §7)
      assert(df.columns.contains(SchemaRegistry.PartitionCol))
      val names = t.schema.fields.map(_.name).toSet
      assert(names.subsetOf(df.columns.toSet))
    }
    // date-like columns stay strings for lexicographic semantics
    val ev = spark.table("trusted_events")
    assert(ev.schema("timestamp").dataType.typeName === "string")
  }

  test("trusted row counts match fixture sizes") {
    results
    import graft.analytics.StreamProAnalytics
    val counts = StreamProAnalytics.tableCounts(spark)
    assert(counts("trusted_users") === 100)
    assert(counts("trusted_videos") === 20)
    assert(counts("trusted_devices") === 5)
    assert(counts("trusted_events") > 1000)
  }

  test("daily partitions accumulate: a second ingestion date does not clobber the first") {
    results
    val paths = LayerPaths(root)
    val d2 = "2025-09-10"
    // second day's drop: copy the first day's landing files under the new date
    for (t <- Seq("users", "videos", "devices")) {
      Storage.copyObject(spark,
        s"$root/landing/${t}_${StreamProFixture.IngestionDate}.csv",
        s"$root/landing/${t}_$d2.csv")
    }
    Storage.copyObject(spark,
      s"$root/landing/events_${StreamProFixture.IngestionDate}.jsonl",
      s"$root/landing/events_$d2.jsonl")
    val day2 = Pipeline.run(spark, Pipeline.Config(root, d2))
    assert(day2.forall(_.success))
    val users = spark.table("trusted_users") // registry-typed (string partition col)
    val dates = users.select("ingestion_date").distinct()
      .collect().map(_.getString(0)).sorted
    assert(dates === Array(StreamProFixture.IngestionDate, d2))
    // partition pruning still reads exactly one day
    assert(users.filter(org.apache.spark.sql.functions.col("ingestion_date") ===
      StreamProFixture.IngestionDate).count() === 100)
  }

  test("env config profiles select layer prefixes and root (ref config/{env}.env)") {
    val dir = Files.createTempDirectory("graft-profile")
    StreamProFixture.writeLanding(dir)
    val confDir = Files.createTempDirectory("graft-conf")
    Files.write(confDir.resolve("test.env"), java.util.Arrays.asList(
      "ENV=test",
      "# comment lines and blanks are ignored",
      "",
      s"MINIO_BUCKET=$dir",
      "LANDING_PREFIX=landing",
      "RAW_PREFIX=bronze",
      "TRUSTED_PREFIX=silver"))
    val cfg = Pipeline.Config.fromProfile(
      EnvProfile.load(confDir.toString, Some("test")), None,
      StreamProFixture.IngestionDate)
    assert(cfg.root === dir.toString)
    assert(cfg.rawPrefix === "bronze" && cfg.trustedPrefix === "silver")
    val rs = Pipeline.run(spark, cfg)
    assert(rs.forall(_.success), rs.map(_.error).mkString("; "))
    assert(Storage.exists(spark,
      s"$dir/bronze/ingestion_date=${StreamProFixture.IngestionDate}"))
    assert(Storage.exists(spark, s"$dir/silver"))
    // an explicit --root override beats the profile's bucket
    assert(Pipeline.Config.fromProfile(
      EnvProfile.load(confDir.toString, Some("test")), Some("/elsewhere"),
      "2025-09-09").root === "/elsewhere")
    // unknown env name falls back to dev.env, mirroring the reference
    Files.write(confDir.resolve("dev.env"),
      java.util.Arrays.asList("MINIO_BUCKET=/fallback"))
    assert(EnvProfile.load(confDir.toString, Some("staging"))("MINIO_BUCKET")
      === "/fallback")
  }

  test("per-table failure isolation: a broken table does not sink the others") {
    val dir = Files.createTempDirectory("graft-isolation")
    StreamProFixture.writeLanding(dir)
    // delete one raw input after stage 1 so stage 2 fails for that table only
    val paths = LayerPaths(dir.toString)
    new LandingToRaw(spark, paths, StreamProFixture.IngestionDate).run()
    Storage.deleteObject(spark, paths.rawKey(StreamProFixture.IngestionDate,
      s"videos_${StreamProFixture.IngestionDate}.csv"))
    val r = new RawToTrusted(spark, paths, StreamProFixture.IngestionDate)
      .runWithFailures()
    assert(!r.success)
    assert(r.failedTables === Seq("videos"))
    assert(r.recordsProcessed > 0) // other tables still loaded
  }

  /** A fresh lake holding the fixture's landing files, with `edit`
    * applied to them, run through landing → raw. */
  private def rawLake(edit: Path => Unit = _ => ()): LayerPaths = {
    val dir = Files.createTempDirectory("graft-lake")
    StreamProFixture.writeLanding(dir)
    edit(dir.resolve("landing"))
    val paths = LayerPaths(dir.toString)
    assert(new LandingToRaw(spark, paths, Date).run().success)
    paths
  }

  private def writeLanding(landing: Path, table: String, ext: String, lines: String*): Unit =
    Files.write(landing.resolve(s"${table}_$Date.$ext"), java.util.Arrays.asList(lines: _*))

  private def trusted(paths: LayerPaths, t: SchemaRegistry.TableDef): DataFrame =
    Storage.readParquet(spark, paths.trustedTable(t.locationSuffix), t.withPartition)
      .filter(col(SchemaRegistry.PartitionCol) === Date)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("typed raw read loads the same trusted rows as inference plus the registry cast") {
    val paths = rawLake()
    val r = new RawToTrusted(spark, paths, Date).runWithFailures()
    assert(r.success, r.error)
    for (t <- SchemaRegistry.all) {
      val raw = paths.rawKey(Date, s"${t.name}_$Date.${t.sourceFormat}")
      val inferred =
        if (t.sourceFormat == "jsonl") Storage.readJsonl(spark, raw) else Storage.readCsv(spark, raw)
      val cast = inferred.select(t.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)) :+
        lit(Date).as(SchemaRegistry.PartitionCol): _*)
      val got = trusted(paths, t)
      assert(got.schema.map(_.dataType) === cast.schema.map(_.dataType), t.name)
      assert(got.count() === cast.count(), t.name)
      assert(sameRows(got, cast), t.name)
    }
  }

  test("a CSV with reordered and extra header columns still loads by name") {
    val paths = rawLake { landing =>
      writeLanding(landing, "videos", "csv",
        "rating,duration_seconds,patent_id,genre,title,video_id",
        "5,115,patent_2,Action,Video Title 1,video_1",
        "3,152,patent_3,Comedy,Video Title 2,video_2")
    }
    val r = new RawToTrusted(spark, paths, Date).runWithFailures()
    assert(r.success, r.error)
    val videos = trusted(paths, SchemaRegistry.videos).orderBy("video_id").collect()
    assert(videos.map(_.getAs[String]("video_id")).toSeq === Seq("video_1", "video_2"))
    assert(videos.map(_.getAs[Int]("duration_seconds")).toSeq === Seq(115, 152))
    assert(videos.map(_.getAs[String]("genre")).toSeq === Seq("Action", "Comedy"))
    assert(!trusted(paths, SchemaRegistry.videos).columns.contains("rating"))
  }

  test("a value that does not parse as its registry type fails only its table, never loads null") {
    val paths = rawLake { landing =>
      writeLanding(landing, "videos", "csv",
        "video_id,title,genre,duration_seconds,patent_id",
        "video_1,Video Title 1,Action,abc,patent_2")
      writeLanding(landing, "events", "jsonl",
        """{"user_id": "user_1", "session_id": "user_1_sess_0_0", "value": "abc"}""")
    }
    val r = new RawToTrusted(spark, paths, Date).runWithFailures()
    assert(!r.success)
    assert(r.failedTables === Seq("videos", "events"))
    assert(r.recordsProcessed === 100 + 5) // users + devices still loaded
    for (t <- Seq(SchemaRegistry.videos, SchemaRegistry.events))
      assert(!Storage.exists(spark,
        s"${paths.trustedTable(t.locationSuffix)}/${SchemaRegistry.PartitionCol}=$Date"), t.name)
  }

  test("a header-only CSV and an empty JSONL load 0 rows without hanging") {
    val paths = rawLake { landing =>
      writeLanding(landing, "users", "csv", "user_id,signup_date,subscription_tier,age_group,gender")
      Files.write(landing.resolve(s"events_$Date.jsonl"), Array.emptyByteArray)
    }
    implicit val signaler: ThreadSignaler.type = ThreadSignaler
    val r = failAfter(2.minutes)(new RawToTrusted(spark, paths, Date).runWithFailures())
    assert(r.success, r.error)
    assert(r.failedTables.isEmpty)
    assert(r.recordsProcessed === 20 + 5) // videos + devices
    assert(spark.table("trusted_users").count() === 0)
    assert(spark.table("trusted_events").count() === 0)
  }

  test("re-running an ingestion date reports the same row count, not a doubled one") {
    val dir = Files.createTempDirectory("graft-rerun")
    StreamProFixture.writeLanding(dir)
    val cfg = Pipeline.Config(dir.toString, Date)
    val events = Files.readAllLines(dir.resolve(s"landing/events_$Date.jsonl")).size
    val first = Pipeline.run(spark, cfg).last
    val second = Pipeline.run(spark, cfg).last
    assert(first.success && second.success)
    assert(first.recordsProcessed === 100 + 20 + 5 + events)
    assert(second.recordsProcessed === first.recordsProcessed)
    assert(spark.table("trusted_events").count() === events)
  }

  test("enforce-mode extract launches no Spark job") {
    val paths = rawLake()
    val (in, jobs) = JobCounter.count(spark)(new RawToTrusted(spark, paths, Date).extract())
    assert(in.forall(_._2.isSuccess))
    assert(jobs === 0)
  }
}
