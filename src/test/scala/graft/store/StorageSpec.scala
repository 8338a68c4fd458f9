package graft.store

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.{JobCounter, SparkSpecBase}
import graft.sources.Tables

/** [[Storage.readParquet]]: the footer-read schema is the schema Spark's
  * own inference gives, it follows a rewritten file, it is converted
  * under each calling session's conf, and reading starts no Spark job.
  * [[Storage.readParquetOneSplit]] is one partition exactly when Spark
  * reads the path as one split. */
class StorageSpec extends SparkSpecBase {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Writes three rows of a parquet `schema` whose columns are all
    * int64 to `file` (row i holds i in every column), without a checksum
    * file beside it, so the file can be replaced by a plain copy. */
  private def writeParquet(file: java.nio.file.Path, schema: String): Unit = {
    val tmp = Files.createTempDirectory("graft-footer").resolve("f.parquet")
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new Path(tmp.toUri), new Configuration())).withType(mt).build()
    val rows = new SimpleGroupFactory(mt)
    try (0 until 3).foreach { i =>
      val g = rows.newGroup()
      (0 until mt.getFieldCount).foreach(c => g.append(mt.getFieldName(c), i.toLong))
      w.write(g)
    } finally w.close()
    Files.copy(tmp, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("the footer schema equals Spark's inferred schema: every sf0.001 table, Spark-written directories") {
    Tables.all.foreach { n =>
      val p = Tables.path(sfDir, n)
      assert(Storage.readParquet(spark, p).schema === spark.read.parquet(p).schema, n)
    }
    val dir = Files.createTempDirectory("graft-read-parquet")
    val rows = spark.range(0, 40, 1, 4)
      .selectExpr("id", "id % 3 AS k", "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) AS d")
    rows.write.parquet(s"$dir/flat")
    rows.write.partitionBy("k").parquet(s"$dir/partitioned")
    Seq("flat", "partitioned").foreach { t =>
      val p = s"$dir/$t"
      val (df, jobs) = JobCounter.count(spark)(Storage.readParquet(spark, p))
      assert(jobs === 0, t)
      assert(df.schema === spark.read.parquet(p).schema, t)
      assert(df.collect().toSet === spark.read.parquet(p).collect().toSet, t)
    }
  }

  test("a rewritten file is read again: the memo keys on length and modification time") {
    val file = Files.createTempDirectory("graft-rewrite").resolve("t.parquet")
    val p = file.toString
    writeParquet(file, "message m { required int64 a; }")
    assert(Storage.readParquet(spark, p).columns.toSeq === Seq("a"))
    // another length
    writeParquet(file, "message m { required int64 a; required int64 b; }")
    assert(Storage.readParquet(spark, p).columns.toSeq === Seq("a", "b"))
    // the same length: only the modification time tells the files apart
    val before = Files.size(file)
    val mtime = Files.getLastModifiedTime(file).toMillis
    writeParquet(file, "message m { required int64 a; required int64 c; }")
    Files.setLastModifiedTime(file, FileTime.fromMillis(mtime + 60000))
    assert(Files.size(file) === before)
    assert(Storage.readParquet(spark, p).columns.toSeq === Seq("a", "c"))
    assert(Storage.readParquet(spark, p).collect().map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
  }

  test("each session converts the footer under its own conf") {
    val file = Files.createTempDirectory("graft-nanos").resolve("nanos.parquet")
    val p = file.toString
    writeParquet(file, "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val asLong = spark.newSession()
    asLong.conf.set(NanosAsLong, "true")
    val strict = spark.newSession()
    strict.conf.unset(NanosAsLong)
    assert(Storage.readParquet(asLong, p).schema("ts").dataType === LongType)
    assert(Storage.readParquet(asLong, p).schema === asLong.read.parquet(p).schema)
    // the footer is memoized now; the strict session still refuses the
    // nanos column, as Spark's own inference does
    intercept[Exception](strict.read.parquet(p))
    intercept[Exception](Storage.readParquet(strict, p))
    assert(Storage.readParquet(asLong, p).collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))

    // events.ts is a timestamp without time zone in the footer: its type
    // follows the session's inferTimestampNTZ
    val events = Tables.path(sfDir, "events")
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Storage.readParquet(ntz, events).schema("ts").dataType === TimestampNTZType)
    assert(Storage.readParquet(ltz, events).schema("ts").dataType === TimestampType)
    assert(Storage.readParquet(ltz, events).schema === ltz.read.parquet(events).schema)
    assert(Storage.readParquet(ntz, events).schema === ntz.read.parquet(events).schema)
  }

  test("readParquetOneSplit: one file within the split bound is one partition, else the readParquet frame") {
    val dir = Files.createTempDirectory("graft-one-split")
    spark.range(0, 40, 1, 1).write.parquet(s"$dir/one")
    spark.range(0, 40, 1, 2).write.parquet(s"$dir/two")
    def partitioning(p: String) = {
      val (df, jobs) = JobCounter.count(spark)(Storage.readParquetOneSplit(spark, p))
      assert(jobs === 0, p)
      assert(df.collect().toSet === spark.read.parquet(p).collect().toSet, p)
      df.queryExecution.sparkPlan.outputPartitioning
    }
    assert(partitioning(s"$dir/one") === SinglePartition)
    assert(partitioning(s"$dir/two").isInstanceOf[UnknownPartitioning])
    val openCost = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(openCost)
    try {
      spark.conf.set(openCost, "1")
      assert(partitioning(s"$dir/one").isInstanceOf[UnknownPartitioning])
    } finally before.fold(spark.conf.unset(openCost))(spark.conf.set(openCost, _))
    assert(partitioning(s"$dir/one") === SinglePartition)
  }

  test("building every table's frame starts no Spark job") {
    val (frames, jobs) = JobCounter.count(spark)(Tables.all.map(Tables.table(spark, sfDir, _)))
    assert(jobs === 0)
    assert(frames.map(_.columns.length).forall(_ > 0))
  }
}
