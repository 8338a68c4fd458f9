package graft.store

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Layered object-store layout + IO, the Spark counterpart of the
  * reference's MinIO client (src/connect/minio_client.py) and bucket
  * prefixes (config/dev.env:11-13). Paths go through the Hadoop
  * FileSystem API, so the same code serves file:// in tests and s3a:// on
  * a cluster — nothing here assumes a local disk.
  */
case class LayerPaths(
    root: String,
    landingPrefix: String = "landing",
    rawPrefix: String = "raw",
    trustedPrefix: String = "trusted") {
  def landing: String = s"$root/$landingPrefix"
  def raw: String = s"$root/$rawPrefix"
  def trusted: String = s"$root/$trustedPrefix"
  /** Hive-style raw key for one daily file
    * (landing_to_raw_processor.py:95). */
  def rawKey(date: String, fileName: String): String =
    s"$raw/ingestion_date=$date/$fileName"
  /** Trusted table root; partitions land under it
    * (raw_to_trusted_processor.py:167). */
  def trustedTable(suffix: String): String = s"$trusted/$suffix"
}

object Storage {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The path's own FileSystem — the scheme-agnostic handle the
    * store-layer siblings (Snapshot) build on. */
  private[store] def fileSystem(spark: SparkSession, path: String): FileSystem =
    fs(spark, path)

  /** Recursive listing by prefix — ref minio_client.py:106-112. */
  def listObjects(spark: SparkSession, prefix: String): Seq[String] = {
    val f = fs(spark, prefix)
    val p = new Path(prefix)
    if (!f.exists(p)) return Seq.empty
    val it = f.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) buf += it.next().getPath.toString
    buf.toSeq
  }

  /** Byte-identical copy (landing → raw keeps source formats verbatim —
    * ref minio_client.py:114-124; deliberately NOT a Spark job: raw
    * preserves schema-on-read). */
  def copyObject(spark: SparkSession, source: String, target: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = fs(spark, source)
    val dstFs = fs(spark, target)
    dstFs.mkdirs(new Path(target).getParent)
    FileUtil.copy(srcFs, new Path(source), dstFs, new Path(target),
      false, true, conf)
  }

  /** ref minio_client.py:126-133. */
  def deleteObject(spark: SparkSession, path: String): Boolean =
    fs(spark, path).delete(new Path(path), true)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** CSV scan, header + inferred types — ref minio_client.py:96-104. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSON-Lines scan — ref raw_to_trusted_processor.py:60-79 (line
    * split + json.loads); Spark's json source is JSONL-native. */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Typed CSV scan: `schema` names the file's columns in header order.
    * No inference job runs, and FAILFAST makes a value that does not
    * parse as its column's type fail the read instead of loading null. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").option("mode", "FAILFAST").csv(path)

  /** Typed JSON-Lines scan; same contract as the typed [[readCsv]]. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** A CSV file's header fields, read on the driver through the path's
    * own FileSystem (one line, no Spark job); None for an empty file.
    * Parsed like Spark's CSV source parses a header: surrounding
    * whitespace is kept and an empty name becomes `_c<index>`. */
  def readCsvHeader(spark: SparkSession, path: String): Option[Seq[String]] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs(spark, path).open(new Path(path)), java.nio.charset.StandardCharsets.UTF_8))
    try Option(in.readLine()).map { line =>
      val settings = new CsvParserSettings
      settings.setIgnoreLeadingWhitespaces(false)
      settings.setIgnoreTrailingWhitespaces(false)
      new CsvParser(settings).parseLine(line.stripPrefix("\uFEFF")).toSeq
        .zipWithIndex.map { case (name, i) => Option(name).getOrElse(s"_c$i") }
    } finally in.close()
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Typed parquet scan over a trusted table (schema-on-read like the
    * Trino external tables — trino_client.py:86-96). */
  def readParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Snappy-parquet partitioned write — ref raw_to_trusted_processor
    * .py:164-211 (snappy is Spark's parquet default). Dynamic partition
    * overwrite replaces only the written date's partition, so daily
    * reruns are idempotent without clobbering history. */
  def writeTrusted(df: DataFrame, partitionCol: String, tableRoot: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(tableRoot)

  /** CSV sink — ref minio_client.py:60-70. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Small text artifact write through the Hadoop FS layer — for model/
    * metadata sidecar files living NEXT TO parquet index data (IVF-PQ
    * codebooks, LSH build knobs). Resolving through the path's own
    * FileSystem keeps the sidecar on the same scheme as the index it
    * describes: a file://-only java.nio write would succeed locally and
    * strand an hdfs:// or s3a:// index with no model after the
    * expensive parquet write completed. */
  def writeTextFile(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** ATOMIC small-text publish — the commit-pointer write
    * ([[Snapshot]]). [[writeTextFile]] truncates in place
    * (FileSystem.create(overwrite)), so a crash mid-write leaves an
    * empty or partial file at the exact moment a pointer must be
    * all-or-nothing. This variant stages the content at `path.tmp` and
    * renames it over `path` via FileContext with Rename.OVERWRITE —
    * the one Hadoop rename that is atomic AND replaces an existing
    * destination on both local and HDFS (the Structured Streaming
    * checkpoint-commit primitive). A reader concurrent with the
    * publish sees the complete old content or the complete new
    * content, never a prefix. */
  def writeTextFileAtomic(spark: SparkSession, path: String, content: String): Unit = {
    val tmp = path + ".tmp"
    writeTextFile(spark, tmp, content)
    val ctx = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    ctx.rename(new Path(tmp), new Path(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Sidecar text read — [[writeTextFile]]'s counterpart. */
  def readTextFile(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** ORC scan/sink — the other columnar format Spark executes natively
    * (vectorized reader, predicate pushdown, column pruning), for
    * interchange with Hive/Trino-flavored warehouses. Beyond the
    * reference (whose trusted layer is parquet-only). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}
