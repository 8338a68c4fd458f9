package graft.store

import scala.util.Try

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
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
  /** Snapshot base of one gold table (beyond the reference, whose
    * notebook aggregates the trusted views on every run). */
  def goldTable(name: String): String = s"$root/gold/$name"
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

  /** Recursive listing by prefix, every object listed (hidden names
    * too) — ref minio_client.py:106-112. Walks `listStatus` like
    * [[leafFiles]]: `listFiles` would build a `LocatedFileStatus` per
    * file, which on the local filesystem loads its permission through
    * a forked `ls -ld`. */
  def listObjects(spark: SparkSession, prefix: String): Seq[String] = {
    val f = fs(spark, prefix)
    def walk(p: Path): Seq[String] = f.listStatus(p).toSeq.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Seq(s.getPath.toString))
    val p = new Path(prefix)
    if (f.exists(p)) walk(p) else Seq.empty
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

  /** Parquet scan with the schema read from a footer on the driver: the
    * same schema `spark.read.parquet` infers, without the Spark job its
    * inference runs. For a directory the footer is the one Spark's own
    * inference reads: a `_common_metadata` or `_metadata` summary, else
    * the first data file in path order. Only when no such file is
    * readable, or its schema does not convert, does the scan infer (and
    * report the missing path or the illegal type) as Spark does.
    *
    * The footer (parquet schema plus key/value metadata) is memoized per
    * (path, length, modification time), so a rewritten file is read
    * again. Its conversion to a Spark schema runs on every call under
    * the calling session's conf: `nanosAsLong`, `inferTimestampNTZ`,
    * `binaryAsString` and the other conversion confs of one session are
    * never served to another. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerScan(spark, path)._1

  /** [[readParquet]] planned as one partition when Spark reads `path` as
    * one split anyway: the path holds exactly one data file, no longer
    * than `min(spark.sql.files.maxPartitionBytes,
    * spark.sql.files.openCostInBytes)`, the bound under which
    * `FilePartition.maxSplitBytes` never splits it, whatever the
    * minimum partition count. The scan is then wrapped in
    * `coalesce(1)`, which reports `SinglePartition`, so every clustered
    * or ordered distribution above it is met without an exchange; the
    * read is the same one task. With more files or a larger one the
    * frame is exactly [[readParquet]]'s. The file count and length come
    * from the listing the footer read makes, and the confs are read
    * when the frame is built. */
  def readParquetOneSplit(spark: SparkSession, path: String): DataFrame = {
    val (df, dataFiles) = footerScan(spark, path)
    val conf = spark.sessionState.conf
    dataFiles match {
      case Seq(file) if file.getLen <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes) =>
        df.coalesce(1)
      case _ => df
    }
  }

  /** The footer-schema scan of `path` and the data files of the listing
    * its footer came from; no files when the scan infers. */
  private def footerScan(spark: SparkSession, path: String): (DataFrame, Seq[FileStatus]) =
    Try {
      val leaves = leafListing(spark, path)
      schemaFooter(spark, leaves).map(footer => (ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf)), leaves))
    }.toOption.flatten match {
      case Some((schema, leaves)) =>
        (spark.read.schema(schema).parquet(path), leaves.filterNot(s => isSummary(s.getPath.getName)))
      case None => (spark.read.parquet(path), Nil)
    }

  /** Footer metadata per file path, valid while the file keeps the
    * (length, modification time) it was read at. */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[Path, (Long, Long, FileMetaData)]()

  /** `path` itself when it is a file, else the files under it that
    * Spark's file index lists, in path order. */
  private def leafListing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val f = fs(spark, path)
    val root = f.getFileStatus(new Path(path))
    if (!root.isDirectory) Seq(root) else leafFiles(f, root).sortBy(_.getPath.toString)
  }

  private val Summaries = Seq("_common_metadata", "_metadata")

  /** A parquet summary file, which [[leafFiles]] keeps and Spark's scan
    * does not read as data. */
  private def isSummary(name: String): Boolean = Summaries.exists(name.startsWith)

  /** The footer [[readParquet]] takes its schema from, among the
    * `leaves` of a [[leafListing]]; None when they hold no parquet file. */
  private def schemaFooter(spark: SparkSession, leaves: Seq[FileStatus]): Option[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = Summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(s => !Summaries.contains(s.getPath.getName)))
    file.map { st =>
      val key = st.getPath
      val cached = Option(footers.get(key))
        .filter { case (len, mtime, _) => len == st.getLen && mtime == st.getModificationTime }
      val meta = cached.map(_._3).getOrElse {
        val options = HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
        val m = try reader.getFooter.getFileMetaData finally reader.close()
        footers.put(key, (st.getLen, st.getModificationTime, m))
        m
      }
      new Footer(key, new ParquetMetadata(meta, java.util.Collections.emptyList()))
    }
  }

  /** Files under `dir` that Spark's file index lists: names starting
    * with `_` or `.` are skipped (directories too, except `k=v`
    * partitions), apart from the parquet summary files. */
  private def leafFiles(f: FileSystem, dir: FileStatus): Seq[FileStatus] =
    f.listStatus(dir.getPath).toSeq.filter { s =>
      val n = s.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !hidden || isSummary(n)
    }.flatMap(s => if (s.isDirectory) leafFiles(f, s) else Seq(s))

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
}
