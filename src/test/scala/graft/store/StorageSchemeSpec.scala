package graft.store

import java.nio.file.Files

import graft.SparkSpecBase

/** A non-`file://` Hadoop FileSystem scheme backed by local disk: proves
  * the Storage layer's claim that going through the FS API makes the
  * same code serve any object-store scheme (s3a://, gs://, …) — nothing
  * in Storage or the Spark read/write paths may assume the default
  * filesystem. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")

  /** RawLocal's lazy permission loader does `new java.io.File(uri)` on
    * the status path, which rejects any scheme but file:// — return
    * eagerly-populated statuses instead (permissions are irrelevant to
    * the test). */
  private def eager(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      if (s.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "graft", "graft", s.getPath)
  override def getFileStatus(f: Path): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(eager)
}

class StorageSchemeSpec extends SparkSpecBase {

  test("storage + Spark IO work unchanged over a non-default filesystem scheme") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val dir = Files.createTempDirectory("graft-scheme")
    Files.write(dir.resolve("src.csv"),
      java.util.Arrays.asList("id,name", "1,a", "2,b"))

    // FS-API surface: copy, exists, list — all through the alien scheme
    val srcUri = s"graftfs://$dir/src.csv"
    val cpUri = s"graftfs://$dir/nested/copy.csv"
    Storage.copyObject(spark, srcUri, cpUri)
    assert(Storage.exists(spark, cpUri))
    val listed = Storage.listObjects(spark, s"graftfs://$dir")
    assert(listed.exists(_.endsWith("nested/copy.csv")))
    assert(listed.forall(_.startsWith("graftfs:")), listed.mkString(", "))

    // driver-side header read goes through the scheme too
    assert(Storage.readCsvHeader(spark, cpUri) === Some(Seq("id", "name")))

    // Spark scan + sink surface over the scheme
    val df = Storage.readCsv(spark, cpUri)
    assert(df.count() === 2)
    val out = s"graftfs://$dir/trusted_out"
    Storage.writeTrusted(
      df.withColumn("ingestion_date",
        org.apache.spark.sql.functions.lit("2025-09-09")),
      "ingestion_date", out)
    val back = Storage.readParquet(spark, out)
    assert(back.count() === 2)
    assert(Storage.deleteObject(spark, cpUri))
    assert(!Storage.exists(spark, cpUri))
  }
}
