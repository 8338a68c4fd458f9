package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Snapshot-manifest commits — a minimal multi-frame atomic-publish
  * primitive for the maintained-state operators (the heavy-hitters
  * candidate index + its meta sidecar, the `gold_user_sessions` table,
  * any frozen-model pair that must change TOGETHER):
  *
  *   - each commit writes its frames under `base/v<N>/<name>/` (fresh
  *     directories — never overwriting live data), then publishes by
  *     writing the version number to `base/_current.txt`;
  *   - the pointer publish is ONE atomic rename
  *     ([[Storage.writeTextFileAtomic]]: stage at `.tmp`, rename with
  *     Rename.OVERWRITE) — the commit point. A crash anywhere in the
  *     commit leaves the previous pointer byte-for-byte intact, and a
  *     concurrent reader sees the complete old pointer or the complete
  *     new one, never a truncated prefix;
  *   - readers resolve the pointer first, then read that version's
  *     directories, so a reader mid-commit sees the previous fully
  *     written snapshot, never a torn mix of two versions' frames;
  *   - a crash before the pointer rename leaves orphaned v<N> data and
  *     a perfectly consistent current snapshot — the failed build
  *     simply re-runs against the old snapshot. [[vacuum]] reclaims the
  *     orphan.
  *
  * Concurrency contract, both halves explicit:
  *
  *   - SINGLE WRITER: exactly one process calls [[commit]]/[[vacuum]].
  *     Versions are allocated by reading the pointer, so two
  *     concurrent writers would race to the same v<N>. vacuum is a
  *     WRITER-side call under the same contract — it must never run
  *     concurrently with a commit (it
  *     deletes versions above the pointer as crashed-commit orphans,
  *     which an in-flight commit would be indistinguishable from).
  *   - READERS are wait-free but keep `keep ≥ 2` in mind: a reader
  *     that resolved version v stays safe across ONE subsequent
  *     commit+vacuum cycle (v is then cur−1, inside the keep window);
  *     a reader whose job outlives MULTIPLE commit cycles must pin its
  *     snapshot (localCheckpoint / persist the frames it read) rather
  *     than rely on the files surviving. SnapshotSpec asserts the
  *     one-cycle grace window.
  *
  * This is the single load-bearing idea of table formats (Iceberg/Delta
  * commit pointers) cut down to what the maintained-state family needs;
  * production deployments with concurrent writers would use a real
  * table format. */
object Snapshot {

  private val Pointer = "_current.txt"

  /** The published version, None before the first commit. Tolerates a
    * torn pointer (possible only from a pre-atomic-rename writer or
    * external damage — the rename path cannot produce one): an
    * unparsable pointer falls back to the highest version whose every
    * frame directory carries its `_SUCCESS` marker (Spark's
    * commit-protocol receipt — present exactly when the frame write
    * completed), so recovery resolves a fully-written snapshot rather
    * than throwing until manual repair. */
  def currentVersion(spark: SparkSession, base: String): Option[Long] =
    if (!Storage.exists(spark, s"$base/$Pointer")) None
    else {
      val raw = Storage.readTextFile(spark, s"$base/$Pointer").trim
      if (raw.nonEmpty && raw.forall(_.isDigit)) Some(raw.toLong)
      else recoverVersion(spark, base)
    }

  /** Highest version directory whose every child frame has a _SUCCESS
    * marker — the torn-pointer recovery target. */
  private def recoverVersion(spark: SparkSession, base: String): Option[Long] = {
    val f = Storage.fileSystem(spark, base)
    val p = new org.apache.hadoop.fs.Path(base)
    if (!f.exists(p)) return None
    val complete = f.listStatus(p).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit)) {
        val frames = f.listStatus(st.getPath).filter(_.isDirectory)
        val allCommitted = frames.nonEmpty && frames.forall(fr =>
          f.exists(new org.apache.hadoop.fs.Path(fr.getPath, "_SUCCESS")))
        if (allCommitted) Some(n.drop(1).toLong) else None
      } else None
    }.toSeq
    if (complete.isEmpty) None else Some(complete.max)
  }

  /** Write every frame (and small text sidecar) under the next
    * version, then publish it with the single atomic pointer rename.
    * Returns the committed version. Safe to retry after any partial
    * failure: an un-published v<N> is invisible to readers and is
    * simply overwritten (same N re-allocated) or vacuumed. */
  def commit(spark: SparkSession, base: String,
      frames: Map[String, DataFrame],
      sidecars: Map[String, String] = Map.empty): Long = {
    require(frames.nonEmpty || sidecars.nonEmpty,
      "a snapshot commit needs at least one frame or sidecar")
    val next = currentVersion(spark, base).map(_ + 1L).getOrElse(0L)
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$base/v$next/$name")
    }
    sidecars.foreach { case (name, text) =>
      Storage.writeTextFile(spark, s"$base/v$next/$name", text)
    }
    Storage.writeTextFileAtomic(spark, s"$base/$Pointer", s"$next\n")
    next
  }

  /** Read `name` from the CURRENT snapshot — empty-but-typed when no
    * snapshot has ever committed (first-fold reads need no special
    * casing) or when this frame wasn't part of it. */
  def read(spark: SparkSession, base: String, name: String,
      schema: StructType): DataFrame =
    currentVersion(spark, base) match {
      case Some(v) if Storage.listObjects(spark, s"$base/v$v/$name")
          .exists(_.endsWith(".parquet")) =>
        spark.read.schema(schema).parquet(s"$base/v$v/$name")
      case _ =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** The path of `name` under the CURRENT snapshot (for frames whose
    * reader supplies its own schema/format), None before any commit. */
  def currentPath(spark: SparkSession, base: String, name: String): Option[String] =
    currentVersion(spark, base).map(v => s"$base/v$v/$name")

  /** Read a text sidecar from the CURRENT snapshot. */
  def readSidecar(spark: SparkSession, base: String, name: String): Option[String] =
    currentPath(spark, base, name).filter(Storage.exists(spark, _))
      .map(Storage.readTextFile(spark, _))

  /** Drop snapshot directories outside the newest `keep` versions —
    * BOTH stale history (v ≤ cur − keep) and crashed-commit orphans
    * ABOVE the pointer (v > cur: a version directory with no pointer
    * pointing at it is a failed commit's leftovers, which would
    * otherwise leak until the next commit happens to reuse the slot).
    * Writer-side call under the single-writer contract — never
    * concurrent with a commit. Never touches the current version. */
  def vacuum(spark: SparkSession, base: String, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the current version")
    currentVersion(spark, base).foreach { cur =>
      val f = Storage.fileSystem(spark, base)
      val p = new org.apache.hadoop.fs.Path(base)
      if (f.exists(p)) f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit)) {
          val v = n.drop(1).toLong
          if (v <= cur - keep || v > cur) f.delete(st.getPath, true)
        }
      }
    }
  }
}
