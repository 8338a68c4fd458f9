package graft.tools

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Diagnostic main: split each warmed rep of a gate into its layers —
  * `runMain graft.tools.LayerProfile gate1,gate2 [sfDir]` (`sfDir`
  * defaults to `SPARK_GRAFT_SF_DIR`, as in Bench).
  *
  * A rep has three phases, each timed and profiled on its own:
  *   - construct: the gate function, including any eager jobs it runs;
  *   - plan: analysis, optimization and physical planning of the frame;
  *   - exec: a `noop` write of every row.
  *
  * Per rep it prints the three walls, then the Spark work summed over the
  * phases (jobs, with the per-phase split; stages; tasks; summed task ms;
  * shuffle-write and spill bytes), the exec driver gap (exec wall minus
  * the union of its job spans: analysis, scheduling and result handling
  * on the driver), the Janino compiles per phase (codegen-cache misses)
  * and the call site of each construct job (the first `graft.` frame
  * that started it, with its job count). The session is the one Bench
  * runs (`Sessions.local`). */
object LayerProfile {

  private val Key = "graft.layerProfile"
  private val Reps = 3

  /** The Spark work one phase caused. */
  final class Work {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** Call site of each job, in start order: the first `graft.` frame
      * of its stage details or, for a job submitted from a thread without
      * one (an adaptive query stage, a broadcast), of the details of the
      * SQL execution it belongs to; else the stage's short call site. */
    val sites = mutable.ArrayBuffer.empty[String]
    /** (start, end) epoch ms of each finished job. */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Length of the union of the job spans clipped to [lo, hi]. */
    def jobUnionMs(lo: Long, hi: Long): Long = {
      var covered = 0L
      var reach = lo
      jobSpans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
      covered
    }
  }

  /** Collects the jobs, stages and tasks of the jobs whose submitting
    * thread carries `tag` in its local property. Spark copies local
    * properties onto every job the thread, or a broadcast or subquery
    * thread it starts, submits, so other work in the session is never
    * counted. */
  private final class Collector(tag: String) extends SparkListener {
    val work = new Work
    private val stages = mutable.Set.empty[Int]
    private val jobStart = mutable.Map.empty[Int, Long]
    /** First `graft.` frame of each SQL execution's call site, by id. */
    private val executionSites = mutable.Map.empty[String, String]

    private def graftFrame(details: String): Option[String] =
      Option(details).flatMap(_.linesIterator.map(_.trim).find(_.startsWith("graft.")))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        graftFrame(s.details).foreach(executionSites(s.executionId.toString) = _)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty(Key) == tag) {
        work.jobs += 1
        val execution = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(e.properties.getProperty(k))).flatMap(executionSites.get)
        work.sites += e.stageInfos.headOption.fold("?")(s =>
          graftFrame(s.details).orElse(execution.headOption).getOrElse(s.name))
        jobStart(e.jobId) = e.time
        stages ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => work.jobSpans += ((t0, e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stages(e.stageInfo.stageId)) work.stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stages(e.stageId)) {
        work.tasks += 1
        work.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          work.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          work.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  /** One profiled phase: wall ms, its epoch-ms window, the Spark work it
    * caused and the Janino compiles inside it. */
  final case class Phase(ms: Double, startMs: Long, endMs: Long, work: Work, compiles: Long) {
    /** Wall minus the union of the phase's job spans (the epoch-ms window
      * can be a millisecond wider than the nanosecond wall, hence the 0
      * floor). */
    def driverGapMs: Double = math.max(0.0, ms - work.jobUnionMs(startMs, endMs))
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` with the Spark jobs it launches (from its thread and the
    * threads that thread starts) attributed to it; waits for the listener
    * bus to deliver their events before returning. */
  def phase[T](spark: SparkSession)(body: => T): (T, Phase) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val collector = new Collector(tag)
    sc.addSparkListener(collector)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val c0 = compiles()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val ms = (System.nanoTime() - t0) / 1e6
      val end = System.currentTimeMillis()
      val c1 = compiles()
      ListenerBusAccess.drain(sc)
      (result, Phase(ms, start, end, collector.work, c1 - c0))
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(collector)
    }
  }

  /** One rep of a gate: its construct, plan and exec phases, in order. */
  def rep(spark: SparkSession, gate: (SparkSession, String) => DataFrame,
      dir: String): Seq[(String, Phase)] = {
    val (df, construct) = phase(spark)(gate(spark, dir))
    val (_, plan) = phase(spark)(df.queryExecution.executedPlan)
    val (_, exec) = phase(spark)(df.write.format("noop").mode("overwrite").save())
    Seq("construct" -> construct, "plan" -> plan, "exec" -> exec)
  }

  /** Distinct call sites of a phase's jobs, first seen first, each with
    * its job count. */
  private def sites(w: Work): String =
    w.sites.distinct.map(s => s"$s x${w.sites.count(_ == s)}").mkString("[", ", ", "]")

  def main(args: Array[String]): Unit = {
    val usage = "usage: LayerProfile gate1,gate2 [sfDir] (sfDir defaults to SPARK_GRAFT_SF_DIR)"
    require(args.nonEmpty, usage)
    val gates = args(0).split(',')
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(sys.error(usage))
    val spark = graft.Sessions.local("graft-layer-profile")
    gates.foreach { g =>
      val fn = graft.Bench.gate(g).getOrElse(sys.error(s"unknown gate: $g"))
      fn(spark, dir).write.format("noop").mode("overwrite").save() // warm: JIT, footers, codegen
      for (r <- 1 to Reps) {
        val phases = rep(spark, fn, dir)
        val works = phases.map(_._2.work)
        def sum(f: Work => Long): Long = works.map(f).sum
        val exec = phases.last._2
        println(s"$g rep$r: " +
          phases.map { case (n, p) => f"$n=${p.ms}%.0fms" }.mkString(" ") +
          s" jobs=${sum(_.jobs)} " +
          phases.map { case (n, p) => s"$n ${p.work.jobs}" }.mkString("(", ", ", ")") +
          s" stages=${sum(_.stages)} tasks=${sum(_.tasks)} task_ms=${sum(_.taskMs)}" +
          f" driver_gap=${exec.driverGapMs}%.0fms" +
          s" shuffle_write=${sum(_.shuffleWriteBytes)}B spill=${sum(_.spillBytes)}B" +
          s" compiles=${phases.map(_._2.compiles).mkString("/")}" +
          s" construct_sites=${sites(phases.head._2.work)}")
      }
    }
    spark.stop()
  }
}
