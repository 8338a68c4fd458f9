package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-phase totals of the Spark work the phase caused. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Attributes Spark jobs, stages and tasks to the phase that caused them.
  * Each phase tags the driver thread with a local property; Spark copies
  * local properties onto every job the thread (or a broadcast/subquery
  * thread it spawns) submits, so the tag arrives on the job-start event. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  private val byPhase = mutable.Map.empty[String, Work]
  private val stageOwner = mutable.Map.empty[Int, Work]
  private val jobOwner = mutable.Map.empty[Int, (Work, Double)]

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  /** Runs `body` with its Spark jobs attributed to `phaseKey`. */
  def tagged[T](phaseKey: String)(body: => T): T = {
    sc.setLocalProperty(Key, phaseKey)
    try body finally sc.setLocalProperty(Key, null)
  }

  /** Work recorded for a phase; call after [[drain]]. */
  def work(phaseKey: String): Work = synchronized(byPhase.getOrElse(phaseKey, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    key.foreach { k =>
      val w = byPhase.getOrElseUpdate(k, new Work)
      w.jobs += 1
      jobOwner(e.jobId) = (w, e.time.toDouble)
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, w))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (w, t0) => w.jobSpans += ((t0, e.time.toDouble)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { w =>
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
        w.bytesRead += m.inputMetrics.bytesRead
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Tracer {
  val Key = "perfbench.phase"

  /** Length of the union of `spans` clipped to [lo, hi]. */
  def unionMs(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
