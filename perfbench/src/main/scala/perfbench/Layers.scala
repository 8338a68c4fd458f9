package perfbench

import scala.collection.mutable

/** Per-layer figures of one traced pass. Every workload reports every
  * name; a layer the workload does not exercise reports 0. */
object Layers {

  val names: Seq[String] = Seq(
    "pipeline.landing_to_raw_ms", "pipeline.extract_ms", "pipeline.transform_ms",
    "pipeline.load_ms", "pipeline.post_ms", "pipeline.jobs", "pipeline.task_ms",
    "pipeline.rows_written",
    "store.landing_bytes", "store.bytes_read", "store.read_amp", "store.bytes_written",
    "store.trusted_files", "store.notebook_bytes_scanned",
    "analytics.q1_ms", "analytics.q2_ms", "analytics.q3_ms", "analytics.overview_ms",
    "analytics.construct_ms", "analytics.plan_ms", "analytics.exec_ms", "analytics.jobs",
    "analytics.shuffle_bytes",
    "queries.construct_ms", "queries.plan_ms", "queries.exec_ms", "queries.jobs",
    "queries.stages", "queries.tasks", "queries.task_ms", "queries.driver_gap_ms",
    "queries.shuffle_bytes", "queries.spill_bytes",
    "sources.bytes_read",
    "operators.construct_ms", "operators.eager_jobs", "operators.plan_ms",
    "operators.exec_ms", "operators.jobs", "operators.tasks", "operators.task_ms",
    "operators.driver_gap_ms", "operators.shuffle_bytes", "operators.spill_bytes",
    "operators.peak_exec_mem_mb", "operators.dedup_ms", "operators.curate_ms",
    "operators.ann_ms", "operators.text_ms", "operators.rows_out")

  /** Layer prefix an operation group reports under. */
  private def layerOf(group: String): String = group match {
    case "pipeline" => "pipeline"
    case "q1" | "q2" | "q3" | "overview" => "analytics"
    case "queries" => "queries"
    case _ => "operators"
  }

  def of(pass: PassRun, t: Tracer, landing: Option[MedallionData.Landing]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    pass.ops.foreach { r =>
      val layer = layerOf(r.op.group)
      add(s"$layer.${r.op.group}_ms", r.ms)
      add(s"$layer.rows_out", r.rowsOut.toDouble)
      r.phases.foreach { case (phase, t0, t1) =>
        val w = t.work(s"${r.key}/$phase")
        add(s"$layer.${phase}_ms", t1 - t0)
        add(s"$layer.jobs", w.jobs.toDouble)
        if (phase == "construct") add(s"$layer.eager_jobs", w.jobs.toDouble)
        add(s"$layer.stages", w.stages.toDouble)
        add(s"$layer.tasks", w.tasks.toDouble)
        add(s"$layer.task_ms", w.taskMs.toDouble)
        add(s"$layer.shuffle_bytes", w.shuffleBytes.toDouble)
        add(s"$layer.spill_bytes", w.spillBytes.toDouble)
        add(s"$layer.bytes_read", w.bytesRead.toDouble)
        add(s"$layer.bytes_written", w.bytesWritten.toDouble)
        m(s"$layer.peak_exec_mem_mb") = math.max(m(s"$layer.peak_exec_mem_mb"), w.peakExecMem / 1048576.0)
        if (phase == "exec")
          add(s"$layer.driver_gap_ms", (t1 - t0) - Tracer.unionMs(w.jobSpans.toSeq, t0, t1))
      }
    }
    landing.foreach { l =>
      m("store.landing_bytes") = l.bytes.toDouble
      m("store.bytes_read") = m("pipeline.bytes_read")
      m("store.read_amp") = m("pipeline.bytes_read") / l.bytes
      m("store.bytes_written") = m("pipeline.bytes_written")
      m("store.notebook_bytes_scanned") = m("analytics.bytes_read")
      m("store.trusted_files") = pass.facts("trusted_files")
      m("pipeline.rows_written") = pass.facts("rows_written")
    }
    m("sources.bytes_read") = m("queries.bytes_read") + m("operators.bytes_read")
    names.map(n => n -> m(n)).toMap
  }
}

/** The traced passes as a span tree (workload → pass → operation → phase
  * → Spark job), written as JSON lines when `--spans` is given. */
object SpanLog {
  def build(workload: String, passes: Seq[PassRun], t: Tracer): String = {
    val out = new StringBuilder
    var next = 0
    def span(parent: Int, kind: String, name: String, start: Double, end: Double): Int = {
      val id = next
      next += 1
      out ++= Json.obj(Seq("id" -> id.toString, "parent" -> parent.toString,
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(end))) += '\n'
      id
    }
    def bounds(xs: Seq[(Double, Double)]) =
      if (xs.isEmpty) (0.0, 0.0) else (xs.map(_._1).min, xs.map(_._2).max)
    val all = passes.flatMap(_.ops.flatMap(_.phases.map(p => (p._2, p._3))))
    val root = span(-1, "workload", workload, bounds(all)._1, bounds(all)._2)
    passes.foreach { p =>
      val (ps, pe) = bounds(p.ops.flatMap(_.phases.map(x => (x._2, x._3))))
      val pid = span(root, "pass", p.index.toString, ps, pe)
      p.ops.foreach { r =>
        val (os, oe) = bounds(r.phases.map(x => (x._2, x._3)).toSeq)
        val oid = span(pid, "operation", r.op.name, os, oe)
        r.phases.foreach { case (phase, t0, t1) =>
          val fid = span(oid, "phase", phase, t0, t1)
          t.work(s"${r.key}/$phase").jobSpans.foreach { case (j0, j1) => span(fid, "job", "job", j0, j1) }
        }
      }
    }
    out.toString
  }
}

/** JVM and host facts. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  private def procField(file: String, key: String): Option[String] = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim)
    finally src.close()
  }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").map(_.stripSuffix("kB").trim.toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Single-thread SHA-256 throughput over a fixed 1 MiB buffer: the CPU
    * yardstick graft.Bench records, so runs on a drifting host show it. */
  def sha256MBs(): Double = {
    val buf = Array.fill[Byte](1 << 20)(0x5a)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(buf)
    val t0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() - t0 < 300e6.toLong) { md.digest(buf); n += 1 }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def host(cpus: Int): String = Json.obj(Seq(
    "nproc" -> cpus.toString,
    "mem_total_kb" -> Json.str(procField("/proc/meminfo", "MemTotal:").getOrElse("?").stripSuffix("kB").trim),
    "cpu_model" -> Json.str(procField("/proc/cpuinfo", "model name").map(_.stripPrefix(":").trim).getOrElse("?")),
    "java" -> Json.str(System.getProperty("java.version")),
    "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
    "sha256_st_mbs" -> Json.num(sha256MBs())))
}
