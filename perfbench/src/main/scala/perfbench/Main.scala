package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Epoch milliseconds with nanosecond resolution, on Spark's event clock. */
object Clock {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def ms(): Double = base + System.nanoTime() / 1e6
}

/** One execution of an operation: times each phase and, in a traced
  * pass, attributes the phase's Spark jobs to it. */
final class OpRun(val op: Op, val traced: Boolean, tracer: Option[Tracer], val key: String) {
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** Process CPU time (all threads) spent while the phases ran, ms. */
  var cpuMs = 0.0
  var rowsOut = 0L
  var error: Option[String] = None

  def phase[T](name: String)(body: => T): T = {
    val t0 = Clock.ms()
    val c0 = Jvm.cpuMs()
    val r = tracer.fold(body)(_.tagged(s"$key/$name")(body))
    cpuMs += Jvm.cpuMs() - c0
    phases += ((name, t0, Clock.ms()))
    r
  }
  def ms: Double = phases.map(p => p._3 - p._2).sum
}

final case class PassRun(index: Int, traced: Boolean, ops: Seq[OpRun], gcMs: Double,
    codegen: Double, facts: Map[String, Double]) {
  def ms: Double = ops.map(_.ms).sum
}

/** Closed-loop, single-client benchmark driver: one thread submits one
  * operation at a time; the next starts when the previous completes.
  *
  * Usage (normally through run.py):
  * {{{
  * perfbench.Main --workload medallion|gates --seed N
  *   --seconds S --trace 0|1 --tmp DIR --data DIR --fingerprints FILE
  *   [--cpus N] [--record FILE] [--spans FILE]
  * }}}
  * Sets up once (session start + one untimed warm-up pass) in this fresh
  * JVM, so the set-up is a cold one, then measures. Prints a detail line
  * (host fingerprint, workload-named figures, checksums) and then one
  * JSON line with every metric it measured. */
object Main {

  /** Medallion input size, in blocks of 100 users. */
  val MedallionBlocks = 3

  /** Untimed passes between set-up and measurement: after one warm-up
    * pass the JIT is still speeding the passes up, by about a third over
    * the next two. */
  val SettlePasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val tmp = Paths.get(o("tmp"))
    val cpus = o.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt

    val tStart = Clock.ms()
    var landing: Option[MedallionData.Landing] = None
    var datagenMs = 0.0
    val recorded = mutable.Map.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def check(err: Option[String]): Unit = { attempted += 1; failures ++= err }

    val workload: Workload = workloadName match {
      case "medallion" =>
        val t0 = Clock.ms()
        val l = MedallionData.write(tmp.resolve("gen"), MedallionBlocks, seed)
        datagenMs = Clock.ms() - t0
        landing = Some(l)
        new Medallion(l, Files.createDirectories(tmp.resolve("lakes")))
      case "gates" =>
        new GateSuite(o("data"), readFingerprints(o("fingerprints")), recorded)
      case other => sys.error(s"unknown workload $other")
    }

    def newSession(): SparkSession = {
      val s = graft.Sessions.withEngineDefaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workloadName")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", tmp.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // benign listener/accumulator races that flood stderr in long sessions
      Seq("org.apache.spark.scheduler.DAGScheduler" -> "FATAL",
        "org.apache.spark.sql.execution.window.WindowExec" -> "ERROR",
        "org.apache.spark.storage.BlockManager" -> "ERROR",
        "org.apache.spark.util.AccumulatorContext" -> "ERROR").foreach { case (c, l) =>
        org.apache.logging.log4j.core.config.Configurator.setLevel(c,
          org.apache.logging.log4j.Level.valueOf(l))
      }
      s
    }

    // op order of every pass: the workload's fixed prefix, then a
    // permutation that depends only on the seed and the pass index
    def order[T](ops: Seq[T], idx: Int): Seq[T] =
      ops.take(workload.fixedPrefix) ++
        new Random(seed * 1000003L + idx).shuffle(ops.drop(workload.fixedPrefix))
    val orderLog = mutable.ArrayBuffer.empty[Seq[String]]
    var passIndex = 0

    def runPass(spark: SparkSession, tracer: Option[Tracer], checkState: Boolean = false): PassRun = {
      val idx = passIndex
      passIndex += 1
      val ops = order(workload.beginPass(spark, idx), idx)
      orderLog += ops.map(_.name)
      tracer.foreach(_.attach())
      val gc0 = Jvm.gcMs(); val cg0 = Jvm.codegenCompiles()
      val runs = ops.map { op =>
        val r = new OpRun(op, tracer.isDefined, tracer, s"p$idx/${op.name}")
        r.error = try op.run(spark, r) catch { case e: Throwable => Some(e.toString) }
        r
      }
      val gc = Jvm.gcMs() - gc0; val cg = Jvm.codegenCompiles() - cg0
      tracer.foreach(_.detach())
      val facts = workload match {
        case m: Medallion => Map("trusted_files" -> m.trustedFiles().toDouble,
          "rows_written" -> m.lastLoaded.toDouble)
        case _ => Map.empty[String, Double]
      }
      if (checkState) check(workload.checkState(spark).map(e => s"state: $e"))
      workload.endPass()
      runs.foreach(r => check(r.error.map(e => s"${r.op.name}: ${e.take(300)}")))
      PassRun(idx, tracer.isDefined, runs, gc, cg, facts)
    }

    // ---- set-up, from cold: session start + one untimed warm-up pass
    val t0 = Clock.ms()
    val spark = newSession()
    val t1 = Clock.ms()
    runPass(spark, None, checkState = true)
    val startMs = t1 - t0
    val warmMs = Clock.ms() - t1

    // ---- untimed settle passes, checked like every other
    val tSettle = Clock.ms()
    for (_ <- 1 to SettlePasses) runPass(spark, None)
    val settleMs = Clock.ms() - tSettle

    // ---- measured passes
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val tMeasure = Clock.ms()
    // at least three passes, so every run takes its medians the same way
    while (passes.size < 3 || Clock.ms() - tMeasure < seconds * 1000) {
      val traceThis = trace && passes.nonEmpty && !passes.last.traced
      passes += runPass(spark, if (traceThis) tracer else None)
    }
    val measureMs = Clock.ms() - tMeasure
    val spans = tracer.map(t => SpanLog.build(workloadName, passes.filter(_.traced).toSeq, t))
    spark.stop()

    // ---- figures
    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val opMs = plain.flatMap(_.ops.map(_.ms))
    // each operation's median latency over the measured passes: robust to
    // one slow execution, and a pass built from them is robust to a slow pass
    val opMedian = plain.flatMap(_.ops).groupBy(_.op.name).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> Stats.median(rs.map(_.ms)) }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = (startMs + warmMs) / 1000
    m("pass_s") = opMedian.map(_._2).sum / 1000
    m("op_geomean_ms") = math.exp(opMedian.map(o => math.log(o._2)).sum / opMedian.size)
    m("pass_cpu_s") = plain.flatMap(_.ops).groupBy(_.op.name).values
      .map(rs => Stats.median(rs.map(_.cpuMs))).sum / 1000
    if (trace) {
      val layer = traced.map(p => Layers.of(p, tracer.get, landing))
      Layers.names.foreach(n => m(n) = Stats.median(layer.map(_.getOrElse(n, 0.0))))
      m("session.start_ms") = startMs
      m("session.warmup_ms") = warmMs
      m("jvm.gc_ms") = Stats.median(passes.map(_.gcMs).toSeq)
      m("jvm.codegen_compiles") = Stats.median(passes.map(_.codegen).toSeq)
      m("jvm.peak_rss_mb") = Jvm.peakRssMb()
      m("bench.datagen_ms") = datagenMs
      m("trace.overhead_frac") = Stats.median(traced.map(_.ms)) / Stats.median(plain.map(_.ms)) - 1
    }

    // workload-named figures (detail line)
    val named = mutable.LinkedHashMap.empty[String, Double]
    workload match {
      case _: Medallion =>
        named("etl_rows_per_s") = Stats.median(plain.map { p =>
          val pipe = p.ops.head
          p.facts("rows_written") / (pipe.ms / 1000)
        })
        named("notebook_s") = Stats.median(plain.map(_.ops.tail.map(_.ms).sum / 1000))
      case _ =>
        def part(group: String => Boolean) =
          Stats.median(plain.map(_.ops.filter(r => group(r.op.group)).map(_.ms).sum / 1000))
        named("relational_s") = part(_ == "queries")
        named("curation_s") = part(_ != "queries")
    }
    named("op_p50_ms") = Stats.median(opMs)
    named("executions") = opMs.size.toDouble
    named("peak_rss_mb") = Jvm.peakRssMb()
    named("failed_frac") = failures.size.toDouble / math.max(1L, attempted)

    o.get("record").foreach(f => Files.write(Paths.get(f),
      recorded.toSeq.sorted.map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8)))
    for (f <- o.get("spans"); s <- spans)
      Files.write(Paths.get(f), s.getBytes(StandardCharsets.UTF_8))

    val host = Jvm.host(cpus)
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "host" -> host,
      "landing_sha256" -> Json.str(landing.map(_.sha256).getOrElse("")),
      "landing_rows" -> Json.str(landing.map(_.rows.toSeq.sorted.mkString(",")).getOrElse("")),
      // one hash per pass, warm-up first: compare.py checks that runs of
      // one seed ran their passes in the same order
      "op_order_sha256" -> orderLog.map(o => Json.str(hex(java.security.MessageDigest
        .getInstance("SHA-256").digest(o.mkString(",").getBytes(StandardCharsets.UTF_8))).take(16)))
        .mkString("[", ",", "]"),
      "setup_ms" -> Json.obj(Seq("start" -> Json.num(startMs), "warmup" -> Json.num(warmMs))),
      "passes" -> plain.size.toString,
      "pass_totals_s" -> plain.map(p => Json.num(p.ms / 1000)).mkString("[", ",", "]"),
      "traced_passes" -> traced.size.toString,
      "op_ms" -> Json.obj(opMedian.map { case (k, v) => k -> Json.num(v) }),
      "settle_s" -> Json.num(settleMs / 1000),
      "measure_s" -> Json.num(measureMs / 1000),
      "wall_s" -> Json.num((Clock.ms() - tStart) / 1000),
      "figures" -> Json.obj(named.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> failures.take(10).map(Json.str).mkString("[", ",", "]")))
    println(s"""{"perfbench": $detail}""")
    println(result(failures.toSeq, attempted, m.toSeq))
  }

  private def result(failures: Seq[String], attempted: Long, m: Seq[(String, Double)]): String =
    Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(m.map { case (k, v) => k -> Json.num(v) })))

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def readFingerprints(file: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readValue(new java.io.File(file), classOf[java.util.Map[String, String]]).asScala.toMap
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
