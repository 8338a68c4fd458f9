package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.analytics.{StreamProAnalytics => A}
import graft.pipeline.{LandingToRaw, Pipeline, RawToTrusted}
import graft.store.LayerPaths

/** One closed-loop operation. `run` throws, or returns a mismatch
  * description, when the answer is wrong. */
trait Op {
  def name: String
  /** Layer bucket the operation's time is reported under. */
  def group: String
  def run(spark: SparkSession, ph: OpRun): Option[String]
}

/** A DataFrame-producing entry point: construct (the entry point itself,
  * including any eager jobs it runs), plan (analysis + physical
  * planning, split out only when traced) and exec (collect). */
final case class DfOp(name: String, group: String, build: SparkSession => DataFrame,
    check: Array[Row] => Option[String]) extends Op {
  def run(spark: SparkSession, ph: OpRun): Option[String] = {
    val df = ph.phase("construct")(build(spark))
    if (ph.traced) ph.phase("plan")(df.queryExecution.executedPlan)
    val rows = ph.phase("exec")(df.collect())
    ph.rowsOut = rows.length
    check(rows)
  }
}

trait Workload {
  /** Fresh per-pass state (e.g. an empty lake); returns the pass's ops.
    * The first `fixedPrefix` keep their place, the rest run in seeded
    * order. */
  def beginPass(spark: SparkSession, pass: Int): Seq[Op]
  def fixedPrefix: Int = 0
  /** Extra check of state the pass left behind, before [[endPass]]. */
  def checkState(spark: SparkSession): Option[String] = None
  def endPass(): Unit = ()
}

/** Relational queries and curation gates over a fixed fixture directory,
  * each checked against its recorded answer fingerprint. */
final class GateSuite(dataDir: String, expected: Map[String, String],
    record: scala.collection.mutable.Map[String, String]) extends Workload {
  import GateSuite._

  private val ops: Seq[Op] = (Relational ++ Curation).map { g =>
    val f = SparkEntry.queries(g)
    DfOp(g, group(g), f(_, dataDir), rows => {
      val fp = Fingerprint.of(rows)
      record(g) = fp
      expected.get(g) match {
        case Some(`fp`) => None
        case Some(want) => Some(s"fingerprint $fp, recorded $want")
        case None => Some(s"no recorded fingerprint (got $fp)")
      }
    })
  }

  def beginPass(spark: SparkSession, pass: Int): Seq[Op] = ops
}

object GateSuite {
  /** Four of q01–q30, one per plan shape: scan/aggregate, join, rollup
    * and percentiles. */
  val Relational: Seq[String] = Seq(
    "q01_pricing_summary", "q05_join_agg", "q15_rollup", "q23_percentiles")

  /** One gate per operator family: MinHash dedup, the text curation
    * composite, LSH search and TF-IDF. */
  val Curation: Seq[String] = Seq("dd_minhash", "tp_curate", "ss_ann_lsh", "ta_tfidf")

  /** Layer bucket of a gate: relational queries, or the curation
    * operator family by name prefix. */
  def group(gate: String): String = gate.takeWhile(_ != '_') match {
    case g if g.matches("q\\d\\d") => "queries"
    case "dd" => "dedup"
    case "tp" | "mm" => "curate"
    case "ss" => "ann"
    case "ta" => "text"
    case _ => "other"
  }
}

/** The paper's own workload: landing → raw → trusted through
  * `Pipeline`, then the notebook statements that answer Q1–Q3 (plus the
  * session-bounds overview) over the trusted views. Every pass ingests
  * into an empty lake next to a hard-linked copy of the landing files. */
final class Medallion(landing: MedallionData.Landing, lakes: Path) extends Workload {
  import MedallionData._

  private val b = landing.blocks
  private val n = landing.users
  private var lake: Option[Path] = None

  /** Trusted rows the last pipeline run wrote. */
  var lastLoaded = 0L

  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  private def num(r: Row, c: String): Double = r.getAs[Any](c) match {
    case x: Number => x.doubleValue
    case _ => Double.NaN
  }

  /** Watch-time sums may add in any partition order. */
  private def near(x: Double, want: Double): Boolean = math.abs(x - want) < 1e-9

  private val expectedRows = landing.rows.values.sum

  private def pipelineOp(root: String): Op = new Op {
    val name = "pipeline"
    val group = "pipeline"
    def run(spark: SparkSession, ph: OpRun): Option[String] = {
      val cfg = Pipeline.Config(root, IngestionDate)
      val loaded =
        if (!ph.traced) {
          val rs = ph.phase("run")(Pipeline.run(spark, cfg))
          if (!rs.forall(_.success)) return Some(s"pipeline failed: ${rs.flatMap(_.error).mkString("; ")}")
          rs.last.recordsProcessed
        } else {
          val paths = LayerPaths(root)
          val r1 = ph.phase("landing_to_raw")(new LandingToRaw(spark, paths, IngestionDate).run())
          if (!r1.success) return Some(s"landing_to_raw failed: ${r1.error.getOrElse("")}")
          val r2 = new RawToTrusted(spark, paths, IngestionDate)
          r2.preProcess()
          val in = ph.phase("extract")(r2.extract())
          val out = ph.phase("transform")(r2.transform(in))
          val rows = ph.phase("load")(r2.load(out))
          ph.phase("post")(r2.postProcess(
            graft.pipeline.JobResult(r2.jobName, success = true, 0.0, rows)))
          rows
        }
      lastLoaded = loaded
      fail(loaded == expectedRows, s"trusted rows $loaded, expected $expectedRows")
    }
  }

  private def stmt(name: String, group: String, build: SparkSession => DataFrame)(
      check: Array[Row] => Option[String]): Op = DfOp(name, group, build, check)

  private val worstCohort: Seq[String] =
    (for (blk <- 0 until b; i <- IosCohort) yield userId(blk, i)).sorted.take(10)

  private val statements: Seq[Op] = Seq(
    stmt("sessionBounds", "overview", A.sessionBounds) { rs =>
      fail(rs.length == n && rs.forall(_.getAs[String]("first_session_id").endsWith("_sess_0_0")),
        s"${rs.length} bounds") },
    stmt("q1Analysis", "q1", A.q1Analysis) { rs =>
      val r = rs.head
      fail(num(r, "total_users") == n && num(r, "users_with_watch_time") == 97 * b &&
        num(r, "users_with_30_plus") == b && num(r, "pct_reaching_30_seconds") == 1.0, s"Q1 $r") },
    stmt("q1SuccessfulUsers", "q1", A.q1SuccessfulUsers) { rs =>
      fail(rs.length == b && rs.forall(r => near(num(r, "total_watch_time"), 39.0)) &&
        rs.map(_.getAs[String]("user_id")).toSet == (0 until b).map(userId(_, 78)).toSet,
        s"${rs.length} Q1 winners") },
    stmt("q2DominantGenre", "q2", A.q2DominantGenre) { rs =>
      fail(rs.head.getAs[String]("dominant_genre") == "Comedy" &&
        rs.forall(r => num(r, "return_rate_pct") == 100.0), "Q2 dominant genre") },
    stmt("q3CompositeScores", "q3", A.q3CompositeScores) { rs =>
      val w = rs.head
      fail(w.getAs[String]("device_os") == "iOS" && w.getAs[String]("app_version") == "2.0.1" &&
        num(w, "low_watch_time_rate_pct") == 60.0 && num(w, "total_users") == 5 * b &&
        rs.length == 20, s"Q3 worst combo $w") },
    stmt("q3WorstComboUsers", "q3", A.q3WorstComboUsers(_, "iOS", "2.0.1")) { rs =>
      fail(rs.map(_.getString(0)).toSeq == worstCohort, "Q3 worst-combo users") })

  /** Per-table trusted row counts against what was generated. */
  override def checkState(spark: SparkSession): Option[String] = {
    val got = A.tableCounts(spark).map { case (t, c) => t.stripPrefix("trusted_") -> c }
    fail(got == landing.rows, s"trusted counts $got, landing ${landing.rows}")
  }

  /** The pipeline runs first: the statements read its views. */
  override def fixedPrefix: Int = 1

  def beginPass(spark: SparkSession, pass: Int): Seq[Op] = {
    val root = Files.createDirectories(lakes.resolve(s"lake-$pass"))
    val dst = Files.createDirectories(root.resolve("landing"))
    val files = Files.list(landing.dir)
    try files.forEach(f => Files.createLink(dst.resolve(f.getFileName), f))
    finally files.close()
    lake = Some(root)
    pipelineOp(root.toString) +: statements
  }

  override def endPass(): Unit = { lake.foreach(Main.deleteTree); lake = None }

  def trustedFiles(): Long = lake.map { root =>
    val s = Files.walk(root.resolve("trusted"))
    try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
  }.getOrElse(0L)
}
