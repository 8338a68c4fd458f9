package graft.tools

/** Diagnostic main: dump `.explain("formatted")` for named gates to
  * files — `runMain graft.tools.PlanDump out_dir gate1,gate2 [sfDir]`.
  *
  * Writes `<out_dir>/<gate>.txt` per gate with the FORMATTED physical
  * plan (Exchange placement, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans) — the committed before/after evidence the
  * optimization rounds require (plans/r<N>/<query>_{before,after}.txt).
  * Uses the same session as Bench (`Sessions.local`: `SPARK_GRAFT_CPUS`
  * task slots and shuffle partitions) so plans match what the bench
  * times; Exchange partition counts in the plans follow that setting. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump out_dir gate1,gate2 [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val gates = args(1).split(',')
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Sessions.local("graft-plandump")
    gates.foreach { g =>
      val df = graft.Bench.gate(g).getOrElse(sys.error(s"unknown gate: $g"))(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"$g.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${outDir.resolve(s"$g.txt")}")
    }
    spark.stop()
  }
}
