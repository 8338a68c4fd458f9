package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the benchmark's gates as JSON, for
  * oracle_check.py: `perfbench.DumpOracle FILE`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val gates = GateSuite.Relational ++ GateSuite.Curation
    val sql = graft.SparkEntry.oracleSql
    val body = gates.filter(sql.contains).map(g => s"  ${Json.str(g)}: ${Json.str(sql(g))}")
    Files.write(Paths.get(args(0)),
      body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}
