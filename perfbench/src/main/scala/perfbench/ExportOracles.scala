package perfbench

import java.nio.file.{Files, Paths}

/** Writes the query lists of the workloads and their DuckDB oracle SQL
  * (graft.SparkEntry.oracleSql) as JSON, for perfbench/run.py and
  * perfbench/canon.py. Run once per build. */
object ExportOracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    def oracles(names: Seq[String]): Map[String, String] = {
      val missing = names.filterNot(sql.contains)
      require(missing.isEmpty, s"queries without an oracle: ${missing.mkString(", ")}")
      names.map(n => n -> sql(n)).toMap
    }
    val out = Map("validator" -> oracles(Workloads.ValidatorViews),
      "corpus" -> oracles(Workloads.CorpusQueries))
    Files.write(Paths.get(args(0)), Main.Json.writeValueAsBytes(out))
  }
}
