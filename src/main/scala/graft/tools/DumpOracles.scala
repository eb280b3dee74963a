package graft.tools

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT executing any
  * query — feeds tools/duck_baseline.py re-baselines, which only need
  * the SQL text. Usage: runMain graft.tools.DumpOracles <outDir> */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    graft.Verify.writeOracles(outDir, graft.SparkEntry.oracleSql)
    println(s"[dump-oracles] ${graft.SparkEntry.oracleSql.size} oracles -> $outDir/oracle_sql.json")
  }
}
