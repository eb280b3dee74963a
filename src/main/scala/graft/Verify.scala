package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameSubstring ...] — optional filters select a
    // subset of queries (build-side iteration aid; driver passes none).
    // To dump oracle_sql.json WITHOUT executing queries use
    // graft.tools.DumpOracles (no Spark session needed).
    val sfDir = args(0); val outDir = args(1); val only = args.drop(2)
    def selected(name: String) = only.isEmpty || only.exists(name.contains)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!selected(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracles(outDir, SparkEntry.oracleSql.filter { case (k, _) => selected(k) })
    spark.stop()
  }

  /** Write `oracles` (name → DuckDB SQL) as `outDir/oracle_sql.json`, the
    * file the driver's DuckDB compare reads. */
  def writeOracles(outDir: String, oracles: Map[String, String]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
