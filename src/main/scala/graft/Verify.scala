package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the engine's canonical session (extensions registered, AQE, task
    // retry, UTC, nanos handling) — the gate must verify the same
    // environment the library ships, including SQL-registered functions
    val spark = Engine.session("verify")
    new java.io.File(outDir).mkdirs()
    // Optional focus list for local iteration (same contract as Bench):
    // SPARK_GRAFT_ONLY=q100,q101 runs only queries with those prefixes.
    // The driver sets no filter and gets the full dump.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Engine.releaseScratch(spark) // drop this query's checkpoint/cache blocks
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The `oracle_sql.json` text: one JSON object, query name -> oracle SQL,
    * in the map's iteration order. The string escape covers backslash,
    * quote and ALL control chars (<0x20): a tab or CR in builder-authored
    * SQL would otherwise make the driver's json.load fail and silently
    * zero the round's correctness. `OracleTextSpec` pins its output. */
  def oracleJson(sql: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
