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
    // SPARK_GRAFT_ONLY=q100,q101 runs only the queries with those prefixes
    // (QueryRunner.selected); the driver sets no filter and gets the full
    // dump. One cost-and-log record per query lands in query_records.jsonl
    // (scripts/selfcheck.py reads only the directories next to it).
    val runner = new QueryRunner(spark, s"$outDir/query_records.jsonl")
    QueryRunner.selected().foreach { case (name, fn) =>
      runner
        .run(name)(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .error.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    runner.close()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The `oracle_sql.json` text: one JSON object, query name -> oracle SQL,
    * in the map's iteration order, each string escaped by
    * `QueryRunner.jsonString` (an unescaped control char would make the
    * driver's json.load fail and silently zero the round's correctness).
    * `OracleTextSpec` pins its output. */
  def oracleJson(sql: Map[String, String]): String = {
    import QueryRunner.jsonString
    sql.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
  }
}
