package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle text is the correctness floor: a refactor of the
  * oracle builders (the `OracleSql` fragments) must not move one byte of
  * it. `oracle_sql.sha256` holds the sha256 of every query's oracle text
  * and of the whole `oracle_sql.json` that `Verify` writes, both taken
  * from a Verify dump. A deliberate oracle change regenerates the fixture
  * from the new dump (`sha256sum` of the file, and of each value).
  */
class OracleTextSpec extends AnyFunSuite {
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  private val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("graft/oracle_sql.sha256")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(h, name) = l.split("  ", 2)
      name -> h
    }.toMap
    finally src.close()
  }
  private val dumpKey = "oracle_sql.json"

  test("every query's oracle text matches its pinned sha256") {
    val current = SparkEntry.oracleSql
    val expected = pinned - dumpKey
    val moved = expected.keys.filter(k => current.contains(k) && sha256(current(k)) != expected(k)).toSeq.sorted
    val missing = expected.keySet.diff(current.keySet).toSeq.sorted
    val added = current.keySet.diff(expected.keySet).toSeq.sorted
    assert(moved.isEmpty && missing.isEmpty && added.isEmpty,
      s"oracle text moved: ${moved.mkString(", ")}; no longer registered: ${missing.mkString(", ")}; " +
        s"not pinned: ${added.mkString(", ")}")
  }

  test("Verify's oracle_sql.json serialization matches its pinned sha256") {
    assert(sha256(Verify.oracleJson(SparkEntry.oracleSql)) == pinned(dumpKey))
  }
}
