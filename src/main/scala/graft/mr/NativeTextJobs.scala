package graft.mr

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Spark-native forms of the reference's two golden query programs
  * (SURVEY §2.4) over directories of text files — same observable
  * semantics as running the executables through the MapReduce path,
  * shuffle-once. Grep is a Catalyst plan; the word count counts each
  * scanned row's UTF-8 bytes in the MapReduce path's map-side counter
  * ([[ByteRuns]]) and hands the runs back to Catalyst to sum.
  */
object NativeTextJobs {

  private val WordRuns = StructType(Seq(StructField("word", StringType), StructField("n", LongType)))

  /** Word count with wc_map.sh/wc_reduce.sh semantics
    * (`/root/reference/tests/testdata/exec/wc_map.sh:12`): lowercase each
    * line as `tr '[:upper:]' '[:lower:]'` does (ASCII A-Z only) and split
    * it where `tr '[ \t]' '\n'` does — at each of '[', space, TAB and ']'
    * (empty tokens count: `tr` emits them) — then count per token.
    * Each map task counts its rows' tokens as bytes into (word, n) runs;
    * one hash shuffle sums them. A token that is not valid UTF-8 counts
    * as its decoded-with-replacement form, the String a text row decodes
    * to. Result columns (word, n).
    */
  def wordCount(spark: SparkSession, inputDir: String): DataFrame = {
    val runs = Bridge.rows(spark.read.text(inputDir)).mapPartitions(wordRuns(_, ByteRuns.CombineBudget))
    Bridge.dataFrame(spark, runs, WordRuns).groupBy(col("word")).agg(sum(col("n")).as("n"))
  }

  /** A map task's (word, n) runs over text rows, in a counter of `budget`
    * bytes.
    */
  private[mr] def wordRuns(rows: Iterator[InternalRow], budget: Long): Iterator[InternalRow] =
    ByteRuns.combine(new Tokens(rows), budget)((bytes, start, end, n) => InternalRow(word(bytes, start, end), n))

  /** A counted token as a string value: its bytes if they are ASCII, else
    * re-encoded from their decoding, so malformed UTF-8 becomes U+FFFD.
    */
  private def word(bytes: Array[Byte], start: Int, end: Int): UTF8String = {
    var i = start
    while (i < end && bytes(i) >= 0) i += 1
    if (i == end) UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, end))
    else UTF8String.fromString(Pipes.decode(bytes, start, end))
  }

  /** The fields of each row's string between the separators '[', space,
    * TAB and ']', empty fields included, with ASCII A-Z lowercased: each
    * row's UTF-8 bytes are copied and lowercased once, then scanned. No
    * separator or ASCII capital byte occurs inside a multi-byte UTF-8
    * sequence, so this splits and lowercases as the decoded text would.
    */
  private[mr] final class Tokens(rows: Iterator[InternalRow]) extends ByteRuns.Slices {
    var bytes = new Array[Byte](1 << 8) // the current row, lowercased
    var start = 0
    var end = 0
    private var rowEnd = -1 // the current row's length; -1 before the first

    def next(): Boolean = {
      if (end < rowEnd) start = end + 1 // past the separator
      else if (rows.hasNext) load(rows.next().getUTF8String(0))
      else return false
      end = start
      while (end < rowEnd && !isSeparator(bytes(end))) end += 1
      true
    }

    private def load(line: UTF8String): Unit = {
      rowEnd = line.numBytes
      if (rowEnd > bytes.length) bytes = new Array[Byte](math.max(rowEnd, 2 * bytes.length))
      line.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
      var i = 0
      while (i < rowEnd) {
        val b = bytes(i)
        if (b >= 'A' && b <= 'Z') bytes(i) = (b + ('a' - 'A')).toByte
        i += 1
      }
      start = 0
    }

    private def isSeparator(b: Byte): Boolean = b == ' ' || b == '\t' || b == '[' || b == ']'
  }

  /** Grep with grep_map.py/grep_reduce.py semantics
    * (`/root/reference/tests/testdata/exec/grep_map.py:23-28`): skip
    * blank lines, keep lines containing `term` case-insensitively; the
    * engine's sort stage imposes sorted line order on the output.
    */
  def grep(spark: SparkSession, inputDir: String, term: String = "product"): DataFrame = {
    import spark.implicits._
    spark.read
      .textFile(inputDir)
      .filter(line => line.nonEmpty && line.toLowerCase(Locale.ROOT).contains(term))
      .toDF("line")
      .orderBy(col("line"))
  }
}
