package graft.mr

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native forms of the reference's two golden query programs
  * (SURVEY §2.4) over directories of text files — same observable
  * semantics as running the executables through the MapReduce path, but
  * as pure Catalyst plans (codegen'd, shuffle-once).
  */
object NativeTextJobs {

  /** Word count with wc_map.sh/wc_reduce.sh semantics
    * (`/root/reference/tests/testdata/exec/wc_map.sh:12`): lowercase each
    * line as `tr '[:upper:]' '[:lower:]'` does (ASCII A-Z only) and split
    * it where `tr '[ \t]' '\n'` does — at each of '[', space, TAB and ']'
    * (empty tokens count: `tr` emits them) — then count per token.
    * Result columns (word, n).
    */
  def wordCount(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    spark.read
      .textFile(inputDir)
      .flatMap(line => tokens(line))
      .toDF("word")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
  }

  /** The fields of `line` between the separators '[', space, TAB and ']',
    * empty fields included, with ASCII A-Z lowercased, found with one
    * char scan (a regex split compiles a Pattern for every line, and
    * `String.toLowerCase` would fold all of Unicode in the default
    * locale, which `tr` does not).
    */
  private[mr] def tokens(line: String): Iterator[String] = new Iterator[String] {
    private var start = 0 // the next field's first char; > length once done
    def hasNext: Boolean = start <= line.length
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more tokens")
      var end = start
      var upper = false
      while (end < line.length && !isSeparator(line.charAt(end))) {
        upper |= isAsciiUpper(line.charAt(end))
        end += 1
      }
      val token =
        if (!upper) line.substring(start, end)
        else {
          val cs = new Array[Char](end - start)
          line.getChars(start, end, cs, 0)
          var i = 0
          while (i < cs.length) {
            if (isAsciiUpper(cs(i))) cs(i) = (cs(i) + ('a' - 'A')).toChar
            i += 1
          }
          new String(cs)
        }
      start = end + 1
      token
    }
  }

  private def isAsciiUpper(c: Char): Boolean = c >= 'A' && c <= 'Z'

  private def isSeparator(c: Char): Boolean = c == ' ' || c == '\t' || c == '[' || c == ']'

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
