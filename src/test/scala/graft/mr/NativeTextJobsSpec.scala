package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The Spark-native word count / grep must reproduce the reference's
  * golden outputs over its own corpus (SURVEY §2.4), and the word count
  * must split as the committed wc_map.sh does.
  */
class NativeTextJobsSpec extends AnyFunSuite {
  private val ref = "/root/reference"
  private lazy val fixtures = Paths.get(getClass.getResource("tests").toURI).getParent.toString
  private lazy val spark = graft.Engine.session("test")

  test("native word count splits like wc_map.sh: the fixture corpus, brackets included") {
    assert(NativeTextJobs.tokens("a[b]c\t\t d").toSeq == Seq("a", "b", "c", "", "", "d"))
    assert(NativeTextJobs.tokens("").toSeq == Seq(""))
    assert(NativeTextJobs.tokens("[x] ").toSeq == Seq("", "x", "", ""))
    val input = s"$fixtures/tests/testdata/input"
    val lines = TextFolds.corpusLines(input)
    assert(lines.exists(l => l.contains('[') && l.contains(']')), "the fixture corpus should hold brackets")
    val got = NativeTextJobs
      .wordCount(spark, input)
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
      .sorted(MapReduceJob.utf8Ordering)
      .toSeq
    assert(got == TextFolds.wordCount(lines))
  }

  test("native word count reproduces word_count_correct.txt") {
    val got = NativeTextJobs
      .wordCount(spark, s"$ref/tests/testdata/input")
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
      .sorted(MapReduceJob.utf8Ordering)
      .toSeq
    val want = Files
      .readAllLines(Paths.get(s"$ref/tests/testdata/correct/word_count_correct.txt"))
      .asScala
      .toSeq
      .sorted(MapReduceJob.utf8Ordering)
    assert(got == want)
  }

  test("native grep reproduces grep_correct.txt in sorted order") {
    val got = NativeTextJobs.grep(spark, s"$ref/tests/testdata/input").collect().map(_.getString(0)).toSeq
    val want = Files
      .readAllLines(Paths.get(s"$ref/tests/testdata/correct/grep_correct.txt"))
      .asScala
      .toSeq
      .sorted(MapReduceJob.utf8Ordering)
    assert(got == want)
  }
}
