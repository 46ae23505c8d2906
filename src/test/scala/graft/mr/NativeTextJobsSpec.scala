package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
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
    def tokens(line: String): Seq[String] = {
      val t = new NativeTextJobs.Tokens(Iterator(InternalRow(UTF8String.fromString(line))))
      Iterator.continually(t.next()).takeWhile(identity).map(_ => Pipes.decode(t.bytes, t.start, t.end)).toSeq
    }
    assert(tokens("a[b]c\t\t d") == Seq("a", "b", "c", "", "", "d"))
    assert(tokens("") == Seq(""))
    assert(tokens("[x] ") == Seq("", "x", "", ""))
    // the fixture corpus plus a file of non-ASCII capitals, which
    // `tr '[:upper:]' '[:lower:]'` leaves as they are
    val input = Files.createTempDirectory("native-wc-in-")
    try {
      new java.io.File(s"$fixtures/tests/testdata/input").listFiles.foreach { f =>
        Files.copy(f.toPath, input.resolve(f.getName))
      }
      Files.write(input.resolve("capitals"), "ÉCOLE İ Straße\n".getBytes(UTF_8))
      val lines = TextFolds.corpusLines(input.toString)
      assert(lines.exists(l => l.contains('[') && l.contains(']')), "the fixture corpus should hold brackets")
      val got = NativeTextJobs
        .wordCount(spark, input.toString)
        .collect()
        .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
        .sorted(MapReduceJob.utf8Ordering)
        .toSeq
      assert(got.contains("École\t1") && got.contains("İ\t1"), got.filterNot(_.forall(_ < 128)))
      assert(got == TextFolds.wordCount(lines))
    } finally graft.Engine.deleteRecursively(input.toFile)
  }

  test("native grep matches case-insensitively whatever the default locale, as grep_map.py") {
    val input = Files.createTempDirectory("native-grep-in-")
    val saved = Locale.getDefault
    try {
      Files.write(input.resolve("part0"),
        "INVOICE 12\nnothing here\n\nInvoice x\ninvoice 7\n".getBytes(UTF_8))
      spark.range(1).count(): Unit // the session starts under the usual locale
      // Turkish lowercases 'I' to dotless 'ı': "INVOICE" would become "ınvoıce"
      Locale.setDefault(Locale.forLanguageTag("tr"))
      val got = NativeTextJobs.grep(spark, input.toString, "invoice").collect().map(_.getString(0)).toSeq
      assert(got == Seq("INVOICE 12", "Invoice x", "invoice 7"))
    } finally {
      Locale.setDefault(saved)
      graft.Engine.deleteRecursively(input.toFile)
    }
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
