package graft.mr

import java.io.{BufferedReader, ByteArrayInputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests for the pure MapReduce building blocks. */
object MrProperties extends Properties("graft.mr") {

  /** reference semantics: Python sorted() compares by Unicode codepoint */
  private def codepointCompare(a: String, b: String): Int = {
    val x = a.codePoints.toArray
    val y = b.codePoints.toArray
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) return Integer.compare(x(i), y(i))
      i += 1
    }
    Integer.compare(x.length, y.length)
  }

  /** Well-formed strings that also hold supplementary-plane characters
    * (surrogate pairs) and U+E000..U+FFFF, the range UTF-16 code-unit
    * order gets wrong against them. Scalacheck's default String has no
    * surrogates. A small alphabet per range makes shared prefixes, and
    * so deep comparisons, common.
    */
  private val codePointGen: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0x61, 0x63),
    1 -> Gen.choose(0x00, 0x7f),
    1 -> Gen.choose(0xe9, 0xeb),
    1 -> Gen.choose(0xd7fe, 0xd7ff),
    2 -> Gen.oneOf(0xe000, 0xfffd, 0xffff),
    2 -> Gen.oneOf(0x10000, 0x1f600, 0x1f601, 0x10ffff)
  )
  private val unicodeString: Gen[String] =
    Gen.listOf(codePointGen).map(cps => new String(cps.toArray, 0, cps.length))

  property("utf8Ordering == codepoint order") = Prop.forAll { (a: String, b: String) =>
    math.signum(MapReduceJob.utf8Ordering.compare(a, b)) == math.signum(codepointCompare(a, b))
  }

  property("utf8Ordering == codepoint order across planes") =
    Prop.forAll(unicodeString, unicodeString) { (a, b) =>
      math.signum(MapReduceJob.utf8Ordering.compare(a, b)) == math.signum(codepointCompare(a, b))
    }

  property("utf8Ordering is reflexive and antisymmetric") = Prop.forAll { (a: String, b: String) =>
    val ab = MapReduceJob.utf8Ordering.compare(a, b)
    val ba = MapReduceJob.utf8Ordering.compare(b, a)
    MapReduceJob.utf8Ordering.compare(a, a) == 0 && math.signum(ab) == -math.signum(ba)
  }

  private val filesGen = Gen.listOf(Gen.identifier).map(_.distinct)
  private val nGen = Gen.choose(1, 16)

  property("roundRobin partitions the file list exactly") = Prop.forAll(filesGen, nGen) { (files, n) =>
    val tasks = MapReduceJob.roundRobin(files, n)
    tasks.length == n && tasks.flatten.sorted == files.sorted &&
    tasks.flatten.toSet == files.toSet
  }

  property("roundRobin assigns file i to task i % n") = Prop.forAll(filesGen, nGen) { (files, n) =>
    val tasks = MapReduceJob.roundRobin(files, n)
    files.zipWithIndex.forall { case (f, i) => tasks(i % n).contains(f) }
  }

  property("groupKey(tab) is the prefix before the first tab, tab-free") =
    Prop.forAll { (s: String) =>
      val k = MapReduceJob.groupKey(s, legacy = false)
      s.startsWith(k) && !k.contains('\t') &&
      (if (s.contains('\t')) s.charAt(k.length) == '\t' else k == s)
    }

  property("groupKey(legacy) strips at most one trailing space-word") =
    Prop.forAll { (s: String) =>
      val k = MapReduceJob.groupKey(s, legacy = true)
      s.startsWith(k) && (k == s || s.charAt(k.length) == ' ')
    }

  /** UTF-8 fragments: ASCII and non-ASCII capitals, a supplementary
    * character, and malformed sequences (a truncated 2- and 4-byte
    * sequence, a lone continuation byte, 0xFF, an overlong form and an
    * encoded surrogate).
    */
  private val textFragment: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "B", "Z", "é", "É", "İ", new String(Character.toChars(0x1f600))).map(_.getBytes(UTF_8)),
    3 -> Gen.oneOf(Seq(0xc3), Seq(0xf0, 0x9f, 0x98), Seq(0x80), Seq(0xff), Seq(0xc0, 0xaf), Seq(0xed, 0xa0, 0x80))
      .map(_.map(_.toByte).toArray)
  )
  private def bytesOf(fragments: Gen[Array[Byte]]): Gen[Array[Byte]] =
    Gen.listOf(fragments).map(_.toArray.flatten)

  /** A stream handing out at most `chunk` bytes per read, so reads end
    * anywhere: inside a multi-byte sequence, between '\r' and '\n'.
    */
  private def chunked(bytes: Array[Byte], chunk: Int): InputStream = new ByteArrayInputStream(bytes) {
    override def read(b: Array[Byte], off: Int, len: Int): Int = super.read(b, off, math.min(len, chunk))
  }

  private val streamBytes: Gen[Array[Byte]] =
    bytesOf(Gen.frequency(4 -> textFragment, 1 -> Gen.oneOf("\n", "\r", "\r\n").map(_.getBytes(UTF_8))))

  property("the byte line splitter + decode == BufferedReader.readLine over InputStreamReader") =
    Prop.forAll(Gen.listOf(streamBytes), Gen.choose(1, 7)) { (streams, chunk) =>
      val want = streams.flatMap { b =>
        val r = new BufferedReader(new InputStreamReader(chunked(b, chunk), UTF_8))
        Iterator.continually(r.readLine()).takeWhile(_ != null).toList
      }
      Pipes.lines(streams.iterator.map(chunked(_, chunk))).toList == want
    }

  private val rowBytes: Gen[Array[Byte]] =
    bytesOf(Gen.frequency(3 -> textFragment, 1 -> Gen.oneOf("[", "]", " ", "\t").map(_.getBytes(UTF_8))))

  property("the byte tokenizer + counter == TextFolds.wordCount, under any budget") =
    Prop.forAll(Gen.listOf(rowBytes), Gen.oneOf(1L, 256L, 1024L, 4096L, ByteRuns.CombineBudget)) { (rows, budget) =>
      val runs = NativeTextJobs.wordRuns(rows.iterator.map(b => InternalRow(UTF8String.fromBytes(b))), budget)
      val got = runs
        .map(r => r.getUTF8String(0).toString -> r.getLong(1))
        .toSeq
        .groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (w, n) => s"$w\t$n" }
        .toSeq
        .sorted(MapReduceJob.utf8Ordering)
      got == TextFolds.wordCount(rows.map(new String(_, UTF_8)))
    }

  property("after a token larger than the budget, repeated tokens still combine into one run each") =
    Prop.forAll(Gen.oneOf(256L, 1024L, 4096L), Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")), Gen.choose(1, 20)) {
      (budget, words, repeats) =>
        val big = "x" * (budget.toInt + 1)
        val rows = big +: Seq.fill(repeats)(words.mkString(" "))
        val runs = NativeTextJobs.wordRuns(rows.iterator.map(r => InternalRow(UTF8String.fromString(r))), budget)
        runs.map(_.getUTF8String(0).toString).toSeq.sorted == (big +: words.distinct).sorted
    }
}
