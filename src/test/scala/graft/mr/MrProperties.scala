package graft.mr

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
}
