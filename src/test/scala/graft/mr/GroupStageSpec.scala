package graft.mr

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ArraySeq

import org.scalatest.funsuite.AnyFunSuite

/** Self-contained checks of the group stage: with `cat` as mapper and
  * reducer, every reducer's input (and every grouper-output file) must
  * be exactly its share of the intermediate multiset, sorted by code
  * point, duplicates kept. The corpus is built here, so no reference
  * checkout is needed.
  */
class GroupStageSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("test")

  private val emoji = new String(Character.toChars(0x1f600))

  /** Distinct lines and their multiplicities: heavy duplicates, several
    * lines per key, empty and tab-less lines, non-ASCII text, and keys
    * that UTF-16 code-unit order would sort differently ("x\uFFFD" vs
    * "x" + a supplementary-plane character).
    */
  private val distinct: Seq[(String, Int)] = Seq(
    "the\t1" -> 60,
    "the\t2" -> 3,
    "the\tc\td" -> 2,
    "" -> 5,
    "tabless line" -> 4,
    "résumé\t1" -> 7,
    "résumé café\t1" -> 2,
    s"$emoji\t1" -> 6,
    s"x$emoji\t1" -> 1,
    "x\uFFFD\t1" -> 3,
    "\t1" -> 2
  )
  private val lines: Seq[String] =
    new scala.util.Random(7).shuffle(distinct.flatMap { case (l, n) => Seq.fill(n)(l) })

  private lazy val inputDir: String = {
    val dir = Files.createTempDirectory("mr-group-in-")
    lines.zipWithIndex.groupBy(_._2 % 3).foreach { case (f, ls) =>
      Files.write(dir.resolve(s"in$f"), ls.map(_._1 + "\n").mkString.getBytes(UTF_8))
    }
    dir.toString
  }

  private val byCodePoint: Ordering[String] =
    Ordering.by((s: String) => s.codePoints.toArray.toSeq)(Ordering.Implicits.seqOrdering[Seq, Int])

  private def key(line: String): String = line.takeWhile(_ != '\t')

  /** File i's expected bytes: the lines whose key goes to partition i. */
  private def expected(n: Int, partition: String => Int): Seq[ArraySeq[Byte]] =
    Seq.tabulate(n) { i =>
      val mine = lines.filter(l => partition(key(l)) == i).sorted(byCodePoint)
      ArraySeq.unsafeWrapArray(mine.map(_ + "\n").mkString.getBytes(UTF_8))
    }

  private def bytes(files: Seq[File]): Seq[ArraySeq[Byte]] =
    files.map(f => ArraySeq.unsafeWrapArray(Files.readAllBytes(f.toPath)))

  /** Run the cat/cat job and mapAndGroup; both must give `want`. */
  private def assertGroups(n: Int, parity: Boolean, want: Seq[ArraySeq[Byte]]): Unit = {
    val spec = JobSpec(inputDir, Files.createTempDirectory("mr-group-out-").toString, "cat", "cat",
      numMappers = 2, numReducers = n, parityPartitioning = parity)
    val out = MapReduceJob.run(spark, spec)
    assert(out.map(_.getName) == Seq.tabulate(n)(i => f"outputfile${i + 1}%02d"))
    assert(bytes(out) == want, s"outputfileNN, n=$n parity=$parity")
    val groupDir = Files.createTempDirectory("mr-group-reduce-").toString
    val grouped = MapReduceJob.mapAndGroup(spark, spec, groupDir)
    assert(grouped.map(_.getName) == Seq.tabulate(n)(i => f"reduce${i + 1}%02d"))
    assert(bytes(grouped) == want, s"reduceNN, n=$n parity=$parity")
  }

  test("hash mode: each reducer gets its keys' lines, code-point sorted, every duplicate kept") {
    for (n <- Seq(1, 3, 8)) {
      val want = expected(n, k => Math.floorMod(k.hashCode, n))
      if (n == 8) assert(want.exists(_.isEmpty), "the corpus should leave some of 8 reducers empty")
      assertGroups(n, parity = false, want)
    }
  }

  test("parity mode: file i holds the keys whose sorted-distinct rank % n == i") {
    val rank = lines.map(key).distinct.sorted(byCodePoint).zipWithIndex.toMap
    for (n <- Seq(1, 3, 8)) assertGroups(n, parity = true, expected(n, k => rank(k) % n))
  }

  test("a job leaves no graft-mr-* staging directory in java.io.tmpdir") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft-mr-")).toSet)
    val before = staged()
    assertGroups(2, parity = false, expected(2, k => Math.floorMod(k.hashCode, 2)))
    assert(staged() -- before == Set.empty)
  }

  test("an input directory that is missing or a regular file is refused, naming the path") {
    val tmp = Files.createTempDirectory("mr-no-input-")
    val missing = tmp.resolve("absent").toString
    val regular = Files.write(tmp.resolve("file01"), "a\t1\n".getBytes(UTF_8)).toString
    for ((inputDir, why) <- Seq(missing -> "does not exist", regular -> "is not a directory")) {
      val spec = JobSpec(inputDir, tmp.resolve("out").toString, "cat", "cat", numMappers = 1, numReducers = 1)
      for (job <- Seq[() => Any](() => MapReduceJob.run(spark, spec),
                                  () => MapReduceJob.mapAndGroup(spark, spec, tmp.resolve("group").toString))) {
        val e = intercept[java.io.FileNotFoundException](job())
        assert(e.getMessage.contains(inputDir) && e.getMessage.contains(why), e.getMessage)
      }
    }
  }
}
