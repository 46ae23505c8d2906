package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tests for the generic MapReduce path, replaying the reference's
  * integration contract (tests/test_integration_01/02/03): real
  * executables, real corpus, sorted-line equality of the outputs.
  *
  * Tests of the engine's behaviour run on the committed fixture tree
  * (`src/test/resources/graft/mr/tests/testdata`: the reference's layout
  * and executable contract, a small corpus written for this repo), with
  * expected outputs folded from that corpus in plain Scala. Tests whose
  * subject is the reference's own data (its goldens, its large corpus)
  * read the reference checkout and fail on the missing path without it.
  */
class MapReduceSpec extends AnyFunSuite {
  private val ref = "/root/reference"
  private lazy val fixtures = Paths.get(getClass.getResource("tests").toURI).getParent.toString
  private lazy val spark = graft.Engine.session("test")

  private def sortedLines(files: Seq[java.io.File]): Seq[String] =
    files.flatMap(f => Files.readAllLines(f.toPath).asScala).sorted(MapReduceJob.utf8Ordering)

  private def golden(name: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$ref/tests/testdata/correct/$name")).asScala.toSeq
      .sorted(MapReduceJob.utf8Ordering)

  /** Every line of every file in `dir`, split as `tr` and `awk` read
    * them: at each '\n', the last line with or without its '\n'.
    */
  private def corpusLines(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq.flatMap { f =>
      val text = Files.readString(f.toPath)
      if (text.isEmpty) Nil else text.stripSuffix("\n").split("\n", -1).toSeq
    }

  /** wc_map.sh + wc_reduce.sh over the fixture corpus as a plain fold.
    * `tr '[ \t]' '\n'` ends a token at each of '[', space, TAB and ']',
    * so adjacent separators leave empty tokens; `tr '[:upper:]'
    * '[:lower:]'` lowercases ASCII A-Z only; the reducer counts tokens.
    */
  private lazy val fixtureWordCount: Seq[String] =
    corpusLines(s"$fixtures/tests/testdata/input")
      .flatMap(_.split("[\\[ \t\\]]", -1))
      .map(_.map(c => if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case (token, n) => s"$token\t$n" }
      .toSeq
      .sorted(MapReduceJob.utf8Ordering)

  /** grep_map.py + grep_reduce.py over the fixture corpus: the lines
    * containing "product", case-insensitively.
    */
  private lazy val fixtureGrep: Seq[String] =
    corpusLines(s"$fixtures/tests/testdata/input")
      .filter(_.toLowerCase(java.util.Locale.ROOT).contains("product"))
      .sorted(MapReduceJob.utf8Ordering)

  test("word count job matches reference golden output") {
    val out = Files.createTempDirectory("mr-wc-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$ref/tests/testdata/input", out, s"$ref/tests/testdata/exec/wc_map.sh",
        s"$ref/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 2)
    )
    assert(files.length == 2) // exactly numReducers outputs (test_integration_03.py:79)
    assert(sortedLines(files) == golden("word_count_correct.txt"))
  }

  test("grep job matches reference golden output") {
    val out = Files.createTempDirectory("mr-grep-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$ref/tests/testdata/input", out, s"python3 $ref/tests/testdata/exec/grep_map.py",
        s"python3 $ref/tests/testdata/exec/grep_reduce.py", numMappers = 4, numReducers = 1)
    )
    assert(sortedLines(files) == golden("grep_correct.txt"))
  }

  test("parity partitioning groups keys by sorted-rank round-robin") {
    val out = Files.createTempDirectory("mr-parity-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$fixtures/tests/testdata/input", out, s"$fixtures/tests/testdata/exec/wc_map.sh",
        s"$fixtures/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 2,
        parityPartitioning = true)
    )
    assert(sortedLines(files) == fixtureWordCount)
    // reference semantics: k-th distinct key (sorted) -> partition k % 2,
    // so the two files partition the sorted key space alternately
    // (mapreduce/manager/__main__.py:431-437)
    val perFile = files.map(f => Files.readAllLines(f.toPath).asScala.map(_.split("\t")(0)).toSeq)
    val allKeys = perFile.flatten.sorted(MapReduceJob.utf8Ordering)
    val expected = Seq.tabulate(2)(j => allKeys.zipWithIndex.collect { case (k, i) if i % 2 == j => k })
    assert(perFile.map(_.toSet) == expected.map(_.toSet))
  }

  test("empty reducers still produce output files") {
    val out = Files.createTempDirectory("mr-empty-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$fixtures/tests/testdata/input_small", out, s"$fixtures/tests/testdata/exec/wc_map.sh",
        s"$fixtures/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 8)
    )
    assert(files.length == 8)
    assert(files.forall(_.exists))
  }

  test("FIFO multi-job: sequential jobs on one session produce independent outputs") {
    // the reference queues jobs and runs them in order (O8,
    // manager/__main__.py:154-173); engine-API form: sequential run()
    val out1 = Files.createTempDirectory("mr-fifo1-").toString
    val out2 = Files.createTempDirectory("mr-fifo2-").toString
    val wc = JobSpec(s"$fixtures/tests/testdata/input", out1, s"$fixtures/tests/testdata/exec/wc_map.sh",
      s"$fixtures/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 1)
    val grep = JobSpec(s"$fixtures/tests/testdata/input", out2, s"python3 $fixtures/tests/testdata/exec/grep_map.py",
      s"python3 $fixtures/tests/testdata/exec/grep_reduce.py", numMappers = 2, numReducers = 2)
    val f1 = MapReduceJob.run(spark, wc)
    val f2 = MapReduceJob.run(spark, grep)
    assert(sortedLines(f1) == fixtureWordCount)
    assert(sortedLines(f2) == fixtureGrep)
  }

  test("task retry recovers from a failing executable (dead-worker semantics)") {
    // the reference re-queues a dead worker's task (O9,
    // manager/__main__.py:496-506); Spark equivalent: task attempt 2
    // after the executable fails once (Engine.session uses local[N,2])
    val dir = Files.createTempDirectory("mr-flaky-")
    val marker = dir.resolve("fail-once-marker")
    val script = dir.resolve("flaky_map.sh")
    Files.writeString(
      script,
      s"""#!/bin/sh
         |# fail the first invocation ever (atomically), then behave as wc_map
         |if mkdir "$marker" 2>/dev/null; then exit 1; fi
         |exec $fixtures/tests/testdata/exec/wc_map.sh
         |""".stripMargin
    )
    script.toFile.setExecutable(true)
    val out = Files.createTempDirectory("mr-flaky-out-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$fixtures/tests/testdata/input", out, script.toString,
        s"$fixtures/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 2)
    )
    assert(Files.exists(marker), "the flaky mapper never triggered its failure")
    assert(sortedLines(files) == fixtureWordCount)
  }

  test("round-robin input partitioning matches the reference task layout") {
    // test_manager_02.py:141-163 pins files 01,03,05,07 / 02,04,06,08 for n=2
    val files = (1 to 8).map(i => f"file$i%02d")
    assert(MapReduceJob.roundRobin(files, 2) ==
      Seq(Seq("file01", "file03", "file05", "file07"), Seq("file02", "file04", "file06", "file08")))
    assert(MapReduceJob.roundRobin(files, 3).flatten.sorted == files)
    assert(MapReduceJob.roundRobin(files, 16).count(_.nonEmpty) == 8)
  }

  test("slow executables (fault-injection variants) run to completion") {
    // Q3 in SURVEY §2.4: wc_map_slow.sh sleeps 3s per file; with files
    // spread over parallel tasks the job still finishes well under the
    // reference's 30s integration budget
    val out = Files.createTempDirectory("mr-slow-").toString
    val t0 = System.nanoTime()
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$fixtures/tests/testdata/input_small", out, s"$fixtures/tests/testdata/exec/wc_map_slow.sh",
        s"$fixtures/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 1)
    )
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"slow-variant job took ${secs}s")
    assert(sortedLines(files).nonEmpty)
  }

  test("large corpus (700k intermediate records) groups well inside the reference budget") {
    // the reference's non-functional gates on input_large: group stage
    // < 10s AND < 1 MiB extra memory for the streaming merge
    // (test_manager_08.py:239-243). We run the WHOLE job (map through
    // reduce) and pin both analogs: the time budget directly, and the
    // memory contract as a per-task peak-execution-memory ceiling from
    // Spark's task metrics. Spark accounts execution memory in
    // page-granular chunks so the literal 1 MiB doesn't translate; what
    // the ceiling pins is the PROPERTY the reference tests — the merge
    // streams/spills (O(buffer) memory), it never materializes the
    // corpus (O(records) memory) in a task.
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) peak.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = Files.createTempDirectory("mr-large-").toString
    val t0 = System.nanoTime()
    val files =
      try
        MapReduceJob.run(
          spark,
          JobSpec(s"$ref/tests/testdata/input_large", out, s"$ref/tests/testdata/exec/wc_map.sh",
            s"$ref/tests/testdata/exec/wc_reduce.sh", numMappers = 2, numReducers = 2)
        )
      finally {
        // the listener bus delivers asynchronously; give it a beat
        // before reading the max, then detach
        Thread.sleep(1500)
        spark.sparkContext.removeSparkListener(listener)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val lines = sortedLines(files)
    // intermediate volume is pinned at 700,478 records; the reduced
    // output is the distinct token count, and total count mass must
    // equal the intermediate record count
    assert(lines.map(_.split("\t")(1).toLong).sum == 700478L)
    assert(secs < 10.0, s"full large-corpus job took ${secs}s (reference group stage alone: <10s)")
    assert(peak.get > 0, "task metrics did not report peak execution memory")
    val peakMiB = peak.get / (1024.0 * 1024.0)
    info(f"measured per-task peak execution memory: $peakMiB%.2f MiB")
    // Measured floor: 32.50 MiB on 3 consecutive runs — the biggest
    // task's ~29 MiB of UnsafeRow sort data rounded up to page
    // granularity (4 pages at this box's 8 MiB page) plus the sorter's
    // pointer array. Because the sorter's pages are DATA-FILLED, the
    // floor is ~page-size-invariant (ceil(data/P)*P stays within one
    // page of the data volume), so the brittle part of a hard-coded
    // ceiling is only the slack, not the floor. The ceiling is
    // therefore floor + ONE CONFIGURED PAGE: the memory manager's page
    // size comes from a heuristic over executor memory and cores (it
    // was the old hard-coded 33.0's hidden assumption), and one page is
    // exactly the allocation quantum a regression cannot stay under —
    // any merge materialization adds data-proportional pages and trips
    // this on every environment, while a page-size-heuristic change
    // alone cannot. The reference's literal <1 MiB "extra memory"
    // contract has no Spark analog below the page-allocation floor.
    val pageMiB = org.apache.spark.GraftTestAccess.pageSizeBytes / (1024.0 * 1024.0)
    info(f"memory-manager page size: $pageMiB%.2f MiB")
    assert(
      peakMiB < 32.5 + pageMiB,
      f"per-task peak execution memory $peakMiB%.1f MiB vs the 32.5 MiB floor + one $pageMiB%.1f MiB page — merge is not streaming"
    )
  }

  test("parity grouper output replays the test_manager_08 goldens byte-for-byte") {
    // the reference pins the EXACT per-file partition split of the
    // 700,478-record large corpus: reduce01 = 375,629 lines, reduce02 =
    // 324,849, compared byte-for-byte (test_manager_08.py:166-182 via
    // filecmp against correct/job-0/grouper-output).
    //
    // The goldens cannot be reproduced by re-running wc_map.sh here:
    // they were generated under a multibyte-aware `tr` (BSD-style) that
    // lowercases 'Ã'->'ã', while this container's GNU tr is
    // byte-oriented and leaves non-ASCII uppercase intact — a mapper-
    // ENVIRONMENT difference that shifts 10 distinct-key ranks (verified
    // by diffing key multisets). What the engine owns — and what this
    // test pins — is the GROUP stage: given the reference's own
    // intermediate records (the union of the two golden files), the
    // parity partitioner + codepoint sort must reproduce the goldens
    // byte-for-byte through the full distributed path (identity mapper,
    // rank pass, shuffle, per-partition sort, numbered sink).
    val goldenDir = s"$ref/tests/testdata/test_manager_08/correct/job-0/grouper-output"
    val in = Files.createTempDirectory("mr-group8-in-")
    Files.write(
      in.resolve("part0"),
      (Files.readAllBytes(Paths.get(s"$goldenDir/reduce01")) ++
        Files.readAllBytes(Paths.get(s"$goldenDir/reduce02")))
    )
    val out = Files.createTempDirectory("mr-group8-").toString
    val files = MapReduceJob.mapAndGroup(
      spark,
      JobSpec(in.toString, out, "cat", "cat",
        numMappers = 2, numReducers = 2, parityPartitioning = true),
      out
    )
    assert(files.map(_.getName) == Seq("reduce01", "reduce02"))
    files.zip(Seq("reduce01", "reduce02")).foreach { case (f, g) =>
      assert(
        java.util.Arrays.equals(
          Files.readAllBytes(f.toPath),
          Files.readAllBytes(Paths.get(s"$goldenDir/$g"))
        ),
        s"${f.getName} differs from golden $g"
      )
    }
  }

  test("Submit accepts the reference's JSON job message and runs it (CLI surface)") {
    // the manager's new_manager_job message, field-for-field
    // (mapreduce/submit.py:68-76)
    val out = Files.createTempDirectory("mr-submit-").toString
    val msg = s"""{
      "message_type": "new_manager_job",
      "input_directory": "$fixtures/tests/testdata/input",
      "output_directory": "$out",
      "mapper_executable": "$fixtures/tests/testdata/exec/wc_map.sh",
      "reducer_executable": "$fixtures/tests/testdata/exec/wc_reduce.sh",
      "num_mappers": 2,
      "num_reducers": 2
    }"""
    val spec = Submit.parseJob(msg)
    assert(spec.numMappers == 2 && spec.numReducers == 2)
    assert(spec.inputDir.endsWith("tests/testdata/input"))
    val files = MapReduceJob.run(spark, spec)
    assert(sortedLines(files) == fixtureWordCount)
    // defaults match submit.py's when fields are absent
    val dflt = Submit.parseJob("""{"message_type": "new_manager_job"}""")
    assert(dflt.numMappers == 4 && dflt.numReducers == 1)
    assert(dflt.mapperCmd == "tests/testdata/exec/wc_map.sh")
    // flag form mirrors the CLI options
    val parsed = Submit.parseArgs(Seq("-i", "a", "-o", "b", "-m", "m.sh", "-r", "r.sh",
      "--nmappers", "3", "--nreducers", "5"))
    assert(parsed == Seq(JobSpec("a", "b", "m.sh", "r.sh", 3, 5)))
  }

  test("legacy key extraction (rsplit quirk) still yields golden grep output") {
    // grep emits `1\tsome line text`; the reference's group key is the
    // line minus its last space-word (manager/__main__.py:432-434).
    // Grouping placement changes, but the output multiset must not.
    val out = Files.createTempDirectory("mr-legacy-").toString
    val files = MapReduceJob.run(
      spark,
      JobSpec(s"$fixtures/tests/testdata/input", out, s"python3 $fixtures/tests/testdata/exec/grep_map.py",
        s"python3 $fixtures/tests/testdata/exec/grep_reduce.py", numMappers = 2, numReducers = 2,
        legacyKeyExtraction = true)
    )
    assert(sortedLines(files) == fixtureGrep)
  }

  test("group key extraction: tab contract and legacy space quirk") {
    assert(MapReduceJob.groupKey("word\t1", legacy = false) == "word")
    assert(MapReduceJob.groupKey("noseparator", legacy = false) == "noseparator")
    // legacy = text before LAST space (manager/__main__.py:432-434)
    assert(MapReduceJob.groupKey("1\tsome line text", legacy = true) == "1\tsome line")
    assert(MapReduceJob.groupKey("word\t1", legacy = true) == "word\t1")
  }

  test("utf8 ordering matches python codepoint sort for tab-vs-space") {
    // '\t' (0x09) < ' ' (0x20): "hello\t1" < "hello world" (SURVEY §2.5.1)
    assert(MapReduceJob.utf8Ordering.compare("hello\t1", "hello world\t1") < 0)
    assert(MapReduceJob.utf8Ordering.compare("a", "é") < 0) // ascii < accented
    // supplementary plane char (U+10000) sorts after U+FFFF under
    // codepoint order (String.compareTo would get this wrong)
    assert(MapReduceJob.utf8Ordering.compare("￿", new String(Character.toChars(0x10000))) < 0)
  }
}
