package graft.mr

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.{Aggregator, Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

/** A MapReduce job spec — the engine-API form of the reference's JSON job
  * message (`/root/reference/mapreduce/submit.py:68-76`): no socket
  * protocol, just a method call. Mapper/reducer are arbitrary shell
  * commands, invoked exactly like the reference worker does
  * (`mapreduce/worker/__main__.py:75-77`): `sh -c "<cmd> <file>"` with
  * the input also streamed on stdin, output captured line-oriented.
  *
  * `parityPartitioning=true` replays the reference's grouping byte-for-byte:
  * distinct keys ranked in sorted order, rank % numReducers chooses the
  * partition (`mapreduce/manager/__main__.py:431-437` — the Python
  * `(count % n) - 1` with -1 wrapping to the last file is plain
  * round-robin over 0-based ranks). Default (false) is a hash partition
  * on the key — same grouping guarantee, no global rank pass, scales.
  */
final case class JobSpec(
    inputDir: String,
    outputDir: String,
    mapperCmd: String,
    reducerCmd: String,
    numMappers: Int,
    numReducers: Int,
    parityPartitioning: Boolean = false,
    /** key = text before first '\t' (the wc/grep contract,
      * `tests/testdata/exec/wc_map.sh:12`). If true, replicate the
      * reference's quirk of text before the LAST space
      * (`mapreduce/manager/__main__.py:432-434`, see SURVEY §1.1). */
    legacyKeyExtraction: Boolean = false
)

object MapReduceJob {

  /** Round-robin file-list partitioning by sorted index — file i goes to
    * task i % n (`mapreduce/manager/__main__.py:320-328`; pinned by
    * test_manager_02: files 01,03,05,07 vs 02,04,06,08 for n=2).
    */
  def roundRobin(files: Seq[String], n: Int): Seq[Seq[String]] =
    (0 until n).map(j => files.zipWithIndex.collect { case (f, i) if i % n == j => f })

  /** Grouping key of an intermediate line. */
  def groupKey(line: String, legacy: Boolean): String =
    if (legacy) {
      val i = line.lastIndexOf(' ')
      if (i < 0) line else line.substring(0, i)
    } else {
      val i = line.indexOf('\t')
      if (i < 0) line else line.substring(0, i)
    }

  /** Unsigned-UTF-8-byte (= Unicode codepoint) line ordering — matches
    * Python `sorted()` on str (`mapreduce/worker/__main__.py:98-99`).
    * String.compareTo orders UTF-16 code units, which agrees with code
    * points except that a surrogate (part of a code point above U+FFFF)
    * must sort after U+E000..U+FFFF. So compare chars and remap only at
    * the first differing position: surrogates move up by 0x2000 and
    * U+E000..U+FFFF down by 0x800 (ICU's code-point-order fix-up).
    * Allocation-free: this comparator runs inside every shuffle sort.
    */
  val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y) return Integer.compare(codePointRank(x), codePointRank(y))
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
    private def codePointRank(c: Char): Int =
      if (c < '\uD800') c
      else if (c <= '\uDFFF') c + 0x2000
      else c - 0x800
  }

  /** Hash partitioner over the group key extracted from the sort key
    * (the full line). Same key -> same partition.
    */
  private final class GroupKeyPartitioner(n: Int, legacy: Boolean) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = {
      val k = groupKey(key.asInstanceOf[String], legacy)
      val h = k.hashCode % n
      if (h < 0) h + n else h
    }
  }

  /** Parity partitioner: partition = sorted-distinct-key rank % n.
    * Needs a global rank map — a replay/validation tool, not the scale
    * path (the rank map is broadcast; fine for test corpora).
    */
  private final class KeyRankPartitioner(ranks: Map[String, Int], n: Int, legacy: Boolean)
      extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = {
      val k = groupKey(key.asInstanceOf[String], legacy)
      ranks.getOrElse(
        k,
        throw new IllegalStateException(
          s"parity partitioning: key '$k' absent from the rank map — " +
            "the mapper emitted a key not seen when ranks were computed " +
            "(parity mode requires deterministic mappers)")) % n
    }
  }

  /** The entries of a job's input directory. `File.listFiles` returns
    * null for a missing path, a regular file or an unreadable directory;
    * refuse the job there, naming the path, before any Spark work.
    */
  private def listInput(inputDir: String): Array[File] = {
    val dir = new File(inputDir)
    val entries = dir.listFiles
    if (entries == null) {
      val why =
        if (!dir.exists) "does not exist"
        else if (!dir.isDirectory) "is not a directory"
        else "cannot be listed"
      throw new FileNotFoundException(s"MapReduce input directory $inputDir $why")
    }
    entries
  }

  /** Map + group stages: hands `use` the sorted, key-partitioned
    * intermediate RDD (the content of the reference's grouper-output) as
    * line runs — (line, n) stands for n adjacent copies of line, one run
    * per distinct line of a partition — and returns its result. Parity
    * mode persists the map stage's runs; they are released when this
    * returns or throws (a failing mapper in the rank pass, a failing
    * reducer or sink in `use`), so no job leaves them in the session.
    * `combineBudget` is the map-side counter's byte budget; jobs use
    * [[ByteRuns.CombineBudget]], tests shrink it to force early emits.
    */
  private[mr] def withGrouped[A](spark: SparkSession, spec: JobSpec, combineBudget: Long)(
      use: RDD[(String, Long)] => A): A = {
    val sc = spark.sparkContext

    // --- source: sorted file listing, round-robined into numMappers
    // tasks by index (mapreduce/manager/__main__.py:311-328)
    val files = listInput(spec.inputDir)
      .filter(_.isFile)
      .map(_.getAbsolutePath)
      .sorted(Ordering.String)
      .toSeq
    val tasks: Seq[Seq[String]] = roundRobin(files, spec.numMappers)

    // --- map stage: one external process per input file (O1), its
    // stdout split into lines as bytes and counted into (line, n) runs by
    // one bounded counter per map task (Pipes.lineRuns over
    // ByteRuns.combine, the Hadoop combiner).
    val mapperCmd = spec.mapperCmd
    val runs = sc
      .parallelize(tasks, math.max(tasks.length, 1))
      .mapPartitions { fileLists =>
        Pipes.lineRuns(fileLists.flatMap(_.iterator).map(Pipes.stdout(mapperCmd, _)), combineBudget)
      }

    // --- group stage: shuffle on group key, external sort by full line
    // (O2/O3/O5 collapse into Spark's shuffle). The shuffle carries the
    // map tasks' line runs, not lines, and the reducer sums runs again,
    // so each reducer sorts only its distinct lines. Lossless because the
    // sort key is the WHOLE line: the n copies of a line are always
    // adjacent in a sorted partition, so expanding each run to n copies
    // where the partition is written (Pipes.writeRuns: the reducer's
    // stdin file, the reduceNN sink) gives back the same bytes.
    // The shuffle itself neither combines nor sorts on the map side
    // (setMapSideCombine(false)): up to 200 reducers Spark then writes
    // with BypassMergeSortShuffleWriter, straight to per-reducer files.
    // The reduce side merges runs in ExternalAppendOnlyMap and sorts them
    // in ExternalSorter; both spill.
    //
    // Parity mode reads `runs` twice (rank pass + shuffle): persist them
    // so the mapper executables run exactly once — rerunning them would
    // both double the work and, for a non-deterministic mapper, emit
    // keys absent from the rank map. MEMORY_AND_DISK, not cache(): a
    // memory-only block evicted under pressure would be silently
    // recomputed, breaking exactly that invariant.
    if (spec.parityPartitioning)
      runs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partitioner: Partitioner =
        if (spec.parityPartitioning) {
          val ranks = runs
            .map(r => groupKey(r._1, spec.legacyKeyExtraction))
            .distinct()
            .collect()
            .sorted(utf8Ordering)
            .zipWithIndex
            .toMap
          new KeyRankPartitioner(ranks, spec.numReducers, spec.legacyKeyExtraction)
        } else new GroupKeyPartitioner(spec.numReducers, spec.legacyKeyExtraction)

      use(new ShuffledRDD[String, Long, Long](runs, partitioner)
        .setAggregator(new Aggregator[String, Long, Long](n => n, _ + _, _ + _))
        .setMapSideCombine(false)
        .setKeyOrdering(utf8Ordering))
    } finally if (spec.parityPartitioning) runs.unpersist(blocking = false): Unit
  }

  /** Write a run RDD's partitions as sequentially named files under
    * `outDir`, one per partition, empty partitions included
    * (test_integration_03.py:79), in one Spark job. Each task writes its
    * partition to a file unique to its attempt in a staging directory and
    * renames it to part-NNNNN once complete, so a failed or retried
    * attempt leaves no partial or duplicated part. The driver moves the
    * parts to their final names only after the job succeeds: a failed job
    * writes nothing under `outDir`. Driver and tasks share one local
    * filesystem, as the reference's workers do.
    */
  private def saveNumbered(runs: RDD[(String, Long)], outDir: String, prefix: String): Seq[File] = {
    val staging = Files.createTempDirectory("graft-mr-")
    try {
      val dir = staging.toString
      runs.sparkContext.runJob(runs, (ctx: TaskContext, part: Iterator[(String, Long)]) => {
        val name = f"part-${ctx.partitionId()}%05d"
        val attempt = Paths.get(dir, s"$name.attempt-${ctx.taskAttemptId()}")
        Pipes.writeRuns(attempt, part)
        Files.move(attempt, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE): Unit
      })
      new File(outDir).mkdirs()
      (0 until runs.getNumPartitions).map { i =>
        val dest = Paths.get(outDir, f"$prefix${i + 1}%02d")
        Files.move(staging.resolve(f"part-$i%05d"), dest, StandardCopyOption.REPLACE_EXISTING)
        dest.toFile
      }
    } finally graft.Engine.deleteRecursively(staging.toFile) // failed attempts' files
  }

  /** Run a full map -> sort/group -> reduce job. Returns the output files
    * (exactly numReducers, named outputfileNN like
    * `mapreduce/manager/__main__.py:486-487`).
    */
  def run(spark: SparkSession, spec: JobSpec): Seq[File] = run(spark, spec, ByteRuns.CombineBudget)

  private[mr] def run(spark: SparkSession, spec: JobSpec, combineBudget: Long): Seq[File] =
    withGrouped(spark, spec, combineBudget) { grouped =>
      // --- reduce stage: one external process per sorted partition (O6)
      val reducerCmd = spec.reducerCmd
      val reduced = grouped.mapPartitions(runs => Pipes.pipePartition(reducerCmd, runs))

      // --- sink: exactly numReducers files named outputfileNN (S4)
      saveNumbered(reduced.map(l => (l, 1L)), spec.outputDir, "outputfile")
    }

  /** Map + group only, written as the reference's grouper-output files
    * `reduceNN` (`tmp/job-N/grouper-output/reduce01..` —
    * `mapreduce/manager/__main__.py:409-437`): each file is one key
    * partition, lines fully sorted under codepoint order. This is the S3
    * per-file intermediate sink surface; with `parityPartitioning=true`
    * the files replay the reference's grouping byte-for-byte (pinned
    * against the test_manager_08 goldens in MapReduceSpec).
    */
  def mapAndGroup(spark: SparkSession, spec: JobSpec, groupOutDir: String): Seq[File] =
    mapAndGroup(spark, spec, groupOutDir, ByteRuns.CombineBudget)

  private[mr] def mapAndGroup(
      spark: SparkSession,
      spec: JobSpec,
      groupOutDir: String,
      combineBudget: Long
  ): Seq[File] =
    withGrouped(spark, spec, combineBudget)(saveNumbered(_, groupOutDir, "reduce"))
}
