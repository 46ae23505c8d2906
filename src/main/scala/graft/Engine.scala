package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table bootstrap for the graft engine.
  *
  * The engine is DataFrame/Dataset-first: every operator declares a logical
  * plan and lets Catalyst/Tungsten pick the physical strategy. Session
  * defaults are chosen for scale-out behavior (AQE on, shuffle partitions
  * sized to cores locally — on a real cluster this would be set to
  * ~2-3x total cores or left to AQE coalescing).
  */
object Engine {

  /** Number of local cores to use; the driver exports SPARK_GRAFT_CPUS. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** rm -rf — the ONE shared recursive delete for scratch dirs
    * (q174/q176 stream work dirs, WriteBench output): null-safe on
    * unreadable directories, no-op on missing paths.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** cp -r — the shared recursive copy (q222 snapshots the build-once
    * ANN artifact before mutating it: the process-wide cache is served
    * read-only to every other consumer, so a retraction query clones
    * its own working copy — the restore-then-retract shape).
    */
  def copyRecursively(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs(): Unit
      Option(src.listFiles)
        .getOrElse(Array.empty)
        .foreach(f => copyRecursively(f, new java.io.File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(
        src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Per-PROCESS scratch namespace token. Scratch paths keyed only on
    * the sf-dir hash collide when two concurrent sessions gate the same
    * data directory (both delete/rewrite the same tmp path — the q195
    * race, round-10 verdict #4); one random token per JVM isolates
    * processes while keeping paths stable WITHIN a session, so repeated
    * runs of the same query (bench passes, artifact caches) still reuse
    * their dir.
    */
  private val scratchToken: String = java.util.UUID.randomUUID().toString.take(8)

  // every scratch path this process handed out, deleted at JVM exit —
  // per-process tokens would otherwise leak each run's trees in tmpdir
  // forever (no later process knows the token). Hard kills skip the
  // hook; the stale-sibling sweep below reclaims those.
  private val scratchCreated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchCreated.forEach(p => deleteRecursively(new java.io.File(p)))
    }))
    true
  }

  /** The scratch directory for (query tag, data dir) — unique per
    * process, stable within it. Callers own create/delete of the path;
    * the path itself is deleted at JVM exit, and stale same-(tag, dir)
    * trees left by hard-killed processes (different token, untouched
    * for 6+ hours) are swept here so tmpdir growth is bounded to the
    * live processes' working sets.
    */
  def scratchDir(tag: String, dir: String): java.io.File = {
    require(scratchHookInstalled)
    val base = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefix = s"graft_${tag}_"
    val suffix = s"_${math.abs(dir.hashCode)}"
    Option(base.listFiles).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val n = f.getName
      // the age floor keeps this from deleting a CONCURRENT session's
      // live tree (the race the token exists to prevent); a swept
      // artifact dir is always rebuildable — correctness never depends
      // on scratch surviving
      if (n.startsWith(prefix) && n.endsWith(suffix) && !n.contains(scratchToken) &&
        System.currentTimeMillis - f.lastModified > 6L * 3600 * 1000)
        deleteRecursively(f)
    }
    val out = new java.io.File(base, s"$prefix$scratchToken$suffix")
    // a live long-running owner (e.g. an artifact dir served read-only
    // across bench passes) never refreshes its mtime by reading — touch
    // the tree root on every call so the 6h stale floor above measures
    // time since the owner LAST ASKED for the path, and a concurrent
    // process can never sweep a live session's tree mid-probe
    if (out.exists) out.setLastModified(System.currentTimeMillis): Unit
    scratchCreated.add(out.getPath): Unit
    out
  }

  def session(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      // local[N,2]: N threads, 2 task attempts — task retry gives the
      // reference's dead-worker reassignment semantics (O9) for free
      .master(s"local[$cpus,2]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      // local mode: match shuffle parallelism to cores, not the 200 default
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE: runtime coalescing of small shuffle partitions + skew-join
      // splitting — the knobs that keep plans healthy at 100 TB.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Coalesce to the ADVISORY SIZE, not to the parallelism floor:
      // with the default (parallelismFirst=true) AQE refuses to
      // coalesce below the core count, so every KB-sized post-shuffle
      // stage of the streaming/serving family launches `cpus`
      // near-empty tasks — pure scheduling overhead per micro-batch.
      // false is Spark's own documented recommendation for busy
      // clusters (honor advisoryPartitionSizeInBytes); it is the
      // scale-correct setting, not a local tweak. The advisory size is
      // env-parameterised: locally 8 MB (shuffles here are KB-MB; big
      // enough that genuinely data-carrying stages still fan out,
      // small enough that empty stages collapse to one task), in
      // production the guide's 64-256 MB band.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as long, converted
      // to microsecond timestamps in table() below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Memory-sink temp views registered by the streaming harness
    * (`EventStreaming.runToMemory`); each holds its full materialized
    * result in driver memory until dropped. Tracked here so
    * `releaseScratch` can reclaim them once consumed — without this a
    * full Bench leaves ~30 result tables pinned and a long-lived session
    * grows without bound.
    */
  private[graft] val sinkViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Release every scratch materialization left behind by consumed query
    * results: lazily-localCheckpoint-ed plans (they persist their RDD in
    * the block manager on first action and stay registered until GC'd —
    * the ContextCleaner only reclaims them after a full JVM GC notices
    * the dead reference), cached plans, and memory-sink temp views from
    * streaming runs. Call after a query's result has been fully consumed
    * (written / counted). A long-lived session that runs many queries
    * without this accumulates block-manager state without bound — on a
    * real cluster that is executor storage memory stolen from execution
    * until eviction kicks in, and measurably slower queries; in the bench
    * it contaminated every query that ran after a checkpoint-heavy one.
    *
    * SINGLE-WRITER CONTRACT: this is session-global cleanup — it drops
    * EVERY persisted RDD and cached plan, including a concurrent query's
    * mid-flight localCheckpoint (whose truncated lineage cannot be
    * recomputed: that query fails with "checkpoint block not found"
    * rather than recovering). Call it only from the thread that owns the
    * session's query lifecycle, between queries — never while another
    * query on the same session is executing. Concurrent query EXECUTION
    * is supported (ConcurrencySpec); concurrent cleanup is not.
    */
  def releaseScratch(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    val it = sinkViews.iterator()
    while (it.hasNext) {
      spark.catalog.dropTempView(it.next())
      it.remove()
    }
  }

  /** Load one of the driver-generated parquet tables under `dir`.
    * Single-file parquet locally; the same call works on a partitioned
    * directory at cluster scale (partition pruning comes for free).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts arrives differently depending on how the driver
    // materialized the parquet — both have shipped: TIMESTAMP(NANOS)
    // (Spark has no nanos type, so with nanosAsLong it reads as bigint
    // nanos; truncate to micros with integer division, matching DuckDB's
    // ns -> us cast) or TIMESTAMP(MICROS) isAdjustedToUTC=false (reads
    // as TIMESTAMP_NTZ; cast to the session TimestampType — the session
    // is pinned UTC, so the wall-clock values are unchanged and every
    // downstream window/interval op behaves identically). Dispatch on
    // the OBSERVED schema, not an assumption about the writer.
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _                => df
      }
    } else df
  }
}
