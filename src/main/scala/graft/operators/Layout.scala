package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout maintenance operators: small-file compaction and
  * multi-dimensional (Z-order) clustering. The reference's layout story
  * is "one text file per reducer" (SURVEY §1.3); a 100 TB lakehouse
  * needs the two jobs every table-maintenance service runs instead:
  *
  *  - compact: N small files -> K range-clustered files. Small files
  *    kill scan throughput (footer/open overhead per file, tiny row
  *    groups kill vectorized reads) and overload the driver's split
  *    planning. Range-repartitioning by a cluster key gives each output
  *    file a DISJOINT key range, so min/max file+row-group stats prune
  *    point/range scans down to one file (data skipping).
  *
  *  - zorderValue: bit-interleaved composite key. Linear clustering
  *    sorts one dimension perfectly and scatters the rest; Z-ordering
  *    keeps BOTH dimensions locally dense, so a 2-D box predicate
  *    prunes most files on either column's stats.
  *
  * Both are pure DataFrame transforms + writes — no custom physical
  * nodes needed; Spark's range partitioner + parquet stats do the work.
  */
object Layout {

  /** Rewrite `in` as ~`targetFiles` parquet files range-clustered and
    * sorted by `clusterCols` (lexicographic). Returns the compacted read
    * back. One full shuffle — at 100 TB you compact incrementally per
    * partition, same shape per partition.
    */
  def compact(
      spark: SparkSession,
      in: DataFrame,
      outDir: String,
      targetFiles: Int,
      clusterCols: Column*
  ): DataFrame = {
    in.repartitionByRange(targetFiles, clusterCols: _*)
      .sortWithinPartitions(clusterCols: _*)
      .write
      .mode("overwrite")
      .parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Deterministic, engine-portable training-shard assignment: two hex
    * nibbles of md5(key) -> [0, 256) -> mod nShards. Built from ascii()
    * arithmetic only, so a manifest computed by any engine (the DuckDB
    * oracle, a downstream loader) agrees byte-for-byte with the writer —
    * the property a training-data export needs so shard manifests can be
    * recomputed independently of the engine that wrote the shards.
    */
  def shardOf(key: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 256, "nShards must be in [1, 256]")
    val h = md5(key.cast("string"))
    pmod(nibble(substring(h, 1, 1)) * 16 + nibble(substring(h, 2, 1)), lit(nShards))
  }

  private def nibble(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** Deterministic percent bucket in [0, 100) for split assignment: FOUR
    * hex nibbles of md5(key) -> [0, 65536) mod 100. Two nibbles (the
    * shardOf draw) would make mod 100 grossly biased — buckets 0-55 get
    * probability 3/256 vs 2/256 for 56-99, so a documented 90/5/5 split
    * actually lands ~92.2/3.9/3.9. With four nibbles the per-bucket bias
    * is at most 1/65536 absolute (656/65536 vs 655/65536, ~0.15%
    * relative), so split fractions hold to <0.01 percentage points.
    * Same ascii() arithmetic as shardOf — recomputable by any engine.
    */
  def pctBucket(key: Column): Column = {
    val h = md5(key.cast("string"))
    val v = (0 until 4)
      .map(i => nibble(substring(h, i + 1, 1)) * (1 << (4 * (3 - i))))
      .reduce(_ + _)
    pmod(v, lit(100))
  }

  /** Dialect-shared SQL replay of the md5-nibble decode for hex char `i`
    * (1-based) of an already-computed md5 hex column `h` — ONE
    * definition site for every DuckDB oracle that replays [[shardOf]] /
    * [[pctBucket]]: DuckDB has no conv(), so the ascii() CASE chain is
    * the engine-portable decode, kept arithmetically identical to the
    * Column form above.
    */
  def nibbleSql(h: String, i: Int): String =
    s"(CASE WHEN ascii(substr($h, $i, 1)) <= 57 THEN ascii(substr($h, $i, 1)) - 48" +
      s" ELSE ascii(substr($h, $i, 1)) - 87 END)"

  /** SQL replay of [[shardOf]] over a precomputed md5 hex column `h`. */
  def shardOfSql(h: String, nShards: Int): String =
    s"((${nibbleSql(h, 1)} * 16 + ${nibbleSql(h, 2)}) % $nShards)"

  /** SQL replay of [[pctBucket]] over a precomputed md5 hex column `h`. */
  def pctBucketSql(h: String): String =
    s"((${nibbleSql(h, 1)} * 4096 + ${nibbleSql(h, 2)} * 256 + " +
      s"${nibbleSql(h, 3)} * 16 + ${nibbleSql(h, 4)}) % 100)"

  /** Write `in` as hive-partitioned training shards (`shard=NN/`) keyed
    * by `shardOf(key)` — the export step of a curation pipeline. One
    * shuffle on the shard id; each shard directory is independently
    * consumable (the property a data loader wants: workers claim whole
    * shards). Returns the read-back.
    */
  def writeShards(
      spark: SparkSession,
      in: DataFrame,
      outDir: String,
      key: Column,
      nShards: Int
  ): DataFrame = {
    // reserved output name, fail-fast (the Ranks 'rnk'/'n' rule): an
    // input 'shard' column — e.g. q173's manifest carries its own —
    // would be silently overwritten by the writer's assignment and the
    // re-read would "drift" confusingly; the caller must rename first
    require(
      !in.columns.contains("shard"),
      "writeShards reserves output column 'shard' (rename the input's)")
    in.withColumn("shard", shardOf(key, nShards))
      .repartition(col("shard"))
      .write
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Z-order value for two non-negative integer columns: the low `bits`
    * bits of each are interleaved (a in even positions, b in odd).
    * Values must fit in `bits` bits (caller scales/buckets first) —
    * enforced with a runtime error rather than silent truncation, which
    * would scramble the curve. Pure codegen'd builtins, no UDF.
    */
  def zorderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val cap = 1L << bits
    // NULL keys pass through as NULL z-values (the range partitioner
    // clusters them together) rather than tripping the range error
    val checked = (c: Column) =>
      when(c.isNull, lit(null).cast("long"))
        .when(c >= 0 && c < cap, c.cast("long"))
        .otherwise(raise_error(lit(s"zorderValue input out of [0, $cap)")))
    val av = checked(a)
    val bv = checked(b)
    (0 until bits)
      .map { i =>
        val aBit = shiftleft(shiftright(av, i).bitwiseAND(1), 2 * i)
        val bBit = shiftleft(shiftright(bv, i).bitwiseAND(1), 2 * i + 1)
        aBit.bitwiseOR(bBit)
      }
      .reduce(_.bitwiseOR(_))
  }
}
