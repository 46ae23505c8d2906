package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operation: a Spark implementation plus (when
  * SQL-expressible) a DuckDB oracle over the same parquet tables.
  *
  * Contract (driver): column names AND types must match between the Spark
  * result and the oracle result — the driver sorts columns by name and
  * hashes values. Conventions used throughout to keep the two engines
  * bit-comparable:
  *   - every aggregate/computed column is aliased identically on both sides
  *   - double aggregates are `round(x, n)` on both sides (kills FP
  *     accumulation-order noise; per-row arithmetic is already exact)
  *   - integer-typed SQL functions that differ across engines (DuckDB
  *     `sum(int)` -> HUGEINT, `length` -> BIGINT, Spark `row_number` ->
  *     INT...) are cast to BIGINT on both sides
  *   - every query has a deterministic ORDER BY with a unique tiebreak
  *
  * Oracle text that two or more builders share is written once, as a
  * `def` fragment in `queries.OracleSql` (distances, kNN ranks, recall
  * and ranking-metric tails, shingle/MinHash chains, ...): compose from
  * it rather than paste. The dumped oracle text is pinned per query by
  * `OracleTextSpec`.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Registry {
  type Q = (SparkSession, String) => DataFrame
}
