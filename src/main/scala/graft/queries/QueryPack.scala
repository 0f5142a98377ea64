package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of driver-verifiable queries.
  *
  * `defs`    : query name → (session, sfDir) → result DataFrame.
  * `oracles` : query name → equivalent ANSI SQL for the DuckDB oracle
  *             (over the same parquet tables, registered by table
  *             name). Entries absent from `oracles` get a weaker
  *             rows-only check from the driver.
  *
  * Conventions that make the hash-compare deterministic:
  *   - every output column is explicitly aliased, identically on
  *     both sides;
  *   - double-typed aggregates are either exact (decimal-cast sums
  *     re-cast to double) or rounded on both sides;
  *   - every result carries a total order (ORDER BY on all key
  *     columns) so row order can never differ.
  */
trait QueryPack {
  def defs: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
