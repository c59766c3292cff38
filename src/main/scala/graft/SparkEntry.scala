package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2's
  * inventory; [[oracleSql]] carries the DuckDB-equivalent SQL the driver
  * executes against the same parquet tables for a hash-compare.
  *
  * Determinism contract shared by every query/oracle pair:
  *  - identical column aliases on both sides (driver sorts columns by name);
  *  - a total ORDER BY with a unique tiebreaker on both sides;
  *  - float aggregation goes through exact Decimal(18,2) sums cast back to
  *    double, so results are bit-identical regardless of execution order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's entire per-event dataflow (SURVEY.md §7.2): scan →
    * dispatch → subject/msg-id derivation → portable-encoded JSON envelope.
    */
  def entry(spark: SparkSession): DataFrame = {
    Session.setup(spark)
    CdcQueries.envelope(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2; each sets up
    * the session it is given ([[Session.setup]]) before it builds.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CdcQueries.queries ++
      RelationalQueries.queries ++
      TextQueries.queries ++
      VectorQueries.queries ++
      MultimodalQueries.queries).map { case (name, query) =>
      name -> ((spark: SparkSession, sfDir: String) =>
        query(Session.setup(spark), sfDir))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CdcQueries.oracles ++
      RelationalQueries.oracles ++
      TextQueries.oracles ++
      VectorQueries.oracles ++
      MultimodalQueries.oracles
}
