package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) + §3
  * (lifecycle). Query keys are stable; each pack object declares one
  * `Query` per key (its Spark builder, its DuckDB 1.0.0 SQL and any job
  * cap), and the maps below are derived from those declarations once. */
object SparkEntry {

  /** Every declared query, pack by pack. */
  val declared: Seq[Query] = Seq(
    operators.RelationalOps.declared,
    operators.ScalarOps.declared,
    operators.EventOps.declared,
    operators.TextOps.declared,
    operators.VectorOps.declared,
    operators.FunctionOps.declared,
    operators.DedupOps.declared,
    operators.GraphOps.declared,
    operators.StatsOps.declared,
    operators.MultimodalOps.declared).flatten

  private val byKey = Query.byKey(declared)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byKey.map { case (k, q) => k -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    byKey.flatMap { case (k, q) => q.oracle.map(k -> _) }
}
