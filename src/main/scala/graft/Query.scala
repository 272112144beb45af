package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry key and everything declared about it.
  *
  * @param build  makes the key's Spark plan for a data dir
  * @param oracle the DuckDB 1.0.0 SQL whose rows the key's rows must
  *   hash-match (table names plain: each parquet file is registered as a
  *   view); None only for an approximate sketch
  * @param cap    the suite's performance regression guard, checked by
  *   the cap test of `RegistrySweep`: the most Spark jobs one warm run
  *   of the key (its build plus a `count()`) may submit.
  *   A key's scheduler exposure is its job count (about 11-26 ms per
  *   job, BASELINE.md), and unlike wall time the count is
  *   config-invariant (identical at local[2]/sf0.01 and local[32]/sf0.1,
  *   and at sf0.001 for all but q_customer_rfm: 8 there, 9-10 at
  *   sf0.01),
  *   so host weather cannot move it. A cap is the measured count + 2,
  *   since AQE may add a stage job as data shifts: a reverted driver
  *   fold or a dropped session artifact costs 3-20 jobs and trips it,
  *   organic variance does not. Capped keys are the ones whose counts
  *   the job work pinned down (session artifacts, bounded-census driver
  *   folds, iteration unrolls) and the slowest keys of the fleet.
  * @param allowances the `PlanLint` shapes this key's plan may hold,
  *   each with the bound Catalyst cannot see, in words */
final class Query private (val key: String, val build: Query.Q,
    val oracle: Option[String], val cap: Option[Int],
    val allowances: Map[PlanLint.Shape, String]) {

  /** Allows a global window over a frame Catalyst cannot bound. */
  def allowGlobalWindow(bound: String): Query =
    allow(PlanLint.GlobalWindow, bound)

  /** Allows a non-equi join whose two sides Catalyst cannot bound. */
  def allowUnboundedJoin(bound: String): Query =
    allow(PlanLint.UnboundedJoin, bound)

  private def allow(shape: PlanLint.Shape, bound: String): Query = {
    require(bound.trim.nonEmpty, s"$key: an allowance needs its bound")
    new Query(key, build, oracle, cap, allowances + (shape -> bound))
  }
}

object Query {
  type Q = (SparkSession, String) => DataFrame

  def apply(key: String, build: Q, oracle: String): Query =
    new Query(key, build, Some(oracle), None, Map.empty)

  def apply(key: String, build: Q, oracle: String, cap: Int): Query =
    new Query(key, build, Some(oracle), Some(cap), Map.empty)

  /** A key with no exact oracle; a spec bounds its error instead. */
  def withoutOracle(key: String, build: Q): Query =
    new Query(key, build, None, None, Map.empty)

  /** The declarations by key. Throws on a key declared twice, which a
    * `Map(...)` literal would resolve silently by keeping the last. */
  def byKey(declared: Seq[Query]): Map[String, Query] = {
    val dups = declared.groupBy(_.key).collect {
      case (k, qs) if qs.size > 1 => k
    }
    require(dups.isEmpty,
      s"query keys declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    declared.map(q => q.key -> q).toMap
  }

  def builders(declared: Seq[Query]): Map[String, Q] =
    byKey(declared).map { case (k, q) => k -> q.build }
}
