package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact global-order primitives — the scale-safe replacement
  * for `Window.orderBy(...)` with no partition key (which moves the whole
  * frame to ONE task and dies at 100 TB).
  *
  * Pattern (the `q_text_pack` two-pass prefix sum, generalized):
  *   1. `repartitionByRange` on the full sort tuple — a range shuffle, the
  *      same cost class as the sort the single-partition window needed
  *      anyway, but landing on N parallel tasks. RangePartitioner keeps
  *      partition i strictly below partition i+1 in the sort order and
  *      never splits equal tuples, so (partition order, in-partition
  *      order) IS the global order.
  *   2. `localCheckpoint` pins the sampled range boundaries so the
  *      offsets pass and the main pass see identical partitions.
  *   3. One bounded aggregate (one row per partition × group) is collected
  *      and turned into broadcast cumulative offsets — the only driver
  *      data is O(partitions), never O(rows).
  *   4. A per-partition window (parallel, partitioned by pid) plus the
  *      broadcast offset reproduces the exact global row_number / running
  *      sum — bit-identical to the single-partition plan for integer
  *      values, which is why every caller feeds integers (counts, cents)
  *      through these helpers. (Catalyst can't see that the checkpointed
  *      rows are already pid-clustered, so the window adds one hash
  *      exchange on pid — a second data-parallel shuffle, still nothing
  *      like the all-rows-to-one-task collapse this replaces.)
  *
  * ntile is derived from the exact global rank: SQL ntile(n) over N rows
  * gives the first (N mod n) buckets ⌈N/n⌉ rows and the rest ⌊N/n⌋, a
  * pure integer function of (rank, N) — so the distributed rank yields
  * the identical bucketing the oracle's ntile computes.
  */
object Dist {
  private val PID = "__graft_pid"
  private val SEP = "\u0001"

  private def defaultParts(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Runs the eager actions inside Dist (range checkpoint, offset
    * collects) with AQE off, restoring the conf after; GraphOps'
    * AQE-off checkpoints run in the same scope. AQE has nothing
    * to improve here — the range exchange carries an EXPLICIT partition
    * count AQE must respect and the offset aggregates are
    * O(partitions)-row — but each materialization would still fan into
    * per-QueryStage jobs (round-9 fleet census: 2-4 AQE stage jobs per
    * call; on a host that taxes job submission that is most of a
    * Dist-using key's cost). The scope covers ONLY the
    * construction-time actions: consumer plans downstream still run
    * with the session's AQE setting. */
  private[operators] def noAqe[A](s: org.apache.spark.sql.SparkSession)(
      f: => A): A =
    s.synchronized {
      // serialized per session: the save/set/restore of a SHARED session
      // conf would otherwise race with concurrent query construction on
      // the same SparkSession (planning an unrelated query with AQE off,
      // or leaking 'false' via interleaved restores). Registry callers
      // are sequential; the lock makes the scope safe for library users
      // who construct queries from multiple threads.
      val key = "spark.sql.adaptive.enabled"
      val saved = s.conf.get(key, "true")
      s.conf.set(key, "false")
      try f
      finally s.conf.set(key, saved)
    }

  /** Range-partition on (groupCols ++ sortCols), pin layout, tag pid.
    * LAZY checkpoint (round 10): every caller's next step is the
    * offsets collect, whose job doubles as the materializing action —
    * the eager form paid one extra job per Dist call (~20 call sites
    * fleet-wide). After that first action the partitions (and the
    * sampled range boundaries) are pinned exactly as before, which is
    * what the window pass relies on. */
  private def ranged(df: DataFrame, parts: Int, keys: Seq[Column])
      : DataFrame = noAqe(df.sparkSession) {
    df.repartitionByRange(parts, keys: _*)
      .withColumn(PID, spark_partition_id())
      .localCheckpoint(false)
  }

  /** Exact global (or per-group) 1-based row_number `rnCol` plus the group
    * row count `nCol`, computed without a single-partition window. With
    * empty `groupCols` the rank is global; otherwise it restarts per
    * group (groups must lead the range keys so ranges never interleave
    * groups). Sort tuple must be unique for a deterministic rank — same
    * contract the window form had. */
  def withRankAndCount(df: DataFrame, rnCol: String, nCol: String,
      groupCols: Seq[Column], sortCols: Seq[Column],
      numParts: Int = -1): DataFrame = {
    val parts = if (numParts > 0) numParts else defaultParts(df)
    val rp = ranged(df, parts, groupCols ++ sortCols)
    val gkey =
      if (groupCols.isEmpty) lit("")
      else concat_ws(SEP, groupCols.map(_.cast("string")): _*)
    // bounded: one row per (partition, group)
    val counts = noAqe(df.sparkSession)(rp.groupBy(col(PID), gkey.as("__g"))
      .agg(count(lit(1)).as("__c")).collect())
      .map(r => (r.getString(1), r.getInt(0), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val off = scala.collection.mutable.Map.empty[String, Long]
    val tot = scala.collection.mutable.Map.empty[String, Long]
    counts.foreach { case (g, pid, c) =>
      val seen = tot.getOrElse(g, 0L)
      off(g + SEP + pid) = seen
      tot(g) = seen + c
    }
    val w = Window.partitionBy(col(PID) +: groupCols: _*)
      .orderBy(sortCols: _*)
    rp.withColumn(rnCol, row_number().over(w).cast("long") +
        element_at(typedLit(off.toMap),
          concat(gkey, lit(SEP), col(PID).cast("string"))))
      .withColumn(nCol, element_at(typedLit(tot.toMap), gkey))
      .drop(PID)
  }

  /** Exact distributed ntile(n) — same bucketing as
    * `ntile(n).over(Window.partitionBy(groupCols).orderBy(sortCols))`
    * but no single-partition (or giant-stratum) window. */
  def withNtile(df: DataFrame, outCol: String, n: Int,
      groupCols: Seq[Column], sortCols: Seq[Column],
      numParts: Int = -1): DataFrame = {
    val rn = "__graft_rn"
    val nc = "__graft_n"
    // first (N mod n) buckets hold (N div n)+1 rows, the rest (N div n)
    val bucket =
      s"""CAST(CASE
            WHEN $rn <= (($nc div $n) + 1) * ($nc % $n)
            THEN ($rn - 1) div (($nc div $n) + 1) + 1
            ELSE ($nc % $n) +
                 ($rn - 1 - (($nc div $n) + 1) * ($nc % $n))
                   div ($nc div $n) + 1
          END AS INT)"""
    withRankAndCount(df, rn, nc, groupCols, sortCols, numParts)
      .withColumn(outCol, expr(bucket))
      .drop(rn, nc)
  }

  /** Exact distributed inclusive running MAX over a global order, for
    * LONG-valued inputs (max is associative and idempotent, so
    * per-partition partials + broadcast prefix maxima are bit-identical
    * to the sequential window max). The streaming-watermark primitive:
    * `max(event_time) so far in arrival order` without a single-partition
    * window. Empty-prefix offset is Long.MinValue (identity of max). */
  def withPrefixMaxLong(df: DataFrame, outCol: String, value: Column,
      sortCols: Seq[Column], numParts: Int = -1): DataFrame = {
    val parts = if (numParts > 0) numParts else defaultParts(df)
    val rp = ranged(df.withColumn("__graft_v", value.cast("long")),
      parts, sortCols)
    val ptots = noAqe(df.sparkSession)(rp.groupBy(col(PID))
      .agg(max(col("__graft_v")).as("__m")).collect())
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = Long.MinValue
    val offs: Map[Int, Long] = ptots.map { case (pid, m) =>
      val e = pid -> acc; acc = math.max(acc, m); e
    }.toMap
    val w = Window.partitionBy(PID).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rp.withColumn(outCol,
        greatest(max(col("__graft_v")).over(w),
          element_at(typedLit(offs), col(PID))))
      .drop(PID, "__graft_v")
  }

  /** Exact distributed inclusive running sums over a global order, for
    * LONG-valued inputs (integer arithmetic is associative, so
    * per-partition partials + broadcast offsets are bit-identical to the
    * sequential window sum — the reason callers feed counts/cents, never
    * raw doubles). Each (name, col) pair becomes a running-sum column. */
  def withPrefixSumsLong(df: DataFrame, sums: Seq[(String, Column)],
      sortCols: Seq[Column], numParts: Int = -1): DataFrame =
    withPrefixSumsLongTotals(df, sums, sortCols, numParts)._1

  /** withPrefixSumsLong plus each sum's GRAND total (round 10): the
    * offsets collect already reads one row per partition, so the grand
    * totals are the same fold's final accumulators — callers that
    * previously paid a separate total aggregate + crossJoin(broadcast)
    * (re-running the input subtree AND a broadcast-exchange job) get
    * them as exact-long plan literals for free. Empty input → total 0
    * (the old 1-row agg read NULL there; both make every downstream
    * division NULL over an empty frame). */
  def withPrefixSumsLongTotals(df: DataFrame,
      sums: Seq[(String, Column)], sortCols: Seq[Column],
      numParts: Int = -1): (DataFrame, Map[String, Long]) = {
    val parts = if (numParts > 0) numParts else defaultParts(df)
    val rp = ranged(df, parts, sortCols)
    val aggCols = sums.map { case (nm, c) =>
      sum(c.cast("long")).as(nm + "__t")
    }
    val ptots = noAqe(df.sparkSession)(rp.groupBy(col(PID))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect())
      .map(r => (r.getInt(0), sums.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val offs: Seq[Map[Int, Long]] = sums.indices.map { i =>
      var acc = 0L
      ptots.map { case (pid, vals) =>
        val e = pid -> acc; acc += vals(i); e
      }.toMap
    }
    val totals = sums.indices.map { i =>
      sums(i)._1 -> ptots.map(_._2(i)).sum
    }.toMap
    val w = Window.partitionBy(PID).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = sums.zipWithIndex.foldLeft(rp) {
      case (acc, ((nm, c), i)) =>
        acc.withColumn(nm, sum(c.cast("long")).over(w) +
          element_at(typedLit(offs(i)), col(PID)))
    }.drop(PID)
    (out, totals)
  }
}
