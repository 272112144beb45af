package graft.sources

import graft.{Artifact, Tables}

/** Session-lifetime materializer for the partitioned physical layouts
  * PartitionedWriter defines, so query keys can exercise REAL partition
  * pruning (a scan with `PartitionFilters`) instead of simulating file
  * stats. The layout is written once per (session, data dir) under the
  * temp dir — the 100 TB analog is the one-time ETL that lays a fact table
  * out by date; every subsequent time-sliced query prunes to the
  * matching directories. */
object PartitionedLayout {
  // Both layouts are artifacts: invalidate(dir) drops them, so the next
  // use rewrites the layout from the files as they are then (both
  // writers use Overwrite).

  /** Day-partitioned events layout for `dir`'s events table; returns the
    * layout path, writing it on first use. */
  val eventsByDay = Artifact("events_by_day") { (spark, dir) =>
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_events_by_day_" +
        Integer.toHexString(dir.hashCode & 0x7fffffff)).toString
    PartitionedWriter.writeEventsByDay(
      Tables.events(spark, dir).drop("ts_ns"), path)
    path
  }

  /** Bounded calendar dimension (one row per event day, with a
    * `day_type` tag) materialized as a REAL parquet source — a
    * LocalRelation would constant-fold its filter away and dynamic
    * partition pruning would see nothing to exploit. The tag is a
    * STRING, not a boolean: Catalyst's DPP rule only injects the pruning
    * subquery behind a *likely-selective* dim predicate, and a bare
    * boolean attribute (what `is_weekend === true` simplifies to) does
    * not qualify, while `day_type = 'weekend'` does. The 100 TB analog
    * is the date dimension every warehouse keeps beside its
    * date-partitioned facts. */
  val calendarDim = Artifact("calendar_dim") { (spark, dir) =>
    import org.apache.spark.sql.functions._
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_calendar_dim_" +
        Integer.toHexString(dir.hashCode & 0x7fffffff)).toString
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("event_date")).distinct()
      // weekday(): Monday=0 … Sunday=6, so ≥5 ⟺ Sat/Sun (the oracle's
      // DuckDB twin is isodow ≥ 6: Monday=1 … Sunday=7)
      .withColumn("day_type",
        when(weekday(col("event_date")) >= 5, "weekend")
          .otherwise("weekday"))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }
}
