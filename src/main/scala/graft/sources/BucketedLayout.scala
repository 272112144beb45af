package graft.sources

import graft.{Artifact, Tables}

/** Session-lifetime materializer for co-bucketed table pairs, so query
  * keys can exercise a REAL exchange-free join (the scan itself reports
  * `Bucketed: true` and the sort-merge join has no shuffle on either
  * side). At 100 TB this is the one-time ETL that buckets two facts on
  * their join key; every subsequent join between them is co-located —
  * the single biggest shuffle eliminated from a recurring workload.
  * Catalog-backed (bucket metadata lives in the table catalog), written
  * once per (session, data dir). */
object BucketedLayout {
  /** orders ⋈ customer co-bucketed on custkey; returns the two table
    * names registered in the session catalog. An artifact like the
    * persisted frames: invalidate(dir) drops it, so the next use re-runs
    * the ETL (which starts by dropping/overwriting the catalog tables)
    * against the files as they are then. */
  val ordersCustomerByCustkey = Artifact("orders_customer_bucketed") {
    (spark, dir) =>
      val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
      val (ot, ct) = (s"graft_orders_bck_$tag", s"graft_customer_bck_$tag")
      // clean any orphaned warehouse dirs from an aborted earlier JVM —
      // the in-memory catalog forgets the table but the files survive,
      // and saveAsTable(Overwrite) on a forgotten location can fail
      Seq(ot, ct).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:"), t)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(loc)
        }
      }
      PartitionedWriter.writeCoBucketed(
        Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, "o_custkey",
        Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment"),
        ct, "c_custkey", buckets = 8)
      (ot, ct)
  }
}
