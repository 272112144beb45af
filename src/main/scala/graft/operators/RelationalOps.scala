package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.{r2, r6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Relational core: scans, predicates, joins, aggregations, windows, sorts,
  * set ops (SURVEY.md §2.1–§2.7).
  *
  * Every query is a declarative DataFrame plan (Catalyst handles pushdown,
  * pruning, partial aggregation, join-strategy selection); ends with a
  * deterministic ORDER BY on a unique tuple; and rounds every floating
  * aggregate so output hash-matches the DuckDB oracle (SURVEY.md §5.3).
  *
  * Scale notes are per-query in the scaladoc: the same plans run on a
  * 1000-executor cluster because nothing here collects to the driver and
  * every join/agg keys on high-cardinality columns or broadcasts a
  * bounded dimension.
  */
object RelationalOps {
  // ---------------------------------------------------------------- scans

  /** Parquet scan + projection; column pruning reaches the reader
    * (ReadSchema shows only 4 of 11 lineitem columns). */
  private val scanProject: Q = (s, d) =>
    Tables.lineitem(s, d)
      // (l_orderkey, l_linenumber) is NOT unique in this data — order by
      // every output column so ties are identical rows (hash-safe).
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** ns-timestamp ingest (SURVEY.md §1.4): events.ts arrives as parquet
    * TIMESTAMP(NANOS); Tables.events floors it to µs exactly like DuckDB. */
  private val scanEventsTs: Q = (s, d) =>
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type")
      .orderBy("event_id")

  // ------------------------------------------------- projection / filter

  /** Compound predicate AND/OR/NOT/IN/BETWEEN/LIKE/IS NULL — stays on raw
    * columns so every conjunct is pushed to the parquet scan. */
  private val filterPred: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        col("l_quantity").between(5, 30) &&
        col("l_returnflag").isin("A", "R") &&
        (col("l_discount") > 0.05 || col("l_tax") < 0.03) &&
        !(col("l_linestatus") === "F" && col("l_quantity") < 10) &&
        col("l_returnflag").like("%") &&
        col("l_shipdate").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus")

  /** Computed columns — classic TPC-H revenue arithmetic. */
  private val projectExpr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        r2(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("disc_price"),
        r2(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("charge"))
      .orderBy("l_orderkey", "l_linenumber", "disc_price", "charge")

  /** Conditional projection: CASE WHEN, coalesce/nullif/greatest/least. */
  private val caseWhen: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 150000, "mid")
          .otherwise("small").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
          .as("status2"),
        r2(greatest(col("o_totalprice"), lit(200000.0))).as("hi"),
        r2(least(col("o_totalprice"), lit(200000.0))).as("lo"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- joins

  /** Multi-way star join: fact orders ⋈ broadcast dims (customer, nation,
    * region). Dims are bounded (≤ customers) — broadcast() keeps the fact
    * table shuffle-free; at 100 TB only the final 125-group agg shuffles. */
  private val joinBroadcast: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"), r2(sum("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")

  /** Large-large equi join lineitem ⋈ orders → sort-merge at scale; both
    * sides shuffle-partition on the join key, AQE coalesces. */
  private val joinShuffle: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        r2(sum("l_extendedprice")).as("rev"))
      .orderBy("o_orderpriority")

  /** Left outer join with null-extension counted — pins outer-join null
    * semantics (count(col) skips nulls, the flag counts unmatched rows). */
  private val joinOuter: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("unmatched"))
      .orderBy("c_custkey")

  /** Left-semi: customers with ≥1 urgent order. */
  private val joinSemi: Q = (s, d) => {
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti: customers with no orders at all. */
  private val joinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Naive band (theta-range) self-join on events: pairs of events of the
    * same user ≤ 10 minutes apart, expressed as the literal inequality
    * join. The equi key (user_id) keeps this a shuffle-hash/SMJ join with
    * a residual range predicate — never a nested-loop cross product — but
    * per-user pair scanning is still O(k²) in a user's event count, so
    * this form is NOT the executed plan for `q_join_theta_range` anymore:
    * the registry points at [[joinRangeBucket]], whose bucketed blocking
    * bounds per-key fan-out by the band width. This naive form is kept as
    * the semantic witness — ScaleTechniqueSpec asserts it produces rows
    * identical to the bucketed plan. */
  private[graft] val joinThetaRangeNaive: Q = (s, d) => {
    val e = Tables.events(s, d)
    val a = e.select(col("user_id"), col("event_id").as("eid_a"),
      col("ts").as("ts_a"))
    val b = e.select(col("user_id").as("uid_b"), col("event_id").as("eid_b"),
      col("ts").as("ts_b"))
    a.join(b,
        col("user_id") === col("uid_b") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("pairs"))
      .orderBy("user_id")
  }

  /** As-of join: each event → the most recent order of that customer with
    * o_orderdate <= ts. Spark has no native ASOF; expressed as equi join on
    * the partition key + row_number()=1 on date desc — the output column is
    * the matched *date*, which is deterministic even when a customer has two
    * orders on the same max date. Equivalent to DuckDB's ASOF JOIN. */
  private val joinAsof: Q = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderdate")
    val joined = e.join(o,
      col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"))
    val w = Window.partitionBy("event_id").orderBy(col("o_orderdate").desc)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderdate").as("last_order_date"))
      .orderBy("event_id")
  }

  /** ASOF join, NEAREST direction (pandas merge_asof
    * direction='nearest') — the third member of the asof family:
    * q_join_asof looks backward, q_join_asof_tolerance looks backward
    * with a staleness bound, this one matches each event to the
    * customer's temporally CLOSEST order in either direction. Distance
    * is exact integer µs (|order epoch − event epoch|); ties break to
    * the earlier date (a declared law, not an accident). Same scale
    * shape as the siblings: equi join on the partition key, per-event
    * row_number argmin — never a cross product. */
  private val joinAsofNearest: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("ts_ns div 1000").as("e_us"))
    val o = Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderdate"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("o_us"))
    val w = Window.partitionBy("event_id")
      .orderBy(col("dist_us"), col("o_orderdate"))
    e.join(o, col("user_id") === col("o_custkey"))
      .withColumn("dist_us", abs(col("o_us") - col("e_us")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderdate").as("nearest_order_date"),
        expr("dist_us div 86400000000").as("days_off"))
      .orderBy("event_id")
  }

  /** ASOF join with a max-staleness TOLERANCE (the pandas
    * merge_asof(tolerance=...) / kdb wj semantics q_join_asof lacks):
    * match each event to the user's latest order no older than 9000
    * days (the corpus's 2024 events vs 1995-2001 orders make ~24.6
    * years the band that splits users into matched/stale — a tighter
    * bound would be all-NULL on this data, a looser one equals plain
    * asof), and KEEP unmatched events with a NULL match plus a
    * staleness-day census. Same scale shape as the plain asof (equi
    * join on the partition key, per-event row_number argmax — the band
    * predicate prunes the candidate fan-in before the window), with a
    * left join back onto the event spine so tolerance misses are
    * first-class rows, not silent drops. */
  private val joinAsofTolerance: Q = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderdate")
    val matched = e.join(o,
      col("user_id") === col("o_custkey") &&
        col("o_orderdate") <= col("ts") &&
        col("o_orderdate") >= col("ts") - expr("INTERVAL 9000 DAYS"))
    val w = Window.partitionBy("event_id").orderBy(col("o_orderdate").desc)
    val best = matched.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id").as("me"),
        col("o_orderdate").as("last_order_date"))
    e.join(best, col("event_id") === col("me"), "left")
      .select(col("event_id"), col("user_id"), col("last_order_date"),
        datediff(col("ts").cast("date"),
          col("last_order_date").cast("date")).as("staleness_days"))
      .orderBy("event_id")
  }

  /** Salted fact⋈dim join (the explicit skew remediation of Skew.scala,
    * surfaced as an oracle-checked key): lineitem rows get a deterministic
    * salt derived from (l_orderkey, l_linenumber), orders is replicated
    * once per salt bucket, and the join key becomes (key, salt) — a hot
    * orderkey's rows land on `buckets` reducers instead of one. Output is
    * row-for-row identical to the unsalted join (the oracle IS the plain
    * join), aggregated to a bounded 5-row summary. */
  private val joinSalted: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey",
        col("l_linenumber"), buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed interval blocking — the scale path for range joins: floor
    * each timestamp to a 10-minute bucket, replicate the left side into
    * its own and the following bucket, and equi-join on (user_id, bucket)
    * with the exact range as a residual predicate. Each qualifying pair is
    * produced exactly once (b's bucket is either a's or a's+1) and the
    * join never compares events further than one bucket apart, so the
    * per-key fan-out is bounded by bucket width × event rate, not by the
    * whole history of a hot user — this is what keeps the range join a
    * pure hash join at 100 TB. Same output contract as q_join_theta_range
    * (the oracle is the plain inequality join). */
  private val joinRangeBucket: Q = (s, d) => {
    val bandUs = 600000000L // 10 minutes in µs
    val e = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val a = e.select(col("user_id"), col("ts_us").as("us_a"))
      .withColumn("bkt", explode(array(
        expr(s"us_a div $bandUs"), expr(s"us_a div $bandUs + 1"))))
    val b = e.select(col("user_id").as("uid_b"), col("ts_us").as("us_b"))
      .withColumn("bkt_b", expr(s"us_b div $bandUs"))
    a.join(b,
        col("user_id") === col("uid_b") && col("bkt") === col("bkt_b") &&
        col("us_b") > col("us_a") && col("us_b") <= col("us_a") + bandUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("pairs"))
      .orderBy("user_id")
  }

  /** TPC-H Q3-style shipping-priority composite: 3-way join (selective
    * dimension broadcast, fact-fact SMJ co-keyed on orderkey) → hash agg
    * on the join key → global top-10 via TakeOrderedAndProject. All three
    * filters push to the parquet scans; the ORDER BY key is the rounded
    * revenue with l_orderkey as the unique tie-break. */
  private val tpchShipping: Q = (s, d) => {
    val cutoff = to_timestamp_ntz(lit("1998-01-01"))
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier volume: the 6-table star join
    * (region→nation broadcast chain onto supplier, customer ⋈ orders ⋈
    * lineitem on the fact side) with the c_nationkey = s_nationkey
    * "local" constraint — the canonical join-order/broadcast benchmark.
    * region+nation collapse to one broadcast dim on s_nationkey; the
    * customer⋈orders⋈lineitem chain shuffles on custkey then orderkey
    * (both co-keyed fact joins AQE can SMJ/bucket at scale); the local
    * constraint is applied as a post-join filter on two already-present
    * key columns, never a second fact shuffle. Date filter pushes to the
    * orders scan. */
  private val tpchQ5: Q = (s, d) => {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1997-01-01"))
    val nat = Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 volume shipping: bilateral trade flow between two nations
    * by year. Plan shape: the date filter pushes into the lineitem
    * scan; BOTH dimension chains (nation→supplier, nation→customer)
    * collapse to broadcast hashes because the nation filter prunes them
    * to ~2/25 of their tables; the only real shuffle is the
    * lineitem⋈orders fact-fact join on orderkey. The asymmetric-pair
    * filter runs post-join as a residual. */
  private val tpchQ7: Q = (s, d) => {
    val nations = Seq("NATION_11", "NATION_20")
    val n1 = Tables.nation(s, d).filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1997-01-01")))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q6 (forecast revenue change): the pure scan-aggregate — every
    * predicate (ship year, discount band, quantity cap) pushes into the
    * parquet scan, so at 100 TB this reads only the row groups whose
    * min/max stats overlap the band and aggregates map-side to a single
    * row. No join, no shuffle beyond the 1-row final merge; the
    * benchmark for raw scan throughput. */
  private val tpchQ6: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1997-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(r2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"))

  /** TPC-H Q8 (national market share, adapted to this schema's flat
    * p_type / NATION_k names): NATION_5's share of ECONOMY-part volume
    * sold to AMERICA customers per order year. Every dimension chain
    * (part filter, supplier→nation, customer→nation→region) broadcasts;
    * the only shuffles are the two fact-side joins (lineitem⋈orders on
    * orderkey) and the |years|-bounded final aggregate. The share is a
    * FILTERed-sum ratio on one pass — the two "samples" never
    * materialize separately. */
  private val tpchQ8: Q = (s, d) => {
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val amCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp_ntz(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp_ntz(lit("1998-01-01")))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(amCust), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(r6(lit(100) *
        sum(when(col("supp_nation") === "NATION_5", vol).otherwise(0.0)) /
        sum(vol)).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q13 (customer distribution, adapted: the excluded-comment
    * predicate becomes an order-priority filter): orders-per-customer
    * histogram INCLUDING zero-order customers — the left join that an
    * inner-join formulation silently drops. Two chained hash aggregates
    * (custkey → c_count), both map-side partial; output is bounded by
    * the max order count per customer. */
  private val tpchQ13: Q = (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q14 (promotion effect): PROMO-part share of one month's
    * revenue. Month filter pushes to the lineitem scan; part is a
    * broadcast dim; the share is a FILTERed-sum ratio in the single
    * 1-row aggregate — one pass, no separate promo subquery. */
  private val tpchQ14: Q = (s, d) => {
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1996-09-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1996-10-01")))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(r6(lit(100) *
        sum(when(col("p_type") === "PROMO", vol).otherwise(0.0)) /
        sum(vol)).as("promo_revenue"))
  }

  /** TPC-H Q15 (top supplier): quarter revenue per supplier, keep the
    * max. Revenue is r2-rounded BEFORE the max/equality compare
    * (round-then-compare, SURVEY §5.3) so the tie test runs on
    * identical doubles in both engines. The 1-row max broadcasts back
    * onto the |suppliers|-bounded revenue frame — the view+subquery of
    * the official query with no second fact scan. */
  private val tpchQ15: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1996-04-01")))
      .groupBy("l_suppkey")
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_rev"))
    // NOT a driver-collected literal (round-11 A/B consideration): the
    // broadcast-join-on-max consumes rev's exchange twice and exchange
    // reuse dedupes the lineitem scan — a construction-time collect
    // would run the scan once for the max and AGAIN for the query.
    rev.join(broadcast(rev.agg(max(col("total_rev")).as("mx"))),
        col("total_rev") === col("mx"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 (small-quantity-order revenue, adapted: brand filter
    * only — this schema has no container): revenue lost to sub-20%-of-
    * average-quantity orders for one brand. The per-part quantity cap
    * aggregates over the brand-filtered lineitem (broadcast part dim),
    * r6-rounds (round-then-compare), and broadcasts back — the
    * correlated scalar subquery of the official query as one aggregate
    * + one broadcast join, never a per-row re-scan. */
  private val tpchQ17: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .select("p_partkey", "l_quantity", "l_extendedprice")
    val cap = li.groupBy(col("p_partkey").as("pk"))
      .agg(r6(lit(0.2) * avg(col("l_quantity"))).as("qcap"))
    li.join(broadcast(cap), col("p_partkey") === col("pk"))
      .filter(col("l_quantity") < col("qcap"))
      .agg(count(lit(1)).as("n_small"),
        r2(sum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q19 (discounted revenue, adapted: brand×quantity bands
    * only — no container/shipmode in this schema): three disjunctive
    * brand+quantity predicates over the part-joined lineitem. The OR
    * of band predicates stays a single residual filter on the
    * broadcast-joined stream — one fact pass, no union-of-three-scans
    * rewrite needed at any scale. */
  private val tpchQ19: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q22 (global sales opportunity, adapted: nationkey%5 bands
    * stand in for phone country codes): above-average-balance customers
    * with NO order in the corpus's final year. The scalar average is a
    * 1-row broadcast, the NOT EXISTS compiles to a broadcast anti join
    * against the date-pruned orders scan, and the output is the
    * |bands|-bounded aggregate — the canonical anti-join benchmark. */
  private val tpchQ22: Q = (s, d) => {
    val avgbal = Tables.customer(s, d).filter(col("c_acctbal") > 0.0)
      .agg(r6(avg(col("c_acctbal"))).as("ab"))
    Tables.customer(s, d)
      .crossJoin(broadcast(avgbal))
      .filter(col("c_acctbal") > col("ab"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp_ntz(lit("2001-01-01")))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).as("cgrp"))
      .agg(count(lit(1)).as("numcust"),
        r2(sum(col("c_acctbal"))).as("totacctbal"))
      .orderBy("cgrp")
  }

  /** Event-time RANGE frame — the sliding count that follows the CLOCK,
    * not row positions (q_win_range_frame's numeric complement): per
    * user, how many events in the trailing hour at each event. Peers at
    * the same timestamp are frame-mates by RANGE semantics, so the
    * result is replay-order-independent. Partitioned by user_id — no
    * global window at any scale. */
  private val winTimeRange: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("cnt_1h", expr(
        """count(*) OVER (PARTITION BY user_id ORDER BY ts
          |RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"""
          .stripMargin))
      .select(col("event_id"), col("user_id"), col("cnt_1h"))
      .orderBy("event_id")

  /** Z-order (Morton) layout key — the multi-dimensional data-layout
    * primitive behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the
    * bits of two clustering dimensions yields ONE sort key whose runs
    * are simultaneously local in both, so min/max file stats prune scans
    * filtered on either dimension. The interleave is the classic
    * shift-and-mask bit spread (16→32 bits per dim, pure integer ops —
    * whole-stage-codegen'd in Spark, bit ops in DuckDB), demonstrated on
    * lineitem (partkey × suppkey mod 2^16). At 100 TB this key feeds
    * repartitionByRange + sortWithinPartitions before the parquet write;
    * here the ordered top-100 pins the key computation itself. */
  /** 16-bit value -> even bit positions of a 32-bit lane (Morton
    * interleave step, shared by q_layout_zorder and the skipping
    * audit). */
  private def spreadBits(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** lineitem with Morton key columns (zx, zy, zval) — shared base for
    * the z-order layout queries. */
  private def zorderBase(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).as("zx"),
        (col("l_suppkey") % 65536).as("zy"))
      .withColumn("zval",
        spreadBits(col("zx")).bitwiseOR(shiftleft(spreadBits(col("zy")), 1)))

  private val layoutZorder: Q = (s, d) =>
    zorderBase(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("zx"), col("zy"),
        col("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** Data-skipping audit — WHY z-order matters, quantified: rows are
    * laid into 16 "files" under (a) natural (l_orderkey, l_linenumber)
    * order and (b) Morton zval order, each file keeps (min, max) of
    * both dimensions — exactly the footer stats parquet writes — and a
    * 2-D box predicate — the bottom-left ⅛×⅛ corner of the ACTUAL data
    * bounds (min-anchored, integer arithmetic, so the audit stays
    * selective at every scale factor) — is tested against them. A file
    * skips iff its min-max rectangle misses the box. Under natural
    * order both dimensions span ~the full range in every file (skip ≈
    * 0); under z-order the box lives in few Morton blocks. The file
    * assignment is the DISTRIBUTED exact ntile(16) (Dist.withNtile:
    * range shuffle on the layout order + per-partition rank + broadcast
    * offsets) — the same range shuffle a real
    * repartitionByRange(zval).write pays, never a single-partition sort
    * of the fact table. All-integer output. */
  /** Small-files compaction planner — the OPTIMIZE/rewrite step of
    * lakehouse table maintenance as a query: treat each (source, lang)
    * slice of the corpus as one "file" (its byte weight = Σ n_chars),
    * order files canonically, and GREEDILY pack them into bins of
    * ~total/8 bytes (open a new bin when the next file would overflow a
    * non-empty bin — first-fit-in-order, the actual algorithm compaction
    * jobs run). The file census is |sources|×|langs|-bounded after one
    * hash aggregate, so the sequential greedy runs as the same
    * duration-order array fold as q_events_survival (exact integer
    * fills; the oracle replays it as a recursive CTE), and the output is
    * the per-bin manifest a rewrite job would execute. */
  private val layoutCompactionPlan: Q = (s, d) => {
    val files = Tables.documents(s, d)
      .groupBy("source", "lang")
      .agg(sum(col("n_chars")).as("bytes"))
      .select(concat_ws("|", col("source"), col("lang")).as("file"),
        col("bytes"))
    val outT = "ARRAY<STRUCT<file: STRING, bytes: BIGINT, bin: BIGINT>>"
    val overflow = "(acc.fill > 0 AND acc.fill + x.bytes > acc.target)"
    files
      .agg(expr("array_sort(collect_list(struct(file, bytes)))").as("arr"))
      .select(explode(expr(
        s"""aggregate(
              arr,
              named_struct(
                'target', greatest(CAST(1 AS BIGINT),
                  aggregate(arr, CAST(0 AS BIGINT),
                            (a, x) -> a + x.bytes) div 8),
                'bin', CAST(0 AS BIGINT),
                'fill', CAST(0 AS BIGINT),
                'out', CAST(array() AS $outT)),
              (acc, x) -> named_struct(
                'target', acc.target,
                'bin', CASE WHEN $overflow THEN acc.bin + 1
                            ELSE acc.bin END,
                'fill', CASE WHEN $overflow THEN x.bytes
                             ELSE acc.fill + x.bytes END,
                'out', array_append(acc.out, named_struct(
                  'file', x.file, 'bytes', x.bytes,
                  'bin', CASE WHEN $overflow THEN acc.bin + 1
                              ELSE acc.bin END))),
              acc -> acc.out)""")).as("r"))
      .groupBy(col("r.bin").as("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("r.bytes")).as("bytes"),
        min(col("r.file")).as("first_file"),
        max(col("r.file")).as("last_file"))
      .orderBy("bin")
  }

  /** Session-lifetime cache of the per-file layout stats frame — the
    * index artifact the layout-audit family shares (VERDICT r8 item 2:
    * the blockCache/packedCache discipline applied here). ONE build per
    * (session, dir) scans lineitem once, joins the constant curve LUT,
    * and runs the four exact Dist.withNtile(16) passes (natural, zorder
    * over zx/zy; hilbert, morton over hx/hy); every consumer then reads
    * a ≤64-row frame held on the driver — exactly the footer-stats
    * manifest a lakehouse table maintains incrementally at 100 TB, where
    * each OPTIMIZE pass appends file stats rather than re-sorting the
    * corpus per audit query. The zx/zy data bounds ride along as columns
    * so the skipping box needs no extra scan. Holding the rows on the
    * driver lets the build release the coordinate checkpoint and the
    * four ranged copies they came from. */
  private val layoutStats = Artifact("layout_stats") { (s, d) =>
    // one shared base scan: Morton coords (zx, zy, zval — mod-65536
    // keys) plus the 8-bit multiplicative-hash grid (hx, hy) and its
    // curve indices from the constant 65536-row broadcast LUT. The
    // eager checkpoint pins it across the four withNtile passes (each
    // evaluates its input ~3×: range sampling, offsets, final pass).
    val lut = s.createDataFrame(curveLut).toDF("hx", "hy", "hil", "mor")
    val coords = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).as("zx"),
        (col("l_suppkey") % 65536).as("zy"),
        expr("(l_partkey * 2654435761L) % 256").as("hx"),
        expr("(l_suppkey * 2246822519L) % 256").as("hy"))
      .withColumn("zval",
        spreadBits(col("zx")).bitwiseOR(
          shiftleft(spreadBits(col("zy")), 1)))
      .join(broadcast(lut), Seq("hx", "hy"))
      .localCheckpoint()
    // each ntile pass checkpoints its own ranged copy (Dist.ranged),
    // so prune to (sort key + stat columns) per pass — half the
    // materialized bytes vs ranging the full 9-column frame 4×
    def files(layout: String, xc: String, yc: String,
        ord: Seq[Column], keep: Seq[String]) =
      Dist.withNtile(coords.select(keep.map(col): _*), "f", 16, Nil, ord)
        .groupBy(lit(layout).as("layout"), col("f"))
        .agg(count(lit(1)).as("rows"),
          min(col(xc)).as("x0"), max(col(xc)).as("x1"),
          min(col(yc)).as("y0"), max(col(yc)).as("y1"))
    val bounds = coords.agg(
      min(col("zx")).as("bx0"), max(col("zx")).as("bx1"),
      min(col("zy")).as("by0"), max(col("zy")).as("by1"))
    val stats = files("natural", "zx", "zy",
        Seq(col("l_orderkey"), col("l_linenumber")),
        Seq("l_orderkey", "l_linenumber", "zx", "zy"))
      .unionAll(files("zorder", "zx", "zy",
        Seq(col("zval"), col("l_orderkey"), col("l_linenumber")),
        Seq("zval", "l_orderkey", "l_linenumber", "zx", "zy")))
      .unionAll(files("hilbert", "hx", "hy",
        Seq(col("hil"), col("l_orderkey"), col("l_linenumber")),
        Seq("hil", "l_orderkey", "l_linenumber", "hx", "hy")))
      .unionAll(files("morton", "hx", "hy",
        Seq(col("mor"), col("l_orderkey"), col("l_linenumber")),
        Seq("mor", "l_orderkey", "l_linenumber", "hx", "hy")))
      .crossJoin(broadcast(bounds))
    val kept = s.createDataFrame(stats.collect().toSeq.asJava, stats.schema)
    graft.Caches.releaseInputs(stats)
    kept
  }

  private val layoutSkipping: Q = (s, d) =>
    layoutStats(s, d)
      .filter(col("layout").isin("natural", "zorder"))
      .withColumn("hx", col("bx0") + expr("(bx1 - bx0) div 8"))
      .withColumn("hy", col("by0") + expr("(by1 - by0) div 8"))
      .withColumn("skip",
        when(col("x1") < col("bx0") || col("x0") > col("hx") ||
          col("y1") < col("by0") || col("y0") > col("hy"), 1L)
          .otherwise(0L))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"), sum(col("skip")).as("n_skipped"),
        sum(when(col("skip") === 0, col("rows")).otherwise(0L))
          .as("rows_scanned"))
      .orderBy("layout")

  /** One step of the integer curve-index fold shared by q_layout_hilbert
    * and its oracle. The (x, y, d) state packs into ONE BIGINT
    * (d·2³² + x·2¹⁶ + y, 8-bit coords so the pack never overflows),
    * because the oracle engine's list_reduce carries a same-typed
    * accumulator; the lambda text is IDENTICAL in both engines except
    * the integer-div token (`div` vs `//`). Hilbert per level: quadrant
    * digit (3·rx)⊕ry written as a CASE (no cross-engine xor), then the
    * flip+swap rotation of the standard xy2d recurrence; Morton is the
    * same fold without rotation (digit rx + 2·ry). */
  private def curveStepSql(divTok: String, morton: Boolean): String = {
    val X = s"((acc $divTok 65536) % 256)"
    val Y = "(acc % 256)"
    val D = s"(acc $divTok 4294967296)"
    val rx = s"((($X) $divTok s) % 2)"
    val ry = s"((($Y) $divTok s) % 2)"
    if (morton)
      s"($D + s * s * ($rx + 2 * ($ry))) * 4294967296" +
        s" + ($X) * 65536 + ($Y)"
    else {
      val q = s"CASE WHEN $rx = 0 AND $ry = 0 THEN 0" +
        s" WHEN $rx = 0 THEN 1 WHEN $ry = 0 THEN 3 ELSE 2 END"
      val x2 = s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN 255 - $Y ELSE $Y END) ELSE $X END"
      val y2 = s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN 255 - $X ELSE $X END) ELSE $Y END"
      s"($D + s * s * ($q)) * 4294967296 + ($x2) * 65536 + ($y2)"
    }
  }
  private val curveLevels = "128, 64, 32, 16, 8, 4, 2, 1"

  /** Spark column computing the 8-bit Hilbert (or Morton) index of
    * (hx, hy) via the packed-accumulator fold. */
  private[graft] def curveCol(morton: Boolean) = expr(
    s"aggregate(array(${curveLevels.split(", ").map(_ + "L").mkString(", ")})," +
      s" CAST(hx * 65536 + hy AS BIGINT)," +
      s" (acc, s) -> ${curveStepSql("div", morton)}," +
      " acc -> acc div 4294967296)")

  /** The full 256×256 curve mapping as a driver-built constant — the
    * curve is DATA-INDEPENDENT, so shipping it as a 65536-row broadcast
    * LocalRelation (the pinned-hyperplane/ewma-weight discipline) beats
    * re-running the interpreted fold under every Dist.withNtile
    * evaluation. ScaleTechniqueSpec pins curveCol == this recurrence ==
    * the standard xy2d; the oracle hash-match pins the LUT join == the
    * in-SQL fold. */
  private[graft] lazy val curveLut: Seq[(Long, Long, Long, Long)] = {
    def hilbert(x0: Long, y0: Long): Long = {
      var (x, y, dd) = (x0, y0, 0L); var s = 128L
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        dd += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = 255 - x; y = 255 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      dd
    }
    def morton(x: Long, y: Long): Long =
      (0 until 8).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    for (x <- 0L until 256L; y <- 0L until 256L)
      yield (x, y, hilbert(x, y), morton(x, y))
  }

  /** Hilbert-vs-Morton data-skipping audit — the layout question
    * q_layout_skipping leaves open: Morton (z-order) has ONE seam per
    * bit level where the curve teleports across the grid, so a range
    * query straddling the 128-boundary touches many disjoint curve
    * runs; Hilbert's rotation keeps every step adjacent, so the same
    * box stays in few runs. Quantified exactly like q_layout_skipping
    * (16 exact-ntile "files" per layout via the distributed
    * Dist.withNtile range shuffle, min/max footer stats, box-miss skip
    * test) but with a MID-GRID 32×32 box [112,143]² that crosses the
    * top-level seam — the case where the two curves genuinely differ;
    * on corner-aligned power-of-two boxes they tie by construction.
    * Curve indices are identical integer folds in both engines
    * (curveStepSql), so the whole audit is integer-exact. */
  // grid coords = 8-bit multiplicative-hash buckets of the two keys
  // (real curve layouts bucket high-cardinality dims first); odd
  // Knuth/xxhash multipliers are bijective mod 2^k, so the full
  // 0..255 range stays populated at EVERY scale factor where
  // l_suppkey % 256 would leave the seam box empty below ~sf0.1.
  // Integer ops, not md5-of-string: Dist.withNtile evaluates its
  // input ~3× per layout and the per-row string hashing priced the
  // audit at 28 s/sf0.1 (box coverage at all three SFs verified:
  // 67 rows in-box at sf0.001). Curve indices come from the constant
  // 65536-row broadcast LUT instead of per-fact-row folds (the
  // interpreted higher-order fold on every fact row priced the audit
  // at 85 s/sf0.1); both live in the shared layoutStats build now.
  // Natural order is deliberately absent from THIS key's readout:
  // q_layout_skipping carries the natural-vs-curve baseline; this key
  // prices the curve-vs-curve difference across the mid-grid seam box.
  private val layoutHilbert: Q = (s, d) =>
    layoutStats(s, d)
      .filter(col("layout").isin("hilbert", "morton"))
      .withColumn("skip",
        when(col("x1") < 112 || col("x0") > 143 ||
          col("y1") < 112 || col("y0") > 143, 1L).otherwise(0L))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"), sum(col("skip")).as("n_skipped"),
        sum(when(col("skip") === 0, col("rows")).otherwise(0L))
          .as("rows_scanned"))
      .orderBy("layout")

  /** Exact-decimal money aggregation — the DecimalType path a financial
    * pipeline needs (SURVEY §1.2 notes the testdata carries no decimals,
    * so money is ingested as double). The double→decimal boundary NEVER
    * uses a direct engine cast: Spark rounds the value's shortest decimal
    * repr HALF_UP while DuckDB rounds the binary expansion, and the two
    * disagree on .005-tie values (CORRECTNESS_r04's one hash miss).
    * Instead both engines compute integer cents as floor(x*100 + 0.5) —
    * identical IEEE double arithmetic — and build the decimal exactly as
    * cents × 0.01 (multiplication, not division: division scale rules are
    * engine-specific). Everything after is exact fixed-point — sums are
    * associative and order-independent, so partial aggregation at any
    * parallelism is bit-identical to the oracle's DECIMAL arithmetic,
    * with no r2/r6 float-parity machinery.
    *
    * OUTPUT CONTRACT (round 7): the DECIMAL arithmetic stays internal,
    * but the emitted columns are BIGINT exact units (cents / 1e-4
    * units) plus DOUBLEs derived from those BIGINTs by the identical
    * IEEE division `units / 10^k` on both engines. Rounds 4-6 proved
    * the decimal VALUES match the oracle at value+repr level while the
    * driver's hash still missed — the divergence lives in the physical
    * representation of DECIMAL cells, which we cannot control from
    * either engine. BIGINT and IEEE-identical DOUBLE hash canonically
    * in every layer, and the BIGINT columns still certify the exact
    * fixed-point path (any arithmetic drift would flip the low cent). */
  private val aggDecimal: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5)
          .cast("decimal(14,0)").as("cents"),
        floor(col("l_discount") * 100 + 0.5)
          .cast("decimal(4,0)").as("bp"))
      .select(col("l_returnflag"),
        (col("cents") * lit(0.01).cast("decimal(3,2)"))
          .cast("decimal(12,2)").as("price"),
        ((lit(100).cast("decimal(4,0)") - col("bp"))
          * lit(0.01).cast("decimal(3,2)")).cast("decimal(4,2)").as("rem"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("decimal(18,2)").as("sp"),
        sum(col("price") * col("rem"))
          .cast("decimal(18,4)").as("sdp"))
      // decimal → exact integer units → canonical types. sp*100 and
      // sdp*10000 are exact integers by construction (scales 2 and 4),
      // so the long cast truncates nothing; the doubles are BIGINT/10^k
      // — the same IEEE operation DuckDB runs in the oracle.
      .select(col("l_returnflag"), col("n"),
        (col("sp") * 100).cast("long").as("sum_price_cents"),
        (col("sdp") * 10000).cast("long").as("sum_disc_price_e4"))
      .select(col("l_returnflag"), col("n"),
        col("sum_price_cents"), col("sum_disc_price_e4"),
        (col("sum_price_cents") / lit(100.0)).as("sum_price"),
        (col("sum_disc_price_e4") / lit(10000.0)).as("sum_disc_price"))
      .orderBy("l_returnflag")

  /** One-day slice served from the REAL day-partitioned events layout
    * (PartitionedLayout materializes it once per session; hive-style
    * `event_date=YYYY-MM-DD/` directories). The date predicate lands in
    * the scan's `PartitionFilters`, so only 1 of the ~30 day directories
    * is listed and read — the 100 TB design point's most important scan
    * optimization, exercised for real rather than simulated
    * (ScaleTechniqueSpec asserts files-read < total). The aggregate
    * itself is one partial-combinable hash agg over the pruned slice. */
  private val layoutPartitionPrune: Q = (s, d) => {
    val path = graft.sources.PartitionedLayout.eventsByDay(s, d)
    s.read.parquet(path)
      .filter(col("event_date") === to_date(lit("2024-01-03")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
      .orderBy("event_type")
  }

  /** Dynamic partition pruning over the same day-partitioned layout:
    * the selective predicate lives on the CALENDAR DIM (`day_type =
    * 'weekend'`), not on the partition column, so static pruning can't
    * help — the fact scan must prune from the dim's runtime values. The
    * broadcast of the filtered dim doubles as the DPP subquery (plan
    * shows `dynamicpruningexpression` in PartitionFilters;
    * ScaleTechniqueSpec asserts it), so only weekend directories are
    * listed and read. At 100 TB this is the shape of every "this
    * quarter's business days" query against a date-partitioned fact. */
  private val layoutDpp: Q = (s, d) => {
    val fact = s.read.parquet(
      graft.sources.PartitionedLayout.eventsByDay(s, d))
    val cal = s.read.parquet(
      graft.sources.PartitionedLayout.calendarDim(s, d))
    fact.join(broadcast(cal.filter(col("day_type") === "weekend")),
        Seq("event_date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
      .orderBy("event_type")
  }

  /** Exchange-free co-located join served from BUCKETED tables
    * (BucketedLayout materializes orders ⋈ customer bucketed 8-way on
    * custkey once per session). The `merge` hint pins sort-merge — at
    * this test scale broadcast would otherwise win and hide the layout;
    * at 100 TB neither side broadcasts and the bucket layout IS the
    * strategy — and because both scans report the same hash-clustered
    * output partitioning, the join plans with NO Exchange on either side
    * (ScaleTechniqueSpec asserts both properties on this exact key).
    * The aggregate after the join is partial-combinable as usual. */
  private val layoutBucketJoin: Q = (s, d) => {
    val (ot, ct) = graft.sources.BucketedLayout.ordersCustomerByCustkey(s, d)
    val o = s.table(ot)
    val c = s.table(ct)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        r2(sum(col("o_totalprice"))).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** MapType round-trip over the JSON event properties — the derived
    * map<string,int> flavor SURVEY §1.2 calls for: parse props to a map,
    * then key extraction, direct lookup, and cardinality. Pure per-row
    * projection (codegen'd JSON path + map ops), no shuffle; the oracle
    * walks the same JSON with DuckDB's json_keys/->> operators. */
  private val mapFuncs: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_id"),
        element_at(map_keys(col("m")), 1).as("mkey"),
        element_at(col("m"), "k").as("mval"),
        size(col("m")).cast("bigint").as("msize"))
      .orderBy("event_id")

  /** Salted two-phase aggregation — Skew.saltedAgg surfaced as an
    * oracle-checked key (the aggregate twin of q_join_salted): partial
    * count/sum on (l_returnflag, salt) spread each hot flag over 8
    * reducers; the final pass combines 8 partial rows per flag. Exact
    * parity holds because counts are integral and l_quantity is integral
    * 1–50 (partial double sums are exact), so the two-phase result is
    * bit-identical to the oracle's single-phase aggregate. */
  private val aggSalted: Q = (s, d) =>
    Skew.saltedAgg(Tables.lineitem(s, d),
        col("l_returnflag"), "l_returnflag", col("l_orderkey"), buckets = 8,
        partial = Seq("n" -> count(lit(1)), "qty" -> sum(col("l_quantity"))),
        fin = Seq("n_items" -> sum(col("n")),
          "sum_qty" -> r2(sum(col("qty")))))
      .orderBy("l_returnflag")

  /** NTILE quantile binning — the feature-quantization primitive (equal-
    * frequency bucketing of a numeric feature per class). Ordering is
    * made unique with the key tie-break so bin edges are deterministic.
    * The 5 priority strata are each |orders|/5 — too big for one window
    * task at 100 TB — so the binning is the distributed exact ntile
    * (Dist.withNtile with the stratum as group key: range shuffle on
    * (priority, price, key), per-partition rank, broadcast per-stratum
    * offsets), identical to the oracle's partitioned ntile(4). */
  private val winNtile: Q = (s, d) =>
    Dist.withNtile(Tables.orders(s, d), "bin", 4,
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice"), col("o_orderkey")))
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "bin")
      .orderBy("o_orderkey")

  /** TPC-H Q10-style returned-item report: revenue lost to returns per
    * customer over one quarter — orders date-filtered at the scan,
    * lineitem filtered to l_returnflag = 'R' at the scan, the two facts
    * joined on orderkey, then one hash aggregate keyed on the customer
    * attributes and a global top-20 via TakeOrderedAndProject. customer
    * ⋈ nation broadcasts; the only wide shuffle is the fact-fact join. */
  private val tpchQ10: Q = (s, d) => {
    val lo = to_timestamp_ntz(lit("1996-01-01"))
    val hi = to_timestamp_ntz(lit("1996-04-01"))
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "c_acctbal", "n_name")
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL join keys
    * match each other instead of silently dropping — the semantics ETL
    * needs when a dimension key is legitimately absent on both sides
    * (here one priority class is nulled via nullif on both inputs).
    * EqualNullSafe stays a hash-join key, not a residual filter; output
    * coalesces the key so ordering/hashing never sees engine-specific
    * null placement. */
  private val joinNullSafe: Q = (s, d) => {
    val a = Tables.orders(s, d)
      .groupBy(expr("nullif(o_orderpriority, '3-MEDIUM')").as("k"))
      .agg(count(lit(1)).as("n_all"))
    val b = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .groupBy(expr("nullif(o_orderpriority, '3-MEDIUM')").as("k2"))
      .agg(count(lit(1)).as("n_f"))
    a.join(b, col("k") <=> col("k2"))
      .select(coalesce(col("k"), lit("(null)")).as("prio"),
        col("n_all"), col("n_f"))
      .orderBy("prio")
  }

  /** Entity-resolution fuzzy join (record linkage) — match a "dirty"
    * registry against the clean supplier table: BLOCK on the name minus
    * its last character (stable under the injected single-char
    * corruption, so blocks stay ~|digit| small), VERIFY candidates with
    * levenshtein ≤ 1 (codegen'd built-in), then RESOLVE each dirty
    * record to its best match (min edit distance, key tie-break) with
    * the ambiguity count carried alongside. The dirty side is a
    * deterministic md5-gated corruption of supplier itself (half the
    * names get their last char replaced) — the offline stand-in for a
    * second source system. Scale shape: equi-join on the block key
    * (never name × name), per-record window on rec_id; at 100 TB
    * blocking keys come from a trained/blocked-schema index, same plan. */
  private val joinFuzzy: Q = (s, d) => {
    val clean = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    val dirty = Tables.supplier(s, d).select(
      col("s_suppkey").as("rec_id"),
      when(substring(md5(col("s_suppkey").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"),
        concat(expr("substring(s_name, 1, length(s_name) - 1)"), lit("x")))
        .otherwise(col("s_name")).as("rec_name"))
    val cand = dirty
      .withColumn("blk", expr("substring(rec_name, 1, length(rec_name) - 1)"))
      .join(clean.withColumn("blk",
        expr("substring(s_name, 1, length(s_name) - 1)")), "blk")
      .withColumn("lev", levenshtein(col("rec_name"), col("s_name")))
      .filter(col("lev") <= 1)
    val w = Window.partitionBy("rec_id")
    cand
      .withColumn("n_candidates", count(lit(1)).over(w))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("lev"), col("s_suppkey"))))
      .filter(col("rnk") === 1)
      .select(col("rec_id"), col("s_suppkey").as("resolved_key"),
        col("lev"), col("n_candidates"))
      .orderBy("rec_id")
  }

  /** Relative-rank windows (percent_rank + cume_dist) — the
    * distribution-position primitives behind percentile badges and
    * "top X%" cohort cuts. Both are rank-based (no pre-aggregation
    * exists), partitioned on the 5-value priority column with a unique
    * (price, key) sort; exact small-integer ratios, r6-rounded only as
    * hash-parity armor. */
  private val winPct: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        r6(percent_rank().over(w)).as("pct_rank"),
        r6(cume_dist().over(w)).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Referential-integrity audit across the star schema — the ETL
    * data-quality gate run before any publish: per FK edge, total rows
    * and orphan rows (fact key with no dimension match) from ONE left
    * join + aggregate each (never two scans). Dimension sides broadcast
    * at any realistic dim size; the audit is linear in the fact tables
    * and embarrassingly parallel across edges. */
  private val fkAudit: Q = (s, d) => {
    def audit(name: String, fact: DataFrame, key: String,
        dim: DataFrame, dkey: String): DataFrame =
      fact.select(col(key).as("fk"))
        .join(dim.select(col(dkey).as("pk")), col("fk") === col("pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"))
    audit("lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      .union(audit("lineitem_part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .union(audit("lineitem_supplier", Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))
      .union(audit("orders_customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .orderBy("relation")
  }

  /** Data-quality circuit breaker — the write-audit-publish gate: five
    * independent expectation checks (FK orphans, duplicate primary keys,
    * empty text, event timestamps outside the expected month, events at
    * the value-domain floor) each reduce to ONE bounded aggregate, and
    * the union is the go/no-go table a pipeline reads before promoting
    * a batch. Every check is count-shaped (exact integers, map-side
    * partial), so the gate costs one pass per audited table at any
    * scale; thresholds ride in the output so a failing run
    * self-describes. The operator twin of IngestCanarySpec. */
  private val dqGate: Q = (s, d) => {
    def check(name: String, observed: DataFrame, threshold: Long) =
      observed.select(lit(name).as("check"),
        col("observed").cast("long").as("observed"),
        lit(threshold).as("threshold"),
        (col("observed") <= threshold).as("passed"))
    val orphans = Tables.orders(s, d).select(col("o_custkey").as("fk"))
      .join(Tables.customer(s, d).select(col("c_custkey").as("pk")),
        col("fk") === col("pk"), "left_anti")
      .agg(count(lit(1)).as("observed"))
    val dupDocs = Tables.documents(s, d)
      .agg((count(lit(1)) - countDistinct(col("doc_id"))).as("observed"))
    val emptyText = Tables.documents(s, d)
      .agg(count(when(col("text").isNull || length(col("text")) === 0, 1))
        .as("observed"))
    val tsRange = Tables.events(s, d)
      .agg(count(when(col("ts") < lit("2024-01-01").cast("timestamp_ntz")
          || col("ts") >= lit("2024-02-01").cast("timestamp_ntz"), 1))
        .as("observed"))
    val valFloor = Tables.events(s, d)
      .agg(count(when(col("value") <= 0.0, 1)).as("observed"))
    check("orders_customer_orphans", orphans, 0L)
      .unionAll(check("documents_duplicate_ids", dupDocs, 0L))
      .unionAll(check("documents_empty_text", emptyText, 0L))
      .unionAll(check("events_ts_outside_month", tsRange, 0L))
      .unionAll(check("events_nonpositive_value", valFloor, 0L))
      .orderBy("check")
  }

  // ----------------------------------------------------------- aggregates

  /** FLAGSHIP — TPC-H Q1-style pricing summary. Hash aggregate with
    * map-side partial aggregation; 6 output groups regardless of scale. */
  private val aggPricingSummary: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp_ntz(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        r6(avg("l_quantity")).as("avg_qty"),
        r6(avg("l_extendedprice")).as("avg_price"),
        r6(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Exact multi-distinct aggregation. */
  private val aggDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  /** HLL approx-distinct — deliberately NOT oracle-checked (Spark and
    * DuckDB use different sketches); OperatorEdgeSpec asserts ≤5% error
    * vs the exact distinct count for every event type.
    * At 100 TB this is the right default for distinct-user counts. */
  private val aggApproxDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  private val KmvK = 64

  /** DuckDB SQL: positional value of the first 15 md5 hex chars of
    * column `h` as an exact BIGINT in [0, 16^15) — pure integer
    * arithmetic (16^15 = 2^60 fits a long; no double in the decode
    * path), mirroring KmvDistinct.eval's decode digit for digit. */
  /** Shared Morton-key CTE chain (final CTE `z` = lineitem + zx, zy,
    * zval) — DuckDB twin of spreadBits/zorderBase, used by both z-order
    * oracle queries. */
  private val zvalCtes: String =
    """WITH base AS (SELECT l_orderkey, l_linenumber,
                            l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy
                     FROM lineitem),
       s1 AS (SELECT *, (zx | (zx << 8)) & 16711935 AS xa,
                        (zy | (zy << 8)) & 16711935 AS ya FROM base),
       s2 AS (SELECT *, (xa | (xa << 4)) & 252645135 AS xb,
                        (ya | (ya << 4)) & 252645135 AS yb FROM s1),
       s3 AS (SELECT *, (xb | (xb << 2)) & 858993459 AS xc,
                        (yb | (yb << 2)) & 858993459 AS yc FROM s2),
       s4 AS (SELECT *, (xc | (xc << 1)) & 1431655765 AS xd,
                        (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
       z AS (SELECT l_orderkey, l_linenumber, zx, zy,
                    xd | (yd << 1) AS zval
             FROM s4)"""

  private[operators] val hexValSql: String =
    (0 until 15).map { i =>
      val weight = 1L << (4 * (14 - i))
      s"(CAST(strpos('0123456789abcdef', substring(h, ${i + 1}, 1)) AS BIGINT) - 1) * $weight"
    }.mkString(" + ")

  /** ORACLE-CHECKABLE approx-distinct: a K-minimum-values sketch (k=64)
    * over the md5 hash space. est = (k-1) / u_k where u_k is the k-th
    * smallest normalized hash of the group's distinct values; groups with
    * fewer than k distinct values fall back to the exact count (standard
    * KMV). Every step — hash, ranking, hex decode, one double division —
    * is deterministic, so unlike HLL (q_agg_approx_distinct, whose sketch
    * is engine-private) the ESTIMATE itself hash-matches DuckDB.
    *
    * Executed by the native graft_kmv TypedImperativeAggregate
    * (functions/KmvDistinct.scala): a mergeable bounded sketch — each
    * partition keeps its k smallest hashes map-side and the shuffle
    * carries ≤ k strings per group, the form that holds at 100 TB. The
    * DuckDB oracle computes the same estimate relationally (distinct →
    * rank → decode), pinning the aggregate's semantics end to end. */
  private val aggApproxDistinctKmv: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr(s"graft_kmv(cast(user_id AS string), $KmvK)")
        .as("est_users"))
      .orderBy("event_type")

  /** KMV sketch MERGE proof — the re-aggregability contract that makes
    * sketch-based distinct counting work at 100 TB: per-day sketch
    * states (each day's k smallest distinct hashes) merge by
    * union-then-re-truncate into the corpus estimate, and the merged
    * estimate is BIT-IDENTICAL to the direct one — provably: a hash in
    * the global k-minimum set has fewer than k smaller hashes globally,
    * so on any day it appears it is inside that day's k-minimum too;
    * the union can never lose it. The output pins the proof as data
    * (merge_exact = true per group, oracle-checked), which is exactly
    * the property HLL merges claim but cannot oracle-check — KMV can.
    * Day-state frames are |days|·k-bounded; the windows partition by
    * (type, day) and type over those bounded frames. The decode and
    * estimate expressions mirror graft_kmv's eval to the IEEE
    * operation. */
  private val aggKmvMerge: Q = (s, d) => {
    val h = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type").as("t"),
        expr("(ts_ns div 1000) div 86400000000").as("day"),
        md5(col("user_id").cast("string")).as("h"))
      .distinct()
    val wd = Window.partitionBy("t", "day").orderBy("h")
    // NOT checkpointed: a round-10 A/B measured the pin at 11 jobs vs
    // 10 without — the two consumers' shared subtree is already
    // exchange-reused, so the eager materialization only added a job
    val dayStates = h.withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= KmvK).select("t", "h").distinct()
    val wt = Window.partitionBy("t").orderBy("h")
    val nd = dayStates.groupBy("t").agg(count(lit(1)).as("n_state"))
    val kth = dayStates.withColumn("rn", row_number().over(wt))
      .filter(col("rn") === KmvK)
      .select(col("t"),
        greatest(conv(substring(col("h"), 1, 15), 16, 10).cast("long"),
          lit(1L)).as("v"))
    val merged = nd.join(kth, Seq("t"), "left")
      .select(col("t"),
        when(col("v").isNull, col("n_state"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(math.pow(16.0, 15.0)) / col("v").cast("double"))
            .cast("long"))
          .as("est_merged"))
    val direct = Tables.events(s, d)
      .groupBy(col("event_type").as("t"))
      .agg(expr(s"graft_kmv(cast(user_id AS string), $KmvK)")
        .as("est_direct"))
    direct.join(merged, Seq("t"))
      .select(col("t").as("event_type"), col("est_direct"),
        col("est_merged"),
        (col("est_direct") === col("est_merged")).as("merge_exact"))
      .orderBy("event_type")
  }

  /** KMV set-ALGEBRA: estimated audience overlap between every pair of
    * event types via inclusion–exclusion on the sketches —
    * est(A∩B) = est(A) + est(B) − est(A∪B) — beside the exact
    * intersection. This is the query audience/reach systems run
    * constantly ("how many users do both X and Y") and the reason
    * mergeable sketches matter: the union sketch comes from ONE
    * graft_kmv pass over pair-tagged rows (each event row joins the
    * ≤|types|−1 pairs naming its type — a bounded broadcast fan-out,
    * map-combinable aggregate, ≤ k hashes per group on the shuffle),
    * never from re-scanning per pair. The estimate can go negative on
    * small overlaps (clamped at 0 — sketch algebra's known weakness,
    * priced by the exact column). Every step is the deterministic
    * md5/KMV arithmetic, so unlike a theta sketch the whole algebra
    * oracle-checks. */
  private val aggKmvIntersect: Q = (s, d) => {
    val perType = Tables.events(s, d).groupBy("event_type")
      .agg(expr(s"graft_kmv(cast(user_id AS string), $KmvK)").as("est"))
    // the type list rides the perType sketch aggregate (round 11): the
    // old separate events.distinct() was one more corpus pass for a
    // ≤|types|-row frame the sketch census already carries. A/B'd
    // round 11: job count ties (9 — AQE stage fan replaces the scan
    // job), kept for the one-fewer corpus pass at scale.
    val types = perType.select("event_type")
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val ev = Tables.events(s, d)
      .select(col("event_type").as("t"), col("user_id"))
    val unionEst = ev.join(broadcast(pairs),
        col("t") === col("ta") || col("t") === col("tb"))
      .groupBy("ta", "tb")
      .agg(expr(s"graft_kmv(cast(user_id AS string), $KmvK)")
        .as("est_union"))
    val hu = ev.filter(col("user_id").isNotNull).distinct()
    val exact = hu.select(col("t").as("ta"), col("user_id"))
      .join(hu.select(col("t").as("tb"), col("user_id")), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("exact_inter"))
    pairs
      .join(perType.select(col("event_type").as("ta"),
        col("est").as("est_a")), "ta")
      .join(perType.select(col("event_type").as("tb"),
        col("est").as("est_b")), "tb")
      .join(unionEst, Seq("ta", "tb"))
      .join(exact, Seq("ta", "tb"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .withColumn("est_inter", greatest(lit(0L),
        col("est_a") + col("est_b") - col("est_union")))
      .select("ta", "tb", "est_a", "est_b", "est_union", "est_inter",
        "exact_inter")
      .orderBy("ta", "tb")
  }

  /** Sketch-error audit for the KMV distinct estimator — the eval
    * harness a sketch ships with (the q_eval_*_recall pattern applied
    * to cardinality estimation): per-group KMV estimate joined to the
    * exact distinct count, relative error oracle-pinned. At 100 TB the
    * exact side is the one-off calibration job; the sketch runs daily.
    * Integer |est − exact| to the single division. */
  private val evalKmvError: Q = (s, d) => {
    val est = Tables.events(s, d).groupBy("event_type")
      .agg(expr(s"graft_kmv(cast(user_id AS string), $KmvK)").as("est"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact"), col("est"),
        r6(abs(col("est") - col("exact")).cast("double") / col("exact"))
          .as("rel_err"))
      .orderBy("event_type")
  }

  /** Fixed-width histogram of order totals — the profiling/skew-
    * diagnosis primitive: bin = floor((x − lo) / width) over a STATIC
    * range, so binning needs no data-dependent pass and the aggregation
    * is a plain |bins|-bounded groupBy (width_bucket semantics without
    * relying on either engine's builtin). */
  private val aggHistogram: Q = (s, d) => {
    val lo = 0.0; val width = 50000.0
    Tables.orders(s, d)
      .withColumn("bin",
        floor((col("o_totalprice") - lo) / width).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"),
        r2(min(col("o_totalprice"))).as("bin_min"),
        r2(max(col("o_totalprice"))).as("bin_max"))
      .orderBy("bin")
  }

  /** Equi-DEPTH histogram of order totals — the optimizer-statistics
    * complement of q_agg_histogram's equi-width bins: 8 buckets of
    * (near-)equal ROW COUNT with data-dependent boundaries, exactly
    * the histogram a cost-based planner keeps per column (equi-width
    * bins are useless under skew; equi-depth boundaries ARE the
    * quantiles). Buckets via the distributed exact ntile
    * (Dist.withNtile: range shuffle + per-partition rank + broadcast
    * offsets — never a single-partition window), deterministic on
    * (cents, o_orderkey); boundaries are exact integer-cent min/max
    * per bucket. Counts differ by at most 1 by construction — the
    * spec pins that, plus boundary monotonicity. */
  private val aggEquiDepth: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
    Dist.withNtile(o, "bucket", 8, Nil,
        Seq(col("cents"), col("o_orderkey")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        r2(min(col("cents")) / 100.0).as("lo"),
        r2(max(col("cents")) / 100.0).as("hi"))
      .orderBy("bucket")
  }

  /** Per-column data profile of the orders table — the data-validation
    * operator every ingest pipeline runs first: null count, exact
    * distinct count, min/max (as strings so one schema fits all column
    * types). One scan computes every column's aggregates in a single
    * wide aggregation (no per-column passes); the output is |columns|
    * rows at any data size. */
  private val dataProfile: Q = (s, d) => {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority")
    val o = Tables.orders(s, d)
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      wide.select(lit(c).as("column"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_s"),
        col(s"${c}_max").as("max_s"))
    }.reduce(_.unionAll(_))
    stacked.orderBy("column")
  }

  /** Bivariate statistics per group: Pearson correlation and sample
    * covariance between quantity and price — the feature-engineering
    * aggregates. Same map-side-partial shape (and the same r6 float
    * discipline) as q_agg_stats. */
  private val aggCorr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
        r6(covar_samp(col("l_quantity"), col("l_extendedprice")) / 1000.0)
          .as("covar_qp_k"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** Date-spine gap fill — the time-series primitive: generate the full
    * day spine between the corpus' min and max order dates (sequence +
    * explode, no data-sized shuffle to build it), left-join daily order
    * counts, zero-fill missing days. At 100 TB the spine stays |days|
    * rows (broadcastable) while the daily aggregate is the only
    * data-sized pass. */
  private val dateSpine: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        r2(sum(col("o_totalprice"))).as("revenue"))
    // bounds are declared over the |days|-row aggregate; Catalyst then
    // proves min-over-group-keys = min-over-rows and rewrites this to a
    // direct min/max over the single pruned o_orderdate column (its
    // optimized plan shows it) — either way the full-width table is
    // read once
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = bounds.select(
      explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("day")
  }

  /** Mode + median per group. Mode is made DETERMINISTIC by construction
    * (count per value → top-1 by (cnt DESC, value)) — both engines'
    * native mode() leave ties unspecified, which would be a coin-flip
    * under the hash comparator. Median interpolates identically to
    * DuckDB's quantile_cont(0.5) (same as q_agg_percentile). */
  private val aggModeMedian: Q = (s, d) => {
    val counts = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_quantity"))
    val modes = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
    val med = Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(r6(expr("median(l_quantity)")).as("median_qty"))
    modes.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
  }

  /** Weighted median per group: smallest price whose cumulative quantity
    * weight reaches half the group total. ROWS-frame cumulative sum over
    * exact integer weights — ties at the boundary price are
    * order-invariant (any internal order of equal prices selects the
    * same minimal price), so the answer is deterministic without a
    * full tiebreak sort. Window partitions by group key; for the
    * low-cardinality-group-at-100 TB case the two-pass histogram
    * path (q_agg_histo_quantile) is the pre-aggregated alternative. */
  private val aggWeightedMedian: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("wq"))
    val tot = li.groupBy("flag").agg(sum(col("wq")).as("totw"))
    val w = Window.partitionBy("flag").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.withColumn("cum", sum(col("wq")).over(w))
      .join(broadcast(tot), Seq("flag"))
      .filter(col("cum") * 2 >= col("totw"))
      .groupBy("flag", "totw")
      .agg(r2(min(col("price"))).as("wmedian"))
      .select(col("flag"), col("wmedian"), col("totw"))
      .orderBy("flag")
  }

  /** Conditional aggregation: sum(CASE WHEN), count FILTER equivalent. */
  private val aggFiltered: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r2(sum(when(col("l_discount") > 0.05, col("l_quantity"))
          .otherwise(lit(0.0)))).as("qty_hi_disc"),
        count(when(col("l_tax") > 0.04, lit(1))).as("cnt_hi_tax"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** Join-key skew audit: per-key row-count concentration for the four
    * hot join/group keys — n_keys, hottest-key share, p99/median ratio.
    * THE operational diagnostic behind the salting decision
    * (Skew.scala): a max_share near 1/parallelism means one reducer
    * owns a stage; p99/med ≫ 1 means salt or AQE-skew-join. The key
    * census is one hash-aggregate pass per key column; the EXACT
    * percentile over the census is the bench-scale form — it buffers
    * every per-key count in one final-aggregate task, so at billions
    * of distinct keys swap in approx_percentile or interpolate from
    * the count-of-counts census (bounded by distinct multiplicities).
    * Exact is kept here because the oracle can replay it bit-for-bit
    * (approx_percentile cannot be cross-engine-pinned). */
  private val skewAudit: Q = (s, d) => {
    def profile(df: DataFrame, keyCol: String, rel: String): DataFrame =
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_rows"),
          r6(max(col("c")).cast("double") / sum(col("c"))).as("max_share"),
          r6(expr("percentile(c, 0.99)") / expr("percentile(c, 0.5)"))
            .as("p99_over_med"))
        .select(lit(rel).as("join_key"), col("n_keys"), col("n_rows"),
          col("max_rows"), col("max_share"), col("p99_over_med"))
    profile(Tables.lineitem(s, d), "l_partkey", "lineitem.l_partkey")
      .union(profile(Tables.lineitem(s, d), "l_suppkey",
        "lineitem.l_suppkey"))
      .union(profile(Tables.orders(s, d), "o_custkey", "orders.o_custkey"))
      .union(profile(Tables.events(s, d), "user_id", "events.user_id"))
      .orderBy("join_key")
  }

  /** Boolean aggregates (count_if / bool_and / bool_or) — the
    * predicate-census trio every data-quality assertion layer compiles
    * to (e.g. "no group may contain a negative price" is one bool_and
    * per group). Plain hash aggregate, map-side partial, booleans stay
    * booleans end-to-end. */
  private val aggBool: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        expr("count_if(o_totalprice > 250000)").as("n_big"),
        expr("bool_and(o_totalprice > 2000)").as("all_above_2k"),
        expr("bool_or(o_totalprice > 499000)").as("any_extreme"))
      .orderBy("o_orderpriority")

  /** Moment stats per group. */
  private val aggStats: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        r6(stddev_samp(col("value"))).as("sd"),
        r6(var_samp(col("value"))).as("vr"),
        r6(min(col("value"))).as("mn"),
        r6(max(col("value"))).as("mx"))
      .orderBy("event_type")

  /** Exact interpolated quantiles (matches DuckDB quantile_cont). */
  private val aggPercentile: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.9)")).as("p90"))
      .orderBy("event_type")

  /** Distributed EXACT quantile — the scale path q_agg_percentile
    * deliberately is not: percentile() buffers every group value in the
    * aggregation buffer (memory-unbounded on a 100 TB group), while
    * this computes the SAME interpolated quantile from a (type, value)
    * census + cumulative ranks: value v covers ranks (cum−cnt, cum];
    * the q-quantile interpolates between the values covering 1-based
    * ranks ⌊q(n−1)⌋+1 and ⌊q(n−1)⌋+2. The cumulative window runs over
    * the CENSUS (|distinct values| rows, value-range-bounded), never
    * raw events — that is what makes the 5-partition type window safe
    * here where q_events_anomaly's scaladoc forbids it on raw data.
    * Interpolation arithmetic is identical formula text in both
    * engines (no percentile()/quantile_cont() call anywhere); a spec
    * additionally pins equality with q_agg_percentile's buffered
    * implementation. */
  private val aggQuantileDist: Q = (s, d) => {
    val census = Tables.events(s, d)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census
      .withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(census.groupBy("event_type")
        .agg(sum(col("cnt")).as("n"))), Seq("event_type"))
    def qCols(q: String, name: String) = Seq(
      min(when(expr(s"cum >= floor($q * (n - 1)) + 1 AND" +
        s" cum - cnt < floor($q * (n - 1)) + 1"), col("value")))
        .as(s"${name}_lo"),
      min(when(expr(s"cum >= floor($q * (n - 1)) + 2 AND" +
        s" cum - cnt < floor($q * (n - 1)) + 2"), col("value")))
        .as(s"${name}_hi"),
      max(expr(s"$q * (n - 1) - floor($q * (n - 1))")).as(s"${name}_f"))
    ranked.groupBy("event_type")
      .agg((qCols("0.5", "a") ++ qCols("0.9", "b")).head,
        (qCols("0.5", "a") ++ qCols("0.9", "b")).tail: _*)
      .select(col("event_type"),
        r6(expr("a_lo + a_f * (coalesce(a_hi, a_lo) - a_lo)")).as("p50"),
        r6(expr("b_lo + b_f * (coalesce(b_hi, b_lo) - b_lo)")).as("p90"))
      .orderBy("event_type")
  }

  /** GROUPING SETS on (lang), (source), () — null grouping keys coalesced
    * to a sentinel so NULL-ordering differences can't flip row order. */
  private val aggGroupingSets: Q = (s, d) => {
    Tables.documents(s, d).createOrReplaceTempView("graft_docs_gs")
    s.sql("""
      SELECT coalesce(lang, '(all)') AS lang_g,
             coalesce(source, '(all)') AS source_g,
             count(*) AS cnt,
             cast(sum(n_chars) AS BIGINT) AS total_chars
      FROM graft_docs_gs
      GROUP BY GROUPING SETS ((lang), (source), ())
      ORDER BY lang_g, source_g""")
  }

  /** ROLLUP (nation, mktsegment) over customer⋈nation revenue. */
  private val aggRollup: Q = (s, d) => {
    // SQL form: the DSL rollup-then-coalesce trips Spark's ambiguous
    // self-join detection on grouping columns.
    Tables.customer(s, d).createOrReplaceTempView("graft_cust_ru")
    Tables.nation(s, d).createOrReplaceTempView("graft_nat_ru")
    s.sql("""
      SELECT /*+ BROADCAST(graft_nat_ru) */
             coalesce(n_name, '(all)') AS nation_g,
             coalesce(c_mktsegment, '(all)') AS seg_g,
             count(*) AS cnt,
             floor(sum(c_acctbal) * 100 + 0.5) / 100 AS bal
      FROM graft_cust_ru JOIN graft_nat_ru ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)
      ORDER BY nation_g, seg_g""")
  }

  /** CUBE (returnflag, linestatus). */
  private val aggCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), r2(sum("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("rf_g"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls_g"),
        col("cnt"), col("qty"))
      .orderBy("rf_g", "ls_g")

  /** Per-group ordered collection — collect_list is order-nondeterministic
    * under parallelism, so sort_array pins it (SURVEY.md §2.4). Output is
    * the space-joined string, not the raw array: the driver's comparator
    * can't hash array-typed columns, and the string form carries identical
    * information (numeric sort order preserved). */
  private val aggCollect: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sort_array(collect_list(col("o_orderkey"))).as("ka"))
      .select(col("o_custkey"),
        array_join(expr("transform(ka, x -> cast(x AS string))"), " ")
          .as("orderkeys"))
      .orderBy("o_custkey")

  // -------------------------------------------------------------- windows

  /** Ranking functions. row_number/ntile run over a *unique* ordering
    * (date, key) — a non-unique ordering would be nondeterministic. */
  private val winRank: Q = (s, d) => {
    val unique = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byDate = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(unique).cast("long").as("rn"),
        rank().over(byDate).cast("long").as("rk"),
        dense_rank().over(byDate).cast("long").as("drk"),
        ntile(4).over(unique).cast("long").as("quartile"),
        r6(percent_rank().over(byDate)).as("prk"),
        r6(cume_dist().over(byDate)).as("cd"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Inter-event gap per user via lag() — the sessionization primitive.
    * Gap computed on the raw ns counter (exact integer µs), not on
    * timestamps, so no interval-type parity issues. The window orders by
    * the SAME µs-floored value the oracle's `ts` carries (not raw ns):
    * two events in one microsecond must tie-break identically on both
    * engines or their lag/lead partners diverge. */
  private val winLagLead: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        (expr("ts_ns div 1000") - lag(expr("ts_ns div 1000"), 1).over(w))
          .as("gap_us"),
        (lead(expr("ts_ns div 1000"), 1).over(w) - expr("ts_ns div 1000"))
          .as("next_us"))
      .orderBy("event_id")
  }

  /** Navigation window functions: first/last/nth order value per
    * customer over the full-partition frame. The ordering tuple is
    * unique (date, key), so every navigation target is deterministic —
    * with ties these functions are engine-coin-flips. */
  private val winFirstLast: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Running revenue per customer (rows frame). Sequential accumulation
    * order is pinned by the unique ORDER BY → bit-identical across engines. */
  private val winRunning: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        r2(sum(col("o_totalprice")).over(w)).as("running_rev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** 7-day trailing spend per customer — RANGE frame over epoch seconds
    * (portable across engines; intervals are not). */
  private val winRangeFrame: Q = (s, d) => {
    val withEpoch = Tables.orders(s, d)
      .withColumn("epoch_s",
        col("o_orderdate").cast("timestamp").cast("long"))
    val w = Window.partitionBy("o_custkey").orderBy(col("epoch_s"))
      .rangeBetween(-7L * 24 * 3600, 0)
    withEpoch
      .select(col("o_custkey"), col("o_orderkey"),
        r2(sum(col("o_totalprice")).over(w)).as("spend_7d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Top-3 orders per customer — the "suggestion ranking" primitive.
    * row_number + filter compiles to a partial top-k per partition. */
  private val winTopkGroup: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        r2(col("o_totalprice")).as("price"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  private[operators] val topkGroupOracle: String =
    """SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100.0 AS price,
              cast(rn AS BIGINT) AS rn
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** The SAME top-3-per-customer result as q_win_topk_group, through the
    * custom bounded-heap physical operator (plans/TopKPerGroup — a
    * LogicalPlan + SparkStrategy + SparkPlan whole-operator extension)
    * instead of WindowExec: one pass keeping at most k rows per group
    * after the group-key exchange, no full partition sort. The shared
    * DuckDB oracle and ExtensionsSpec's bit-parity check pin that the
    * rewrite preserves row_number semantics exactly. */
  private val winTopkNative: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        r2(col("o_totalprice")).as("price"))
    graft.plans.TopKPerGroup(base, 3, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), "rn")
      .select("o_custkey", "o_orderkey", "price", "rn")
      .orderBy("o_custkey", "rn")
  }

  // ----------------------------------------------- subqueries / reshaping

  /** SQL-surface subqueries in one query: a correlated scalar subquery
    * (per-customer order count), a correlated EXISTS (has a >100k order),
    * and an uncorrelated scalar (corpus-average order count) — exercising
    * Catalyst's decorrelation rules (RewriteCorrelatedScalarSubquery →
    * outer join + aggregate; EXISTS → left-semi join), i.e. by the time
    * the plan is physical there is no per-row re-execution, only joins.
    * The threshold average is over INTEGER counts, so the boundary
    * comparison is exact cross-engine (no float-sum order sensitivity). */
  private val subqueryMix: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_cust_sq")
    Tables.orders(s, d).createOrReplaceTempView("graft_ord_sq")
    s.sql("""
      SELECT c_custkey,
             (SELECT count(*) FROM graft_ord_sq o
              WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM graft_cust_sq c
      WHERE EXISTS (SELECT 1 FROM graft_ord_sq o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 100000)
        AND (SELECT count(*) FROM graft_ord_sq o
             WHERE o.o_custkey = c.c_custkey)
            > (SELECT avg(cnt) FROM (SELECT count(*) AS cnt
               FROM graft_ord_sq GROUP BY o_custkey))
      ORDER BY c_custkey""")
  }

  /** Correlated LATERAL subquery — top-2 customers per nation, the
    * "for each row of the outer, a dependent sub-result" SQL surface.
    * Catalyst decorrelates the LATERAL (ORDER BY … LIMIT inside) into a
    * per-nation window top-k — same physical shape as q_win_topk_group,
    * reached from the SQL front door instead of the DataFrame one. */
  private val lateralTopk: Q = (s, d) => {
    Tables.nation(s, d).createOrReplaceTempView("graft_nat_lat")
    Tables.customer(s, d).createOrReplaceTempView("graft_cust_lat")
    s.sql("""
      SELECT n_name, t.c_custkey, t.bal
      FROM graft_nat_lat,
      LATERAL (SELECT c_custkey,
                      floor(c_acctbal * 100 + 0.5) / 100 AS bal
               FROM graft_cust_lat
               WHERE c_nationkey = n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      ORDER BY n_name, bal DESC, c_custkey""")
  }

  /** Wide→long reshape (unpivot/melt) + aggregate over the melted rows.
    * Dataset.unpivot is a zero-shuffle generator (each input row emits one
    * row per measure in place); the only exchange is the 4-group
    * aggregation after it. At 100 TB the melt multiplies rows ×4 but
    * partial aggregation collapses them map-side before any shuffle. */
  private val unpivotMetrics: Q = (s, d) =>
    Tables.lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("cnt"), r2(sum("val")).as("total"))
      .orderBy("metric")

  /** Bloom-prefiltered join: build a bloom filter over the (filtered) dim
    * keys, prefilter the fact side BEFORE the join, then verify exactly
    * with the real join — false positives cost nothing but a second look,
    * false negatives are impossible. This is the explicit form of what
    * Spark's runtime row-level filtering (spark.sql.optimizer.runtime.
    * bloomFilter) injects into shuffle joins at cluster scale; built
    * explicitly here because at 100 TB a reusable bloom artifact (built
    * once per dim snapshot, ~1.2 MB at 1M keys/1% fpp, broadcast to every
    * scan) prunes the fact scan across MANY queries, not one plan. The
    * filter build is a treeAggregate over the dim side — no driver-side
    * row loop. */
  private val joinBloom: Q = (s, d) => {
    val dim = Tables.supplier(s, d)
      .filter(col("s_nationkey") < 5).select("s_suppkey")
    val bloom = dim.stat.bloomFilter("s_suppkey", 10000L, 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bloomB.value.mightContain(k))
    Tables.lineitem(s, d)
      .filter(mightContain(col("l_suppkey")))
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("cnt"), r2(sum("l_quantity")).as("qty"))
      .orderBy("l_suppkey")
  }

  // ------------------------------------------------------- sort / set ops

  /** Global top-20 — Spark plans TakeOrderedAndProject (no full sort). */
  private val sortLimit: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        r2(col("o_totalprice")).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(20)

  /** UNION ALL of two key streams + aggregate. */
  private val setUnion: Q = (s, d) =>
    Tables.orders(s, d).select(col("o_custkey").as("k"))
      .unionAll(Tables.events(s, d).select(col("user_id").as("k")))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")

  /** INTERSECT (distinct semantics). */
  private val setIntersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .intersect(Tables.events(s, d).select(col("user_id").as("k")))
      .orderBy("k")

  /** EXCEPT (distinct semantics). */
  private val setExcept: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .except(Tables.events(s, d).select(col("user_id").as("k")))
      .orderBy("k")

  /** EXCEPT ALL / INTERSECT ALL — BAG semantics (each key keeps
    * max(0, countA−countB) / min(countA, countB) copies), the multiset
    * complement of q_set_except/intersect's set semantics. Spark plans
    * both as a single hash aggregate with replicated counts (no
    * distinct-then-join), so they shuffle once on the key like any
    * groupBy. Output is the per-key census of both results (a canonical,
    * order-free encoding of the bags). */
  private val setBagOps: Q = (s, d) => {
    val a = Tables.lineitem(s, d).filter(col("l_quantity") < 10)
      .select(col("l_suppkey").as("k"))
    val b = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("k"))
    val ex = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except"))
    val in = a.intersectAll(b).groupBy("k")
      .agg(count(lit(1)).as("n_intersect"))
    ex.join(in, Seq("k"), "full_outer")
      .select(col("k"), coalesce(col("n_except"), lit(0L)).as("n_except"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
      .orderBy("k")
  }

  /** Order-fulfillment backlog — the interval-concurrency pattern:
    * [o_orderdate, l_shipdate) intervals are EVENT-IFIED (+1 at start,
    * −1 at end) so "how many line items are in fulfillment on day X"
    * needs no interval×day join — one union, one |days|-bounded
    * aggregate, one running sum over the bounded day frame (census
    * window: ~2.5k rows regardless of fact size, same argument as
    * q_events_rolling_7d). This is how concurrent-sessions / peak-load /
    * inventory-in-transit questions stay linear at 100 TB. */
  private val ordersBacklog: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
          .as("od"),
        expr("CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)")
          .as("sd"))
      // the synthetic data ships a few lines BEFORE their order date —
      // normalize to [min, max) so every interval is well-formed and
      // the prefix sum is a true concurrency count
      .select(least(col("od"), col("sd")).as("start_day"),
        greatest(col("od"), col("sd")).as("end_day"))
    val ev = li.select(col("start_day").as("day"), lit(1L).as("delta"))
      .unionAll(li.select(col("end_day").as("day"), lit(-1L).as("delta")))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.groupBy("day").agg(sum(col("delta")).as("delta"))
      .withColumn("in_flight", sum(col("delta")).over(w))
      .orderBy("day")
  }

  /** Histogram-interpolated approximate quantiles — how p50/p90/p99 are
    * actually computed at 100 TB: exact percentile needs a global sort
    * (or full value collection per group); a FIXED-WIDTH histogram is
    * one map-side-combinable hash aggregate, and the per-(group,bucket)
    * cells MERGE by addition across partitions/days/reruns. The
    * estimate linearly interpolates inside the bucket that crosses
    * q·N — bounded error = bucket width, chosen here as 5000 on
    * o_totalprice. Counts stay exact integers to the one final
    * division; r2 at the boundary. */
  private val histoQuantile: Q = (s, d) => {
    val width = 5000L
    val h = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") / width).cast("long").as("b"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("prio").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("prio")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = h.withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wn))
    val qs = s.createDataFrame(Seq(Tuple1(0.5), Tuple1(0.9), Tuple1(0.99)))
      .toDF("q")
    cum.join(broadcast(qs),
        col("cum") >= col("q") * col("n") &&
          (col("cum") - col("c")) < col("q") * col("n"))
      .select(col("prio"), col("q"), col("n"),
        r2(col("b") * width +
          (col("q") * col("n") - (col("cum") - col("c"))) / col("c") * width)
          .as("est"))
      .orderBy("prio", "q")
  }

  /** Mergeable partial aggregates — the incremental-ETL pattern behind
    * every "aggregate yesterday once, roll it up forever" pipeline:
    * daily partial states (n, sum, min, max) MERGE into weekly finals
    * by pure addition/min/max, no raw re-scan — which is also exactly
    * the contract that makes hash aggregation map-side combinable and
    * sketches unionable. Day sums are r2-rounded before the merge
    * (round-then-merge, the rolling-median discipline) so the
    * re-aggregation runs on identical doubles cross-engine; the spec
    * pins merged ≡ direct. */
  private val aggMergeDays: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
        .as("day"))
      .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("tot"),
        min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    daily.groupBy(expr("day div 7").as("week"))
      .agg(sum(col("n")).as("n"), r2(sum(col("tot"))).as("total"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        count(lit(1)).as("n_days"))
      .withColumn("mean", r6(col("total") / col("n")))
      .orderBy("week")
  }

  // ------------------------------------------------------------ registry

  /** 2-D skyline (Pareto frontier: cheapest price for its size class or
    * better — minimize p_retailprice, maximize p_size). NOT the naive
    * O(n²) dominance anti-join: 2-D skyline reduces to sort + cumulative
    * min — a point survives iff its price beats the min price of every
    * strictly-larger size (RANGE frame ending 1 PRECEDING on size DESC)
    * and is the min price within its own size. O(n log n): the per-size
    * min price is ONE hash aggregate over part (the |distinct sizes| ≤ 50
    * census), the cumulative "best price at any strictly larger size" is
    * a window over that bounded census only, and the frontier test is a
    * broadcast join back onto part — the full table is never globally
    * sorted or moved to one window task. */
  private val skyline: Q = (s, d) => {
    val perSize = Tables.part(s, d)
      .groupBy("p_size").agg(min(col("p_retailprice")).as("sprice"))
    // census window: one row per distinct p_size (≤ 50), rows -1 ==
    // range -1 because sizes are distinct here
    val larger = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perSize
      .withColumn("mprice", min(col("sprice")).over(larger))
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .join(broadcast(frontier), Seq("p_size"))
      .filter((col("mprice").isNull ||
        col("p_retailprice") < col("mprice")) &&
        col("p_retailprice") === col("sprice"))
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy(col("p_size").desc, col("p_partkey"))
  }

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds 250, with customer context and the per-order quantity. The
    * HAVING subquery compiles to aggregate → semi join; the outer
    * 3-table join shuffles on the FK chain and TakeOrderedAndProject
    * caps the output. A second composite benchmark beside q_tpch_q3. */
  private val tpchQ18: Q = (s, d) => {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 250)
      .select(col("l_orderkey").as("bok"))
    Tables.lineitem(s, d)
      .join(big, col("l_orderkey") === col("bok"), "left_semi")
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "o_totalprice")
      .agg(r2(sum(col("l_quantity"))).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** ABC (Pareto 80/15/5) inventory analysis: parts ranked by revenue,
    * cumulative revenue share, class A ≤ 80 % ≤ B ≤ 95 % ≤ C. Per-part
    * revenue is r2-rounded, then converted to integer CENTS so both the
    * running sum and the grand total are exact LONG arithmetic — order-
    * independent, so the prefix sum can be the distributed two-pass
    * range-partitioned form (Dist.withPrefixSumsLong) instead of a
    * single-partition global window, and the oracle (summing the same
    * cents in DuckDB HUGEINT) is bit-identical by construction. The one
    * float op left is the final cents/cents share division. */
  private val abcAnalysis: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
      .withColumn("cents", expr("CAST(floor(rev * 100 + 0.5) AS BIGINT)"))
    val share = col("cum").cast("double") / col("tot")
    // the grand total rides the prefix pass's offsets collect (round
    // 10, Dist.withPrefixSumsLongTotals) — the old rev.agg +
    // crossJoin(broadcast) re-ran the lineitem revenue aggregate and
    // paid a broadcast QueryStage job for one number the fold knew
    val (cum, tots) = Dist.withPrefixSumsLongTotals(rev,
      Seq("cum" -> col("cents")),
      Seq(col("rev").desc, col("l_partkey")))
    cum.withColumn("tot", lit(tots("cum")))
      .select(col("l_partkey"), col("rev"),
        r6(share).as("cum_share"),
        when(share <= 0.80, "A")
          .when(share <= 0.95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("rev").desc, col("l_partkey"))
      .limit(500)
  }

  /** RFM customer segmentation: recency (last order date), frequency
    * (order count), monetary (total spend), each cut into quintiles over
    * a fully tie-broken order (metric, custkey) so bucket boundaries are
    * deterministic cross-engine. Aggregation shuffles on custkey; each
    * quintile is the DISTRIBUTED exact ntile (Dist.withNtile: range
    * shuffle + per-partition rank + broadcast offsets) — no global
    * single-partition window anywhere, identical bucketing to the
    * oracle's ntile(5) by the rank/count formula. */
  private val customerRfm: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        r2(sum(col("o_totalprice"))).as("monetary"))
    val cut = Seq(
      ("r_q", Seq(col("last_order"), col("o_custkey"))),
      ("f_q", Seq(col("freq"), col("o_custkey"))),
      ("m_q", Seq(col("monetary"), col("o_custkey"))))
      .foldLeft(base) { case (acc, (out, ord)) =>
        Dist.withNtile(acc, out, 5, Nil, ord)
      }
    cut
      .select(col("o_custkey"), col("last_order"), col("freq"),
        col("monetary"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm"))
      .orderBy("o_custkey")
  }

  /** Year-over-year revenue growth: yearly revenue (r2-rounded before
    * the lag, so the growth division runs on identical doubles in both
    * engines), previous year via lag over the |years|-bounded frame,
    * growth as a rounded fraction. The census-window argument again —
    * the window never touches lineitem, only the 7-row yearly
    * aggregate. */
  private val yoyGrowth: Q = (s, d) => {
    val yearly = Tables.lineitem(s, d)
      .groupBy(year(col("l_shipdate")).as("yr"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
    val w = Window.orderBy("yr")
    yearly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("yr"), col("rev"),
        r6((col("rev") - col("prev")) / col("prev")).as("yoy"))
      .orderBy("yr")
  }

  /** Relational division ("for all"): customers whose ordered parts
    * were supplied from EVERY region — the classic set-containment
    * query that trips naive translators into |divisor|-way self-joins.
    * Shape: broadcast dims resolve lineitem → supplier region, distinct
    * (custkey, region), then count-distinct = |divisor| (a dynamic
    * 1-row aggregate, not a hardcoded 5). One shuffle on custkey
    * regardless of divisor size. Non-trivial at every SF (a few percent
    * of customers miss a region). */
  private val relationalDivision: Q = (s, d) => {
    val suppRegion = Tables.supplier(s, d)
      .join(Tables.nation(s, d),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_regionkey"))
    val cr = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppRegion), col("l_suppkey") === col("s_suppkey"))
      .select(col("o_custkey"), col("n_regionkey"))
      .distinct()
    // |divisor| as a bounded driver census: region is a ≤|regions|-row
    // dimension, so its count is the k-bounded-collect pattern. A/B'd
    // round 11 vs the 1-row-aggregate + broadcast-semi-join form: job
    // count identical (9), kept for the simpler plan (one literal
    // filter instead of a broadcast exchange on the hot aggregate).
    // Still dynamic (no hardcoded 5).
    val nRegions = Tables.region(s, d).count()
    cr.groupBy("o_custkey")
      .agg(countDistinct(col("n_regionkey")).as("k"))
      .filter(col("k") === lit(nRegions))
      .select(col("o_custkey"))
      .orderBy("o_custkey")
  }

  /** Each key's builder and its DuckDB 1.0.0 equivalent. Table names are
    * plain — each parquet file is registered as a view. Integer sums are
    * cast to BIGINT (DuckDB's sum(BIGINT) is HUGEINT); window-fn ints
    * cast to match Spark widths. */
  val declared: Seq[Query] = Seq(
    Query("q_relational_division", relationalDivision,
      """WITH cr AS (
           SELECT DISTINCT o_custkey, n_regionkey
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey)
         SELECT o_custkey FROM cr
         GROUP BY o_custkey
         HAVING count(DISTINCT n_regionkey) = (SELECT count(*) FROM region)
         ORDER BY o_custkey""", cap = 11),
    Query("q_yoy_growth", yoyGrowth,
      """WITH yearly AS (
           SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
                  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100
                    + 0.5) / 100.0 AS rev
           FROM lineitem GROUP BY year(l_shipdate)),
         l AS (SELECT yr, rev, lag(rev, 1) OVER (ORDER BY yr) AS prev
               FROM yearly)
         SELECT yr, rev,
                floor(((rev - prev) / prev) * 1000000 + 0.5) / 1000000.0
                  AS yoy
         FROM l ORDER BY yr""")
      .allowGlobalWindow("|years| census"),
    Query("q_tpch_q18", tpchQ18,
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                floor(sum(l_quantity) * 100 + 0.5) / 100.0 AS total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    // Running sum in exact integer cents (order-independent → the
    // distributed two-pass prefix sum is bit-identical by construction).
    Query("q_abc_analysis", abcAnalysis,
      """WITH rev AS (
           SELECT l_partkey,
                  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100
                    + 0.5) / 100.0 AS rev
           FROM lineitem GROUP BY l_partkey),
         rc AS (
           SELECT l_partkey, rev,
                  CAST(floor(rev * 100 + 0.5) AS BIGINT) AS cents
           FROM rev),
         tot AS (SELECT sum(cents) AS tot FROM rc),
         c AS (
           SELECT l_partkey, rev,
                  sum(cents) OVER (ORDER BY rev DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  tot
           FROM rc CROSS JOIN tot)
         SELECT l_partkey, rev,
                floor((CAST(cum AS DOUBLE) / tot) * 1000000 + 0.5)
                  / 1000000.0 AS cum_share,
                CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.80 THEN 'A'
                     WHEN CAST(cum AS DOUBLE) / tot <= 0.95 THEN 'B'
                     ELSE 'C' END AS abc_class
         FROM c ORDER BY rev DESC, l_partkey LIMIT 500""", cap = 5),
    Query("q_customer_rfm", customerRfm,
      """WITH base AS (
           SELECT o_custkey, max(o_orderdate) AS last_order,
                  count(*) AS freq,
                  floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS monetary
           FROM orders GROUP BY o_custkey),
         q AS (
           SELECT *,
                  CAST(ntile(5) OVER (ORDER BY last_order, o_custkey)
                    AS INTEGER) AS r_q,
                  CAST(ntile(5) OVER (ORDER BY freq, o_custkey)
                    AS INTEGER) AS f_q,
                  CAST(ntile(5) OVER (ORDER BY monetary, o_custkey)
                    AS INTEGER) AS m_q
           FROM base)
         SELECT o_custkey, last_order, freq, monetary, r_q, f_q, m_q,
                r_q * 100 + f_q * 10 + m_q AS rfm
         FROM q ORDER BY o_custkey""", cap = 12),
    Query("q_skyline", skyline,
      """WITH w AS (
           SELECT p_partkey, p_retailprice, p_size,
                  min(p_retailprice) OVER (
                    ORDER BY p_size DESC
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS mprice,
                  min(p_retailprice) OVER (PARTITION BY p_size) AS sprice
           FROM part)
         SELECT p_partkey, p_retailprice, p_size
         FROM w
         WHERE (mprice IS NULL OR p_retailprice < mprice)
           AND p_retailprice = sprice
         ORDER BY p_size DESC, p_partkey""")
      .allowGlobalWindow("|distinct p_size| <= 50 census"),
    Query("q_scan_project", scanProject,
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity"""),
    Query("q_scan_events_ts", scanEventsTs,
      """SELECT event_id, ts, user_id, event_type
         FROM events ORDER BY event_id"""),
    Query("q_filter_pred", filterPred,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax,
                l_returnflag, l_linestatus
         FROM lineitem
         WHERE l_quantity BETWEEN 5 AND 30
           AND l_returnflag IN ('A','R')
           AND (l_discount > 0.05 OR l_tax < 0.03)
           AND NOT (l_linestatus = 'F' AND l_quantity < 10)
           AND l_returnflag LIKE '%'
           AND l_shipdate IS NOT NULL
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax,
                  l_returnflag, l_linestatus"""),
    Query("q_project_expr", projectExpr,
      """SELECT l_orderkey, l_linenumber,
                floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100.0 AS disc_price,
                floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) / 100.0
                  AS charge
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, disc_price, charge"""),
    Query("q_case_when", caseWhen,
      """SELECT o_orderkey,
                CASE WHEN o_totalprice > 300000 THEN 'big'
                     WHEN o_totalprice > 150000 THEN 'mid'
                     ELSE 'small' END AS bucket,
                coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status2,
                floor((greatest(o_totalprice, 200000.0)) * 100 + 0.5) / 100.0 AS hi,
                floor((least(o_totalprice, 200000.0)) * 100 + 0.5) / 100.0 AS lo
         FROM orders ORDER BY o_orderkey"""),
    Query("q_join_broadcast", joinBroadcast,
      """SELECT r_name, n_name, count(*) AS cnt,
                floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    Query("q_join_shuffle", joinShuffle,
      """SELECT o_orderpriority, count(*) AS cnt,
                floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS rev
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Query("q_join_outer", joinOuter,
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
                cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS unmatched
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    Query("q_join_semi", joinSemi,
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    Query("q_join_anti", joinAnti,
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    // Executed plan is the bucketed-interval blocking (scale path); the
    // naive inequality join survives as joinThetaRangeNaive, spec-proven
    // row-identical. Oracle contract unchanged.
    Query("q_join_theta_range", joinRangeBucket,
      """SELECT a.user_id, count(*) AS pairs
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND b.ts > a.ts
          AND b.ts <= a.ts + INTERVAL 10 MINUTE
         GROUP BY a.user_id ORDER BY a.user_id"""),
    Query("q_agg_quantile_dist", aggQuantileDist,
      """WITH census AS (SELECT event_type, value,
                                CAST(count(*) AS BIGINT) AS cnt
                         FROM events GROUP BY event_type, value),
         ranked AS (SELECT event_type, value, cnt,
                           CAST(sum(cnt) OVER (PARTITION BY event_type
                             ORDER BY value) AS BIGINT) AS cum
                    FROM census),
         tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                 FROM census GROUP BY event_type),
         j AS (SELECT r.*, n FROM ranked r JOIN tot USING (event_type)),
         agg AS (SELECT event_type,
                   min(CASE WHEN cum >= floor(0.5 * (n - 1)) + 1
                              AND cum - cnt < floor(0.5 * (n - 1)) + 1
                            THEN value END) AS a_lo,
                   min(CASE WHEN cum >= floor(0.5 * (n - 1)) + 2
                              AND cum - cnt < floor(0.5 * (n - 1)) + 2
                            THEN value END) AS a_hi,
                   max(0.5 * (n - 1) - floor(0.5 * (n - 1))) AS a_f,
                   min(CASE WHEN cum >= floor(0.9 * (n - 1)) + 1
                              AND cum - cnt < floor(0.9 * (n - 1)) + 1
                            THEN value END) AS b_lo,
                   min(CASE WHEN cum >= floor(0.9 * (n - 1)) + 2
                              AND cum - cnt < floor(0.9 * (n - 1)) + 2
                            THEN value END) AS b_hi,
                   max(0.9 * (n - 1) - floor(0.9 * (n - 1))) AS b_f
                 FROM j GROUP BY event_type)
         SELECT event_type,
                floor((a_lo + a_f * (coalesce(a_hi, a_lo) - a_lo))
                  * 1000000 + 0.5) / 1000000.0 AS p50,
                floor((b_lo + b_f * (coalesce(b_hi, b_lo) - b_lo))
                  * 1000000 + 0.5) / 1000000.0 AS p90
         FROM agg ORDER BY event_type"""),
    Query("q_join_asof_nearest", joinAsofNearest,
      """WITH e AS (SELECT event_id, user_id,
                           epoch_us(ts) AS e_us
                    FROM events),
         o AS (SELECT o_custkey, o_orderdate,
                      epoch_us(o_orderdate) AS o_us
               FROM orders),
         j AS (SELECT event_id, user_id, o_orderdate,
                      abs(o_us - e_us) AS dist_us,
                      row_number() OVER (PARTITION BY event_id
                        ORDER BY abs(o_us - e_us), o_orderdate) AS rn
               FROM e JOIN o ON user_id = o_custkey)
         SELECT event_id, user_id,
                o_orderdate AS nearest_order_date,
                dist_us // 86400000000 AS days_off
         FROM j WHERE rn = 1 ORDER BY event_id""", cap = 6),
    Query("q_join_asof", joinAsof,
      """SELECT e.event_id, e.user_id, o.o_orderdate AS last_order_date
         FROM events e ASOF JOIN orders o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id"""),
    Query("q_join_asof_tolerance", joinAsofTolerance,
      """WITH m AS (
           SELECT e.event_id, o.o_orderdate,
                  row_number() OVER (PARTITION BY e.event_id
                                     ORDER BY o.o_orderdate DESC) AS rn
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey
            AND o.o_orderdate <= e.ts
            AND o.o_orderdate >= e.ts - INTERVAL 9000 DAY)
         SELECT e.event_id, e.user_id,
                b.o_orderdate AS last_order_date,
                CAST(datediff('day', CAST(b.o_orderdate AS DATE),
                              CAST(e.ts AS DATE)) AS INTEGER)
                  AS staleness_days
         FROM events e
         LEFT JOIN (SELECT event_id, o_orderdate FROM m WHERE rn = 1) b
           ON e.event_id = b.event_id
         ORDER BY e.event_id"""),
    // The salted plan must equal the PLAIN join — the oracle deliberately
    // knows nothing about salting.
    Query("q_join_salted", joinSalted,
      """SELECT o_orderpriority, count(*) AS n_items,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""", cap = 6),
    // Bucketed blocking must equal the plain inequality join.
    Query("q_join_range_bucket", joinRangeBucket,
      """SELECT a.user_id, count(*) AS pairs
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND b.ts > a.ts
          AND b.ts <= a.ts + INTERVAL 10 MINUTE
         GROUP BY a.user_id ORDER BY a.user_id"""),
    Query("q_tpch_q5", tpchQ5,
      """SELECT n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    Query("q_layout_zorder", layoutZorder,
      s"""$zvalCtes
         SELECT l_orderkey, l_linenumber, zx, zy, zval
         FROM z ORDER BY zval, l_orderkey, l_linenumber LIMIT 100"""),
    // Exact DECIMAL arithmetic internally; the double→decimal boundary
    // goes through floor-cents (same IEEE arithmetic both engines — a
    // direct CAST disagrees on .005 ties). Hash-facing output is BIGINT
    // exact units + BIGINT/10^k DOUBLEs — DECIMAL cells hash
    // non-canonically across layers (3-round r4-r6 finding; values
    // matched at repr level while the driver's hash missed).
    Query("q_agg_decimal", aggDecimal,
      """WITH c AS (
           SELECT l_returnflag,
                  CAST(CAST(floor(l_extendedprice*100 + 0.5) AS DECIMAL(14,0))
                       * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(12,2)) AS price,
                  CAST((CAST(100 AS DECIMAL(4,0)) -
                        CAST(floor(l_discount*100 + 0.5) AS DECIMAL(4,0)))
                       * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(4,2)) AS rem
           FROM lineitem),
         g AS (
           SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(price) AS DECIMAL(18,2)) AS sp,
                  CAST(sum(price * rem) AS DECIMAL(18,4)) AS sdp
           FROM c GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                CAST(CAST(sp AS DECIMAL(28,2)) * 100 AS BIGINT)
                  AS sum_price_cents,
                CAST(CAST(sdp AS DECIMAL(28,4)) * 10000 AS BIGINT)
                  AS sum_disc_price_e4,
                CAST(CAST(sp AS DECIMAL(28,2)) * 100 AS BIGINT) / 100.0
                  AS sum_price,
                CAST(CAST(sdp AS DECIMAL(28,4)) * 10000 AS BIGINT) / 10000.0
                  AS sum_disc_price
         FROM g ORDER BY l_returnflag"""),
    // The partitioned layout must serve the same rows the flat table
    // filters to — the oracle knows nothing about the physical layout.
    Query("q_layout_partition_prune", layoutPartitionPrune,
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value
         FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
         GROUP BY event_type ORDER BY event_type"""),
    // The layout (and the DPP that prunes it) is physical only — the
    // oracle states the predicate directly: isodow ≥ 6 ⟺ Sat/Sun, the
    // twin of Spark's weekday() ≥ 5 used to build the calendar dim.
    Query("q_layout_dpp", layoutDpp,
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value
         FROM events WHERE isodow(CAST(ts AS DATE)) >= 6
         GROUP BY event_type ORDER BY event_type"""),
    // Bucketing is physical layout only — the oracle is the plain join.
    Query("q_layout_bucket_join", layoutBucketJoin,
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    Query("q_layout_compaction_plan", layoutCompactionPlan,
      """WITH RECURSIVE f AS (
           SELECT source || '|' || lang AS file,
                  CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY source, lang),
         ds AS (SELECT file, bytes,
                       CAST(row_number() OVER (ORDER BY file, bytes)
                         AS BIGINT) AS rn
                FROM f),
         tgt AS (SELECT greatest(CAST(1 AS BIGINT),
                          CAST(sum(bytes) AS BIGINT) // 8) AS target
                 FROM f),
         rec(rn, file, bytes, bin, fill) AS (
           SELECT CAST(0 AS BIGINT), CAST(NULL AS VARCHAR),
                  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           UNION ALL
           SELECT d.rn, d.file, d.bytes,
                  CASE WHEN r.fill > 0 AND r.fill + d.bytes > tgt.target
                       THEN r.bin + 1 ELSE r.bin END,
                  CASE WHEN r.fill > 0 AND r.fill + d.bytes > tgt.target
                       THEN d.bytes ELSE r.fill + d.bytes END
           FROM rec r JOIN ds d ON d.rn = r.rn + 1 CROSS JOIN tgt)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(bytes) AS BIGINT) AS bytes,
                min(file) AS first_file, max(file) AS last_file
         FROM rec WHERE rn > 0
         GROUP BY bin ORDER BY bin"""),
    Query("q_layout_hilbert", layoutHilbert,
      s"""WITH c AS (SELECT l_orderkey, l_linenumber,
                  (l_partkey * 2654435761) % 256 AS hx,
                  (l_suppkey * 2246822519) % 256 AS hy
           FROM lineitem),
         z AS (SELECT *,
           list_reduce(list_prepend(CAST(hx * 65536 + hy AS BIGINT),
             [$curveLevels]::BIGINT[]),
             (acc, s) -> ${curveStepSql("//", morton = false)})
             // 4294967296 AS hil,
           list_reduce(list_prepend(CAST(hx * 65536 + hy AS BIGINT),
             [$curveLevels]::BIGINT[]),
             (acc, s) -> ${curveStepSql("//", morton = true)})
             // 4294967296 AS mor
           FROM c),
         fh AS (SELECT hx, hy, ntile(16) OVER (
                  ORDER BY hil, l_orderkey, l_linenumber) AS f FROM z),
         fm AS (SELECT hx, hy, ntile(16) OVER (
                  ORDER BY mor, l_orderkey, l_linenumber) AS f FROM z),
         stats AS (
           SELECT 'hilbert' AS layout, f, CAST(count(*) AS BIGINT) AS nr,
                  min(hx) AS x0, max(hx) AS x1,
                  min(hy) AS y0, max(hy) AS y1
           FROM fh GROUP BY f
           UNION ALL
           SELECT 'morton' AS layout, f, CAST(count(*) AS BIGINT) AS nr,
                  min(hx) AS x0, max(hx) AS x1,
                  min(hy) AS y0, max(hy) AS y1
           FROM fm GROUP BY f),
         sk AS (SELECT layout, nr,
                       CASE WHEN x1 < 112 OR x0 > 143
                              OR y1 < 112 OR y0 > 143
                            THEN 1 ELSE 0 END AS skip
                FROM stats)
         SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(skip) AS BIGINT) AS n_skipped,
                CAST(sum(CASE WHEN skip = 0 THEN nr ELSE 0 END)
                  AS BIGINT) AS rows_scanned
         FROM sk GROUP BY layout ORDER BY layout""", cap = 5),
    Query("q_layout_skipping", layoutSkipping,
      s"""$zvalCtes,
         fn AS (SELECT zx, zy, ntile(16) OVER (
                  ORDER BY l_orderkey, l_linenumber) AS f FROM z),
         fz AS (SELECT zx, zy, ntile(16) OVER (
                  ORDER BY zval, l_orderkey, l_linenumber) AS f FROM z),
         stats AS (
           SELECT 'natural' AS layout, f, CAST(count(*) AS BIGINT) AS nr,
                  min(zx) AS x0, max(zx) AS x1,
                  min(zy) AS y0, max(zy) AS y1
           FROM fn GROUP BY f
           UNION ALL
           SELECT 'zorder' AS layout, f, CAST(count(*) AS BIGINT) AS nr,
                  min(zx) AS x0, max(zx) AS x1,
                  min(zy) AS y0, max(zy) AS y1
           FROM fz GROUP BY f),
         bounds AS (
           SELECT min(zx) AS bx0, max(zx) AS bx1,
                  min(zy) AS by0, max(zy) AS by1
           FROM z),
         sk AS (
           SELECT layout, nr,
                  CASE WHEN x1 < bx0 OR x0 > bx0 + (bx1 - bx0) // 8
                         OR y1 < by0 OR y0 > by0 + (by1 - by0) // 8
                       THEN 1 ELSE 0 END AS skip
           FROM stats CROSS JOIN bounds)
         SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(skip) AS BIGINT) AS n_skipped,
                CAST(sum(CASE WHEN skip = 0 THEN nr ELSE 0 END)
                  AS BIGINT) AS rows_scanned
         FROM sk GROUP BY layout ORDER BY layout""", cap = 5),
    Query("q_join_null_safe", joinNullSafe,
      """WITH a AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k,
                           count(*) AS n_all
                    FROM orders GROUP BY 1),
         b AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k2,
                      count(*) AS n_f
               FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT coalesce(k, '(null)') AS prio, n_all, n_f
         FROM a JOIN b ON k IS NOT DISTINCT FROM k2
         ORDER BY prio"""),
    Query("q_join_fuzzy", joinFuzzy,
      """WITH dirty AS (
           SELECT s_suppkey AS rec_id,
                  CASE WHEN substring(md5(CAST(s_suppkey AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                       THEN substring(s_name, 1, length(s_name) - 1) || 'x'
                       ELSE s_name END AS rec_name
           FROM supplier),
         cand AS (
           SELECT d.rec_id, c.s_suppkey,
                  CAST(levenshtein(d.rec_name, c.s_name) AS INTEGER) AS lev
           FROM dirty d JOIN supplier c
             ON substring(d.rec_name, 1, length(d.rec_name) - 1)
              = substring(c.s_name, 1, length(c.s_name) - 1)
           WHERE levenshtein(d.rec_name, c.s_name) <= 1),
         ranked AS (
           SELECT rec_id, s_suppkey, lev,
                  count(*) OVER (PARTITION BY rec_id) AS n_candidates,
                  row_number() OVER (PARTITION BY rec_id
                    ORDER BY lev, s_suppkey) AS rnk
           FROM cand)
         SELECT rec_id, s_suppkey AS resolved_key, lev, n_candidates
         FROM ranked WHERE rnk = 1 ORDER BY rec_id"""),
    Query("q_tpch_q10", tpchQ10,
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    Query("q_win_pct", winPct,
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
                floor(percent_rank() OVER w * 1000000 + 0.5)
                  / 1000000.0 AS pct_rank,
                floor(cume_dist() OVER w * 1000000 + 0.5)
                  / 1000000.0 AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),
    Query("q_quality_dq_gate", dqGate,
      """WITH c1 AS (SELECT CAST(count(*) AS BIGINT) AS observed
                     FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)),
         c2 AS (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
                  AS observed FROM documents),
         c3 AS (SELECT CAST(count(*) FILTER (
                  WHERE text IS NULL OR len(text) = 0) AS BIGINT)
                  AS observed FROM documents),
         c4 AS (SELECT CAST(count(*) FILTER (
                  WHERE ts < TIMESTAMP '2024-01-01'
                     OR ts >= TIMESTAMP '2024-02-01') AS BIGINT)
                  AS observed FROM events),
         c5 AS (SELECT CAST(count(*) FILTER (WHERE value <= 0.0)
                  AS BIGINT) AS observed FROM events)
         SELECT * FROM (
           SELECT 'orders_customer_orphans' AS "check", observed,
                  CAST(0 AS BIGINT) AS threshold,
                  observed <= 0 AS passed FROM c1
           UNION ALL
           SELECT 'documents_duplicate_ids', observed,
                  CAST(0 AS BIGINT), observed <= 0 FROM c2
           UNION ALL
           SELECT 'documents_empty_text', observed,
                  CAST(0 AS BIGINT), observed <= 0 FROM c3
           UNION ALL
           SELECT 'events_ts_outside_month', observed,
                  CAST(0 AS BIGINT), observed <= 0 FROM c4
           UNION ALL
           SELECT 'events_nonpositive_value', observed,
                  CAST(0 AS BIGINT), observed <= 0 FROM c5)
         ORDER BY "check""""),
    Query("q_quality_fk_audit", fkAudit,
      """SELECT 'lineitem_orders' AS relation, count(*) AS n_rows,
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
         FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
         UNION ALL
         SELECT 'lineitem_part', count(*),
                CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
         FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         UNION ALL
         SELECT 'lineitem_supplier', count(*),
                CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
         FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
         UNION ALL
         SELECT 'orders_customer', count(*),
                CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY relation"""),
    Query("q_map_funcs", mapFuncs,
      """SELECT event_id, json_keys(props)[1] AS mkey,
                CAST(props->>'k' AS INTEGER) AS mval,
                CAST(len(json_keys(props)) AS BIGINT) AS msize
         FROM events ORDER BY event_id"""),
    Query("q_tpch_shipping", tpchShipping,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    // The salted two-phase plan must equal the PLAIN single-phase
    // aggregate — the oracle deliberately knows nothing about salting.
    Query("q_agg_salted", aggSalted,
      """SELECT l_returnflag, count(*) AS n_items,
                floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_win_ntile", winNtile,
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
                CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS bin
         FROM orders ORDER BY o_orderkey"""),
    // the distributed ntile ≡ SQL NTILE on the same deterministic
    // order; boundaries from exact integer cents
    Query("q_agg_equi_depth", aggEquiDepth,
      """WITH o AS (SELECT o_orderkey,
                           CAST(floor(o_totalprice * 100 + 0.5)
                             AS BIGINT) AS cents
                    FROM orders),
         t AS (SELECT cents,
                      CAST(ntile(8) OVER (ORDER BY cents, o_orderkey)
                        AS INTEGER) AS bucket
               FROM o)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                floor((min(cents) / 100.0) * 100 + 0.5) / 100.0 AS lo,
                floor((max(cents) / 100.0) * 100 + 0.5) / 100.0 AS hi
         FROM t GROUP BY bucket ORDER BY bucket"""),
    Query("q_agg_pricing_summary", aggPricingSummary,
      """SELECT l_returnflag, l_linestatus,
                floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
                floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_base_price,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0
                  AS sum_disc_price,
                floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000.0 AS avg_qty,
                floor((avg(l_extendedprice)) * 1000000 + 0.5) / 1000000.0 AS avg_price,
                floor((avg(l_discount)) * 1000000 + 0.5) / 1000000.0 AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Query("q_agg_distinct", aggDistinct,
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
                count(DISTINCT o_orderpriority) AS n_prio, count(*) AS cnt
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // an approximate sketch, so no exact oracle: OperatorEdgeSpec
    // bounds its error against the exact distinct count
    Query.withoutOracle("q_agg_approx_distinct", aggApproxDistinct),
    // Merged-vs-direct KMV: day sketches (k smallest per type×day)
    // union-truncate to the corpus sketch; the estimate formula mirrors
    // graft_kmv's eval and the direct CTE mirrors the standalone key.
    Query("q_agg_kmv_merge", aggKmvMerge,
      s"""WITH h AS (
           SELECT DISTINCT event_type AS t,
                  epoch_us(ts) // 86400000000 AS day,
                  md5(CAST(user_id AS VARCHAR)) AS h
           FROM events WHERE user_id IS NOT NULL),
         ds AS (SELECT t, h FROM (
                  SELECT t, day, h,
                         row_number() OVER (PARTITION BY t, day
                           ORDER BY h) AS rn
                  FROM h) x WHERE rn <= $KmvK),
         dsu AS (SELECT DISTINCT t, h FROM ds),
         nd AS (SELECT t, CAST(count(*) AS BIGINT) AS n_state
                FROM dsu GROUP BY t),
         kth AS (SELECT t, greatest($hexValSql, 1) AS v FROM (
                   SELECT t, h,
                          row_number() OVER (PARTITION BY t
                            ORDER BY h) AS rn
                   FROM dsu) x WHERE rn = $KmvK),
         merged AS (
           SELECT nd.t AS t,
                  CAST(CASE WHEN kth.v IS NULL THEN n_state
                       ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                  / CAST(kth.v AS DOUBLE)) END
                       AS BIGINT) AS est_merged
           FROM nd LEFT JOIN kth USING (t)),
         hall AS (SELECT DISTINCT event_type AS t,
                         md5(CAST(user_id AS VARCHAR)) AS h
                  FROM events WHERE user_id IS NOT NULL),
         nda AS (SELECT t, CAST(count(*) AS BIGINT) AS nd
                 FROM hall GROUP BY t),
         ktha AS (SELECT t, greatest($hexValSql, 1) AS v FROM (
                    SELECT t, h,
                           row_number() OVER (PARTITION BY t
                             ORDER BY h) AS rn
                    FROM hall) x WHERE rn = $KmvK),
         direct AS (
           SELECT nda.t AS t,
                  CAST(CASE WHEN ktha.v IS NULL THEN nd
                       ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                  / CAST(ktha.v AS DOUBLE)) END
                       AS BIGINT) AS est_direct
           FROM nda LEFT JOIN ktha USING (t))
         SELECT direct.t AS event_type, est_direct, est_merged,
                est_direct = est_merged AS merge_exact
         FROM direct JOIN merged USING (t)
         ORDER BY event_type""", cap = 12),
    // Inclusion-exclusion on the same relational KMV replay: per-type
    // estimates, a pair-tagged union estimate, and the exact distinct
    // intersection for the error read.
    Query("q_agg_kmv_intersect", aggKmvIntersect,
      s"""WITH hh AS (SELECT DISTINCT event_type AS t, user_id,
                  md5(CAST(user_id AS VARCHAR)) AS h
           FROM events WHERE user_id IS NOT NULL),
         types AS (SELECT DISTINCT event_type FROM events),
         pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
                   FROM types a JOIN types b
                     ON a.event_type < b.event_type),
         ndt AS (SELECT t, CAST(count(*) AS BIGINT) AS nd FROM hh
                 GROUP BY t),
         ktht AS (SELECT t, greatest($hexValSql, 1) AS v FROM (
                    SELECT t, h, row_number() OVER (PARTITION BY t
                      ORDER BY h) AS rn FROM hh) x WHERE rn = $KmvK),
         estt AS (SELECT ndt.t AS t,
                         CAST(CASE WHEN ktht.v IS NULL THEN nd
                              ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                         / CAST(ktht.v AS DOUBLE)) END
                              AS BIGINT) AS est
                  FROM ndt LEFT JOIN ktht USING (t)),
         uh AS (SELECT DISTINCT p.ta, p.tb, hh.h
                FROM pairs p JOIN hh ON hh.t = p.ta OR hh.t = p.tb),
         ndu AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS nd FROM uh
                 GROUP BY ta, tb),
         kthu AS (SELECT ta, tb, greatest($hexValSql, 1) AS v FROM (
                    SELECT ta, tb, h, row_number() OVER (
                      PARTITION BY ta, tb ORDER BY h) AS rn
                    FROM uh) x WHERE rn = $KmvK),
         estu AS (SELECT ndu.ta, ndu.tb,
                         CAST(CASE WHEN kthu.v IS NULL THEN nd
                              ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                         / CAST(kthu.v AS DOUBLE)) END
                              AS BIGINT) AS est_union
                  FROM ndu LEFT JOIN kthu USING (ta, tb)),
         ex AS (SELECT x.t AS ta, y.t AS tb,
                       CAST(count(*) AS BIGINT) AS exact_inter
                FROM hh x JOIN hh y
                  ON x.user_id = y.user_id AND x.t < y.t
                GROUP BY x.t, y.t)
         SELECT p.ta, p.tb, ea.est AS est_a, eb.est AS est_b,
                estu.est_union,
                greatest(CAST(0 AS BIGINT),
                         ea.est + eb.est - estu.est_union) AS est_inter,
                CAST(coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_inter
         FROM pairs p
         JOIN estt ea ON ea.t = p.ta
         JOIN estt eb ON eb.t = p.tb
         JOIN estu ON estu.ta = p.ta AND estu.tb = p.tb
         LEFT JOIN ex ON ex.ta = p.ta AND ex.tb = p.tb
         ORDER BY p.ta, p.tb""")
      .allowUnboundedJoin(
        "|types|^2 type pairs; each event joins the <= |types|-1 pairs " +
        "naming its type"),
    Query("q_agg_approx_distinct_kmv", aggApproxDistinctKmv,
      s"""WITH g AS (SELECT DISTINCT event_type FROM events),
          h AS (
            SELECT DISTINCT event_type,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events
            WHERE user_id IS NOT NULL),
          nd AS (SELECT event_type, count(*) AS nd FROM h
                 GROUP BY event_type),
          kth AS (
            SELECT event_type,
                   greatest($hexValSql, 1) AS v
            FROM (SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY h) AS rn
                  FROM h) t
            WHERE rn = $KmvK)
          SELECT g.event_type,
                 CAST(CASE WHEN kth.v IS NULL THEN coalesce(nd.nd, 0)
                      ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                 / CAST(kth.v AS DOUBLE)) END
                      AS BIGINT) AS est_users
          FROM g LEFT JOIN nd USING (event_type)
                 LEFT JOIN kth USING (event_type)
          ORDER BY event_type"""),
    Query("q_agg_filtered", aggFiltered,
      """SELECT l_returnflag,
                floor((sum(CASE WHEN l_discount > 0.05 THEN l_quantity
                               ELSE 0 END)) * 100 + 0.5) / 100.0 AS qty_hi_disc,
                count(*) FILTER (WHERE l_tax > 0.04) AS cnt_hi_tax,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_quality_skew_audit", skewAudit, {
      def p(tbl: String, kc: String) =
        s"""SELECT '$tbl.$kc' AS join_key,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_rows,
               floor((CAST(max(c) AS DOUBLE) / sum(c)) * 1000000 + 0.5)
                 / 1000000.0 AS max_share,
               floor((quantile_cont(c, 0.99) / quantile_cont(c, 0.5))
                 * 1000000 + 0.5) / 1000000.0 AS p99_over_med
            FROM (SELECT $kc AS k, count(*) AS c FROM $tbl GROUP BY 1)"""
      s"""${p("lineitem", "l_partkey")}
         UNION ALL ${p("lineitem", "l_suppkey")}
         UNION ALL ${p("orders", "o_custkey")}
         UNION ALL ${p("events", "user_id")}
         ORDER BY join_key"""
    }),
    Query("q_agg_bool", aggBool,
      """SELECT o_orderpriority,
                CAST(count_if(o_totalprice > 250000) AS BIGINT) AS n_big,
                bool_and(o_totalprice > 2000) AS all_above_2k,
                bool_or(o_totalprice > 499000) AS any_extreme
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Query("q_agg_mode_median", aggModeMedian,
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
                    FROM lineitem GROUP BY l_returnflag, l_quantity),
            m AS (SELECT l_returnflag, l_quantity AS mode_qty FROM (
                    SELECT c.*, row_number() OVER (
                      PARTITION BY l_returnflag
                      ORDER BY cnt DESC, l_quantity) AS rn FROM c) t
                  WHERE rn = 1),
            md AS (SELECT l_returnflag,
                          floor(median(l_quantity) * 1000000 + 0.5)
                            / 1000000.0 AS median_qty
                   FROM lineitem GROUP BY l_returnflag)
         SELECT m.l_returnflag, m.mode_qty, md.median_qty
         FROM m JOIN md USING (l_returnflag)
         ORDER BY l_returnflag"""),
    Query("q_agg_weighted_median", aggWeightedMedian,
      """WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS price,
                            CAST(l_quantity AS BIGINT) AS wq
                     FROM lineitem),
            t AS (SELECT flag, CAST(sum(wq) AS BIGINT) AS totw
                  FROM li GROUP BY flag),
            c AS (SELECT flag, price,
                         CAST(sum(wq) OVER (PARTITION BY flag
                           ORDER BY price ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) AS cum
                  FROM li)
         SELECT c.flag, floor(min(price) * 100 + 0.5) / 100.0 AS wmedian,
                t.totw
         FROM c JOIN t USING (flag) WHERE 2 * cum >= totw
         GROUP BY c.flag, t.totw ORDER BY c.flag"""),
    Query("q_agg_histogram", aggHistogram,
      """SELECT CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT)
                  AS bin,
                count(*) AS cnt,
                floor(min(o_totalprice) * 100 + 0.5) / 100.0 AS bin_min,
                floor(max(o_totalprice) * 100 + 0.5) / 100.0 AS bin_max
         FROM orders GROUP BY bin ORDER BY bin"""),
    Query("q_data_profile", dataProfile,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority").map { c =>
        s"""SELECT '$c' AS "column",
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_nulls,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_s,
                   CAST(max($c) AS VARCHAR) AS max_s
            FROM orders"""
      }.mkString("", " UNION ALL ", """ ORDER BY "column"""")),
    Query("q_agg_corr", aggCorr,
      """SELECT l_returnflag,
                floor((corr(l_quantity, l_extendedprice)) * 1000000 + 0.5)
                  / 1000000.0 AS corr_qp,
                floor((covar_samp(l_quantity, l_extendedprice) / 1000.0)
                      * 1000000 + 0.5) / 1000000.0 AS covar_qp_k,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_date_spine", dateSpine,
      """WITH b AS (SELECT CAST(min(date_trunc('day', o_orderdate))
                             AS TIMESTAMP) AS lo,
                           CAST(max(date_trunc('day', o_orderdate))
                             AS TIMESTAMP) AS hi FROM orders),
            spine AS (SELECT CAST(unnest(generate_series(lo, hi,
                             INTERVAL 1 DAY)) AS TIMESTAMP) AS day FROM b),
            daily AS (SELECT CAST(date_trunc('day', o_orderdate)
                               AS TIMESTAMP) AS day,
                             count(*) AS n_orders,
                             floor(sum(o_totalprice) * 100 + 0.5) / 100.0
                               AS revenue
                      FROM orders GROUP BY day)
         SELECT s.day, coalesce(d.n_orders, 0) AS n_orders,
                coalesce(d.revenue, 0.0) AS revenue
         FROM spine s LEFT JOIN daily d USING (day) ORDER BY day"""),
    Query("q_win_first_last", winFirstLast,
      """SELECT o_custkey, o_orderkey,
                first_value(o_orderkey) OVER w AS first_ok,
                last_value(o_orderkey) OVER w AS last_ok,
                nth_value(o_orderkey, 2) OVER w AS second_ok
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),
    Query("q_agg_stats", aggStats,
      """SELECT event_type, floor((stddev_samp(value)) * 1000000 + 0.5) / 1000000.0 AS sd,
                floor((var_samp(value)) * 1000000 + 0.5) / 1000000.0 AS vr,
                floor((min(value)) * 1000000 + 0.5) / 1000000.0 AS mn, floor((max(value)) * 1000000 + 0.5) / 1000000.0 AS mx
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_agg_percentile", aggPercentile,
      """SELECT event_type,
                floor((quantile_cont(value, 0.5)) * 1000000 + 0.5) / 1000000.0 AS p50,
                floor((quantile_cont(value, 0.9)) * 1000000 + 0.5) / 1000000.0 AS p90
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_agg_grouping_sets", aggGroupingSets,
      """SELECT coalesce(lang, '(all)') AS lang_g,
                coalesce(source, '(all)') AS source_g,
                count(*) AS cnt, cast(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents
         GROUP BY GROUPING SETS ((lang), (source), ())
         ORDER BY lang_g, source_g"""),
    Query("q_agg_rollup", aggRollup,
      """SELECT coalesce(n_name, '(all)') AS nation_g,
                coalesce(c_mktsegment, '(all)') AS seg_g,
                count(*) AS cnt, floor((sum(c_acctbal)) * 100 + 0.5) / 100.0 AS bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP (n_name, c_mktsegment)
         ORDER BY nation_g, seg_g"""),
    Query("q_agg_cube", aggCube,
      """SELECT coalesce(l_returnflag, '(all)') AS rf_g,
                coalesce(l_linestatus, '(all)') AS ls_g,
                count(*) AS cnt, floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS qty
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY rf_g, ls_g"""),
    Query("q_agg_collect", aggCollect,
      """SELECT o_custkey,
                string_agg(CAST(o_orderkey AS VARCHAR), ' '
                           ORDER BY o_orderkey) AS orderkeys
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
    Query("q_win_rank", winRank,
      """SELECT o_custkey, o_orderkey,
                cast(row_number() OVER u AS BIGINT) AS rn,
                cast(rank() OVER b AS BIGINT) AS rk,
                cast(dense_rank() OVER b AS BIGINT) AS drk,
                cast(ntile(4) OVER u AS BIGINT) AS quartile,
                floor((percent_rank() OVER b) * 1000000 + 0.5) / 1000000.0
                  AS prk,
                floor((cume_dist() OVER b) * 1000000 + 0.5) / 1000000.0
                  AS cd
         FROM orders
         WINDOW u AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey),
                b AS (PARTITION BY o_custkey ORDER BY o_orderdate)
         ORDER BY o_custkey, o_orderkey"""),
    Query("q_win_lag_lead", winLagLead,
      """SELECT event_id, user_id,
                epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
                lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS next_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id"""),
    Query("q_win_running", winRunning,
      """SELECT o_custkey, o_orderkey,
                floor((sum(o_totalprice) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100.0
                  AS running_rev
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Query("q_win_range_frame", winRangeFrame,
      """SELECT o_custkey, o_orderkey,
                floor((sum(o_totalprice) OVER (
                  PARTITION BY o_custkey ORDER BY epoch(o_orderdate)::BIGINT
                  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100.0
                  AS spend_7d
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    Query("q_win_topk_group", winTopkGroup, topkGroupOracle),
    // the custom-operator spelling must satisfy the IDENTICAL oracle
    Query("q_win_topk_native", winTopkNative, topkGroupOracle),
    Query("q_subquery_mix", subqueryMix,
      """SELECT c_custkey,
                (SELECT count(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 100000)
           AND (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey)
               > (SELECT avg(cnt) FROM (SELECT count(*) AS cnt
                  FROM orders GROUP BY o_custkey))
         ORDER BY c_custkey"""),
    Query("q_lateral_topk", lateralTopk,
      """SELECT n_name, t.c_custkey, t.bal
         FROM nation,
         LATERAL (SELECT c_custkey,
                         floor(c_acctbal * 100 + 0.5) / 100 AS bal
                  FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
         ORDER BY n_name, bal DESC, c_custkey"""),
    Query("q_unpivot_metrics", unpivotMetrics,
      """SELECT metric, count(*) AS cnt,
                floor(sum(val) * 100 + 0.5) / 100.0 AS total
         FROM (SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
               UNION ALL
               SELECT 'l_extendedprice', l_extendedprice FROM lineitem
               UNION ALL
               SELECT 'l_discount', l_discount FROM lineitem
               UNION ALL
               SELECT 'l_tax', l_tax FROM lineitem) m
         GROUP BY metric ORDER BY metric"""),
    Query("q_join_bloom", joinBloom,
      """SELECT l_suppkey, count(*) AS cnt,
                floor(sum(l_quantity) * 100 + 0.5) / 100.0 AS qty
         FROM lineitem JOIN (SELECT s_suppkey FROM supplier
                             WHERE s_nationkey < 5) s
              ON l_suppkey = s_suppkey
         GROUP BY l_suppkey ORDER BY l_suppkey"""),
    Query("q_sort_limit", sortLimit,
      """SELECT o_orderkey, o_custkey, floor((o_totalprice) * 100 + 0.5) / 100.0 AS price
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 20"""),
    Query("q_set_union", setUnion,
      """SELECT k, count(*) AS cnt FROM (
           SELECT o_custkey AS k FROM orders
           UNION ALL SELECT user_id FROM events) u
         GROUP BY k ORDER BY k"""),
    Query("q_set_intersect", setIntersect,
      """SELECT c_custkey AS k FROM customer
         INTERSECT SELECT user_id FROM events ORDER BY k"""),
    Query("q_set_except", setExcept,
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT user_id FROM events ORDER BY k"""),
    Query("q_set_bag_ops", setBagOps,
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem
                    WHERE l_quantity < 10),
         b AS (SELECT l_suppkey AS k FROM lineitem
               WHERE l_returnflag = 'R'),
         ex AS (SELECT k, CAST(count(*) AS BIGINT) AS n_except
                FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t
                GROUP BY k),
         ins AS (SELECT k, CAST(count(*) AS BIGINT) AS n_intersect
                 FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t
                 GROUP BY k)
         SELECT coalesce(ex.k, ins.k) AS k,
                coalesce(n_except, 0) AS n_except,
                coalesce(n_intersect, 0) AS n_intersect
         FROM ex FULL OUTER JOIN ins ON ex.k = ins.k
         ORDER BY k"""),
    Query("q_tpch_q7", tpchQ7,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_11', 'NATION_20')
           AND n2.n_name IN ('NATION_11', 'NATION_20')
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year"""),
    Query("q_win_time_range", winTimeRange,
      """SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL '1 hour' PRECEDING
                  AND CURRENT ROW) AS cnt_1h
         FROM events ORDER BY event_id"""),
    Query("q_tpch_q6", tpchQ6,
      """SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5)
                  / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24"""),
    Query("q_tpch_q19", tpchQ19,
      """SELECT floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                  / 100.0 AS revenue,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)"""),
    Query("q_tpch_q22", tpchQ22,
      """WITH avgbal AS (
           SELECT floor(avg(c_acctbal) * 1000000 + 0.5) / 1000000.0 AS ab
           FROM customer WHERE c_acctbal > 0.0),
         eligible AS (
           SELECT c_custkey, c_nationkey % 5 AS cgrp, c_acctbal
           FROM customer CROSS JOIN avgbal
           WHERE c_acctbal > ab
             AND NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND o_orderdate >= TIMESTAMP '2001-01-01'))
         SELECT cgrp, CAST(count(*) AS BIGINT) AS numcust,
                floor(sum(c_acctbal) * 100 + 0.5) / 100.0 AS totacctbal
         FROM eligible GROUP BY cgrp ORDER BY cgrp"""),
    Query("q_tpch_q8", tpchQ8,
      """WITH vol AS (
           SELECT year(o_orderdate) AS yr,
                  l_extendedprice * (1 - l_discount) AS v,
                  n2.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
                      AND r_name = 'AMERICA'
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01')
         SELECT CAST(yr AS BIGINT) AS o_year,
                floor((100 * sum(CASE WHEN supp_nation = 'NATION_5'
                         THEN v ELSE 0 END) / sum(v))
                  * 1000000 + 0.5) / 1000000.0 AS mkt_share
         FROM vol GROUP BY yr ORDER BY o_year"""),
    Query("q_tpch_q13", tpchQ13,
      """WITH cc AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM cc GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""),
    Query("q_tpch_q14", tpchQ14,
      """SELECT floor((100 * sum(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                / sum(l_extendedprice * (1 - l_discount)))
                  * 1000000 + 0.5) / 1000000.0 AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01'
           AND l_shipdate < TIMESTAMP '1996-10-01'"""),
    Query("q_tpch_q15", tpchQ15,
      """WITH rev AS (
           SELECT l_suppkey,
                  floor((sum(l_extendedprice * (1 - l_discount)))
                    * 100 + 0.5) / 100.0 AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey"""),
    Query("q_tpch_q17", tpchQ17,
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'),
         cap AS (
           SELECT l_partkey AS pk,
                  floor((0.2 * avg(l_quantity)) * 1000000 + 0.5)
                    / 1000000.0 AS qcap
           FROM li GROUP BY l_partkey)
         SELECT CAST(count(*) AS BIGINT) AS n_small,
                floor((sum(l_extendedprice) / 7.0) * 100 + 0.5) / 100.0
                  AS avg_yearly
         FROM li JOIN cap ON l_partkey = pk
         WHERE l_quantity < qcap"""),
    Query("q_eval_kmv_error", evalKmvError,
      s"""WITH g AS (SELECT DISTINCT event_type FROM events),
          h AS (
            SELECT DISTINCT event_type,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events
            WHERE user_id IS NOT NULL),
          nd AS (SELECT event_type, count(*) AS nd FROM h
                 GROUP BY event_type),
          kth AS (
            SELECT event_type,
                   greatest($hexValSql, 1) AS v
            FROM (SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY h) AS rn
                  FROM h) t
            WHERE rn = $KmvK),
          est AS (
            SELECT g.event_type,
                   CAST(CASE WHEN kth.v IS NULL THEN coalesce(nd.nd, 0)
                        ELSE floor(${KmvK - 1}.0 * power(16.0, 15.0)
                                   / CAST(kth.v AS DOUBLE)) END
                        AS BIGINT) AS est
            FROM g LEFT JOIN nd USING (event_type)
                   LEFT JOIN kth USING (event_type)),
          ex AS (SELECT event_type,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS exact
                 FROM events GROUP BY event_type)
          SELECT event_type, exact, est,
                 floor(CAST(abs(est - exact) AS DOUBLE) / exact
                   * 1000000 + 0.5) / 1000000.0 AS rel_err
          FROM est JOIN ex USING (event_type)
          ORDER BY event_type"""),
    Query("q_agg_merge_days", aggMergeDays,
      """WITH daily AS (
           SELECT epoch(o_orderdate)::BIGINT // 86400 AS day,
                  CAST(count(*) AS BIGINT) AS n,
                  floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS tot,
                  min(o_totalprice) AS mn, max(o_totalprice) AS mx
           FROM orders GROUP BY day)
         SELECT day // 7 AS week, CAST(sum(n) AS BIGINT) AS n,
                floor(sum(tot) * 100 + 0.5) / 100.0 AS total,
                min(mn) AS mn, max(mx) AS mx,
                CAST(count(*) AS BIGINT) AS n_days,
                floor((floor(sum(tot) * 100 + 0.5) / 100.0)
                  / sum(n) * 1000000 + 0.5) / 1000000.0 AS mean
         FROM daily GROUP BY week ORDER BY week"""),
    Query("q_agg_histo_quantile", histoQuantile,
      """WITH h AS (
           SELECT o_orderpriority AS prio,
                  CAST(floor(o_totalprice / 5000) AS BIGINT) AS b,
                  CAST(count(*) AS BIGINT) AS c
           FROM orders GROUP BY prio, b),
         cum AS (
           SELECT prio, b, c,
                  CAST(sum(c) OVER (PARTITION BY prio ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
                  CAST(sum(c) OVER (PARTITION BY prio) AS BIGINT) AS n
           FROM h),
         qs AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
         SELECT prio, q, n,
                floor((b * 5000 + (q * n - (cum - c)) / c * 5000)
                  * 100 + 0.5) / 100.0 AS est
         FROM cum JOIN qs ON cum >= q * n AND (cum - c) < q * n
         ORDER BY prio, q"""),
    Query("q_orders_backlog", ordersBacklog,
      """WITH li0 AS (
           SELECT epoch(o_orderdate)::BIGINT // 86400 AS od,
                  epoch(l_shipdate)::BIGINT // 86400 AS sd
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         li AS (
           SELECT least(od, sd) AS start_day,
                  greatest(od, sd) AS end_day
           FROM li0),
         ev AS (
           SELECT start_day AS day, CAST(1 AS BIGINT) AS delta FROM li
           UNION ALL
           SELECT end_day AS day, CAST(-1 AS BIGINT) AS delta FROM li),
         daily AS (
           SELECT day, CAST(sum(delta) AS BIGINT) AS delta
           FROM ev GROUP BY day)
         SELECT day, delta,
                CAST(sum(delta) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS in_flight
         FROM daily ORDER BY day""")
      .allowGlobalWindow("|days| census prefix sum"))

  val queries: Map[String, Q] = Query.builders(declared)
}
