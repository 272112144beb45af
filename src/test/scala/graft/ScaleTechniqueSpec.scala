package graft

import java.nio.file.Files
import graft.operators.Skew
import graft.sources.PartitionedWriter
import org.apache.spark.sql.functions._

/** Scale techniques: salted aggregation/join equivalence, partition
  * pruning, exchange-free co-bucketed joins. */
class ScaleTechniqueSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation (hot key spread)") {
    // one hot key (90% of rows) + a long tail
    val df = spark.range(10000)
      .select(when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val plain = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val salted = Skew.saltedAgg(df, col("k"), "k", col("v"), buckets = 8,
        partial = Seq("s" -> sum(col("v")), "c" -> count(lit(1))),
        fin = Seq("s" -> sum(col("s")), "c" -> sum(col("c"))))
      .select(col("k"), col("s"), col("c").cast("long"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(salted === plain)
  }

  test("salted join equals plain join row-for-row") {
    val fact = spark.range(5000)
      .select((col("id") % 100).as("fk"), col("id").as("v"))
    val dim = spark.range(100)
      .select(col("id").as("dk"), concat(lit("d"), col("id")).as("name"))
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "v", "name")
      .orderBy("v").collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(fact, dim, "fk", "dk", col("v"), buckets = 4)
      .select("fk", "v", "name")
      .orderBy("v").collect().map(_.toSeq).toSeq
    assert(salted === plain)
  }

  test("bucketed interval blocking ≡ naive inequality range join") {
    // q_join_theta_range's executed plan is the bucketed blocking; the
    // naive O(k²) inequality join is the semantic witness.
    val naive = operators.RelationalOps.joinThetaRangeNaive(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val bucketed = SparkEntry.queries("q_join_theta_range")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(bucketed === naive)
    assert(bucketed.nonEmpty)
  }

  test("salted-shuffle banded candidates equal the broadcast variant") {
    import graft.operators.DedupOps
    val tokensExpr = "split(text, ' ')"
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the salted variant onto the genuine shuffle-join path (the
    // 100 TB shape) before comparing row sets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = DedupOps
        .bandedCandidatesSalted(spark, sfDir, tokensExpr, saltBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      val bcast = DedupOps.bandedCandidates(spark, sfDir, tokensExpr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted === bcast)
      assert(salted.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("date-partitioned events layout prunes to the requested day") {
    val dir = Files.createTempDirectory("graft-part").toString + "/events"
    PartitionedWriter.writeEventsByDay(
      Tables.events(spark, sfDir).drop("ts_ns"), dir)
    // physical layout: one directory per day
    val days = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_date=")).map(_.getName)
    assert(days.length > 1)
    val oneDay = PartitionedWriter.readEventsDay(spark, dir, "2024-01-03")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_date"), s"no partition pruning in:\n$plan")
    // correct rows
    val expected = Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    assert(oneDay.count() === expected && expected > 0)
  }

  test("q_layout_partition_prune reads 1 of ~30 day partitions") {
    val df = SparkEntry.queries("q_layout_partition_prune")(spark, sfDir)
    df.collect() // execute so the scan reports selected partitions
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty)
    val scan = found.head
    assert(scan.partitionFilters.exists(_.toString.contains("event_date")),
      s"no partition filter in: ${scan.partitionFilters}")
    val selected = scan.selectedPartitions.partitionCount
    val total = new java.io.File(
        graft.sources.PartitionedLayout.eventsByDay(spark, sfDir))
      .listFiles().count(_.getName.startsWith("event_date="))
    assert(selected === 1 && total > 10,
      s"selected=$selected of total=$total day partitions")
  }

  test("dynamic partition pruning fires for a dim-filtered fact join") {
    val dir = Files.createTempDirectory("graft-dpp").toString + "/events"
    PartitionedWriter.writeEventsByDay(
      Tables.events(spark, sfDir).drop("ts_ns"), dir)
    val fact = spark.read.parquet(dir)
    // dimension knows which days matter — the fact side must prune its
    // partitions from the dim's runtime values, not scan-and-filter.
    // The dim must be a REAL source (a LocalRelation's filter constant-
    // folds away and DPP sees no selective predicate to exploit).
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString + "/dim"
    Seq(("2024-01-03", "keep"), ("2024-01-04", "drop"))
      .toDF("d", "tag")
      .select(to_date(col("d")).as("d"), col("tag"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val joined = fact.join(dim, col("event_date") === col("d"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
    val expected = Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    assert(joined.count() === expected && expected > 0)
  }

  test("q_layout_dpp: the registry key's fact scan is dynamically pruned") {
    val df = SparkEntry.queries("q_layout_dpp")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
    // and the pruned result still equals the flat-table predicate
    val expected = Tables.events(spark, sfDir)
      .filter(weekday(to_date(col("ts"))) >= 5).count()
    assert(df.agg(sum("n")).head.getLong(0) === expected && expected > 0)
  }

  test("q_layout_bucket_join: the registry key joins with zero exchanges") {
    val df = SparkEntry.queries("q_layout_bucket_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scan should read bucket layout:\n$plan")
    // the ONLY exchange allowed is the one feeding the final 5-row
    // group-by; the join itself must be co-located (pre-join subtree
    // exchange-free)
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle its inputs:\n$plan")
  }

  test("co-bucketed tables sort-merge join without exchange") {
    // uses the session's default warehouse (./spark-warehouse, gitignored);
    // clean any orphaned locations from aborted runs
    Seq("li_b", "ord_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(loc)
      }
    }
    PartitionedWriter.writeCoBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice"),
      "li_b", "l_orderkey",
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
      "ord_b", "o_orderkey", buckets = 4)
    // force the sort-merge path (broadcast would hide the bucket layout
    // at this tiny scale; at 100 TB neither side broadcasts)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan should read bucket layout:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set(thresholdKey, old)
  }

  test("connected components: distributed min-label loop ≡ driver union-find") {
    import graft.operators.DedupOps
    // small-graph path (threshold default covers the test corpus)
    val viaUnionFind = DedupOps.clusterRepsUncached(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // force the distributed label-propagation path on the SAME graph
    val saved = DedupOps.DriverCcEdgeThreshold
    DedupOps.DriverCcEdgeThreshold = -1L
    try {
      val viaLoop = DedupOps.clusterRepsUncached(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaLoop === viaUnionFind)
      assert(viaUnionFind.nonEmpty)
    } finally DedupOps.DriverCcEdgeThreshold = saved
  }

  test("greedy k-center: the one-task rounds equal the distributed loop") {
    // Fewer than k = 8 vectors, with duplicates: exercises the vec_id
    // tie-breaks and the n < k rounds that repeat a pick.
    val small = Files.createTempDirectory("graft-kcenter").toString
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(3)(Array.fill(64)(rnd.nextGaussian().toFloat))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n.toFloat) }
    Seq((5L, base(0), 1), (3L, base(1), 0), (9L, base(0), 2),
        (4L, base(2), 1), (7L, base(1), 1))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$small/embeddings.parquet")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    def picks(dir: String) = {
      val df = SparkEntry.queries("q_sample_kcenter")(spark, dir)
      (df.queryExecution.analyzed.toString.contains("MapPartitions"),
        df.collect().map(_.toSeq).toSeq)
    }
    for (dir <- Seq(sfDir, small)) {
      val (oneTaskPath, oneTask) = picks(dir)
      // force the distributed loop on the SAME embeddings
      val saved = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "-1")
      try {
        val (loopOneTask, loop) = picks(dir)
        assert(oneTaskPath && !loopOneTask, s"$dir: path not selected")
        assert(oneTask === loop, s"$dir")
        assert(oneTask.map(_.head) === (0 until 8))
      } finally spark.conf.set(thresholdKey, saved)
    }
  }

  test("all-pairs ceiling: q_dedup_near and q_dedup_containment flip to" +
      " banded plans with identical output") {
    import graft.operators.TextOps
    def rows(key: String) =
      TextOps.queries(key)(spark, sfDir).collect().map(_.toString).toSeq
    // default ceiling (above the test corpus): the cartesian baselines
    val nearBase = rows("q_dedup_near")
    val contBase = rows("q_dedup_containment")
    // force the banded plans on the SAME corpus
    val saved = TextOps.AllPairsRowCeiling
    TextOps.AllPairsRowCeiling = -1L
    try {
      assert(rows("q_dedup_near") === nearBase)
      assert(rows("q_dedup_containment") === contBase)
      assert(nearBase.nonEmpty && contBase.nonEmpty)
    } finally TextOps.AllPairsRowCeiling = saved
  }

  /** Reference xy2d Hilbert (Wikipedia-standard recurrence) for the
    * curve-expression parity checks. */
  private def hilbertRef(x0: Long, y0: Long): Long = {
    var (x, y, dd) = (x0, y0, 0L)
    var s = 128L
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

  test("hilbert curve expression matches the reference recurrence") {
    import graft.operators.RelationalOps
    // deterministic sample of the 256x256 grid incl. the seam band
    val pts = ((for (x <- 0 until 256 by 7; y <- 0 until 256 by 11)
      yield (x.toLong, y.toLong)) ++
      Seq((0L, 0L), (255L, 255L), (127L, 128L), (128L, 127L))).distinct
    val df = pts.toDF("hx", "hy")
      .withColumn("hil", RelationalOps.curveCol(morton = false))
      .collect()
    df.foreach { r =>
      assert(r.getAs[Long]("hil") ===
        hilbertRef(r.getAs[Long]("hx"), r.getAs[Long]("hy")),
        s"mismatch at (${r.getAs[Long]("hx")}, ${r.getAs[Long]("hy")})")
    }
    // bijectivity on the sample: distinct cells -> distinct indices
    assert(df.map(_.getAs[Long]("hil")).distinct.length === pts.length)
  }

  test("hilbert adjacency: consecutive indices are grid neighbors") {
    // the locality property Morton lacks — walk a full 16x16 subcurve
    val inv = (for (x <- 0L until 256L; y <- 0L until 256L
      if x < 16 && y < 16) yield (hilbertRef(x, y), (x, y))).toMap
    (0L until 255L).foreach { d =>
      val (x1, y1) = inv(d); val (x2, y2) = inv(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"teleport between d=$d and ${d + 1}")
    }
  }

  test("q_layout_hilbert: hilbert skips at least as well as morton") {
    val rows = SparkEntry.queries("q_layout_hilbert")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("n_skipped"),
          r.getAs[Long]("rows_scanned"))).toMap
    assert(rows.keySet === Set("hilbert", "morton"))
    rows.values.foreach { case (nf, ns, _) =>
      assert(nf === 16L); assert(ns >= 0 && ns < 16)
    }
    // the seam-crossing box is where hilbert's locality pays
    assert(rows("hilbert")._2 >= rows("morton")._2,
      "hilbert should skip at least as many files as morton here")
  }
}
