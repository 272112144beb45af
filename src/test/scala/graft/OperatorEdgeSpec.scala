package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Edge cases the testdata can't produce (nulls, empties, duplicates) +
  * algebraic properties (SURVEY.md §5.2). */
class OperatorEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("decimal boundary: floor-cents is tie-safe where a direct cast is not") {
    // 8.165 as a double is 8.16499999…, and 8.165*100 stays below the tie
    // (816.4999…), so floor-cents gives 816 while Spark's direct
    // double→decimal cast rounds the SHORTEST REPR ("8.165") HALF_UP to
    // 8.17 — two different answers from one input. DuckDB's cast rounds
    // the binary expansion, i.e. a third convention — the divergence that
    // cost q_agg_decimal its r4 hash. The floor-cents convention is pure
    // IEEE arithmetic, identical in every engine, so q_agg_decimal (and
    // every r2-rounded key) uses it for the double→fixed-point boundary.
    val df = Seq(8.165, 1.005, 68423.46).toDF("x")
      .select(col("x"),
        floor(col("x") * 100 + 0.5).cast("long").as("cents"),
        col("x").cast("decimal(12,2)").as("direct"))
    val rows = df.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getDecimal(2).toString)).toList
    assert(rows == List(
      (8.165, 816L, "8.17"),   // cast and cents DISAGREE on the tie
      (1.005, 100L, "1.01"),   // likewise
      (68423.46, 6842346L, "68423.46"))) // 2-decimal value: all agree
  }

  test("plan lint flags unbounded frames and passes bounded ones") {
    import org.apache.spark.sql.expressions.Window
    // a parquet scan has no maxRows; range(100) does (Catalyst knows
    // its 100 rows), so the unbounded frame is a table, not a range
    val scan = Tables.orders(spark, sfDir).select(col("o_orderkey").as("id"))
    def shapes(df: org.apache.spark.sql.DataFrame) =
      PlanLint.offenders(df.queryExecution.optimizedPlan).map(_.shape)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(Window.orderBy("id")))
    assert(shapes(ranked(scan)) === Seq(PlanLint.GlobalWindow))
    assert(shapes(scan.crossJoin(scan.toDF("id2"))) ===
      Seq(PlanLint.UnboundedJoin))
    assert(shapes(ranked(scan.limit(10))).isEmpty)
    assert(shapes(scan.crossJoin(scan.agg(count(lit(1))))).isEmpty)
    assert(shapes(ranked(spark.range(100).toDF())).isEmpty)
    // a persisted frame is read through the plan it was cached from
    val cached = scan.crossJoin(scan.toDF("id2")).persist()
    try assert(shapes(cached.select("id")) === Seq(PlanLint.UnboundedJoin))
    finally cached.unpersist(): Unit
    // an allowance passes its offender, and fails once the plan no
    // longer has that shape
    val q = Query("q_lint_probe", (_, _) => ranked(scan), "SELECT 1")
    val plan = ranked(scan).queryExecution.optimizedPlan
    assert(PlanLint.check(q, plan).size === 1)
    assert(PlanLint.check(q.allowGlobalWindow("test"), plan).isEmpty)
    val stale = PlanLint.check(q.allowGlobalWindow("test")
      .allowUnboundedJoin("test"), plan)
    assert(stale.size === 1 && stale.head.contains("stale"), stale)
  }

  test("queries and oracleSql keys line up") {
    // every oracle has its query by construction (one declaration each)
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // the only intentionally oracle-less key is the approx sketch
    assert((q -- o) === Set("q_agg_approx_distinct"))
  }

  test("entry() flagship smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx_count_distinct within 5% of exact") {
    val df = Tables.events(spark, sfDir)
    val approx = df.agg(approx_count_distinct("user_id")).as[Long].head()
    val exact = df.agg(countDistinct("user_id")).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    // the registered key, per event type: the one key with no oracle
    val exactPerType = df.groupBy("event_type")
      .agg(countDistinct("user_id")).as[(String, Long)].collect().toMap
    val got = SparkEntry.queries("q_agg_approx_distinct")(spark, sfDir)
      .as[(String, Long)].collect().toMap
    assert(got.keySet === exactPerType.keySet)
    exactPerType.foreach { case (t, n) =>
      assert(math.abs(got(t) - n).toDouble / n < 0.05,
        s"$t: approx_users ${got(t)} vs exact $n")
    }
  }

  test("graft_kmv matches a reference KMV computed outside Spark") {
    import spark.implicits._
    val k = 8
    val values = (0 until 200).map(i => s"u$i")
    // reference: k-th smallest md5 hex string, decode 15 hex digits
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val kth = values.map(md5hex).sorted.apply(k - 1)
    val v = java.lang.Long.parseLong(kth.take(15), 16)
    val expected =
      math.floor((k - 1).toDouble * math.pow(16.0, 15.0) / v.toDouble).toLong
    // repartition(7) forces partial buffers + merges across partitions
    val got = values.toDF("u").repartition(7)
      .agg(expr(s"graft_kmv(u, $k)")).as[Long].head()
    assert(got === expected)
    // fewer than k distinct values → the sketch IS the exact count
    val small = Seq("a", "b", "c", "a").toDF("u").repartition(3)
      .agg(expr(s"graft_kmv(u, $k)")).as[Long].head()
    assert(small === 3L)
  }

  test("KMV sketch estimate within 20% of exact per group") {
    val est = operators.RelationalOps
      .queries("q_agg_approx_distinct_kmv")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n).toDouble / n < 0.2,
        s"$k: kmv ${est(k)} vs exact $n")
    }
  }

  test("exact dedup is idempotent and keeps min id") {
    val docs = Seq((3L, "a b"), (1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("t")
    def dedup(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .drop("rn")
    }
    val once = dedup(docs).orderBy("doc_id").collect().toSeq
    val twice = dedup(dedup(docs)).orderBy("doc_id").collect().toSeq
    assert(once === twice)
    assert(once.map(_.getLong(0)) === Seq(1L, 2L))
  }

  test("token ops handle empty and null text") {
    val docs = Seq((1L, Option("a b")), (2L, Option("")), (3L, None))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val sizes = toks.select(col("doc_id"), size(col("t"))).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(sizes(1L) === Some(2))
    assert(sizes(2L) === Some(1)) // split("") -> [""]
    assert(sizes(3L) === None) // size(null) = null in Spark 4
    // explode drops nulls, keeps the empty token
    assert(toks.select(explode(col("t"))).count() === 3)
  }

  test("set-op cardinality laws on keys") {
    val a = Tables.customer(spark, sfDir).select(col("c_custkey").as("k"))
    val b = Tables.events(spark, sfDir).select(col("user_id").as("k"))
    val inter = a.intersect(b).count()
    val exceptN = a.except(b).count()
    assert(inter + exceptN === a.distinct().count())
  }

  test("cosine of a unit vector with itself is 1") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val sims = e.select(
      expr("aggregate(zip_with(v, v, (p,q) -> p*q), CAST(0.0 AS DOUBLE), (a,z) -> a+z)")
        .as("s")).as[Double].collect()
    sims.foreach(s => assert(math.abs(s - 1.0) < 1e-5))
  }

  test("session count is non-increasing in gap size (property)") {
    val gaps = Gen.choose(60L, 7200L)
    val events = Tables.events(spark, sfDir)
      .select("user_id", "ts_ns", "event_id").cache()
    def nSessions(gapS: Long): Long = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      events
        .withColumn("new_sess",
          when(col("ts_ns") - lag(col("ts_ns"), 1).over(w)
            > gapS * 1000000000L, 1L)
            .when(lag(col("ts_ns"), 1).over(w).isNull, 1L)
            .otherwise(0L))
        .agg(sum("new_sess")).as[Long].head()
    }
    // sample 5 generated gaps (scalacheck Gen used directly — the
    // scalatest-scalacheck bridge isn't in the offline cache)
    (0 until 5).foreach { i =>
      val g = gaps(Gen.Parameters.default, Seed(42L + i)).get
      assert(nSessions(g) >= nSessions(g * 2), s"gap=$g")
    }
  }

  test("union-find min-reps equal brute-force closure on random graphs (property)") {
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)))
    (0 until 10).foreach { i =>
      val edges = edgeGen(Gen.Parameters.default, Seed(7L + i)).get
        .filter { case (a, b) => a != b }.toArray
      val got = operators.DedupOps.unionFindMinReps(edges).toMap
      // brute force: repeat min-neighbor relaxation to fixpoint
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var lbl = nodes.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(lbl(a), lbl(b))
          if (lbl(a) != m) { lbl += a -> m; changed = true }
          if (lbl(b) != m) { lbl += b -> m; changed = true }
        }
      }
      // at the fixpoint every edge's endpoints share a label, so each
      // component carries exactly its global-min node id
      assert(got === lbl, s"seed ${7 + i}")
    }
  }

  test("minhash LSH finds only true near-dup pairs (precision 1.0)") {
    val lsh = operators.DedupOps.queries("q_dedup_minhash")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = operators.TextOps.queries("q_dedup_near")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- exact).isEmpty, "LSH-verified pair not in exact result")
    assert(lsh.size >= (exact.size * 0.8).toInt, "LSH recall below 80%")
  }

  test("simhash band join is EXACT at hamming<=3 (pigeonhole, recall 1.0)") {
    val banded = operators.DedupOps
      .queries("q_dedup_simhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all fingerprint pairs
    val fps = operators.DedupOps.queries("q_dedup_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ida, sa) <- fps; (idb, sb) <- fps if ida < idb
      hd = sa.zip(sb).count { case (x, y) => x != y } if hd <= 3
    } yield (ida, idb, hd.toLong)).toSet
    assert(banded === brute)
    assert(banded.nonEmpty)
  }

  test("hyperplane LSH embedding dedup: precision 1.0, expected recall") {
    val lsh = operators.VectorOps.queries("q_dedup_embed_lsh")(spark, sfDir)
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = operators.VectorOps.queries("q_dedup_embed")(spark, sfDir)
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact graft_dot verification at the same threshold ⟹ every emitted
    // pair is a true pair
    assert((lsh -- exact).isEmpty, "LSH-verified pair not in exact result")
    // 4 bands × 4 bits at cosine ≈ 0.3 (this corpus's near-dup range) has
    // theoretical recall ≈ 1-(1-p^4)^4, p = 1-acos(0.3)/π ≈ 0.6 → ~0.42;
    // measured 438/990 at sf0.01. Assert a loose floor — the value itself
    // is oracle-pinned, this guards against the bucketing silently dying.
    assert(lsh.size >= (exact.size * 0.25).toInt, "LSH recall below 25%")
    assert(lsh.nonEmpty, "LSH found no pairs at all")
  }

  test("bloom prefilter join equals the plain join (no false negatives)") {
    val bloomed = SparkEntry.queries("q_join_bloom")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir).filter(col("s_nationkey") < 5)
        .select("s_suppkey"), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("cnt"),
        Par.r2(sum("l_quantity")).as("qty"))
      .orderBy("l_suppkey").collect().map(_.toSeq).toSeq
    assert(bloomed === plain)
  }

  test("decontamination: benchmark docs excluded, flags match shingle truth") {
    val out = SparkEntry.queries("q_text_decontaminate")(spark, sfDir)
    // no benchmark doc (md5 first hex digit '0') appears in the output
    val benchIds = out
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
    assert(benchIds.count() === 0)
    // flag is exactly n_hits > 0
    assert(out.filter(
      (col("contaminated") === 1) =!= (col("n_hits") > 0)).count() === 0)
  }

  test("pii mask leaves no email/url/phone pattern behind") {
    val out = SparkEntry.queries("q_text_pii_mask")(spark, sfDir)
    assert(out.filter(col("masked").rlike("@")
      or col("masked").rlike("https?://")
      or col("masked").rlike("\\b555-[0-9]{4}\\b")).count() === 0)
    // and every row actually had something to mask
    assert(out.filter(!col("masked").contains("<EMAIL>")).count() === 0)
  }

  test("int8 quantization codes stay in [-127, 127] and span the range") {
    val codes = SparkEntry.queries("q_embed_quantize")(spark, sfDir)
      .select(explode(split(col("qvec"), " ")).as("qs"))
      .select(col("qs").cast("int").as("q"))
    assert(codes.filter(col("q") < -127 || col("q") > 127).count() === 0)
    // per-dimension min/max map to the extremes, so both ends must occur
    val mm = codes.agg(min("q"), max("q")).head()
    assert(mm.getInt(0) === -127 && mm.getInt(1) === 127)
  }

  test("funnel stages are monotone non-increasing") {
    val r = SparkEntry.queries("q_events_funnel")(spark, sfDir).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: $v $c $p")
    assert(v > 0)
  }

  test("retention: day-0 count equals cohort size, offsets within [0,7]") {
    val out = SparkEntry.queries("q_events_retention")(spark, sfDir)
    assert(out.filter(col("day_offset") < 0 || col("day_offset") > 7)
      .count() === 0)
    // every user appears in their own cohort on day 0
    val day0 = out.filter(col("day_offset") === 0)
      .agg(sum("users")).head().getLong(0)
    val nUsers = Tables.events(spark, sfDir)
      .select(countDistinct("user_id")).head().getLong(0)
    assert(day0 === nUsers)
  }

  test("lateral top-k: at most 2 rows per nation, ordered within nation") {
    val out = SparkEntry.queries("q_lateral_topk")(spark, sfDir)
    val over = out.groupBy("n_name").count().filter(col("count") > 2)
    assert(over.count() === 0)
  }

  test("k-means partitions cover every vector exactly once") {
    val out = SparkEntry.queries("q_ann_kmeans")(spark, sfDir)
    val total = out.agg(sum("members")).head().getLong(0)
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(total === nVecs, "every vector must land in exactly one cluster")
    assert(out.count() <= 4)
  }

  test("subquery mix: every returned customer beats the average order count") {
    val avgCnt = Tables.orders(spark, sfDir)
      .groupBy("o_custkey").count()
      .agg(avg("count")).head().getDouble(0)
    val out = SparkEntry.queries("q_subquery_mix")(spark, sfDir)
    assert(out.filter(col("n_orders") <= avgCnt).count() === 0)
  }
}
