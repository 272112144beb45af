package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.{r2, r6, sql => rsql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical analytics over the star schema and event stream —
  * hypothesis tests, information measures, and robust outlier scoring
  * (SURVEY.md §2 north-star extensions: the "is this difference real /
  * is this value anomalous" layer every experimentation + data-quality
  * pipeline needs).
  *
  * Scale design: every operator here is a single hash-aggregate pass
  * (map-side partial) over the fact table, optionally followed by a
  * broadcast join of a bounded per-group statistics frame back onto the
  * facts. Nothing materializes per-row state on the driver and nothing
  * shuffles more than one round, so each plan is linear in the fact
  * table at any scale. Cross-engine float parity uses the Par rounding
  * discipline (SURVEY.md §5.3): integer counts stay exact, every
  * derived double is floor-parity-rounded at the declared boundary.
  */
object StatsOps {
  /** Pin a CALENDAR-BOUNDED frame to a LocalRelation (the MMR/
    * kmeansCentroids rule): |days|-sized censuses are bounded by the
    * calendar, not the corpus — ~30 rows here, a few thousand after
    * years of data — while leaving them lazy makes every downstream
    * Dist collect / crossJoin / argmax job RE-RUN the corpus scan that
    * built them (measured: q_stats_pettitt 1.43 s → 0.3 s once
    * pinned). Row order of a LocalRelation is collect order; every
    * consumer orders explicitly, so nothing downstream observes it. */
  private def pinDays(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The (day, c) daily event-count census, pinned + session-cached —
    * the shared spine of the time-series test family (pettitt, pacf,
    * and the dailyOls fit behind dw/breusch_pagan/cooks). One corpus
    * scan per session instead of one per downstream job. */
  private val dailyCensus = Artifact("daily_census") { (s, d) =>
    pinDays(s, Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))
  }

  /** The (day, n_click, n_purchase, n_view) per-type daily census,
    * pinned + session-cached (round 11) — the typed sibling of
    * dailyCensus, shared by granger / kendall_tau / wilcoxon_signed
    * (each re-scanned events per evaluation for a |days|-bounded
    * frame). */
  private val dailyTypeCensus = Artifact("daily_type_census") { (s, d) =>
    pinDays(s, Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1))
          .as("n_purchase"),
        count(when(col("event_type") === "view", 1)).as("n_view")))
  }

  /** Welch's unequal-variance t-test: F-status vs O-status order values
    * per market segment. One shuffle join (orders ⋈ customer on the FK)
    * + one hash aggregate with FILTERed moments — the two "samples"
    * never materialize separately, so the test costs one pass no matter
    * how many groups or rows. t and the Welch–Satterthwaite dof are
    * derived on the 5-row aggregate. */
  private val ttest: Q = (s, d) => {
    val vfn = col("v_f") / col("n_f")
    val von = col("v_o") / col("n_o")
    Tables.orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O"))
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        avg(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("m_f"),
        avg(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("m_o"),
        var_samp(when(col("o_orderstatus") === "F", col("o_totalprice")))
          .as("v_f"),
        var_samp(when(col("o_orderstatus") === "O", col("o_totalprice")))
          .as("v_o"))
      .select(col("c_mktsegment"), col("n_f"), col("n_o"),
        r6((col("m_f") - col("m_o")) / sqrt(vfn + von)).as("t_welch"),
        r2(pow(vfn + von, 2) /
          (pow(vfn, 2) / (col("n_f") - 1) + pow(von, 2) / (col("n_o") - 1)))
          .as("df_welch"))
      .orderBy("c_mktsegment")
  }

  /** Pearson chi-square test of independence between market segment and
    * order priority. Observed counts are one hash aggregate; expected
    * counts come from the row/column marginals (bounded: |segments| ×
    * |priorities| cells), built with a cross join of two tiny aggregate
    * frames so absent observed cells still contribute their expected
    * mass. All counts stay integers until the single (obs−exp)²/exp
    * division. */
  private val chisq: Q = (s, d) => {
    val j = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val obs = j.groupBy("seg", "pri").agg(count(lit(1)).as("obs"))
    // the marginals derive EXACTLY from the |seg|×|pri|-bounded observed
    // census, so everything after the one corpus aggregate runs
    // DRIVER-SIDE on the collected census (round 9): the rt/ct/n
    // aggregates were three MORE full scans of the join, and the
    // crossJoin + left-join cell assembly four more jobs — all for ≤40
    // cells. The fold replays the previous SQL's (seg, pri) sort order
    // and r6 pin; counts stay exact longs until the (obs−exp)²/exp
    // division. Oracle hash unchanged.
    val (chi2, nCells, nSeg, nPri, _) = chiSquared(obs)
    import s.implicits._
    Seq((nCells, chi2, (nSeg - 1L) * (nPri - 1L)))
      .toDF("n_cells", "chi2", "dof")
  }

  /** Shared driver fold for the segment×priority chi-square census
    * (q_stats_chisq / q_stats_cramers_v): collects the bounded observed
    * census, derives the marginals exactly, and folds the
    * (obs−exp)²/exp terms in (seg, pri) order with the standard r6 pin.
    * Returns (chi2_r6, n_cells, |seg|, |pri|, n_obs). */
  private def chiSquared(obs: DataFrame)
      : (Double, Long, Long, Long, Long) = {
    val cells = obs.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rt = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ct = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n = cells.map(_._3).sum
    val obsMap = cells.map(c => (c._1, c._2) -> c._3).toMap
    val all = (for { sg <- rt.keys.toSeq; pr <- ct.keys.toSeq }
      yield (sg, pr)).sorted
    val chi2 = all.foldLeft(0.0) { case (acc, (sg, pr)) =>
      val exp = (rt(sg) * ct(pr)).toDouble / n
      val o = obsMap.getOrElse((sg, pr), 0L)
      acc + math.pow(o - exp, 2) / exp
    }
    (math.floor(chi2 * 1000000 + 0.5) / 1000000, all.size.toLong,
      rt.size.toLong, ct.size.toLong, n)
  }

  /** Cramér's V effect size for the segment × priority association —
    * the companion q_stats_chisq needs at fact-table scale: with n in
    * the millions the chi-square p-value is always ~0 (everything is
    * "significant"), and V = √(χ² / (n·min(r−1, c−1))) ∈ [0,1] is the
    * sample-size-free strength readout that says whether the
    * association MATTERS. Same marginal-cross-join census as chisq
    * (|seg|×|pri| bounded cells, integers to the last division); χ² is
    * r6-pinned first, V derives from the pinned value (round-then-
    * replay) so both engines take sqrt of the same double. */
  private val cramersV: Q = (s, d) => {
    val j = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val obs = j.groupBy("seg", "pri").agg(count(lit(1)).as("obs"))
    // same one-corpus-aggregate + driver-fold shape as q_stats_chisq
    // (shared chiSquared helper — identical census, identical fold
    // order and r6 pins); V derives from the pinned χ² exactly as the
    // previous SQL did (round-then-replay).
    val (chi2, _, nSeg, nPri, n) = chiSquared(obs)
    import s.implicits._
    // empty census → empty result (the old groupBy("n") form emitted
    // zero rows); a single-level factor (min_dim 0) → null V, matching
    // Spark's null-on-zero-divisor, not IEEE NaN
    if (n == 0L)
      Seq.empty[(Long, Double, Long, Option[Double])]
        .toDF("n_obs", "chi2", "min_dim", "cramers_v")
    else {
      val minDim = math.min(nSeg, nPri) - 1L
      val v =
        if (minDim == 0L) None
        else Some(graft.Par.r6d(math.sqrt(chi2 / (n * minDim))))
      Seq((n, chi2, minDim, v))
        .toDF("n_obs", "chi2", "min_dim", "cramers_v")
    }
  }

  /** Sample-ratio-mismatch guard — the first health check of any A/B
    * experimentation pipeline: users are deterministically assigned to
    * arms by the md5-digit convention (first hex digit 0-7 → A, 8-f →
    * B; the q_sample_split hashing), and each event_type's
    * exposed-user census is tested against the intended 50/50 with the
    * 1-dof chi-square, which for equal expected halves collapses to
    * (n_a−n_b)²/n, against the pinned χ²₀.₉₅,₁ critical value. A true
    * SRM (a logger dropping one arm, a redirect bug) trips the flag
    * before any metric read is trustworthy. One distinct-(type,user)
    * census + one distinct-user census for the __ALL__ rollup row
    * (NOT the per-type sum — a user exposed in several types counts
    * once overall); output is |types|+1 rows, exact integer counts to
    * one division per row. */
  private val srm: Q = (s, d) => {
    def arm(c: Column) =
      when(substring(md5(c.cast("string")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    def census(df: DataFrame) = df
      .withColumn("arm", arm(col("user_id")))
      .groupBy("event_type").agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
    val ev = Tables.events(s, d)
    val per = census(ev.select("event_type", "user_id").distinct())
    val all = census(ev.select("user_id").distinct()
      .withColumn("event_type", lit("__ALL__")))
    per.unionByName(all)
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("chi2_r",
        r6(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / col("n")))
      .withColumn("srm", col("chi2_r") >
        lit(3.8414588206941245).cast("double"))
      .select("event_type", "n_a", "n_b", "n", "chi2_r", "srm")
      .orderBy("event_type")
  }

  /** Shannon entropy of each user's event-type mix (plus the distinct
    * type count) — the information-theoretic engagement-diversity
    * measure. Two chained hash aggregates on (user, type) → (user);
    * both shuffle on user_id only, p·ln p runs inside codegen on the
    * aggregate frame. */
  private val entropy: Q = (s, d) => {
    val c = Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val t = c.groupBy("user_id")
      .agg(sum(col("c")).as("t"), count(lit(1)).as("n_types"))
    c.join(t, "user_id")
      .groupBy("user_id")
      .agg(first(col("n_types")).as("n_types"),
        r6(-sum((col("c").cast("double") / col("t")) *
          log(col("c").cast("double") / col("t")))).as("entropy"))
      .orderBy("user_id")
  }

  /** Median/MAD robust outlier scoring per event type: the
    * median-absolute-deviation z-score (x−med)/(1.4826·MAD) flags heavy
    * tails without the mean/stddev masking that q_events_anomaly's
    * plain z-score suffers under contamination. Both quantile passes
    * aggregate per type (bounded output), the rounded statistics
    * broadcast back onto events, and the outlier comparison is pure
    * IEEE arithmetic on identical doubles in both engines. */
  private val mad: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val med = ev.groupBy("event_type")
      .agg(r6(expr("percentile(value, 0.5)")).as("med"),
        count(lit(1)).as("n"))
    val dev = ev.select(col("event_type"), col("value"))
      .join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val madf = dev.groupBy("event_type")
      .agg(r6(expr("percentile(adev, 0.5)")).as("mad"))
    dev.join(broadcast(madf), "event_type")
      .groupBy("event_type")
      .agg(first(col("n")).as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        count(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** Mann–Whitney U rank-sum test: do purchase and click events draw
    * their `value` from the same distribution? The nonparametric
    * complement to q_stats_ttest (no normality assumption — exactly the
    * test an experimentation pipeline reaches for on skewed revenue
    * values). Average ranks come from the SAME distributed machinery as
    * q_stats_ks: one hash aggregate per distinct value, then
    * Dist.withPrefixSumsLong over the value order — never a
    * single-partition rank window. Every rank is an integer or exact
    * half (ties average), so the rank-sum accumulates EXACTLY in
    * doubles in any partition order; tie counts stay integer through
    * the variance correction and only the final z divides. */
  private val mannwhitney: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("value").as("p"),
        (col("event_type") === "purchase").cast("long").as("isp"))
    val per = ev.groupBy("p")
      .agg(sum(col("isp")).as("np"), count(lit(1)).as("cnt"))
    val ranked = Dist.withPrefixSumsLong(per,
        Seq("cum" -> col("cnt")), Seq(col("p")))
      .withColumn("avg_rank",
        (col("cum") - col("cnt")).cast("double") +
          (col("cnt") + 1).cast("double") / 2.0)
    val agg = ranked.agg(
      sum(col("np")).as("n1"), sum(col("cnt")).as("n"),
      sum(col("np") * col("avg_rank")).as("rp"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie"))
    val n1 = col("n1"); val n2 = col("n") - col("n1"); val n = col("n")
    val u = col("rp") - (n1 * (n1 + 1)).cast("double") / 2.0
    val mu = (n1 * n2).cast("double") / 2.0
    val varU = (n1 * n2).cast("double") / 12.0 *
      ((n + 1).cast("double") -
        col("tie").cast("double") / (n * (n - 1)).cast("double"))
    agg.select(n1.as("n_purchase"), n2.as("n_click"),
      u.as("u_stat"), r6((u - mu) / sqrt(varU)).as("z_stat"))
  }

  /** Kruskal–Wallis H test across ALL FIVE event types' value
    * distributions — the k-sample generalization of q_stats_mannwhitney
    * (same distributed average-rank machinery: per-value hash
    * aggregate, one prefix-sum pass, never a global rank window). Per
    * type the rank sum accumulates exactly (integer-or-half ranks ×
    * integer counts); H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1), divided by
    * the tie-correction factor 1 − Σ(t³−t)/(N³−N). Output is the
    * |types|-bounded per-group census plus the H statistic replicated
    * per row (the q_stats_ks single-frame convention). */
  private val kruskal: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("value").as("p"), col("event_type").as("g"))
    // eager localCheckpoint (round 12, guide §2.2): per feeds TWO
    // consumers — the per-value census perV (via the rank pass) and the
    // per-group join below — and unmaterialized each re-ran the events
    // scan + (p, g) shuffle. One events pass now; the checkpointed
    // census is |distinct (value, type)|-bounded.
    val per = ev.groupBy("p", "g").agg(count(lit(1)).as("cg"))
      .localCheckpoint()
    val perV = per.groupBy("p").agg(sum(col("cg")).as("cnt"))
    // n and the tie term are the prefix pass's own grand totals (round
    // 10, Dist.withPrefixSumsLongTotals) — the old ranked.agg +
    // crossJoin(broadcast) paid a second pass over the rank table (and
    // a broadcast QueryStage job) for two numbers the fold knew; the
    // tie cubes are the same exact longs the old sum accumulated
    val (rankedRaw, kwTots) = Dist.withPrefixSumsLongTotals(perV,
      Seq("cum" -> col("cnt"),
        "tie_cum" -> (col("cnt") * col("cnt") * col("cnt") - col("cnt"))),
      Seq(col("p")))
    val ranked = rankedRaw
      .withColumn("avg_rank",
        (col("cum") - col("cnt")).cast("double") +
          (col("cnt") + 1).cast("double") / 2.0)
    val groups = per.join(ranked.select("p", "avg_rank"), "p")
      .groupBy("g")
      .agg(sum(col("cg")).as("n_g"),
        sum(col("cg") * col("avg_rank")).as("r_g"))
      .withColumn("t",
        col("r_g") * col("r_g") / col("n_g").cast("double"))
    val nTot = kwTots("cum")
    val tieTot = kwTots("tie_cum")
    // Σ R_g²/n_g folds SEQUENTIALLY in group order (the graft_dot
    // discipline): per-group rank sums are exact half-integers, but the
    // five quotients are arbitrary doubles, so a partition-order sum
    // could differ by ulps between runs/engines — a g-sorted left fold
    // cannot.
    val folded = groups.agg(count(lit(1)).as("n_groups"),
      expr("aggregate(transform(array_sort(collect_list(struct(g, t)))," +
        " x -> x.t), 0D, (acc, v) -> acc + v)").as("srr"))
    val n = col("n")
    val corr = lit(1.0) -
      col("tie").cast("double") / (n * n * n - n).cast("double")
    folded
      .withColumn("n", lit(nTot)).withColumn("tie", lit(tieTot))
      .select(col("n_groups"), col("n").as("n_total"),
        r6((lit(12.0) / (n * (n + 1)).cast("double") * col("srr") -
          lit(3.0) * (n + 1).cast("double")) / corr).as("h_stat"))
  }

  /** Spearman rank correlation between event `value` and the numeric
    * JSON payload `props.k` — the monotone-association measure that
    * survives outliers and nonlinearity where q_agg_corr's Pearson does
    * not (and the third member of the rank family: two-sample MW,
    * k-sample KW, bivariate Spearman — ONE shared prefix-sum rank
    * machinery). DOUBLED average ranks are integers (2·rank = 2·|below|
    * + |ties| + 1), so every moment accumulates as an exact long in any
    * partition order (the 2× factors cancel in ρ); the five-moment
    * Pearson-over-ranks formula runs once on exact integers with two
    * IEEE sqrts. Ranks join back by value equality — two |distinct|-
    * bounded rank tables, two hash joins, linear at any scale. */
  private val spearman: Q = (s, d) => {
    // ONE events pass (round 12, guide §2.2 "aggregate before you
    // shuffle"): the round-11 shape scanned events THREE times (per-x
    // census, per-y census, and the raw frame the rank tables joined
    // back onto) and ran the six-moment aggregate over |events| rows.
    // Every moment is a function of the JOINT (x, y) census — Σ f(x,y)
    // over events = Σ c_xy·f(x,y) over the census — so one
    // groupBy(x, y) shuffle replaces all three scans, the per-axis
    // censuses fold from the joint one (bounded), and the moment
    // aggregate runs over |distinct (x,y)| rows instead of |events|.
    // All sums stay exact longs (counts × integer doubled-ranks), so
    // the result is bit-identical to the per-row form; eager
    // localCheckpoint because the census feeds three consumers (perX,
    // perY, the moment join) that would otherwise re-run the events
    // shuffle each.
    val cen = Tables.events(s, d)
      .select(col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("int").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .localCheckpoint()
    def ranks2(c: String, out: String): DataFrame = {
      val per = cen.groupBy(c).agg(sum(col("cxy")).as("cnt"))
      Dist.withPrefixSumsLong(per, Seq("cum" -> col("cnt")),
          Seq(col(c)))
        .select(col(c),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1).as(out))
    }
    val j = cen.join(ranks2("x", "rx2"), "x").join(ranks2("y", "ry2"), "y")
    // coalesce keeps the old count(*) contract (0 and non-nullable on
    // an empty frame) — sum alone would flip n's nullability/NULL case
    val m = j.agg(coalesce(sum(col("cxy")), lit(0L)).as("n"),
      sum(col("cxy") * col("rx2")).as("sx"),
      sum(col("cxy") * col("ry2")).as("sy"),
      sum(col("cxy") * col("rx2") * col("ry2")).as("sxy"),
      sum(col("cxy") * col("rx2") * col("rx2")).as("sxx"),
      sum(col("cxy") * col("ry2") * col("ry2")).as("syy"))
    val nD = col("n").cast("double")
    m.select(col("n"),
      r6((nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy")) /
        (sqrt(nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx")) *
         sqrt(nD * col("syy").cast("double") -
           col("sy").cast("double") * col("sy")))).as("rho_spearman"))
  }

  /** Mann–Kendall trend test on the daily event-count series — the
    * significance twin of q_stats_theil_sen's slope (same series, same
    * bounded pair census): S = Σ sign(c_j − c_i) over ordered day
    * pairs, tie-corrected normal approximation, continuity-corrected z.
    * The series is |days|-bounded after one hash aggregate (30 rows
    * here; at 100 TB still |days|), so the pair join is a bounded
    * census, and counts are integers — every sign comparison is exact,
    * no float ordering hazard. One division at the end. */
  private val mannKendall: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val sF = daily.as("a").join(daily.as("b"), col("b.day") > col("a.day"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
    // n_days = Σ t over the tie census (every day is in exactly one
    // count-group), so one aggregate carries both totals (round 10):
    // the old separate count + crossJoin paid one more census pass and
    // broadcast
    val ntF = daily.groupBy("c").agg(count(lit(1)).as("t"))
      .agg(sum(col("t")).as("n_days"),
        coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("tie"))
    val n = col("n_days")
    val varS = ((n * (n - 1) * (lit(2) * n + 5) - col("tie")))
      .cast("double") / 18.0
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    broadcast(ntF).crossJoin(broadcast(sF))
      .select(col("n_days"), col("s_stat"), r6(z).as("z_stat"),
        when(r6(z) > 1.96, "increasing").when(r6(z) < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** Seasonal Mann-Kendall — the trend test the plain MK key gets
    * WRONG on this corpus: q_stats_mann_kendall compares every day
    * pair, so the engineered weekly cycle floods S with cross-weekday
    * noise; the seasonal variant (Hirsch-Slack) computes S and its
    * variance WITHIN each weekday season (day mod 7 — integer, no
    * calendar call) and sums across seasons, so only genuine
    * like-for-like drift counts. Per-season pair joins are
    * |days/7|²-bounded; tie correction per season; the combined z uses
    * the same continuity correction as the plain key. One extra
    * grouping column turns the O(|days|²) census into 7 tiny ones. */
  private val seasonalMk: Q = (s, d) => {
    val daily = dailyCensus(s, d)
      .withColumn("g", expr("day % 7"))
    val sF = daily.as("a").join(daily.as("b"),
        col("b.g") === col("a.g") && col("b.day") > col("a.day"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
    val varF = daily.groupBy("g").agg(count(lit(1)).as("n_g"))
      .join(daily.groupBy("g", "c").agg(count(lit(1)).as("t"))
          .groupBy("g")
          .agg(coalesce(sum(col("t") * (col("t") - 1) *
            (lit(2) * col("t") + 5)), lit(0L)).as("tie_g")), Seq("g"))
      .agg(sum(col("n_g")).as("n_days"), count(lit(1)).as("n_seasons"),
        sum(col("n_g") * (col("n_g") - 1) * (lit(2) * col("n_g") + 5)
          - col("tie_g")).as("var18"))
    val varS = col("var18").cast("double") / 18.0
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    broadcast(varF).crossJoin(broadcast(sF))
      .select(col("n_days"), col("n_seasons"), col("s_stat"),
        r6(z).as("z_stat"),
        when(r6(z) > 1.96, "increasing").when(r6(z) < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** Least-squares regression diagnostics per return flag: slope,
    * intercept, and R² of extendedprice ~ quantity via the SQL-standard
    * regr_* aggregates (one hash-aggregate pass, map-side partial — the
    * moments merge associatively at any scale). Both engines compute
    * the same closed-form moments; outputs are parity-rounded. */
  private val regression: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        r6(expr("regr_slope(l_extendedprice, l_quantity)")).as("slope"),
        r2(expr("regr_intercept(l_extendedprice, l_quantity)"))
          .as("intercept"),
        r6(expr("regr_r2(l_extendedprice, l_quantity)")).as("r2"))
      .orderBy("l_returnflag")

  /** Benford first-digit audit on order values — the classic
    * fabricated-data screen. The leading digit comes from the DECIMAL
    * STRING of the truncated integer value (substring of a cast — exact
    * in both engines; floor(log10) would mis-bin values like 9999.99…
    * where the log lands a hair under the power). One hash aggregate
    * into 9 cells; expected Benford mass ln(1+1/d)/ln(10) is computed
    * in-plan so observed and expected shares round identically. */
  private val benford: Q = (s, d) =>
    Tables.orders(s, d)
      .select(expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      // total = Σ over the 9-cell census (round 10): the old
      // crossJoin(broadcast(agg)) re-scanned orders for a number the
      // census already carries
      .withColumn("tot", sum(col("n")).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("digit"), col("n"),
        r6(col("n").cast("double") / col("tot")).as("share"),
        r6(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
          .as("benford"))
      .orderBy("digit")

  /** Two-sample Kolmogorov–Smirnov test (F vs O order values): the
    * distribution-free companion to q_stats_ttest (which only compares
    * means). D = max |ECDF_F − ECDF_O| over the per-value cumulative
    * counts — integer prefix sums over the distinct-value frame, so the
    * statistic is exact rational arithmetic until the final rounding;
    * the asymptotic p-value is one closed-form expression of D. Both
    * ECDFs are integer prefix sums computed with the DISTRIBUTED
    * two-pass range-partitioned form (Dist.withPrefixSumsLong) — exact
    * LONG arithmetic, so bit-identical to the sequential window sum,
    * with no single-partition window over the distinct-value frame. */
  private val ks: Q = (s, d) => {
    val j = Tables.orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
    val per = j.groupBy("p").agg(
      count(when(col("st") === "F", 1)).as("f"),
      count(when(col("st") === "O", 1)).as("o"))
    // nf/no are the prefix pass's own grand totals (round 10,
    // Dist.withPrefixSumsLongTotals) — the old j.agg +
    // crossJoin(broadcast) re-ran the orders scan for two numbers the
    // offsets fold already knew
    val (cum, tots) = Dist.withPrefixSumsLongTotals(per,
      Seq("cf" -> col("f"), "co" -> col("o")), Seq(col("p")))
    cum
      .select(col("p"), col("cf"), col("co"))
      .withColumn("nf", lit(tots("cf")))
      .withColumn("no", lit(tots("co")))
      .select(abs(col("cf").cast("double") / col("nf") -
        col("co").cast("double") / col("no")).as("dd"),
        col("nf"), col("no"))
      .groupBy("nf", "no")
      .agg(max(col("dd")).as("d"))
      .select(col("nf"), col("no"), r6(col("d")).as("ks_d"),
        r6(lit(2.0) * exp(lit(-2.0) * col("d") * col("d") *
          (col("nf") * col("no")).cast("double") / (col("nf") + col("no"))))
          .as("p_approx"))
  }

  /** Benjamini-Hochberg FDR correction over a FAMILY of tests — what
    * turns "we ran a test per segment" into an honest report: at 100 TB
    * a pipeline runs thousands of per-segment hypotheses per day, and
    * uncorrected α=0.05 manufactures false positives by volume. The
    * family here: per event_type, a two-sample KS (the q_stats_ks
    * machinery, exp-bound p — no erf/qnorm cross-libm call, the power
    * discipline) comparing EVENT VALUES between the md5 A/B user
    * halves — the null is true by construction (a value is independent
    * of its user's hash parity), so the REJECT column doubles as an
    * A/A sanity harness. (Per-day MEANS would break the null: the
    * smaller arm's means average fewer events — higher variance — and
    * KS correctly flags the heteroscedasticity; the spec encodes this
    * lesson.) Values are cent-quantized so the ECDF grid is bounded by
    * the fixed-point value range, NOT the corpus — the per-type census
    * windows stay |grid|-bounded at any scale. The BH step-up itself
    * (rank by p, running min of m·p/i from the worst rank down) runs
    * on the |types|-row frame — two global census windows. p and each BH term are r6-pinned before the running
    * min (round-then-replay). */
  /** The per-type KS test family on the md5 A/A split — extracted so
    * q_stats_bh (step-UP FDR) and q_stats_holm (step-DOWN FWER) correct
    * the SAME battery of p-values (one builder, one oracle fragment —
    * the stlFrame rule). Returns (event_type, d_r, p_r). PINNED +
    * session-cached since round 11 (the dailyCensus pattern): three
    * consumers (bh, holm, fisher_combine) each re-ran the corpus KS
    * pass per evaluation for a ≤|event types|-row census (19 → 6 jobs
    * across the trio, A/B'd). Every
    * consumer orders explicitly, so LocalRelation row order is never
    * observed. */
  private val ksFamily = Artifact("ks_family") { (s, d) =>
    pinDays(s, ksFamilyUncached(s, d))
  }

  private def ksFamilyUncached(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"),
        expr("(position(substring(md5(cast(user_id AS string)), 1, 1)," +
          " '0123456789abcdef') - 1) % 2").as("arm"))
    val per = ev.groupBy("t", "v").agg(
      count(when(col("arm") === 0, 1)).as("a"),
      count(when(col("arm") === 1, 1)).as("b"))
    val nn = ev.groupBy("t").agg(
      count(when(col("arm") === 0, 1)).as("na"),
      count(when(col("arm") === 1, 1)).as("nb"))
    val wc = Window.partitionBy("t").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dmax = per
      .withColumn("ca", sum(col("a")).over(wc))
      .withColumn("cb", sum(col("b")).over(wc))
      .join(nn, Seq("t"))
      .select(col("t"), col("na"), col("nb"),
        abs(col("ca").cast("double") / col("na") -
          col("cb").cast("double") / col("nb")).as("dd"))
      .groupBy("t", "na", "nb").agg(max(col("dd")).as("dstat"))
    dmax.select(col("t").as("event_type"),
      r6(col("dstat")).as("d_r"),
      least(r6(lit(2.0) * exp(lit(-2.0) * col("dstat") * col("dstat") *
        (col("na") * col("nb")).cast("double") / (col("na") + col("nb")))),
        lit(1.0)).as("p_r"))
  }

  /** Collected ksFamily census ranked by (p, type) — the ≤|event
    * types|-row frame bh/holm step over, folded driver-side (round 9:
    * the m-crossJoin + two global windows were ~4 jobs each for ≤5
    * rows). Returns (event_type, d_r, p_r, rank). */
  private def ksRanked(s: SparkSession, d: String)
      : Array[(String, Double, Double, Long)] =
    ksFamily(s, d).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._3, t._1))
      .zipWithIndex
      .map { case ((et, dr, pr), i) => (et, dr, pr, (i + 1).toLong) }

  private val bhFdr: Q = (s, d) => {
    // BH step-up on the driver-side ranked census: adjusted p = running
    // MIN of the r6-pinned (p·m/rank) terms from the WORST rank up
    // (suffix min), capped at 1 — the same window the SQL form ran,
    // replayed in rank order. Oracle unchanged.
    val ranked = ksRanked(s, d)
    val m = ranked.length.toLong
    val terms = ranked.map { case (_, _, pr, rk) => graft.Par.r6d(pr * m / rk) }
    val sufMin = terms.scanRight(Double.PositiveInfinity)(math.min).init
    import s.implicits._
    ranked.toSeq.zip(sufMin).map { case ((et, dr, pr, rk), sm) =>
      val pAdj = math.min(sm, 1.0)
      (et, dr, pr, rk, pAdj, pAdj <= 0.05)
    }.toDF("event_type", "d_r", "p_r", "rank", "p_adj", "reject")
      .orderBy("rank")
  }

  /** Two-proportion z-test on an md5 hash split of users (the synthetic
    * A/B harness): compare purchase-conversion rates between the halves
    * with the pooled-variance z statistic. Per-user conversion is one
    * hash aggregate on user_id; the test itself runs on a 2-row frame.
    * The deterministic hash split is the same primitive as
    * q_sample_split / q_embed_drift — replay- and layout-stable. */
  private val propTest: Q = (s, d) => {
    // conversion = a HIGH-VALUE purchase (> 120 ≈ p92 of purchase
    // values): plain purchase existence saturates to 100 % on this
    // corpus (≈13 purchases per user at sf0.01+, pool = 1, z
    // denominator 0), and the value column tops out near 150
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 120, 1).otherwise(0)).as("conv"))
      .withColumn("grp", expr(
        "(position(substring(md5(cast(user_id AS string)), 1, 1)," +
          " '0123456789abcdef') - 1) % 2"))
    val g = perUser.agg(
      count(when(col("grp") === 0, 1)).as("na"),
      count(when(col("grp") === 1, 1)).as("nb"),
      sum(when(col("grp") === 0, col("conv")).otherwise(0)).as("ca"),
      sum(when(col("grp") === 1, col("conv")).otherwise(0)).as("cb"))
    val pa = col("ca").cast("double") / col("na")
    val pb = col("cb").cast("double") / col("nb")
    val pool = (col("ca") + col("cb")).cast("double") /
      (col("na") + col("nb"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    g.select(col("na"), col("nb"), col("ca"), col("cb"),
      r6(pa - pb).as("rate_diff"),
      when(se === 0, lit(null)).otherwise(r6((pa - pb) / se)).as("z"))
  }

  /** Gini coefficient of customer revenue concentration (the inequality
    * metric behind "top-x% of customers drive y% of revenue"). Per-
    * customer revenue is r2-rounded BEFORE ranking, so the rank order
    * and the Σ i·xᵢ weighted sum run on identical doubles cross-engine;
    * G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n on the ascending (rev, custkey)
    * rank. The rank is the DISTRIBUTED exact global row_number
    * (Dist.withRankAndCount: range shuffle + per-partition rank +
    * broadcast offsets) — no single-partition window over the customer
    * frame. */
  private val gini: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(r2(sum(col("o_totalprice"))).as("rev"))
    Dist.withRankAndCount(rev, "i", "__n", Nil,
        Seq(col("rev"), col("o_custkey")))
      .agg(count(lit(1)).as("n_customers"),
        r2(sum(col("rev"))).as("total_rev"),
        r6(lit(2.0) * sum(col("i") * col("rev")) /
          (count(lit(1)) * sum(col("rev"))) -
          (count(lit(1)) + lit(1.0)) / count(lit(1))).as("gini"))
  }

  /** Population stability index — the tabular-feature drift monitor
    * (the scalar-feature complement to q_embed_drift): event values
    * bucketed into 10 fixed-width bins, distribution compared between
    * the two deterministic halves of the stream (event_id parity —
    * replay-stable, unlike a time split on reordered ingest). Counts
    * are left-joined onto a fixed 0..9 bucket spine and add-one
    * (Laplace) smoothed — p=(a+1)/(ta+10) — so empty bins (which DO
    * occur in the sparse tail) never divide by zero or ln(0); this is
    * the standard production PSI formulation. PSI = Σ (p−q)·ln(p/q),
    * r6 at the boundary like q_stats_entropy. One hash aggregate over
    * events + a 10-row rollup — linear at any scale. */
  private val psi: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select((col("event_id") % 2).cast("int").as("half"),
        least(floor(col("value") / 50).cast("int"), lit(9)).as("bucket"))
    val counts = ev.groupBy("bucket")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("b"))
    val spine = s.range(10).select(col("id").cast("int").as("bucket"))
    val full = spine.join(counts, Seq("bucket"), "left")
      .select(coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
    // totals as windows over the 10-bucket census (round 10): exact
    // long sums, minus the broadcast QueryStage job + census re-read
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    full
      .withColumn("ta", sum(col("a")).over(wAll))
      .withColumn("tb", sum(col("b")).over(wAll))
      .select(((col("a") + 1) / (col("ta") + 10)).as("p"),
        ((col("b") + 1) / (col("tb") + 10)).as("q"))
      .agg(count(lit(1)).as("n_buckets"),
        r6(sum((col("p") - col("q")) * log(col("p") / col("q")))).as("psi"))
  }

  /** Lag-1 autocorrelation of the daily event-count series — the
    * seasonality/trend detector that decides whether a forecast model
    * is even worth fitting. The series is the |days|-bounded daily
    * census; consecutive days pair via a self-join on day = day+1
    * (broadcast-scale, no window). Moments accumulate as DOUBLE sums of
    * integer-valued terms — exact and order-independent while partials
    * stay under 2^53 (true far past this scale), and immune to the
    * silent LONG wraparound a count·Σxy product hits once daily counts
    * reach ~1e11 (ADVICE r3); the oracle's HUGEINT moments equal the
    * same doubles in that range. ONE division at the end, r6 at the
    * boundary. */
  private val autocorr: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val n = count(lit(1)).cast("double")
    val sx = sum(col("x").cast("double"))
    val sy = sum(col("y").cast("double"))
    val sxy = sum(col("x").cast("double") * col("y"))
    val sxx = sum(col("x").cast("double") * col("x"))
    val syy = sum(col("y").cast("double") * col("y"))
    daily.select(col("day"), col("c").as("x"))
      .join(daily.select((col("day") - 1).as("day"), col("c").as("y")),
        Seq("day"))
      .agg(count(lit(1)).as("n_pairs"),
        r6((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
          .as("acf1"))
  }

  private val LbLags = 7

  /** Ljung–Box portmanteau test on the daily event-count series — is
    * there ANY autocorrelation structure in the first 7 lags, jointly?
    * (q_stats_autocorr reads one lag; model-residual checks and
    * seasonality gates need the joint test.) Q = n(n+2)·Σ ρ̂_k²/(n−k)
    * against the pinned χ²₀.₉₅,₇ critical value. Determinism
    * discipline: the daily census is exact integers, every lag's
    * (Σxy, Σx_head, Σx_tail) is an exact long over the |days|-bounded
    * pair frame (one broadcast lag spine ⋈ census join — never a
    * window over data), ρ̂_k assembles those integers with the series
    * mean in ONE pinned IEEE expression and is r6-rounded before the
    * 7-term fold, which runs in sorted lag order on both engines. */
  private val ljungBox: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    // the whole statistic lives on the |days|-bounded census (~30
    // rows): lag products, autocorrelations, and the Q fold run
    // DRIVER-SIDE on the collected census (the markov/cluster-purity
    // pattern — round 9: 13 jobs of crossJoin broadcasts for 30 rows).
    // Arithmetic replays the previous SQL exactly: exact-long moment
    // sums, the same double expressions, the Q fold in k order, r6 pins
    // at the same places — oracle hash unchanged.
    val rows = daily.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // empty census → empty result (empty-stays-empty discipline)
    if (rows.isEmpty) {
      import s.implicits._
      Seq.empty[(Long, Long, Double, Double, Boolean)]
        .toDF("k", "n_pairs", "rho_r", "q_lb_r", "reject")
    } else ljungBoxFold(s, rows)
  }

  private def ljungBoxFold(s: SparkSession,
      rows: Array[(Long, Long)]): DataFrame = {
    val n = rows.length.toLong
    val sx = rows.map(_._2).sum
    val sxx = rows.map(c => c._2 * c._2).sum
    val md = sx.toDouble / n
    val byDay = rows.toMap
    // pairless lags DROP (the old lag-spine inner join emitted no row
    // for them — a short series must not grow extra rows); a constant
    // series (zero ACF denominator) gives null rho per Spark's
    // null-on-zero-divisor, and nulls propagate through the Q fold
    val denom = sxx - n * md * md
    val perk = (1L to LbLags.toLong).flatMap { k =>
      val pairs = rows.flatMap { case (day, x) =>
        byDay.get(day + k).map(y => (x, y)) }
      if (pairs.isEmpty) None
      else {
        val nPairs = pairs.length.toLong
        val sxy = pairs.map(p => p._1 * p._2).sum
        val sh = pairs.map(_._1).sum
        val st = pairs.map(_._2).sum
        val rho =
          if (denom == 0.0) None
          else Some(graft.Par.r6d(
            (sxy - md * (sh + st) + nPairs * md * md) / denom))
        Some((k, nPairs, rho))
      }
    }
    val tsum = perk.sortBy(_._1).foldLeft(Option(0.0)) {
      case (acc, (k, _, rho)) =>
        for (a <- acc; r <- rho; if n != k) yield a + r * r / (n - k)
    }
    val qLb = tsum.map(t => graft.Par.r6d(n * (n + 2) * t))
    import s.implicits._
    perk.map { case (k, nPairs, rho) =>
      (k, nPairs, rho, qLb, qLb.map(_ > 14.067140449340169)) }
      .toDF("k", "n_pairs", "rho_r", "q_lb_r", "reject")
      .orderBy("k")
  }

  /** Winsorized robust mean — the outlier-resistant location estimate
    * production metrics use when a single fat-fingered value must not
    * move the dashboard: values clipped at p05/p95, then re-averaged
    * beside the raw mean (their gap is itself the contamination
    * signal). Percentiles are r6-ROUNDED before clipping
    * (round-then-clip) so both engines clamp against identical
    * thresholds; interpolated percentile matches quantile_cont
    * (q_agg_percentile precedent). One pass + a 1-row broadcast back —
    * no sort of the fact at any scale. */
  private val winsorize: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val pct = ev.agg(r6(expr("percentile(value, 0.05)")).as("p05"),
      r6(expr("percentile(value, 0.95)")).as("p95"))
    ev.crossJoin(broadcast(pct))
      .select(col("value"), col("p05"), col("p95"),
        greatest(least(col("value"), col("p95")), col("p05")).as("w"))
      .agg(count(lit(1)).as("n"), max(col("p05")).as("p05"),
        max(col("p95")).as("p95"),
        r6(avg(col("value"))).as("mean_raw"),
        r6(avg(col("w"))).as("mean_winsor"))
  }

  /** CUSUM change-point detection on the daily event-count series: z
    * standardized against r6-ROUNDED series mean/sd (round-then-score),
    * cumulated in day order, top-5 |cumsum| days = where the level
    * shift (if any) happened. The running sum is a census window over
    * the bounded day frame, and — because a window prefix sum is
    * evaluated SEQUENTIALLY in ORDER BY order on both engines — the
    * float cumulation is bit-identical cross-engine, no per-term
    * rounding needed until the final cut (which ranks on the r6 value,
    * day tie-break). */
  private val cusum: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val stats = daily.agg(r6(avg(col("c"))).as("m"),
      r6(stddev_samp(col("c"))).as("sd"))
    val wc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("z", (col("c") - col("m")) / col("sd"))
      .withColumn("cusum", r6(sum(col("z")).over(wc)))
      .select(col("day"), col("c"), col("cusum"))
      .orderBy(abs(col("cusum")).desc, col("day"))
      .limit(5)
  }

  /** Single changepoint by binary segmentation over the daily count
    * series: for every split day s, score = n1·n2/(n1+n2)·(m1−m2)² (the
    * between-segment SSE reduction; the argmax is the first binary-seg
    * cut). Prefix sums stay exact longs over the |days| census (global
    * window; Catalyst bounds the pinned census); the score is one double expression
    * per row with identical association in both engines. Emits the full
    * scored census ranked by score, so the consumer sees the margin,
    * not just the winner. */
  private val changepoint: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val wc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // nd/t as windows over the |days| census (round 10): exact
    // count/long-sum, minus the broadcast QueryStage job + census
    // re-read
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("t", sum(col("c")).over(wAll))
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("cum", sum(col("c")).over(wc))
      .filter(col("rn") >= 2)
      .withColumn("n1", (col("rn") - 1).cast("long"))
      .withColumn("t1", col("cum") - col("c"))
      .withColumn("n2", col("nd") - col("rn") + 1)
      .withColumn("m1", col("t1").cast("double") / col("n1"))
      .withColumn("m2", (col("t") - col("t1")).cast("double") / col("n2"))
      .withColumn("score",
        r6(col("n1") * col("n2") / (col("n1") + col("n2")).cast("double") *
          (col("m1") - col("m2")) * (col("m1") - col("m2"))))
      .select(col("day").as("split_day"), col("n1"), col("n2"),
        r6(col("m1")).as("mean_before"), r6(col("m2")).as("mean_after"),
        col("score"))
      .orderBy(col("score").desc, col("split_day"))
  }

  /** Neyman (optimal) stratified-sampling allocation: budget 1000 rows
    * split across event_type strata ∝ Nh·Sh, against the proportional
    * allocation for contrast — the sampling-design step before any
    * stratified draw (q_sample_stratified executes one). Per-stratum
    * stddev is r6-rounded FIRST and the Nh·Sh weights go through the
    * floor(w·1e6)-as-long trick, so the normalizing sum is exact integer
    * arithmetic — the Σ of raw doubles would be add-order-dependent
    * across engines. |event_type|-row census; one scan. */
  private val sampleNeyman: Q = (s, d) => {
    val strata = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n_h"),
        r6(stddev_samp(col("value"))).as("sd_h"))
      .withColumn("wh", floor(col("n_h") * col("sd_h") * 1e6).cast("long"))
    // totals as windows over the |types| census (round 10): exact long
    // sums, minus the broadcast QueryStage job + census re-read
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    strata
      .withColumn("z", sum(col("wh")).over(wAll))
      .withColumn("n_tot", sum(col("n_h")).over(wAll))
      .select(col("event_type"), col("n_h"), col("sd_h"),
        r6(col("wh") / col("z").cast("double")).as("w_share"),
        floor(lit(1000.0) * col("wh") / col("z")).cast("long")
          .as("alloc_neyman"),
        floor(lit(1000.0) * col("n_h") / col("n_tot")).cast("long")
          .as("alloc_prop"))
      .orderBy("event_type")
  }

  /** Shared 0.7^k weight table for the truncated EWMA: computed ONCE in
    * Scala and embedded as the same 17-digit double literals in both the
    * Spark plan and the oracle SQL — pow() is not guaranteed
    * correctly-rounded across libms, so neither engine is allowed to
    * call it (the literal-pinning discipline from the LSH hyperplanes). */
  private val EwmaLags = 14
  private val ewmaW: IndexedSeq[Double] =
    (0 until EwmaLags).map(k => math.pow(0.7, k))

  /** Truncated EWMA (α=0.3, 14 lags ≈ 99 % of the mass) of the daily
    * event-count series — the smoothing baseline beside the seasonal-
    * naive forecast. A true recursive EWMA can't run cross-engine
    * bit-stable (infinite memory), so the declared operator is the
    * 14-term window form: 14 stacked lag() terms share ONE WindowExec
    * over the |days|-bounded daily frame (census-window argument), and
    * the leading edge renormalizes over the weights actually present.
    * At 100 TB the daily frame is still |days| rows — the window never
    * touches raw events. */
  private val ewma: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val w = Window.orderBy("day")
    val lags = (0 until EwmaLags).map(k => lag(col("c"), k).over(w))
    val num = lags.zipWithIndex.map { case (l, k) =>
      coalesce(l.cast("double"), lit(0.0)) * lit(ewmaW(k)) }.reduce(_ + _)
    val den = lags.zipWithIndex.map { case (l, k) =>
      when(l.isNotNull, lit(ewmaW(k))).otherwise(lit(0.0)) }.reduce(_ + _)
    daily.select(col("day"), col("c"), r6(num / den).as("ewma"))
      .orderBy("day")
  }

  /** Delete-a-group jackknife CI for the mean order price: 10
    * deterministic md5 folds, leave-one-fold-out means from the fold
    * sums alone (never a second data pass), jackknife SE over the 10
    * bounded replicates. THE distributed resampling pattern — the
    * bootstrap's shuffle-free cousin: one hash aggregate at any scale,
    * g replicate means derived by subtraction on a 10-row frame. Fold
    * sums are r2-rounded before the replicate arithmetic
    * (round-then-replay) so both engines subtract identical doubles. */
  private val jackknife: Q = (s, d) => {
    val folds = Tables.orders(s, d)
      .withColumn("fold", expr(
        "(position(substring(md5(cast(o_orderkey AS string)), 1, 1)," +
          " '0123456789abcdef') - 1) % 10"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_i"), r2(sum(col("o_totalprice"))).as("s_i"))
    // the replicate arithmetic reduces over the 10-row fold census, so
    // it runs DRIVER-SIDE on the collected census (round 9: the two
    // broadcast crossJoins + mean/ss aggregates were ~6 jobs for 10
    // rows). Folds accumulate in fold order; every r6/r2 pin sits at
    // the same place as the previous SQL, and the centered-ss argument
    // below carries over unchanged. Oracle hash unchanged.
    val fr = folds.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    import s.implicits._
    if (fr.isEmpty) {
      // empty census → empty result (empty-stays-empty discipline)
      Seq.empty[(Long, Long, Double, Double, Double, Double)]
        .toDF("n", "g", "mean", "se_jack", "ci_lo", "ci_hi")
    } else jackknifeFold(s, fr)
  }

  private def jackknifeFold(s: SparkSession,
      fr: Array[(Int, Long, Double)]): DataFrame = {
    val n = fr.map(_._2).sum
    val sTot = graft.Par.r2d(fr.map(_._3).sum)
    val g = fr.length.toLong
    // centered sum of squares against the r6-pinned replicate mean —
    // the raw-moment form (sm2 − sm²/g) cancels ~12 digits at sf0.1
    // (sm2 ≈ 6e11, variance ≈ 1e6), leaving ULP noise above the r6
    // boundary; the centered form keeps every term at deviation scale
    val mi = fr.map { case (_, ni, si) => graft.Par.r6d((sTot - si) / (n - ni)) }
    val mbar = graft.Par.r6d(mi.sum / g)
    val ss = mi.map(m => (m - mbar) * (m - mbar)).sum
    val se = math.sqrt((g - 1).toDouble / g * ss)
    import s.implicits._
    Seq((n, g, graft.Par.r6d(sTot / n), graft.Par.r6d(se),
      graft.Par.r6d(sTot / n - 1.96 * se), graft.Par.r6d(sTot / n + 1.96 * se)))
      .toDF("n", "g", "mean", "se_jack", "ci_lo", "ci_hi")
  }

  /** Additive seasonal decomposition (STL-lite) of the daily series:
    * trend = centered 7-day moving average, seasonal = per-weekday mean
    * of the detrended values, residual = the rest. Three window/agg
    * passes over the |days|-bounded daily frame (census-window
    * argument); the trend average is exact-integer sum / exact count, so
    * it is bit-identical cross-engine before its r6, and every derived
    * column is round-then-replay off the previous one. Edge days keep
    * their partial trend window (deterministic in both engines). */
  private def stlFrame(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCensus(s, d)
    val wTrend = Window.orderBy("day").rowsBetween(-3, 3)
    val wSeas = Window.partitionBy(expr("day % 7"))
    daily.withColumn("trend", r6(avg(col("c")).over(wTrend)))
      .withColumn("seasonal", r6(avg(col("c") - col("trend")).over(wSeas)))
      .select(col("day"), col("c"), col("trend"), col("seasonal"),
        r6(col("c") - col("trend") - col("seasonal")).as("resid"))
  }

  private val decompose: Q = (s, d) => stlFrame(s, d).orderBy("day")

  /** Seasonality-aware anomaly report: top-5 days by |residual z| AFTER
    * the trend and weekday components are removed — the "anomaly
    * detection done right" companion to q_events_anomaly's raw z-score,
    * which flags every Saturday in a weekday-seasonal series. Shares
    * the STL frame with q_stats_decompose; the residual σ is a 1-row
    * broadcast back over the |days|-bounded frame. */
  private val anomalyStl: Q = (s, d) => {
    val re = stlFrame(s, d).select("day", "c", "resid")
    val st = re.agg(r6(stddev_samp(col("resid"))).as("sd"))
    re.crossJoin(broadcast(st))
      .select(col("day"), col("c"), col("resid"),
        r6(col("resid") / col("sd")).as("resid_z"))
      .orderBy(abs(col("resid_z")).desc, col("day"))
      .limit(5)
  }

  /** Theil–Sen robust trend: median of all pairwise slopes of the daily
    * series, intercept = median residual at the r6-pinned slope
    * (round-then-replay). The pair join is |days|² — bounded by the
    * CALENDAR, not the data (435 pairs for a month, ~66k for a decade),
    * so the all-pairs shape that is forbidden on row-scale inputs is
    * the right plan here; slopes are exact integer differences divided
    * once, so the pair set is bit-identical cross-engine before the
    * median. */
  private val theilSen: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    // the pair set and both medians live on the |days|-bounded census,
    // so they fold DRIVER-SIDE on the collected census (round 9: the
    // min-crossJoin, self-join, and two percentile aggregates were ~7
    // jobs for ≤66k calendar pairs). Slopes are the same exact integer
    // differences divided once; the exact-percentile interpolation
    // below replays Spark's percentile() (position p·(n−1), linear
    // between neighbors), and both medians keep their r6 pins — slope
    // is pinned BEFORE the residuals, as before. Oracle unchanged.
    val rows = daily.collect().map(r => (r.getLong(0), r.getLong(1)))
    import s.implicits._
    // empty/single-day census → no pair set → empty result (the
    // empty-stays-empty discipline; the old percentile-of-nothing
    // emitted a null row, but min/percentile on an empty driver seq
    // would throw instead)
    if (rows.length < 2)
      Seq.empty[(Long, Double, Double)]
        .toDF("n_pairs", "slope", "intercept")
    else {
      val d0v = rows.map(_._1).min
      val xs = rows.map { case (day, c) => (day - d0v, c) }
      val slopes = for {
        i <- xs.indices; k <- xs.indices
        if xs(k)._1 > xs(i)._1
      } yield (xs(k)._2 - xs(i)._2).toDouble / (xs(k)._1 - xs(i)._1)
      def pctl(vs: Seq[Double], p: Double): Double = {
        val sv = vs.sorted
        val pos = p * (sv.length - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        if (lo == hi) sv(lo) else sv(lo) + (pos - lo) * (sv(hi) - sv(lo))
      }
      val slope = graft.Par.r6d(pctl(slopes, 0.5))
      val intercept =
        graft.Par.r6d(pctl(xs.map { case (x, c) => c - slope * x }, 0.5))
      Seq((slopes.length.toLong, slope, intercept))
        .toDF("n_pairs", "slope", "intercept")
    }
  }

  /** One-pass Poisson bootstrap (5 replicates) of the mean order price:
    * each row's per-replicate weight is a 256-bin discretized Poisson(1)
    * draw decoded from two md5 hex digits — the production-scale
    * bootstrap: NO resampling shuffle, one replicated pass and a 5-row
    * aggregate, deterministic under retry/replay like every md5-keyed
    * sampler here. Weights are exact integers, so the only float work
    * is the final weighted mean (r6, the standard discipline); the
    * replicate spread estimates the same SE the jackknife pins
    * analytically. Thresholds 94/188/235/251/255 = floor(CDF·256) of
    * Poisson(1) at k=0..4; the discretized mean is 257/256 ≈ 1.004. */
  private val bootstrap: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        explode(sequence(lit(0), lit(4))).as("rep"))
      .withColumn("hx", expr(
        "substring(md5(concat(cast(o_orderkey AS string), '_'," +
          " cast(rep AS string))), 1, 2)"))
      .withColumn("h", expr(
        "(position(substring(hx, 1, 1), '0123456789abcdef') - 1) * 16" +
          " + position(substring(hx, 2, 1), '0123456789abcdef') - 1"))
      .withColumn("k",
        when(col("h") < 94, 0).when(col("h") < 188, 1)
          .when(col("h") < 235, 2).when(col("h") < 251, 3)
          .when(col("h") < 255, 4).otherwise(5))
      .groupBy("rep")
      .agg(sum(col("k")).as("n_eff"),
        r6(sum(col("k") * col("o_totalprice")) / sum(col("k")))
          .as("mean_rep"))
      .orderBy("rep")

  /** Index of dispersion (variance/mean of hourly arrival counts) per
    * event type — the burstiness test against the Poisson null
    * (dispersion ≈ 1): > 1 means bursty traffic (provision for spikes,
    * suspect bot storms), < 1 means smoothed/regularized arrivals.
    * Hours with zero arrivals for a type are absent from that type's
    * census (active-hour dispersion — the |hours|-bounded frame, same
    * census argument as every series op here). Two chained hash
    * aggregates; moments on small exact integers, r6 at the boundary. */
  private val dispersion: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("(ts_ns div 1000) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        r6(avg(col("c"))).as("mean_c"),
        r6(var_samp(col("c"))).as("var_c"),
        r6(var_samp(col("c")) / avg(col("c"))).as("dispersion"))
      .orderBy("event_type")

  /** Mergeable quantile estimation via a bottom-k-by-hash uniform sample
    * (k = 256), with its error audit against the exact quantile — the
    * sketch-ships-with-its-calibration pattern (cf. q_eval_kmv_error).
    * A bottom-k-by-md5 sample is a deterministic uniform sample whose
    * merge is associative (union → keep 256 smallest hashes), so
    * per-partition / per-day samples combine into a corpus sample
    * without re-scanning — the 100 TB path for dashboard quantiles.
    * Plan: TakeOrderedAndProject (top-k merge, no global sort) for the
    * sample; the exact quantile is the audit-time baseline only (at
    * scale you'd audit on one partition slice, not the corpus). */
  private val evalQuantileSample: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_extendedprice"),
        md5(concat_ws(":", col("l_orderkey"), col("l_linenumber"))).as("h"))
    // lineitem carries duplicate (l_orderkey, l_linenumber) pairs (observed
    // at sf0.001: 6000 rows / 4599 distinct), so the hash alone ties —
    // price is the deterministic tie-break (full-row ties then agree on
    // the sampled value anyway)
    // one percentile buffer per branch (array form computes both
    // quantiles from a single counts map); the exact branch skips the
    // md5 column entirely
    val est = li.orderBy("h", "l_extendedprice").limit(256)
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("p"))
      .select(r6(element_at(col("p"), 1)).as("est_p50"),
        r6(element_at(col("p"), 2)).as("est_p95"))
    val exact = Tables.lineitem(s, d)
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("p"))
      .select(r6(element_at(col("p"), 1)).as("true_p50"),
        r6(element_at(col("p"), 2)).as("true_p95"))
    est.crossJoin(broadcast(exact))
      .select(col("est_p50"), col("true_p50"),
        r6(abs(col("est_p50") - col("true_p50"))).as("err_p50"),
        col("est_p95"), col("true_p95"),
        r6(abs(col("est_p95") - col("true_p95"))).as("err_p95"))
  }

  /** Wald–Wolfowitz runs test on the daily-count delta signs — the
    * nonparametric "is the series random?" companion to Mann-Kendall
    * (which asks about trend; runs asks about serial clustering of ups
    * and downs). The sign sequence and run boundaries are pure integer
    * censuses over the |days|-bounded daily frame (two global windows —
    * census-window argument); expected runs and variance come from the
    * exact n_up/n_down counts, so the only doubles are the final
    * moment/z expressions, written as ONE identical formula text in
    * both engines. */
  private val runsTest: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val w = Window.orderBy("day")
    val signs = daily
      .withColumn("df", col("c") - lag(col("c"), 1).over(w))
      .filter(col("df").isNotNull && col("df") =!= 0)
      .withColumn("sgn", when(col("df") > 0, 1L).otherwise(-1L))
    signs
      .withColumn("new_run",
        when(lag(col("sgn"), 1).over(w).isNull ||
          lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(col("new_run")).as("n_runs"))
      .select(col("n_up"), col("n_down"), col("n_runs"),
        r6(expr("2.0 * n_up * n_down / (n_up + n_down) + 1.0"))
          .as("e_runs"),
        r6(expr("(n_runs - (2.0 * n_up * n_down / (n_up + n_down)" +
          " + 1.0)) / sqrt((2.0 * n_up * n_down * (2.0 * n_up * n_down" +
          " - (n_up + n_down))) / (CAST(n_up + n_down AS DOUBLE)" +
          " * (n_up + n_down) * (n_up + n_down - 1)))")).as("z"))
  }

  /** One-way ANOVA F across the five event types on `value` — the
    * parametric mean-comparison that generalizes q_stats_ttest the way
    * Kruskal-Wallis generalizes Mann-Whitney. Per-group moments (n,
    * mean, variance) are ONE filtered hash aggregate; each is r6-pinned
    * BEFORE any cross-group arithmetic (the jackknife round-then-replay
    * discipline), then the three cross-group sums fold SEQUENTIALLY in
    * group order on the 5-row frame — no partition-order float sum
    * anywhere. Two 5-element folds + one broadcast; linear at any
    * scale. */
  private val anova: Q = (s, d) => {
    val g = Tables.events(s, d)
      .groupBy(col("event_type").as("g"))
      .agg(count(lit(1)).as("n_g"),
        r6(avg(col("value"))).as("m_g"),
        r6(var_samp(col("value"))).as("v_g"))
      .withColumn("nm", col("n_g").cast("double") * col("m_g"))
      .withColumn("wv", (col("n_g") - 1).cast("double") * col("v_g"))
    def fold(field: String) =
      expr(s"aggregate(transform(array_sort(collect_list(" +
        s"struct(g, $field))), x -> x.$field), 0D, (acc, v) -> acc + v)")
    val totals = g.agg(count(lit(1)).as("k"),
      sum(col("n_g")).as("n_total"),
      fold("nm").as("sw"), fold("wv").as("ssw"))
    g.crossJoin(broadcast(totals))
      .withColumn("ssb_g", col("n_g").cast("double") *
        (col("m_g") - col("sw") / col("n_total")) *
        (col("m_g") - col("sw") / col("n_total")))
      .groupBy("k", "n_total", "ssw")
      .agg(fold("ssb_g").as("ssb"))
      .select(col("k"), col("n_total"),
        (col("k") - 1).as("df1"), (col("n_total") - col("k")).as("df2"),
        r6(expr("(ssb / (k - 1)) / (ssw / (n_total - k))")).as("f_stat"),
        r6(expr("ssb / (ssb + ssw)")).as("eta_sq"))
  }

  /** Brown–Forsythe test (Levene's test with median centers) for
    * equality of variances across event types — the precondition gate
    * for the pooled-variance tests (q_stats_ttest / q_stats_anova
    * assume homoscedasticity; this key tests it, robustly, since the
    * median center stays honest under the heavy tails q_stats_mad
    * documents). It IS one-way ANOVA applied to z = |x − median_g|,
    * so the plan reuses the anova discipline verbatim: per-type exact
    * median (r6-pinned, the mad idiom) broadcast back, ONE hash
    * aggregate for (n, mean_z, var_z) per type, and the
    * |types|-bounded sorted-list fold for every cross-group sum
    * (deterministic accumulation order on both engines). */
  private val levene: Q = (s, d) => {
    val med = Tables.events(s, d).groupBy("event_type")
      .agg(r6(expr("percentile(value, 0.5)")).as("med"))
    val z = Tables.events(s, d)
      .select(col("event_type"), col("value"))
      .join(broadcast(med), "event_type")
      .select(col("event_type").as("g"),
        abs(col("value") - col("med")).as("z"))
    val g = z.groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        r6(avg(col("z"))).as("m_g"),
        r6(var_samp(col("z"))).as("v_g"))
    // the cross-group sums reduce over the |types|-bounded group census,
    // so they fold DRIVER-SIDE on the collected census in g order —
    // exactly the order the previous array_sort folds accumulated in
    // (round 9: the totals aggregate + broadcast crossJoin + second
    // fold were ~5 jobs for ≤5 rows). The two corpus passes (per-type
    // median, the z aggregate) are unchanged. Oracle unchanged.
    // v_g is read as Option: var_samp of a single-row group is NULL,
    // and the old wv fold propagated that null into a null w_stat —
    // getDouble would throw instead. Same for the zero-divisor cases
    // (k=1, n=k, ssw=0): Spark division yields NULL, not IEEE Inf/NaN,
    // so w_stat goes None exactly where the SQL went null.
    val rows = g.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(_._1)
    import s.implicits._
    if (rows.isEmpty)
      Seq.empty[(Long, Long, Long, Long, Option[Double])]
        .toDF("k", "n_total", "df1", "df2", "w_stat")
    else {
      val k = rows.length.toLong
      val nTotal = rows.map(_._2).sum
      val sw = rows.foldLeft(0.0) { case (a, (_, ng, mg, _)) =>
        a + ng.toDouble * mg }
      val ssw = rows.foldLeft(Option(0.0)) { case (a, (_, ng, _, vg)) =>
        for (acc <- a; v <- vg) yield acc + (ng - 1).toDouble * v }
      val ssb = rows.foldLeft(0.0) { case (a, (_, ng, mg, _)) =>
        a + ng.toDouble * (mg - sw / nTotal) * (mg - sw / nTotal) }
      val wStat = ssw.filter(v => k > 1 && nTotal != k && v != 0.0)
        .map(v => graft.Par.r6d((ssb / (k - 1)) / (v / (nTotal - k))))
      Seq((k, nTotal, k - 1L, nTotal - k, wStat))
        .toDF("k", "n_total", "df1", "df2", "w_stat")
    }
  }

  /** Two-proportion experiment sizing — the power-analysis step that
    * pairs with q_stats_prop_test (which judges a finished experiment;
    * this sizes the next one): arms = user parity, conversion = ever
    * purchased; required n/arm for α=0.05 two-sided, 80 % power at the
    * OBSERVED effect via n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀+p₁q₁))²/δ².
    * The z quantiles are 17-digit pinned literals in both engines (the
    * ewma-weight discipline — no erf/qnorm cross-libm call); every
    * input is an exact integer census, p-hats are r6-pinned before the
    * formula (round-then-replay), so both engines evaluate one
    * identical double expression. δ=0 degenerates to n=-1 sentinel. */
  private val power: Q = (s, d) => {
    // CAST guards: a bare high-precision literal types as DECIMAL in
    // both engines; forcing DOUBLE at the literal keeps every product
    // in pure IEEE arithmetic (the ewma-weight lesson).
    val za = "CAST(1.9599639845400545 AS DOUBLE)"  // Φ⁻¹(0.975)
    val zb = "CAST(0.8416212335729143 AS DOUBLE)"  // Φ⁻¹(0.80)
    val arms = Tables.events(s, d)
      .groupBy(expr("user_id % 2").as("arm"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("conv"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val p = arms.select(col("arm"), col("n_users"), col("n_conv"),
      r6(col("n_conv").cast("double") / col("n_users")).as("ph"))
    val wide = p.filter(col("arm") === 0)
      .select(col("n_users").as("n0"), col("n_conv").as("c0"),
        col("ph").as("p0"))
      .crossJoin(broadcast(p.filter(col("arm") === 1)
        .select(col("n_users").as("n1"), col("n_conv").as("c1"),
          col("ph").as("p1"))))
    wide
      // pow() is not a cross-engine contract (lsh_planner lesson):
      // square by explicit multiplication of a named intermediate
      .withColumn("zsum", expr(
        s"$za * sqrt(2.0 * ((p0 + p1) / 2.0)" +
          s" * (1.0 - (p0 + p1) / 2.0))" +
          s" + $zb * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))"))
      .select(col("n0"), col("n1"), col("p0"), col("p1"),
        r6(expr("p1 - p0")).as("delta"),
        expr("""CASE WHEN p1 = p0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(ceil(zsum * zsum
              / ((p1 - p0) * (p1 - p0))) AS BIGINT) END""")
          .as("n_per_arm"))
  }

  /** CUPED variance reduction — the experimentation workhorse that
    * pairs with q_stats_power (sizing) and q_stats_prop_test (verdict):
    * adjust each user's post-period purchase spend y by their
    * PRE-period spend x via θ = cov(x,y)/var(x), which shrinks metric
    * variance by ρ² without biasing the arm contrast. Every moment is
    * an EXACT LONG: spend quantizes per event (floor(value·100+0.5) —
    * one double each, deterministic), per-user sums and the five global
    * moments are integer aggregates in any partition order; θ, x̄ and
    * the ρ² reduction are single identical-text double expressions on
    * the 1-row moment frame (products cast to double BEFORE
    * multiplying — Σx·Σy overflows int64 at ~sf1). Arm rows then
    * derive adjusted means from their own exact sums + the broadcast
    * θ/x̄. One user-keyed aggregate + two bounded frames — linear. */
  private val cuped: Q = (s, d) => {
    val minDay = Tables.events(s, d)
      .agg(min(expr("(ts_ns div 1000) div 86400000000")).as("d0"))
    val perUser = Tables.events(s, d)
      .crossJoin(broadcast(minDay))
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .withColumn("is_pre",
        expr("(ts_ns div 1000) div 86400000000 - d0 < 15"))
      .groupBy(expr("user_id % 2").as("arm"), col("user_id"))
      .agg(sum(when(col("is_pre") && col("event_type") === "purchase",
          col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("is_pre") && col("event_type") === "purchase",
          col("cents")).otherwise(0L)).as("y"))
    val cov = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
    val vx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
    val vy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
    val glob = perUser
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
      .select(
        expr(s"$cov / $vx").as("theta"),
        expr(s"($cov * $cov) / ($vx * $vy)").as("var_reduction"),
        expr("CAST(sx AS DOUBLE) / n").as("xbar"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("ax"),
        sum("y").as("ay"))
      .crossJoin(broadcast(glob))
      .select(col("arm"), col("n_users"),
        r6(expr("CAST(ay AS DOUBLE) / n_users / 100.0")).as("mean_y"),
        r6(expr("(CAST(ay AS DOUBLE) - theta * (CAST(ax AS DOUBLE)" +
          " - n_users * xbar)) / n_users / 100.0")).as("mean_y_adj"),
        r6(col("theta")).as("theta"),
        r6(col("var_reduction")).as("var_reduction"))
      .orderBy("arm")
  }

  /** Granger-style lead-lag test on the daily series — completes the
    * time-series family (trend: mann_kendall/theil_sen, smoothing:
    * ewma/holt, randomness: runs_test): does yesterday's CLICK count
    * predict today's PURCHASE count beyond purchases' own lag? Full
    * model y_t ~ y_{t-1} + x_{t-1} vs restricted y_t ~ y_{t-1}, F on
    * the SSE drop. The lag frame is a |days|-bounded self-join on
    * day+1 (NO global window needed), daily counts are integers so
    * every raw moment is an EXACT LONG in any partition order; the
    * closed-form 2-regressor OLS runs once on the 1-row moment frame
    * as identical-text double expressions. */
  private val granger: Q = (s, d) => {
    val daily = dailyTypeCensus(s, d).select(col("day"),
      col("n_click").as("x"), col("n_purchase").as("y"))
    val lagged = daily.select(col("day"), col("x").as("x1"),
        col("y").as("y1"))
      .join(daily.select((col("day") - 1).as("day"), col("y").as("y0")),
        Seq("day"))
    // z1 = own lag y_{t-1}, z2 = cross lag x_{t-1}, response y0 = y_t
    val m = lagged.agg(count(lit(1)).as("n"),
      sum(col("y1")).as("s1"), sum(col("x1")).as("s2"),
      sum(col("y0")).as("sy"),
      sum(expr("y1 * y1")).as("s11"), sum(expr("y1 * x1")).as("s12"),
      sum(expr("x1 * x1")).as("s22"), sum(expr("y1 * y0")).as("s1y"),
      sum(expr("x1 * y0")).as("s2y"), sum(expr("y0 * y0")).as("syy"))
    // the closed forms are the SHARED gB2/gSseF/gSseR strings the
    // oracle interpolates — one text, two parsers, zero drift
    m.select(col("n"),
      r6(expr(gB2)).as("b_cross"),
      r6(expr(s"($gSseR - $gSseF) / ($gSseF / (n - 3))")).as("f_granger"),
      r6(expr(s"($gSseR - $gSseF) / $gSseR")).as("delta_r2"))
  }

  // Shared central-moment closed forms for q_stats_moments — raw exact
  // integer power sums s1d..s4d (cent-scaled DECIMAL/HUGEINT, so any
  // partition order yields the same integers) cast to DOUBLE exactly
  // once, then ONE formula text parsed by both engines (the granger
  // gC11 discipline). mM1 is cents; /100.0 happens only at the output
  // boundary so every intermediate stays in the exact-input regime.
  private val mM1 = "(CAST(s1d AS DOUBLE) / n)"
  private val mM2 =
    s"(CAST(s2d AS DOUBLE) / n - $mM1 * $mM1)"
  private val mM3 =
    s"(CAST(s3d AS DOUBLE) / n - 3.0 * $mM1 * (CAST(s2d AS DOUBLE) / n)" +
      s" + 2.0 * $mM1 * $mM1 * $mM1)"
  private val mM4 =
    s"(CAST(s4d AS DOUBLE) / n - 4.0 * $mM1 * (CAST(s3d AS DOUBLE) / n)" +
      s" + 6.0 * $mM1 * $mM1 * (CAST(s2d AS DOUBLE) / n)" +
      s" - 3.0 * $mM1 * $mM1 * $mM1 * $mM1)"

  /** Higher-moment distribution profile (skewness + excess kurtosis)
    * per event type — the shape diagnostics q_agg_stats stops short of
    * (sd/var say nothing about asymmetry or tail weight; skew/kurtosis
    * are what decides whether the t-family tests upstream are even
    * applicable, and they are standard data-profiling columns). NOT
    * Spark's skewness()/kurtosis() builtins: those disagree with
    * DuckDB's (population vs sample corrections), so both engines
    * instead evaluate the same closed forms over exact integer power
    * sums. Scale: value → exact cents (floor(v*100+0.5), the integer-
    * census discipline); c..c⁴ accumulate in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) so every sum is EXACT in any partition order
    * (c⁴ ≤ ~1e19 per term overflows BIGINT, hence decimal); ONE
    * map-side-combinable hash aggregate over events, closed forms on
    * the |event_type|-bounded frame. Central-moment cancellation is
    * harmless for parity: both engines run the identical IEEE
    * expression tree on identical exact inputs. */
  private val moments: Q = (s, d) => {
    val sums = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS DECIMAL(10,0))").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1d"),
        sum(expr("c * c")).as("s2d"),
        sum(expr("(c * c) * c")).as("s3d"),
        sum(expr("(c * c) * (c * c)")).as("s4d"))
    sums.select(col("event_type"), col("n"),
      r6(expr(s"$mM1 / 100.0")).as("mean_val"),
      r6(expr(s"sqrt($mM2) / 100.0")).as("sd_val"),
      r6(expr(s"$mM3 / ($mM2 * sqrt($mM2))")).as("skewness"),
      r6(expr(s"$mM4 / ($mM2 * $mM2) - 3.0")).as("ex_kurtosis"))
      .orderBy("event_type")
  }

  /** Welch TOST equivalence test (two one-sided t-tests) — the dual of
    * q_stats_ttest: that key asks "are F and O order values different?";
    * this asks the question a migration/launch review actually needs,
    * "are they the SAME to within ±5 % of the control mean?" (absence
    * of significance is NOT evidence of equivalence — TOST is the
    * correct instrument). Same one-pass join+FILTER-aggregate shape as
    * ttest (the two samples never materialize separately); the margin
    * is r6-pinned, both t statistics are r6-pinned, and the
    * equivalence verdict compares the PINNED values against a 17-digit
    * Φ⁻¹(0.95) literal (the srm round-then-compare discipline; the
    * normal approximation to t is documented — df here is ≥ 10³, where
    * the two quantiles agree to 4 decimals). */
  private val tost: Q = (s, d) => {
    val se = "sqrt(v_f / n_f + v_o / n_o)"
    val zc = "CAST(1.6448536269514722 AS DOUBLE)" // Φ⁻¹(0.95)
    Tables.orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O"))
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        avg(when(col("o_orderstatus") === "F", col("o_totalprice")))
          .as("m_f"),
        avg(when(col("o_orderstatus") === "O", col("o_totalprice")))
          .as("m_o"),
        var_samp(when(col("o_orderstatus") === "F", col("o_totalprice")))
          .as("v_f"),
        var_samp(when(col("o_orderstatus") === "O", col("o_totalprice")))
          .as("v_o"))
      .withColumn("margin", r6(expr("0.05 * m_o")))
      .withColumn("t_low", r6(expr(s"((m_f - m_o) + margin) / $se")))
      .withColumn("t_high", r6(expr(s"((m_f - m_o) - margin) / $se")))
      .select(col("c_mktsegment"), col("n_f"), col("n_o"),
        col("margin"), col("t_low"), col("t_high"),
        (col("t_low") > expr(zc) && col("t_high") < expr(s"-$zc"))
          .as("equivalent"))
      .orderBy("c_mktsegment")
  }

  // Wilson closed-form fragments — shared text between the Spark plan
  // and the DuckDB oracle (granger discipline).
  private val wZ = "CAST(1.9599639845400545 AS DOUBLE)" // Φ⁻¹(0.975)
  private val wP = "(CAST(n_conv AS DOUBLE) / n_users)"
  private val wDen = s"(1.0 + $wZ * $wZ / n_users)"
  private val wCenter = s"(($wP + $wZ * $wZ / (2.0 * n_users)) / $wDen)"
  private val wHalf = s"($wZ * sqrt($wP * (1.0 - $wP) / n_users" +
    s" + $wZ * $wZ / (4.0 * CAST(n_users AS DOUBLE) * n_users)) / $wDen)"

  /** Wilson score confidence interval for the per-arm purchase
    * conversion rate — the interval that should accompany every
    * q_stats_prop_test verdict (the naive Wald interval collapses at
    * p→0/1 and small n; Wilson is the standard fix). Arms are the
    * user_id-parity assignment of q_stats_power; conversion = user ever
    * made a purchase above 150 (every user has SOME purchase in this
    * data, so the bare ever-purchased census is degenerate p=1 — the
    * thresholded form lands near p≈0.45 where the interval is
    * informative). Exact integer (n, c) census per arm (two nested hash
    * aggregates, both map-side combinable), then the closed form with a
    * 17-digit pinned z — every input exact, one shared formula text, so
    * the bounds are bit-identical cross-engine. */
  private val wilsonCi: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(expr("user_id % 2").as("arm"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 150.0, 1L)
        .otherwise(0L)).as("conv"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .select(col("arm"), col("n_users"), col("n_conv"),
        r6(expr(wP)).as("p_hat"),
        r6(expr(s"$wCenter - $wHalf")).as("ci_low"),
        r6(expr(s"$wCenter + $wHalf")).as("ci_high"))
      .orderBy("arm")
  }

  /** Hill tail-index estimator over the order-value distribution — the
    * standard "how heavy is the tail?" instrument (H = mean log-excess
    * of the top-k order statistics over the (k+1)-th; α = 1/H is the
    * Pareto exponent; α ≤ 2 would mean infinite variance and every
    * mean-based test above loses its footing — this key is their
    * applicability gate, complementing q_stats_benford/q_stats_gini's
    * concentration views). Scale: global top-(k+1) via orderBy+limit =
    * TakeOrderedAndProject (per-partition heaps + driver merge of 501
    * rows — no global sort); the 501-row frame is then windowed and
    * folded IN RANK ORDER (sorted-list fold) so the 500-term double
    * sum accumulates identically in both engines. Ties broken by
    * o_orderkey so the boundary row is deterministic. ln runs on
    * exact-cents doubles (both libms are correctly rounded on these —
    * the entropy/perplexity precedent). */
  private val hillTail: Q = (s, d) => {
    val k = 500
    val top = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .orderBy(col("cents").desc, col("o_orderkey"))
      .limit(k + 1)
      // 501-row bounded frame: the single-partition window is safe here
      .withColumn("r", row_number().over(
        Window.orderBy(col("cents").desc, col("o_orderkey"))))
      .withColumn("lnc", expr("ln(CAST(cents AS DOUBLE))"))
    val thr = top.filter(col("r") === k + 1)
      .select(col("lnc").as("ln_thr"), col("cents").as("thr_cents"))
    top.filter(col("r") <= k)
      .crossJoin(broadcast(thr))
      .groupBy("ln_thr", "thr_cents")
      .agg(count(lit(1)).as("n_tail"),
        expr("aggregate(transform(array_sort(collect_list(" +
          "struct(r, lnc))), x -> x.lnc), 0D," +
          " (acc, v) -> acc + v)").as("sum_ln"))
      .withColumn("h_hill", r6(expr("sum_ln / 500.0 - ln_thr")))
      .select(col("n_tail"),
        r2(col("thr_cents") / 100.0).as("x_threshold"),
        col("h_hill"),
        r6(expr("1.0 / h_hill")).as("alpha_hill"))
  }

  /** Kendall's τ-b between daily click and purchase volumes — the
    * rank-correlation sibling q_stats_spearman lacks when ties matter:
    * τ-b counts concordant/discordant PAIRS with explicit tie
    * corrections (integer-count days tie often; Spearman's midranks
    * blur that, τ-b prices it). The pair scan is O(|days|²) — safe
    * ONLY because it runs on the |days|-bounded census, never raw
    * events (the seasonal-mk/mann-kendall discipline; at any corpus
    * size the census stays ~30 rows). Every pair class (C, D, ties) is
    * an exact integer census; τ-b is one shared closed-form text on
    * those integers. */
  private val kendallTau: Q = (s, d) => {
    val daily = dailyTypeCensus(s, d).select(col("day"),
      col("n_click").as("x"), col("n_purchase").as("y"))
    val pairs = daily.select(col("day").as("da"), col("x").as("xa"),
        col("y").as("ya"))
      .join(daily.select(col("day").as("db"), col("x").as("xb"),
        col("y").as("yb")), col("da") < col("db"))
    pairs.agg(
        count(lit(1)).as("n0"),
        count(when((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0,
          1)).as("nc"),
        count(when((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0,
          1)).as("nd"),
        count(when(col("xa") === col("xb"), 1)).as("n_tie_x"),
        count(when(col("ya") === col("yb"), 1)).as("n_tie_y"))
      .select(col("n0"), col("nc"), col("nd"),
        col("n_tie_x"), col("n_tie_y"),
        r6(expr("(nc - nd) / sqrt(CAST(n0 - n_tie_x AS DOUBLE)" +
          " * (n0 - n_tie_y))")).as("tau_b"))
  }

  /** Weekend/weekday Poisson rate-ratio with a log-scale CI — the
    * count-metric A/B instrument (prop_test/wilson judge PROPORTIONS;
    * event COUNTS per unit exposure need the rate-ratio form: RR =
    * (k_we/t_we)/(k_wd/t_wd), CI on ln RR ± z·√(1/k_we + 1/k_wd), the
    * standard lognormal approximation — bounds stay on the log scale,
    * deliberately: exp() is a cross-libm call the parity rules avoid,
    * and sign tests on ln-scale bounds are equivalent). Day-of-week
    * derives from the epoch-day INTEGER ((day+4) % 7, 0=Sunday) —
    * Spark's dayofweek() and DuckDB's differ by convention, integer
    * arithmetic doesn't. Exact integer censuses (events and distinct
    * exposure days per bucket), one closed form, significance compared
    * on r6-PINNED bounds (srm discipline). */
  private val rateRatio: Q = (s, d) => {
    val dayCol = "CAST((ts_ns div 1000) div 86400000000 AS BIGINT)"
    val ev = Tables.events(s, d)
      .select(col("event_type"), expr(dayCol).as("day"))
      .withColumn("we", expr("CAST((day + 4) % 7 IN (0, 6) AS INT)"))
    val expo = ev.select("day", "we").distinct()
      .agg(sum(when(col("we") === 1, 1L).otherwise(0L)).as("ta"),
        sum(when(col("we") === 0, 1L).otherwise(0L)).as("tb"))
    val z = "CAST(1.9599639845400545 AS DOUBLE)"
    ev.groupBy("event_type")
      .agg(count(when(col("we") === 1, 1)).as("ka"),
        count(when(col("we") === 0, 1)).as("kb"))
      .crossJoin(broadcast(expo))
      .withColumn("rr", r6(expr(
        "(CAST(ka AS DOUBLE) / ta) / (CAST(kb AS DOUBLE) / tb)")))
      .withColumn("ln_rr_low", r6(expr(
        s"ln((CAST(ka AS DOUBLE) / ta) / (CAST(kb AS DOUBLE) / tb))" +
          s" - $z * sqrt(1.0 / ka + 1.0 / kb)")))
      .withColumn("ln_rr_high", r6(expr(
        s"ln((CAST(ka AS DOUBLE) / ta) / (CAST(kb AS DOUBLE) / tb))" +
          s" + $z * sqrt(1.0 / ka + 1.0 / kb)")))
      .select(col("event_type"), col("ka"), col("kb"), col("ta"),
        col("tb"), col("rr"), col("ln_rr_low"), col("ln_rr_high"),
        (col("ln_rr_low") > 0.0 || col("ln_rr_high") < 0.0)
          .as("significant"))
      .orderBy("event_type")
  }

  /** max_by/min_by (arg-max aggregation) surface — the "who is the
    * top/bottom entity per group" contract every leaderboard compiles
    * to, via the ONE-expression aggregate instead of the rank-window
    * detour (q_win_topk_group). Determinism: Spark leaves max_by ties
    * unspecified, so the arg-max runs on the lexicographic struct
    * (tot_cents, user_id) — max()/min() over a struct compares
    * field-by-field in BOTH engines, so the tie-break can never cross
    * a cents boundary at any scale (the round-7 tot_cents·10⁶ +
    * user_id encoding was injective only while user_id < 10⁶ — ADVICE
    * r7 — and would overflow BIGINT on 100 TB cent totals). Totals
    * are exact integer cents (one hash aggregate per (type, user),
    * then the |types|-bounded argmax aggregate). */
  private val aggArgmax: Q = (s, d) => {
    val per = Tables.events(s, d)
      .groupBy("event_type", "user_id")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .as("tot_cents"))
    per.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        max(struct(col("tot_cents"), col("user_id"))).as("mx"),
        min(struct(col("tot_cents"), col("user_id"))).as("mn"))
      .select(col("event_type"), col("n_users"),
        col("mx.user_id").as("top_user"),
        r2(col("mx.tot_cents") / 100.0).as("top_total"),
        col("mn.user_id").as("bottom_user"),
        r2(col("mn.tot_cents") / 100.0).as("bottom_total"))
      .orderBy("event_type")
  }

  /** Wilcoxon signed-rank test on the paired daily (click, view)
    * volumes — the PAIRED-sample member the rank-test family lacked
    * (q_stats_mannwhitney is the unpaired rank-sum; pairing by day
    * removes the day-level variance that swamps an unpaired compare).
    * d_i = clicks_i − views_i per day, zeros dropped (standard),
    * midranks over |d| with exact tie handling: twice-midrank
    * 2·(cum−cnt)+cnt+1 stays an INTEGER (the spearman rank2 trick), so
    * W⁺ = Σ mr2/2 is exact at .5 granularity and the normal-approx z
    * is one closed form on exact integers (no tie-variance correction
    * — documented; ties here are rare and the correction term is
    * second-order). Census-bounded: ranks run on the |distinct |d||
    * frame via the distributed prefix sum, never a global window. */
  private val wilcoxonSigned: Q = (s, d) => {
    val daily = dailyTypeCensus(s, d).select(col("day"),
      col("n_click").as("c"), col("n_view").as("v"))
    val dd = daily.select(col("day"), (col("c") - col("v")).as("dif"))
      .filter(col("dif") =!= 0)
      .withColumn("ad", abs(col("dif")))
    val per = dd.groupBy("ad").agg(count(lit(1)).as("cnt"))
    val ranks = Dist.withPrefixSumsLong(per, Seq("cum" -> col("cnt")),
        Seq(col("ad")))
      .select(col("ad"),
        (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1).as("mr2"))
    dd.join(broadcast(ranks), Seq("ad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dif") > 0, col("mr2")).otherwise(0L)).as("w2"),
        count(when(col("dif") > 0, 1)).as("n_pos"))
      .select(col("n"), col("n_pos"),
        r6(expr("w2 / 2.0")).as("w_plus"),
        r6(expr("(w2 / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0)" +
          " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0)"))
          .as("z_wilcoxon"))
  }

  /** Chapman capture-recapture population estimate — "how many users
    * exist that we have NOT seen?", answered from two overlapping
    * observation channels (clickers and purchasers as the two
    * "captures"): N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The operator the
    * coverage question behind every dedup/completeness audit reduces
    * to — and, in the registry's calibration-harness tradition, it is
    * SELF-AUDITING: the synthetic corpus knows its true user count, so
    * the estimate ships with its own measured error ratio (the
    * independence assumption between channels is exactly what the
    * ratio prices). One per-user hash aggregate (two max flags), one
    * 1-row census, one closed form on exact integers. */
  private val captureRecapture: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("hc"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("hp"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("hc")).as("n1"),
        sum(col("hp")).as("n2"),
        sum(col("hc") * col("hp")).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        r2(expr("(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0"))
          .as("n_hat"),
        r6(expr("((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0)" +
          " / n_true")).as("est_over_true"))
  }

  /** Jarque–Bera normality test per event type — the composite verdict
    * the q_stats_moments profile feeds a test for: JB = n/6·(S² + K²/4)
    * diverges under EITHER asymmetry (S) or wrong tail weight (K), and
    * is the standard pre-flight before trusting t-family machinery.
    * Same exact DECIMAL/HUGEINT cent power-sum census as moments (one
    * map-side-combinable pass — the only data touch); S and K are
    * r6-PINNED before being squared (round-then-replay), and the
    * verdict compares the pinned JB against the χ²₂ 0.95 critical
    * value as a 16-digit literal (the srm round-then-compare
    * discipline). The near-uniform event values carry K ≈ −1.2, so
    * every type rejects — the spec pins the JB identity from the
    * moments key's own S/K outputs. */
  private val jarqueBera: Q = (s, d) => {
    val sums = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS DECIMAL(10,0))").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1d"), sum(expr("c * c")).as("s2d"),
        sum(expr("(c * c) * c")).as("s3d"),
        sum(expr("(c * c) * (c * c)")).as("s4d"))
    sums
      .withColumn("skew_r", r6(expr(s"$mM3 / ($mM2 * sqrt($mM2))")))
      .withColumn("kurt_r", r6(expr(s"$mM4 / ($mM2 * $mM2) - 3.0")))
      .select(col("event_type"), col("n"), col("skew_r"), col("kurt_r"),
        r6(expr("(CAST(n AS DOUBLE) / 6.0) * (skew_r * skew_r" +
          " + kurt_r * kurt_r / 4.0)")).as("jb_r"))
      .withColumn("reject_normal",
        col("jb_r") > lit(5.991464547107979))
      .orderBy("event_type")
  }

  // Daily-count OLS shared fragments (q_stats_dw / q_stats_breusch
  // _pagan): exact long sums assembled into ONE slope / intercept /
  // milli-residual formula text parsed by both engines (the granger
  // gC11 discipline). x is the day index CENTERED at min(day) so the
  // integer moments stay small-magnitude exact.
  private val olsB = "(CAST(n * sxy - sx * sy AS DOUBLE)" +
    " / CAST(n * sxx - sx * sx AS DOUBLE))"
  private val olsA = "((CAST(sy AS DOUBLE) - b_r * sx) / n)"
  private val olsEm = "CAST(floor((CAST(y AS DOUBLE) - (a_r + b_r * x))" +
    " * 1000 + 0.5) AS BIGINT)"

  /** Centered daily-count OLS residual frame (day, x, y, n, b_r, a_r,
    * e_m): y = events per day (|days|-bounded census), x = day −
    * min(day), b/a from exact long moments r6-pinned, e_m = exact
    * milli-scaled residual long — every downstream sum over e_m is
    * integer arithmetic, immune to partition order. */
  private[graft] def dailyOls(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCensus(s, d)
    val xy = daily.crossJoin(broadcast(daily.agg(min("day").as("d0"))))
      .select(col("day"), (col("day") - col("d0")).as("x"),
        col("c").as("y"))
    val g = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("b_r", r6(expr(olsB)))
      .withColumn("a_r", r6(expr(olsA)))
      .select("n", "b_r", "a_r", "sx", "sxx")
    xy.crossJoin(broadcast(g)).withColumn("e_m", expr(olsEm))
  }

  /** Durbin–Watson serial-correlation test on the daily-count OLS
    * residuals — the diagnostic that says whether q_stats_regression-
    * style fits on time-ordered data can be trusted at face value
    * (autocorrelated residuals silently shrink OLS standard errors;
    * DW ≈ 2(1−ρ̂₁), <1 alarming). Consecutive days pair via the
    * autocorr self-join (broadcast-scale, no window); Σ(Δe)² and Σe²
    * accumulate as exact DECIMAL(38,0)/HUGEINT squares of the milli-
    * residual longs, so one division of two exact integers reaches r6.
    * The events series is ~uniform per day ⇒ residuals ≈ white ⇒ DW
    * near 2; the spec pins the DW↔ρ̂₁ identity, not a magic value. */
  /** Driver-side replay of the dailyOls frame on the collected
    * |days|-bounded census (round 9): same exact long moments, same
    * r6-pinned b/a, same exact milli-residual longs — returns the
    * day-ordered (day, x, y, e_m) rows plus (n, b_r). The consumers'
    * census-tail sums (dw's Δe²/e² as BigInt ≙ DECIMAL exactness,
    * breusch_pagan's day-ordered u folds) then run driver-side too. */
  private[graft] def dailyOlsFold(s: SparkSession, d: String)
      : (Array[(Long, Long, Long, Long)], Long, Double) = {
    val rows = dailyCensus(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // empty census → empty fold (consumers emit empty frames — the
    // empty-stays-empty discipline; min on an empty seq would throw)
    if (rows.isEmpty) return (Array.empty, 0L, 0.0)
    val d0 = rows.map(_._1).min
    val xy = rows.map { case (day, c) => (day, day - d0, c) }
    val n = xy.length.toLong
    val sx = xy.map(_._2).sum
    val sy = xy.map(_._3).sum
    val sxx = xy.map(t => t._2 * t._2).sum
    val sxy = xy.map(t => t._2 * t._3).sum
    val bR = graft.Par.r6d((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
    val aR = graft.Par.r6d((sy.toDouble - bR * sx) / n)
    val withE = xy.map { case (day, x, y) =>
      (day, x, y,
        math.floor((y.toDouble - (aR + bR * x)) * 1000 + 0.5).toLong)
    }
    (withE, n, bR)
  }

  private val dw: Q = (s, d) => {
    // whole statistic on the |days|-bounded census → driver fold (the
    // ljung_box pattern; round 9: the self-join + two aggregates + two
    // crossJoins were ~6 jobs for ≤30 rows). BigInt squares replay the
    // DECIMAL(19,0) exactness; one division of two exact integers
    // reaches the same r6. Oracle unchanged.
    val (rows, n, bR) = dailyOlsFold(s, d)
    import s.implicits._
    if (rows.isEmpty)
      Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("n_days", "n_pairs", "b_r", "dw_r", "rho1_r")
    else {
      val byDay = rows.map(r => r._1 -> r._4).toMap
      val pairs = rows.flatMap { case (day, _, _, e1) =>
        byDay.get(day + 1).map(e2 => (e1, e2)) }
      val sdiff = pairs.map { case (e1, e2) =>
        BigInt(e2 - e1) * BigInt(e2 - e1) }.sum
      val ssq = rows.map(r => BigInt(r._4) * BigInt(r._4)).sum
      // zero residual energy (perfectly linear series) → null DW,
      // matching Spark's null-on-zero-divisor rather than IEEE NaN
      val dwR =
        if (ssq == 0) None
        else Some(graft.Par.r6d(sdiff.toDouble / ssq.toDouble))
      Seq((n, pairs.length.toLong, bR, dwR,
        dwR.map(v => graft.Par.r6d(1.0 - v / 2.0))))
        .toDF("n_days", "n_pairs", "b_r", "dw_r", "rho1_r")
    }
  }

  // Breusch–Pagan auxiliary-regression R² from mixed exact/folded sums
  // (ONE formula text, both engines).
  private val bpR2 = "(((n * sxu - sx * su) * (n * sxu - sx * su))" +
    " / (CAST(n * sxx - sx * sx AS DOUBLE) * (n * suu - su * su)))"

  /** Breusch–Pagan heteroscedasticity test on the same daily OLS
    * residuals: aux-regress u = e² on x; LM = n·R²_aux ~ χ²₁ under
    * homoscedasticity. If variance grows along the series, every CI
    * the primary fit reports is wrong — this is the check that catches
    * it. The u-moment sums CANNOT be exact fixed-point at arbitrary
    * scale (u² = e⁴ overflows any 38-digit decimal once daily counts
    * pass ~1e9), so Σu, Σxu, Σuu run as SEQUENTIAL day-ordered folds
    * over the |days|-bounded census (the ljung_box discipline) — u
    * itself is the pinned square of the exact milli-residual. x-only
    * moments stay exact longs. LM assembles in one shared formula text
    * and the verdict compares the r6-pinned LM to the 16-digit χ²₁
    * 0.95 literal. */
  private val breuschPagan: Q = (s, d) => {
    // whole statistic on the |days|-bounded census → driver fold in day
    // order, exactly the order the previous array_sort folds
    // accumulated in; x-moments stay exact longs, u/xu/uu replay the
    // same double expressions, and LM assembles from the same formula.
    // Oracle unchanged.
    val (rows, n, bR) = dailyOlsFold(s, d)
    import s.implicits._
    if (rows.isEmpty)
      Seq.empty[(Long, Double, Double, Boolean)]
        .toDF("n_days", "b_r", "lm_r", "heteroscedastic")
    else {
      val sx = rows.map(_._2).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val (su, sxu, suu) = rows.foldLeft((0.0, 0.0, 0.0)) {
        case ((a, b, c), (_, x, _, em)) =>
          val u = (em.toDouble * em) / 1000000.0
          (a + u, b + x.toDouble * u, c + u * u)
      }
      val num = n * sxu - sx * su
      // zero aux-regression variance (single day / constant u) → null
      // LM per Spark's null-on-zero-divisor, not IEEE NaN
      val den = (n * sxx - sx * sx).toDouble * (n * suu - su * su)
      val lmR =
        if (den == 0.0) None
        else Some(graft.Par.r6d(n.toDouble * ((num * num) / den)))
      Seq((n, bR, lmR, lmR.map(_ > 3.841458820694124)))
        .toDF("n_days", "b_r", "lm_r", "heteroscedastic")
    }
  }

  /** Partial autocorrelation at lags 1–3 of the daily event-count
    * series, via the Durbin–Levinson closed forms over the
    * q_stats_ljung_box ACF machinery — the diagnostic that separates
    * AR(1) decay (PACF cuts off after lag 1) from genuine higher-order
    * structure, i.e. the model-order picker that ACF alone cannot be.
    * φ11 = ρ1; φ22 = (ρ2−ρ1²)/(1−ρ1²); φ33 from the k=3 recursion with
    * the updated a21 coefficient. Every ρ is r6-pinned by the shared
    * lag-spine join census (exact longs until one pinned expression),
    * each φ and the intermediate a21 are r6-pinned in declaration order
    * (round-then-replay), and the 3-row output assembles via stack —
    * bounded everywhere, no window at all. */
  private val pacf: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    // the global moments ride the census rows as windows over the
    // |days|-bounded frame (round 10): exact count/long sums, minus
    // the separate aggregate + crossJoin(broadcast) stages; md is the
    // same one double division
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val lags = s.range(1, 4).select(col("id").as("k"))
    val perk = daily.select(col("day"), col("c").as("x"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("sxx", sum(col("x") * col("x")).over(wAll))
      .crossJoin(broadcast(lags))
      .join(daily.select(col("day").as("dayy"), col("c").as("y")),
        col("dayy") === col("day") + col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sh"), sum(col("y")).as("st"),
        max(col("n")).as("n"), max(col("sx")).as("sx"),
        max(col("sxx")).as("sxx"))
      .withColumn("md", col("sx").cast("double") / col("n"))
      .withColumn("rho_r",
        r6((col("sxy") - col("md") * (col("sh") + col("st"))
          + col("n_pairs") * col("md") * col("md"))
          / (col("sxx") - col("n") * col("md") * col("md"))))
    perk.groupBy().agg(
        max(when(col("k") === 1, col("rho_r"))).as("r1"),
        max(when(col("k") === 2, col("rho_r"))).as("r2v"),
        max(when(col("k") === 3, col("rho_r"))).as("r3"))
      .withColumn("p2_r",
        r6(expr("(r2v - r1 * r1) / (1.0 - r1 * r1)")))
      .withColumn("a21_r", r6(expr("r1 * (1.0 - p2_r)")))
      .withColumn("p3_r", r6(expr(
        "(r3 - a21_r * r2v - p2_r * r1)" +
          " / (1.0 - a21_r * r1 - p2_r * r2v)")))
      .selectExpr("stack(3, 1L, r1, r1, 2L, r2v, p2_r, 3L, r3, p3_r)" +
        " AS (lag, acf_r, pacf_r)")
      .orderBy("lag")
  }

  // Cochran–Armitage trend z from exact long census sums (one shared
  // formula text).
  private val caZ =
    "((CAST(sr AS DOUBLE) - (CAST(rr AS DOUBLE) / nn) * sn)" +
      " / sqrt((CAST(rr AS DOUBLE) / nn)" +
      " * (1.0 - CAST(rr AS DOUBLE) / nn)" +
      " * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn)))"

  /** Cochran–Armitage trend test — does the fulfilled (F) share of
    * orders trend MONOTONICALLY across the ordered priority scores
    * 1..5? χ² independence (q_stats_chisq) treats categories as
    * unordered and throws away the ordering; CA is the test dashboards
    * actually need for dose/severity/priority-graded rates. Shape: one
    * FILTER-style hash aggregate into a 5-cell (score, n_i, r_i)
    * census, then z from exact long sums (Σs·n, Σs²·n, Σs·r all fit
    * long trivially) in ONE pinned formula; verdict against the
    * 17-digit Φ⁻¹(0.975) literal. TPC-H priorities are independent of
    * status by construction ⇒ no_trend — the A/A-style null the spec
    * pins. */
  private val cochranArmitage: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("resp"))
      .groupBy("sc")
      .agg(count(lit(1)).as("ni"), sum("resp").as("ri"))
    per.agg(count(lit(1)).as("n_groups"), sum("ni").as("nn"),
        sum("ri").as("rr"), sum(col("sc") * col("ni")).as("sn"),
        sum(col("sc") * col("sc") * col("ni")).as("ssn"),
        sum(col("sc") * col("ri")).as("sr"))
      .withColumn("z_ca_r", r6(expr(caZ)))
      .select(col("n_groups"), col("nn").as("n_total"),
        col("rr").as("r_total"), col("z_ca_r"),
        when(col("z_ca_r") > 1.9599639845400545, "increasing")
          .when(col("z_ca_r") < -1.9599639845400545, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** Holm step-down FWER correction over the SAME KS test family as
    * q_stats_bh — the conservative sibling: BH controls the false-
    * discovery RATE (some false positives tolerated by design); Holm
    * controls the familywise error (any false positive is a failure),
    * which is what a launch-blocking guardrail metric family needs.
    * Step-down: rank ascending by p, adjusted p = cummax of
    * (m−i+1)·p_(i), capped at 1 — a running MAX from the BEST rank
    * down, where BH runs a min from the worst rank up; having both
    * keys pins the direction difference executably. Runs on the
    * |event types|-row census (global census windows); every term
    * r6-pinned before the cummax (round-then-replay). */
  private val holm: Q = (s, d) => {
    // Holm step-down on the driver-side ranked census: adjusted p =
    // running MAX of the r6-pinned ((m−rank+1)·p) terms from the BEST
    // rank down (prefix max), capped at 1 — the bh fold's mirror, same
    // replay discipline. Oracle unchanged.
    val ranked = ksRanked(s, d)
    val m = ranked.length.toLong
    val terms = ranked.map { case (_, _, pr, rk) => graft.Par.r6d(pr * (m - rk + 1)) }
    val preMax = terms.scanLeft(Double.NegativeInfinity)(math.max).tail
    import s.implicits._
    ranked.toSeq.zip(preMax).map { case ((et, _, pr, rk), pm) =>
      val pAdj = math.min(pm, 1.0)
      (et, pr, rk, pAdj, pAdj <= 0.05)
    }.toDF("event_type", "p_r", "rank", "p_adj", "reject")
      .orderBy("rank")
  }

  /** k-anonymity audit of the event stream — the re-identification
    * census a privacy review runs before any user-keyed dataset leaves
    * the pipeline. Quasi-identifier per user = (dominant event type,
    * volume bucket, active-days bucket): the coarse behavioral profile
    * an adversary with side knowledge could match on. k = equivalence-
    * class size; every user in a class with k < 5 is flagged at-risk
    * (the conventional HIPAA-adjacent threshold). Shape: three hash
    * aggregates (user×type census → per-user profile, user×day distinct
    * → active days, QI class census) + one summary row — all map-side
    * combinable, no windows, no driver state; linear at any scale.
    * Dominant type ties break deterministically to the lexicographic
    * min among max-count types (both engines replay the same
    * join-on-max + min rule). */
  /** Per-user quasi-identifier frame (uid, dom_type, nb, db) — one row
    * per user — shared by q_privacy_k_anon and q_privacy_l_diversity so
    * both audits grade the SAME anonymity partition (the ksFamily
    * one-builder rule). */
  private def userQi(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val pu = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    // dominant type in ONE aggregate (round 11): min_by over the
    // struct (-c, event_type) IS "lexicographic min among max-count
    // types" — (user_id, event_type) rows are unique, so the ordering
    // tuple never ties and the argmax is deterministic. Replaces the
    // old max-census + join-on-max + min re-aggregate (one self-join
    // and one shuffle fewer; k_anon 7 → 4, l_diversity 8 → 5 jobs,
    // A/B'd + oracle-checked round 11).
    val dom = pu.groupBy(col("user_id").as("uid"))
      .agg(sum(col("c")).as("n_ev"),
        min_by(col("event_type"),
          struct((-col("c")).as("nc"), col("event_type"))).as("dom_type"))
    val dy = ev.select(col("user_id"),
        expr("(ts_ns div 1000) div 86400000000").as("day"))
      .groupBy("user_id")
      .agg(countDistinct(col("day")).as("n_days"))
    dom.join(dy, col("uid") === dy("user_id"))
      .select(col("uid"), col("dom_type"),
        when(col("n_ev") < 5, "lo").when(col("n_ev") < 20, "mid")
          .otherwise("hi").as("nb"),
        when(col("n_days") < 3, "rare").when(col("n_days") < 10, "regular")
          .otherwise("heavy").as("db"))
  }

  private val kAnon: Q = (s, d) => {
    val cl = userQi(s, d).groupBy("dom_type", "nb", "db")
      .agg(count(lit(1)).as("k"))
    cl.agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_users"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        coalesce(sum(when(col("k") < 5, col("k"))), lit(0L))
          .as("users_at_risk"))
      .withColumn("pct_at_risk_r",
        r6(col("users_at_risk").cast("double") * 100 / col("n_users")))
  }

  // Seeded-Laplace noise from a 48-bit md5 slice: u = (h + 0.5)/2^48 is
  // exactly representable (≤49 mantissa bits) and never exactly 0.5, so
  // sign/ln are total; ONE shared formula text for the inverse-CDF
  // (engines differ only in the hex→int primitive: conv vs 0x-cast).
  private val lapNoise = "-(CAST(n_types AS DOUBLE) / 1.0) * sign(u - 0.5)" +
    " * ln(1.0 - 2.0 * abs(u - 0.5))"

  /** Differentially-private release of the per-type distinct-user
    * histogram — the mechanism a pipeline uses to publish usage stats
    * about user-keyed data without exposing any individual. Laplace
    * mechanism with REAL sensitivity accounting: one user can appear in
    * at most |event types| cells of the distinct-user histogram, so the
    * L1 sensitivity Δ = n_types (derived from the data, emitted as a
    * column) and the noise scale is b = Δ/ε at ε = 1.0. The noise is
    * SEEDED — u from a 48-bit slice of md5("dp-v1:" + cell key) through
    * the Laplace inverse CDF — so both engines replay the identical
    * release (real DP would draw fresh randomness; the deterministic
    * seed is what makes the mechanism oracle-checkable, and the spec
    * replays the exact inverse-CDF from the seed in plain JVM code).
    * noise_r is r6-PINNED before the released value adds it
    * (round-then-replay). One exact distinct aggregate + a 1-row
    * broadcast — linear, no windows. */
  private val dpCount: Q = (s, d) => {
    val per = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_true"))
    val nt = per.agg(count(lit(1)).as("n_types"))
    per.crossJoin(broadcast(nt))
      .withColumn("u",
        (expr("CAST(conv(substring(md5(concat('dp-v1:', event_type))," +
          " 1, 12), 16, 10) AS BIGINT)").cast("double") + 0.5)
          / lit(281474976710656.0))
      .withColumn("noise_r", r6(expr(lapNoise)))
      .select(col("event_type"), col("n_true"),
        lit(1.0).as("epsilon"), col("n_types").as("sensitivity"),
        col("noise_r"),
        r6(col("n_true") + col("noise_r")).as("n_dp_r"))
      .orderBy("event_type")
  }

  /** l-diversity audit over the SAME QI partition as q_privacy_k_anon —
    * the homogeneity-attack check k-anonymity alone misses: a class can
    * be large (k fine) yet uniform in its sensitive attribute, so
    * membership alone discloses it. Sensitive attribute = the user's
    * spend band, bucketed on EXACT integer comparisons (Σcents < bound·n
    * — no float mean ever materializes, so the band can't flip with
    * partition order). l = distinct sensitive values per class; classes
    * with l = 1 expose every member. Same three-hash-agg shape as k_anon
    * plus one sensitive census — linear, windowless. */
  private val lDiversity: Q = (s, d) => {
    val sens = Tables.events(s, d)
      .groupBy(col("user_id").as("su"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sc"))
      .select(col("su"),
        when(col("sc") < lit(2500L) * col("n"), "v0")
          .when(col("sc") < lit(5000L) * col("n"), "v1")
          .when(col("sc") < lit(10000L) * col("n"), "v2")
          .otherwise("v3").as("sens"))
    val cl = userQi(s, d).join(sens, col("uid") === col("su"))
      .groupBy("dom_type", "nb", "db")
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    cl.agg(count(lit(1)).as("n_classes"), min(col("l")).as("l_min"),
        max(col("l")).as("l_max"),
        coalesce(sum(when(col("l") === 1, lit(1L))), lit(0L))
          .as("n_classes_l1"),
        coalesce(sum(when(col("l") === 1, col("k"))), lit(0L))
          .as("users_exposed"), sum(col("k")).as("n_users"))
      .withColumn("pct_exposed_r",
        r6(col("users_exposed").cast("double") * 100 / col("n_users")))
      .select("n_classes", "l_min", "l_max", "n_classes_l1",
        "users_exposed", "n_users", "pct_exposed_r")
  }

  /** Leakage-free (out-of-fold) target encoding of customer market
    * segment against order value — THE categorical-feature trick every
    * tabular training pipeline uses, and the one that silently leaks the
    * label if computed naively: encoding a row with a mean that includes
    * the row's own target hands the model the answer. Folds are the md5
    * hash-Bernoulli primitive (first hex digit mod 5); each (segment,
    * fold) cell gets the mean of all OTHER folds via the closed form
    * (S_seg − S_fold)/(n_seg − n_fold) on exact cent sums, plus an
    * m-estimate smoothed variant (m = 20) shrunk toward the r6-PINNED
    * global prior (round-then-replay). Shape: one FK join + one 25-cell
    * hash census; every encode value derives on the bounded frame —
    * linear at any scale, one shuffle. */
  private val targetEncode: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 1)," +
          " 16, 10) AS BIGINT) % 5").as("fold"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("c_mktsegment", "fold")
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
    // the segment marginals and prior derive exactly from the
    // |segments|×|folds|-bounded census — driver fold (round 9: the
    // marginal aggregate, prior aggregate, join and crossJoin were ~4
    // jobs for 25 cells). Exact longs; same r6 pins. Oracle unchanged.
    val cs = cells.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val segN = cs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val segS = cs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val prior = graft.Par.r6d(segS.values.sum.toDouble / (segN.values.sum * 100.0))
    import s.implicits._
    cs.toSeq.sortBy(c => (c._1, c._2)).map { case (sg, fold, nf, sf) =>
      val (n, sv) = (segN(sg), segS(sg))
      // a segment entirely inside one fold has no out-of-fold rows →
      // null encoding per Spark's null-on-zero-divisor (the smoothed
      // divisor carries +20 and can never be zero)
      val enc =
        if (n == nf) None
        else Some(graft.Par.r6d((sv - sf).toDouble / ((n - nf) * 100.0)))
      (sg, fold, n - nf, enc, prior,
        graft.Par.r6d(((sv - sf).toDouble / 100.0 + 20.0 * prior)
          / ((n - nf) + 20.0)))
    }.toDF("c_mktsegment", "fold", "n_out", "enc_r", "prior_r",
        "enc_smooth_r")
      .orderBy("c_mktsegment", "fold")
  }

  /** Weight-of-Evidence / Information-Value screening of market segment
    * against order fulfillment — the scorecard-standard "is this
    * categorical feature worth encoding at all" gate that precedes
    * q_ml_target_encode. WoE_i = ln((good_i/G)/(bad_i/B)) per level,
    * IV = Σ(good_i/G − bad_i/B)·WoE_i with the conventional reading
    * (<0.02 useless, <0.1 weak, <0.3 medium, else strong). Counts are
    * exact longs from one FK join + one 5-cell census; each WoE and IV
    * term is r6-PINNED before use, and the 5-term IV total accumulates
    * through a segment-ordered fold (the ljung_box discipline) so the
    * double sum cannot depend on partition order. TPC-H generates
    * status independent of segment, so the expected verdict is
    * "useless" — the negative control the spec pins. */
  private val woeIv: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("n_good"),
        sum(when(col("o_orderstatus") === "F", 0L).otherwise(1L))
          .as("n_bad"))
    // WoE/IV reduce over the |segments|-bounded census — driver fold
    // in segment order, exactly the order the previous array_sort fold
    // accumulated in (round 9: the tot/ivTot aggregates + two
    // crossJoins were ~4 jobs for 5 rows). Exact longs; same r6 pins.
    val cs = cells.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val g = cs.map(_._2).sum
    val b = cs.map(_._3).sum
    // a zero good/bad count makes the WoE log-of-zero (or its divisor
    // zero): Spark's log/divide return NULL there, and the null rides
    // the fold into a null IV total — replicated with Options; the
    // verdict's when-chain treats a null IV as no-match → "strong",
    // exactly as the old otherwise() branch did
    val terms = cs.map { case (sg, ng, nb) =>
      val woe =
        if (g == 0L || b == 0L || nb == 0L || ng == 0L) None
        else Some(graft.Par.r6d(
          math.log((ng.toDouble / g) / (nb.toDouble / b))))
      (sg, ng, nb, woe, woe.map(w =>
        graft.Par.r6d((ng.toDouble / g - nb.toDouble / b) * w)))
    }
    val ivTotal = terms.foldLeft(Option(0.0)) { case (acc, t) =>
      for (a <- acc; v <- t._5) yield a + v }.map(graft.Par.r6d)
    val verdict = ivTotal match {
      case Some(v) if v < 0.02 => "useless"
      case Some(v) if v < 0.1  => "weak"
      case Some(v) if v < 0.3  => "medium"
      case _                   => "strong"
    }
    import s.implicits._
    terms.toSeq.map { case (sg, ng, nb, woe, ivt) =>
      (sg, ng, nb, woe, ivt, ivTotal, verdict) }
      .toDF("c_mktsegment", "n_good", "n_bad", "woe_r", "iv_term_r",
        "iv_total_r", "verdict")
      .orderBy("c_mktsegment")
  }

  /** Pettitt change-point test on the daily event-count series — the
    * rank-based "WHEN did the level shift" answer to the question
    * q_stats_cusum only monitors (CUSUM needs a reference mean;
    * Pettitt is distribution-free and finds the split itself). Via the
    * Mann-Whitney identity U_t = 2·R_t − t(n+1): the wilcoxon
    * twice-midrank census keeps every rank an exact long, R_t is a
    * running sum over the PINNED |days|-bounded census (global windows
    * over a LocalRelation, whose row count Catalyst knows, so there is
    * nothing to distribute), and K = max|U_t| and the argmax day are exact
    * integer decisions — the ONLY float is the final approximate
    * p = 2exp(−6K²/(n³+n²)), r6-pinned and compared to 0.05. Ties
    * broken to the earliest day. The synthetic events stream is
    * level-stationary by construction, so the spec pins the no-change
    * verdict (A/A null). */
  private val pettitt: Q = (s, d) => {
    val daily = dailyCensus(s, d)
    val wrun = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = daily.groupBy("c").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wrun))
      .select(col("c"),
        (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1).as("mr2"))
    val wday = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.join(broadcast(ranks), Seq("c"))
      .select(col("day"), col("mr2"))
      .withColumn("t2", sum(col("mr2")).over(wday))
      .withColumn("t", count(lit(1)).over(wday))
    // n_days and the max-|U| statistic as windows over the
    // |days|-bounded frame (round 10): each crossJoin(broadcast(agg))
    // paid a broadcast QueryStage job and re-read the census
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val u = cum
      .withColumn("n_days", count(lit(1)).over(wAll))
      .filter(col("t") < col("n_days"))
      .withColumn("u", col("t2") - col("t") * (col("n_days") + lit(1L)))
    u.withColumn("k_stat", max(abs(col("u"))).over(wAll))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy("n_days", "k_stat")
      .agg(min(col("day")).as("change_day"))
      .withColumn("p_r", r6(expr(
        "least(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE) * k_stat" +
          " / (CAST(n_days AS DOUBLE) * n_days * n_days" +
          " + CAST(n_days AS DOUBLE) * n_days)), CAST(1.0 AS DOUBLE))")))
      .select(col("n_days"), col("k_stat"), col("change_day"),
        col("p_r"), (col("p_r") < 0.05).as("change_detected"))
  }

  // Leverage and Cook's distance from exact long moments (ONE formula
  // text each): h = 1/n + (nx − Σx)²/(n(nΣx² − (Σx)²)) is exact
  // rational arithmetic until the one double division; Cook's D uses
  // the PINNED h and s² (round-then-replay).
  private val hExpr = "1.0 / n + CAST((n * x - sx) AS DOUBLE)" +
    " * (n * x - sx) / (CAST(n AS DOUBLE) * (n * sxx - sx * sx))"
  private val cookExpr = "((CAST(e_m AS DOUBLE) * e_m) / 1000000.0)" +
    " / (2.0 * s2_r) * h_r / ((1.0 - h_r) * (1.0 - h_r))"

  /** Cook's distance + leverage per day of the SAME daily-count OLS
    * fit as q_stats_dw / q_stats_breusch_pagan — the influence
    * diagnostic that closes the regression-diagnostics family: DW asks
    * "are the residuals serially dependent", BP asks "does their
    * variance drift", Cook's asks "which single days own the fit"
    * (endpoints of a time index carry the leverage, so a bad first/last
    * day silently tilts the slope). All moments are exact longs from
    * the shared dailyOls frame; h is one pinned division of exact
    * integers, s² one pinned division of the exact HUGEINT residual
    * square sum, and D replays from the two pinned values. Flag at the
    * conventional D > 4/n. |days|-bounded census — windowless,
    * linear. */
  private val cooksDistance: Q = (s, d) => {
    val r = dailyOls(s, d)
    // the residual square sum as a window over the |days|-bounded OLS
    // frame (round 10) — same exact DECIMAL sum, minus the broadcast
    // QueryStage job and the second census read
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    r.withColumn("ssqd", sum(expr("CAST(e_m AS DECIMAL(19,0))" +
        " * CAST(e_m AS DECIMAL(19,0))")).over(wAll))
      .withColumn("s2_r",
        r6(expr("CAST(ssqd AS DOUBLE) / 1000000.0 / (n - 2)")))
      .withColumn("h_r", r6(expr(hExpr)))
      .withColumn("cook_r", r6(expr(cookExpr)))
      .select(col("day"), col("x"), col("e_m"), col("h_r"),
        col("cook_r"),
        (col("cook_r") > lit(4.0) / col("n")).as("influential"))
      .orderBy("day")
  }

  /** Difference-in-differences estimate on the event stream — the
    * quasi-experimental workhorse CUPED does not cover: CUPED shrinks
    * variance inside a randomized A/B; DiD measures a treatment effect
    * when assignment is NOT randomized, by differencing out both the
    * group gap and the common time trend. Same arm (user_id % 2) and
    * pre/post split (day 15) as q_stats_cuped so the two designs read
    * the same experiment. One 4-cell census (count, Σcents exact long,
    * Σcents² exact DECIMAL/HUGEINT); each cell mean and variance
    * contribution is r6-PINNED, DiD/SE/t replay from the pinned values
    * (round-then-replay); |t| against the 17-digit Φ⁻¹(0.975) literal.
    * Arms are synthetic and the stream is level-stationary, so the
    * A/A expectation is no effect — the null the spec pins. */
  private val did: Q = (s, d) => {
    val minDay = Tables.events(s, d)
      .agg(min(expr("(ts_ns div 1000) div 86400000000")).as("d0"))
    val cells = Tables.events(s, d).crossJoin(broadcast(minDay))
      .select(expr("user_id % 2").as("arm"),
        expr("CAST((ts_ns div 1000) div 86400000000 - d0 >= 15 AS INT)")
          .as("post"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("arm", "post")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(expr("CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))"))
          .as("scc"))
      .withColumn("mean_r", r6(expr("CAST(sc AS DOUBLE) / n / 100.0")))
      .withColumn("se2_r", r6(expr(
        "((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n)" +
          " / (n - 1)) / n / 10000.0")))
    def cell(a: Int, p: Int, c: String) =
      max(when(col("arm") === a && col("post") === p, col(c)))
    cells.agg(
        sum(col("n")).as("n_events"),
        cell(0, 0, "mean_r").as("mean_c_pre"),
        cell(0, 1, "mean_r").as("mean_c_post"),
        cell(1, 0, "mean_r").as("mean_t_pre"),
        cell(1, 1, "mean_r").as("mean_t_post"),
        (cell(0, 0, "se2_r") + cell(0, 1, "se2_r")
          + cell(1, 0, "se2_r") + cell(1, 1, "se2_r")).as("se2_sum"))
      .withColumn("did_r", r6(expr(
        "(mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)")))
      .withColumn("se_r", r6(expr("sqrt(se2_sum)")))
      .withColumn("t_r", r6(expr("did_r / se_r")))
      .select(col("n_events"), col("mean_c_pre"), col("mean_c_post"),
        col("mean_t_pre"), col("mean_t_post"), col("did_r"),
        col("se_r"), col("t_r"),
        (abs(col("t_r")) > 1.9599639845400545).as("significant"))
  }

  /** Differentially-private median of the event value via the
    * EXPONENTIAL mechanism — the second DP primitive a release
    * pipeline needs (q_privacy_dp_count's Laplace noise works for
    * counts; quantiles need utility-weighted selection over a bounded
    * candidate set). Candidates = dollar buckets (|domain|-bounded
    * census); utility u(b) = −|rank(b) − N/2| with sensitivity 1,
    * kept EXACT as the twice-utility long −|2·cum − N|; selection is
    * the Gumbel-max trick (argmax of ε·u/2 + Gumbel ≡ sampling
    * ∝ exp(ε·u/2)), with the Gumbel seeded from a 48-bit md5 slice per
    * bucket so both engines replay the identical draw (real DP would
    * draw fresh — the seed is what makes the mechanism
    * oracle-checkable; the spec replays the inverse CDF in plain JVM
    * code). Ties → lowest bucket on the r6-PINNED score. The census
    * prefix sum rides Dist — windowless, linear. */
  private val dpQuantile: Q = (s, d) => {
    // checkpoint the |domain|-bounded bucket census (~400 rows): nDf
    // and the prefix pass would otherwise each re-expand the lineage
    // and re-scan events (round 9: this key was 20 jobs, 3 event scans)
    val per = Tables.events(s, d)
      .groupBy(expr("CAST(floor(value) AS BIGINT)").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // n_events / n_buckets are the prefix pass's own grand totals
    // (round 10, Dist.withPrefixSumsLongTotals; Σ1 = the census row
    // count) — the old per.agg + crossJoin(broadcast) paid one more
    // census pass and a broadcast QueryStage job
    val (cum, dpqTots) = Dist.withPrefixSumsLongTotals(per,
      Seq("cum" -> col("cnt"), "ones" -> lit(1L)), Seq(col("b")))
    val scored = cum
      .withColumn("n_events", lit(dpqTots("cum")))
      .withColumn("n_buckets", lit(dpqTots("ones")))
      .withColumn("u2", -abs(lit(2L) * col("cum") - col("n_events")))
      .withColumn("ug",
        (expr("CAST(conv(substring(md5(concat('dpq-v1:'," +
          " CAST(b AS STRING))), 1, 12), 16, 10) AS BIGINT)")
          .cast("double") + 0.5) / lit(281474976710656.0))
      .withColumn("g_r", r6(expr("-ln(-ln(ug))")))
      .withColumn("score_r",
        r6(expr("CAST(u2 AS DOUBLE) / 4.0 + g_r")))
      // scored is referenced 3× (mx, trueMed, final) — pin the bounded
      // census once so each reference reads ~400 rows instead of
      // re-expanding the prefix-sum + broadcast lineage
      .localCheckpoint()
    // both selections in ONE aggregate over the pinned census:
    // lexicographic max(struct(score_r, -b)) = "max pinned score, ties
    // -> lowest bucket" (the argmax discipline), and the true median is
    // a conditional min — the previous max/filter/crossJoin form paid a
    // broadcast job and a census re-read per reference
    scored.agg(max(col("n_events")).as("n_events"),
        max(col("n_buckets")).as("n_buckets"),
        max(struct(col("score_r"), (-col("b")).as("negb"))).as("w"),
        min(when(lit(2L) * col("cum") >= col("n_events"), col("b")))
          .as("true_med_b"))
      .select(col("n_events"), col("n_buckets"), lit(1.0).as("epsilon"),
        col("true_med_b"), (-col("w.negb")).as("dp_med_b"),
        abs(-col("w.negb") - col("true_med_b")).as("err_buckets"))
  }

  // mSPRT log-likelihood ratio under the N(0, τ²) mixture with τ² =
  // σ² — ONE formula text from the pinned δ̂ and σ².
  private val msprtLlr = "0.5 * ln(2.0 * sigma2_r" +
    " / (2.0 * sigma2_r + n_eff * sigma2_r))" +
    " + (CAST(n_eff AS DOUBLE) * n_eff * delta_r * delta_r * sigma2_r)" +
    " / (4.0 * sigma2_r * (2.0 * sigma2_r + n_eff * sigma2_r))"

  /** Always-valid sequential A/B test (mSPRT, Johari et al.) on the
    * daily arm means — the peeking-safe inference q_stats_prop_test /
    * q_stats_cuped cannot give: their p-values are only valid at ONE
    * pre-registered look, while the mixture-SPRT p is valid at EVERY
    * day boundary, which is how dashboards are actually read. Per-day
    * (arm × day) cents census, PINNED to a LocalRelation, then
    * day-ordered exact prefix sums and the micros-quantized running
    * maximum as global windows over the bounded census (the pinned
    * LocalRelation bounds them — exact long decisions, never a float cummax); δ̂ and the pooled σ²
    * are pinned divisions of exact integers and the per-day log-LR
    * replays from them in one shared formula text. Synthetic arms
    * (user_id % 2) on a stationary stream: the A/A spec pins that no
    * day ever rejects. */
  private val msprt: Q = (s, d) => {
    val perDay = pinDays(s, Tables.events(s, d)
      .select(expr("(ts_ns div 1000) div 86400000000").as("day"),
        expr("user_id % 2").as("arm"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("sb")))
    val wday = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perDay
      .withColumn("cna", sum(col("na")).over(wday))
      .withColumn("csa", sum(col("sa")).over(wday))
      .withColumn("cnb", sum(col("nb")).over(wday))
      .withColumn("csb", sum(col("sb")).over(wday))
    val sig = Tables.events(s, d)
      .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
      .agg(count(lit(1)).as("nn"), sum(col("c")).as("ss"),
        sum(expr("CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))"))
          .as("sss"))
      .select(r6(expr("(CAST(sss AS DOUBLE)" +
        " - CAST(ss AS DOUBLE) * ss / nn) / (nn - 1)")).as("sigma2_r"))
    val llr = cum.crossJoin(broadcast(sig))
      .withColumn("n_eff", least(col("cna"), col("cnb")))
      .withColumn("delta_r", r6(expr(
        "CAST(csa AS DOUBLE) / cna - CAST(csb AS DOUBLE) / cnb")))
      .withColumn("llr_r", r6(expr(msprtLlr)))
      .withColumn("llr_m",
        expr("CAST(floor(llr_r * 1000000 + 0.5) AS BIGINT)"))
    llr
      .withColumn("llr_max_m", max(col("llr_m")).over(
        Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("p_always_r", r6(least(lit(1.0),
        exp(-col("llr_max_m").cast("double") / 1000000.0))))
      .select(col("day"), col("n_eff"), col("delta_r"), col("llr_r"),
        col("p_always_r"),
        (col("p_always_r") < 0.05).as("significant"))
      .orderBy("day")
  }

  // Laplace noise at the CLIP sensitivity (Δ = 10000 cents), seeded
  // from one md5 slice — one shared inverse-CDF text.
  private val dpSumNoise = "-(10000.0 / 1.0) * sign(u - 0.5)" +
    " * ln(1.0 - 2.0 * abs(u - 0.5))"

  /** Differentially-private TOTAL (purchase revenue) — the third DP
    * primitive, and the one practitioners get wrong: a sum has
    * UNBOUNDED sensitivity until each user's contribution is clipped,
    * so the mechanism is clip-then-noise — per-user cents are capped
    * at C = 10000 (Δ = C exactly: removing one user moves the clipped
    * sum by at most C), and Laplace(C/ε) noise is added at ε = 1. The
    * clip is PRICED, not hidden: n_clipped and the clipped-away mass
    * are emitted, because the bias they represent is part of the
    * release's error budget just like the noise. Seeded draw (one md5
    * slice) so both engines replay; spec replays the inverse CDF in
    * plain JVM code. One per-user hash aggregate + a 1-row census. */
  private val dpSum: Q = (s, d) => {
    val per = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .as("cents"))
    per.agg(count(lit(1)).as("n_users"),
        sum(least(col("cents"), lit(10000L))).as("sum_true_cents"),
        sum(when(col("cents") > 10000L, 1L).otherwise(0L))
          .as("n_clipped"),
        sum(when(col("cents") > 10000L, col("cents") - 10000L)
          .otherwise(0L)).as("clipped_away_cents"))
      .withColumn("u",
        (expr("CAST(conv(substring(md5('dps-v1'), 1, 12), 16, 10)" +
          " AS BIGINT)").cast("double") + 0.5) / lit(281474976710656.0))
      .withColumn("noise_r", r6(expr(dpSumNoise)))
      .select(col("n_users"), lit(10000L).as("clip_cents"),
        lit(1.0).as("epsilon"), col("sum_true_cents"),
        col("n_clipped"), col("clipped_away_cents"), col("noise_r"),
        r6(col("sum_true_cents") + col("noise_r")).as("sum_dp_r"))
  }

  /** Fisher's method over the SAME KS test family as q_stats_bh /
    * q_stats_holm — the GLOBAL "is anything non-null at all" answer
    * that completes the multiple-testing trio (BH prices the
    * false-discovery rate, Holm the familywise error, Fisher combines
    * the whole family into one χ²_{2m} statistic: X² = −2Σln p). Each
    * −2ln p term is r6-PINNED, the sum runs as a type-ordered fold
    * (ljung_box discipline), and the verdict compares against the
    * χ²_{2m} 0.95 critical value selected by a CASE over m = 2..8 as
    * 17-digit literals (m is data-derived; outside that band the
    * verdict is NULL and the oracle compare fails loudly — the
    * markovStationary in-plan-assertion rule). A/A family ⇒ the
    * combined test stays null. */
  private val fisherCombine: Q = (s, d) => {
    val tests = ksFamily(s, d)
      .withColumn("t_r", r6(lit(-2.0) * log(col("p_r"))))
    tests.agg(count(lit(1)).as("n_tests"),
        expr("aggregate(transform(array_sort(collect_list(" +
          "struct(event_type, t_r))), x -> x.t_r)," +
          " 0D, (acc, v) -> acc + v)").as("x2raw"))
      .withColumn("x2_r", r6(col("x2raw")))
      .withColumn("crit", expr(
        """CAST(CASE n_tests WHEN 2 THEN 9.487729036781154e0
             WHEN 3 THEN 12.591587243743977e0
             WHEN 4 THEN 15.50731305586545e0
             WHEN 5 THEN 18.307038053275146e0
             WHEN 6 THEN 21.02606981748307e0
             WHEN 7 THEN 23.684791304840576e0
             WHEN 8 THEN 26.29622760486423e0 END AS DOUBLE)"""))
      .select(col("n_tests"), (lit(2L) * col("n_tests")).as("df"),
        col("x2_r"), col("crit").as("chi2_crit_95"),
        (col("x2_r") > col("crit")).as("reject_global_null"))
  }

  // (psi is defined above the map — object vals initialize in
  // declaration order, so a forward reference here would be null)

  /** Shared STL CTE chain (daily census → trend → seasonal) — the
    * oracle-side twin of stlFrame, so q_stats_decompose and
    * q_stats_anomaly_stl replay ONE decomposition text (the ivfCtes
    * rule: a shared Spark builder gets a shared oracle fragment). */
  private val stlCtes: String =
    """daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         tr AS (SELECT day, c,
                 floor(avg(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                   AND 3 FOLLOWING) * 1000000 + 0.5) / 1000000.0 AS trend
                FROM daily),
         se AS (SELECT day, c, trend,
                 floor(avg(c - trend) OVER (PARTITION BY day % 7)
                   * 1000000 + 0.5) / 1000000.0 AS seasonal
                FROM tr)"""

  /** Oracle-side twin of ksFamily (ends in `tests` = event_type, d_r,
    * p_r) — shared by q_stats_bh and q_stats_holm so both corrections
    * replay ONE family text (the stlCtes rule). */
  private val ksFamilyCtes =
    s"""ev AS (
           SELECT event_type AS t,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                  (strpos('0123456789abcdef',
                     substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
                    % 2 AS arm
           FROM events),
         per AS (SELECT t, v,
                        count(*) FILTER (arm = 0) AS a,
                        count(*) FILTER (arm = 1) AS b
                 FROM ev GROUP BY t, v),
         nn AS (SELECT t,
                       count(*) FILTER (arm = 0) AS na,
                       count(*) FILTER (arm = 1) AS nb
                FROM ev GROUP BY t),
         c AS (SELECT t, v,
                      sum(a) OVER (PARTITION BY t ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS ca,
                      sum(b) OVER (PARTITION BY t ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cb
               FROM per),
         dmax AS (SELECT c.t AS t, na, nb,
                         max(abs(CAST(ca AS DOUBLE) / na
                                 - CAST(cb AS DOUBLE) / nb)) AS dstat
                  FROM c JOIN nn ON c.t = nn.t GROUP BY c.t, na, nb),
         tests AS (SELECT t AS event_type,
                          ${rsql("dstat", 1000000)} AS d_r,
                          least(${rsql("2.0 * exp(-2.0 * dstat * dstat * " +
                            "CAST(na * nb AS DOUBLE) / (na + nb))",
                            1000000)}, CAST(1.0 AS DOUBLE)) AS p_r
                   FROM dmax)"""

  /** Oracle-side twin of dailyOls (ends in `res` = day, x, y, n, b_r,
    * a_r, e_m) — shared by q_stats_dw and q_stats_breusch_pagan. */
  private val olsCtes =
    s"""daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         xy AS (SELECT day, day - (SELECT min(day) FROM daily) AS x,
                       c AS y
                FROM daily),
         g0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(x * y) AS BIGINT) AS sxy
                FROM xy),
         g1 AS (SELECT n, sx, sy, sxx, ${rsql(olsB, 1000000)} AS b_r
                FROM g0),
         g2 AS (SELECT n, b_r, sx, sxx, ${rsql(olsA, 1000000)} AS a_r
                FROM g1),
         res AS (SELECT day, x, y, n, b_r, a_r, sx, sxx, $olsEm AS e_m
                 FROM xy CROSS JOIN g2)"""

  /** Shared centered-moment fragments for the granger oracle (same
    * text as the Spark expressions modulo nothing — both engines parse
    * the identical string). */
  private val gC11 = "(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)"
  private val gC12 = "(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)"
  private val gC22 = "(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)"
  private val gC1y = "(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n)"
  private val gC2y = "(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n)"
  private val gCyy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
  private val gDet = s"($gC11 * $gC22 - $gC12 * $gC12)"
  private val gB1 = s"(($gC1y * $gC22 - $gC2y * $gC12) / $gDet)"
  private val gB2 = s"(($gC2y * $gC11 - $gC1y * $gC12) / $gDet)"
  private val gSseF = s"($gCyy - $gB1 * $gC1y - $gB2 * $gC2y)"
  private val gSseR = s"($gCyy - $gC1y * $gC1y / $gC11)"

  val declared: Seq[Query] = Seq(
    // clip-then-noise: per-user cents capped at 10000, one seeded
    // Laplace draw (0x-cast here, conv in Spark), clip mass priced
    Query("q_privacy_dp_sum", dpSum,
      s"""WITH per AS (
           SELECT user_id,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                       CAST(sum(least(cents, 10000)) AS BIGINT)
                         AS sum_true_cents,
                       CAST(sum(CASE WHEN cents > 10000 THEN 1
                                ELSE 0 END) AS BIGINT) AS n_clipped,
                       CAST(sum(CASE WHEN cents > 10000
                                THEN cents - 10000 ELSE 0 END)
                         AS BIGINT) AS clipped_away_cents
                FROM per),
         uu AS (SELECT *, (CAST(CAST('0x' ||
                    substring(md5('dps-v1'), 1, 12) AS BIGINT)
                    AS DOUBLE) + 0.5) / 281474976710656.0 AS u
                FROM ag),
         nz AS (SELECT *, ${rsql(dpSumNoise, 1000000)} AS noise_r
                FROM uu)
         SELECT n_users, CAST(10000 AS BIGINT) AS clip_cents,
                CAST(1.0 AS DOUBLE) AS epsilon, sum_true_cents,
                n_clipped, clipped_away_cents, noise_r,
                ${rsql("sum_true_cents + noise_r", 1000000)} AS sum_dp_r
         FROM nz"""),
    // same ksFamily text as bh/holm; pinned −2ln p terms, type-ordered
    // fold, χ² critical by CASE over the data-derived m
    Query("q_stats_fisher_combine", fisherCombine,
      s"""WITH $ksFamilyCtes,
         tm AS (SELECT event_type,
                       ${rsql("-2.0 * ln(p_r)", 1000000)} AS t_r
                FROM tests),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_tests,
                       list_reduce(list(t_r ORDER BY event_type),
                         (a, v) -> a + v) AS x2raw
                FROM tm),
         x2 AS (SELECT n_tests, ${rsql("x2raw", 1000000)} AS x2_r,
                       CAST(CASE n_tests WHEN 2 THEN 9.487729036781154e0
                         WHEN 3 THEN 12.591587243743977e0
                         WHEN 4 THEN 15.50731305586545e0
                         WHEN 5 THEN 18.307038053275146e0
                         WHEN 6 THEN 21.02606981748307e0
                         WHEN 7 THEN 23.684791304840576e0
                         WHEN 8 THEN 26.29622760486423e0 END AS DOUBLE)
                         AS crit
                FROM ag)
         SELECT n_tests, 2 * n_tests AS df, x2_r,
                crit AS chi2_crit_95,
                x2_r > crit AS reject_global_null
         FROM x2""", cap = 4),
    // arm×day census, exact prefix sums, pinned δ̂/σ², shared log-LR
    // text, micros-quantized running max for the monotone p
    Query("q_stats_msprt", msprt,
      s"""WITH per AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
                  CAST(sum(CASE WHEN user_id % 2 = 0
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sa,
                  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
                  CAST(sum(CASE WHEN user_id % 2 = 1
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sb
           FROM events GROUP BY 1),
         cum AS (SELECT day,
                        CAST(sum(na) OVER w AS BIGINT) AS cna,
                        CAST(sum(sa) OVER w AS BIGINT) AS csa,
                        CAST(sum(nb) OVER w AS BIGINT) AS cnb,
                        CAST(sum(sb) OVER w AS BIGINT) AS csb
                 FROM per
                 WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW)),
         sg AS (SELECT ${rsql("(CAST(sss AS DOUBLE)" +
                  " - CAST(ss AS DOUBLE) * ss / nn) / (nn - 1)",
                  1000000)} AS sigma2_r
                FROM (SELECT CAST(count(*) AS BIGINT) AS nn,
                             CAST(sum(CAST(floor(value * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS ss,
                             sum(CAST(CAST(floor(value * 100 + 0.5)
                               AS BIGINT) AS HUGEINT)
                               * CAST(floor(value * 100 + 0.5)
                                 AS BIGINT)) AS sss
                      FROM events)),
         dl AS (SELECT day, least(cna, cnb) AS n_eff,
                       ${rsql("CAST(csa AS DOUBLE) / cna" +
                         " - CAST(csb AS DOUBLE) / cnb", 1000000)}
                         AS delta_r, sigma2_r
                FROM cum CROSS JOIN sg),
         ll AS (SELECT day, n_eff, delta_r,
                       ${rsql(msprtLlr, 1000000)} AS llr_r
                FROM dl),
         lm AS (SELECT day, n_eff, delta_r, llr_r,
                       max(CAST(floor(llr_r * 1000000 + 0.5) AS BIGINT))
                         OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS llr_max_m
                FROM ll),
         pp AS (SELECT day, n_eff, delta_r, llr_r,
                       ${rsql("least(1.0, exp(-CAST(llr_max_m" +
                         " AS DOUBLE) / 1000000.0))", 1000000)}
                         AS p_always_r
                FROM lm)
         SELECT day, n_eff, delta_r, llr_r, p_always_r,
                p_always_r < 0.05 AS significant
         FROM pp ORDER BY day"""),
    // dollar-bucket census, exact twice-utility, seeded Gumbel-max
    // (0x-cast here, conv in Spark), pinned score, ties → lowest bucket
    Query("q_privacy_dp_quantile", dpQuantile,
      s"""WITH per AS (
           SELECT CAST(floor(value) AS BIGINT) AS b,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         cum AS (SELECT b, cnt,
                        CAST(sum(cnt) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                          ROW) AS BIGINT) AS cum
                 FROM per),
         nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_events,
                       CAST(count(*) AS BIGINT) AS n_buckets FROM per),
         sc AS (SELECT b, cum, n_events, n_buckets,
                       -abs(2 * cum - n_events) AS u2,
                       (CAST(CAST('0x' || substring(md5('dpq-v1:' ||
                          CAST(b AS VARCHAR)), 1, 12) AS BIGINT)
                          AS DOUBLE) + 0.5) / 281474976710656.0 AS ug
                FROM cum CROSS JOIN nn),
         g1 AS (SELECT b, cum, n_events, n_buckets, u2,
                       ${rsql("-ln(-ln(ug))", 1000000)} AS g_r
                FROM sc),
         g2 AS (SELECT b, cum, n_events, n_buckets,
                       ${rsql("CAST(u2 AS DOUBLE) / 4.0 + g_r",
                         1000000)} AS score_r
                FROM g1),
         mx AS (SELECT max(score_r) AS best FROM g2),
         tm AS (SELECT min(b) AS true_med_b FROM g2
                WHERE 2 * cum >= n_events),
         dp AS (SELECT n_events, n_buckets, min(b) AS dp_med_b
                FROM g2 CROSS JOIN mx WHERE score_r = best
                GROUP BY 1, 2)
         SELECT n_events, n_buckets, CAST(1.0 AS DOUBLE) AS epsilon,
                true_med_b, dp_med_b,
                abs(dp_med_b - true_med_b) AS err_buckets
         FROM dp CROSS JOIN tm""", cap = 10),
    // 4-cell exact census, pinned cell means/variances, DiD/SE/t
    // replayed from the pinned values
    Query("q_stats_did", did,
      s"""WITH d0 AS (
           SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
         base AS (
           SELECT user_id % 2 AS arm,
                  CASE WHEN epoch_us(ts) // 86400000000 - d0 >= 15
                       THEN 1 ELSE 0 END AS post,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events CROSS JOIN d0),
         cells AS (
           SELECT arm, post, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(c) AS BIGINT) AS sc,
                  sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
           FROM base GROUP BY 1, 2),
         mm AS (SELECT arm, post, n, sc, scc,
                       ${rsql("CAST(sc AS DOUBLE) / n / 100.0",
                         1000000)} AS mean_r,
                       ${rsql("((CAST(scc AS DOUBLE)" +
                         " - CAST(sc AS DOUBLE) * sc / n) / (n - 1))" +
                         " / n / 10000.0", 1000000)} AS se2_r
                FROM cells),
         piv AS (SELECT CAST(sum(n) AS BIGINT) AS n_events,
                        max(CASE WHEN arm = 0 AND post = 0
                            THEN mean_r END) AS mean_c_pre,
                        max(CASE WHEN arm = 0 AND post = 1
                            THEN mean_r END) AS mean_c_post,
                        max(CASE WHEN arm = 1 AND post = 0
                            THEN mean_r END) AS mean_t_pre,
                        max(CASE WHEN arm = 1 AND post = 1
                            THEN mean_r END) AS mean_t_post,
                        max(CASE WHEN arm = 0 AND post = 0
                            THEN se2_r END)
                        + max(CASE WHEN arm = 0 AND post = 1
                              THEN se2_r END)
                        + max(CASE WHEN arm = 1 AND post = 0
                              THEN se2_r END)
                        + max(CASE WHEN arm = 1 AND post = 1
                              THEN se2_r END) AS se2_sum
                 FROM mm),
         dd AS (SELECT *, ${rsql("(mean_t_post - mean_t_pre)" +
                  " - (mean_c_post - mean_c_pre)", 1000000)} AS did_r,
                       ${rsql("sqrt(se2_sum)", 1000000)} AS se_r
                FROM piv),
         tt AS (SELECT *, ${rsql("did_r / se_r", 1000000)} AS t_r
                FROM dd)
         SELECT n_events, mean_c_pre, mean_c_post, mean_t_pre,
                mean_t_post, did_r, se_r, t_r,
                abs(t_r) > 1.9599639845400545 AS significant
         FROM tt"""),
    // shared olsCtes residual frame; h/s² pinned, D replayed from them
    Query("q_stats_cooks_distance", cooksDistance,
      s"""WITH $olsCtes,
         sq AS (SELECT sum(CAST(e_m AS HUGEINT)
                  * CAST(e_m AS HUGEINT)) AS ssqd FROM res),
         s2 AS (SELECT day, x, e_m, n, sx, sxx,
                       ${rsql("CAST(ssqd AS DOUBLE) / 1000000.0" +
                         " / (n - 2)", 1000000)} AS s2_r
                FROM res CROSS JOIN sq),
         hh AS (SELECT day, x, e_m, n, s2_r,
                       ${rsql(hExpr, 1000000)} AS h_r
                FROM s2),
         ck AS (SELECT day, x, e_m, h_r, n,
                       ${rsql(cookExpr, 1000000)} AS cook_r
                FROM hh)
         SELECT day, x, e_m, h_r, cook_r,
                cook_r > 4.0 / n AS influential
         FROM ck ORDER BY day""", cap = 8),
    // twice-midrank census → day-ordered prefix sums → exact U_t; the
    // only float is the final pinned p
    Query("q_stats_pettitt", pettitt,
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         per AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt
                 FROM daily GROUP BY 1),
         rk AS (SELECT c,
                       2 * (CAST(sum(cnt) OVER (ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                         ROW) AS BIGINT) - cnt) + cnt + 1 AS mr2
                FROM per),
         cum AS (SELECT day,
                        CAST(sum(mr2) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                          ROW) AS BIGINT) AS t2,
                        CAST(row_number() OVER (ORDER BY day)
                          AS BIGINT) AS t
                 FROM daily JOIN rk USING (c)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         u AS (SELECT day, n_days, t2 - t * (n_days + 1) AS u
               FROM cum CROSS JOIN nn WHERE t < n_days),
         k AS (SELECT max(abs(u)) AS k_stat FROM u),
         res AS (SELECT n_days, k_stat, min(day) AS change_day
                 FROM u CROSS JOIN k WHERE abs(u) = k_stat
                 GROUP BY 1, 2),
         r2c AS (SELECT n_days, k_stat, change_day,
                        ${rsql("least(2.0 * exp(-6.0" +
                          " * CAST(k_stat AS DOUBLE) * k_stat" +
                          " / (CAST(n_days AS DOUBLE) * n_days * n_days" +
                          " + CAST(n_days AS DOUBLE) * n_days))," +
                          " CAST(1.0 AS DOUBLE))", 1000000)} AS p_r
                 FROM res)
         SELECT n_days, k_stat, change_day, p_r,
                p_r < 0.05 AS change_detected
         FROM r2c""", cap = 7),
    // QI = (dominant type via join-on-max + lexicographic-min tie
    // break, volume bucket, active-days bucket); k census; one summary
    Query("q_privacy_k_anon", kAnon,
      s"""WITH pu AS (
           SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         mx AS (SELECT user_id, max(c) AS mc,
                       CAST(sum(c) AS BIGINT) AS n_ev
                FROM pu GROUP BY 1),
         dom AS (SELECT mx.user_id AS uid, n_ev,
                        min(event_type) AS dom_type
                 FROM pu JOIN mx ON pu.user_id = mx.user_id
                                AND pu.c = mx.mc
                 GROUP BY 1, 2),
         dy AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
                FROM (SELECT DISTINCT user_id,
                             epoch_us(ts) // 86400000000 AS day
                      FROM events) GROUP BY 1),
         qi AS (SELECT dom_type,
                       CASE WHEN n_ev < 5 THEN 'lo'
                            WHEN n_ev < 20 THEN 'mid'
                            ELSE 'hi' END AS nb,
                       CASE WHEN n_days < 3 THEN 'rare'
                            WHEN n_days < 10 THEN 'regular'
                            ELSE 'heavy' END AS db
                FROM dom JOIN dy ON dom.uid = dy.user_id),
         cl AS (SELECT dom_type, nb, db, CAST(count(*) AS BIGINT) AS k
                FROM qi GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_classes,
                CAST(sum(k) AS BIGINT) AS n_users,
                min(k) AS k_min, max(k) AS k_max,
                CAST(coalesce(sum(k) FILTER (k < 5), 0) AS BIGINT)
                  AS users_at_risk,
                ${rsql("CAST(coalesce(sum(k) FILTER (k < 5), 0)" +
                  " AS DOUBLE) * 100 / sum(k)", 1000000)} AS pct_at_risk_r
         FROM cl""", cap = 6),
    // same 48-bit md5 slice (0x-cast here, conv in Spark), same shared
    // lapNoise inverse-CDF text, noise pinned before the release adds it
    Query("q_privacy_dp_count", dpCount,
      s"""WITH per AS (
           SELECT event_type,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
           FROM events GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM per),
         uu AS (SELECT event_type, n_true, n_types,
                       (CAST(CAST('0x' || substring(md5('dp-v1:' ||
                          event_type), 1, 12) AS BIGINT) AS DOUBLE)
                         + 0.5) / 281474976710656.0 AS u
                FROM per CROSS JOIN nt),
         nz AS (SELECT event_type, n_true, n_types,
                       ${rsql(lapNoise, 1000000)} AS noise_r
                FROM uu)
         SELECT event_type, n_true, CAST(1.0 AS DOUBLE) AS epsilon,
                n_types AS sensitivity, noise_r,
                ${rsql("n_true + noise_r", 1000000)} AS n_dp_r
         FROM nz ORDER BY event_type"""),
    // same QI partition as k_anon (shared semantics, replayed text);
    // sensitive band from EXACT Σcents < bound·n integer comparisons
    Query("q_privacy_l_diversity", lDiversity,
      s"""WITH pu AS (
           SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         mx AS (SELECT user_id, max(c) AS mc,
                       CAST(sum(c) AS BIGINT) AS n_ev
                FROM pu GROUP BY 1),
         dom AS (SELECT mx.user_id AS uid, n_ev,
                        min(event_type) AS dom_type
                 FROM pu JOIN mx ON pu.user_id = mx.user_id
                                AND pu.c = mx.mc
                 GROUP BY 1, 2),
         dy AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
                FROM (SELECT DISTINCT user_id,
                             epoch_us(ts) // 86400000000 AS day
                      FROM events) GROUP BY 1),
         qi AS (SELECT uid, dom_type,
                       CASE WHEN n_ev < 5 THEN 'lo'
                            WHEN n_ev < 20 THEN 'mid'
                            ELSE 'hi' END AS nb,
                       CASE WHEN n_days < 3 THEN 'rare'
                            WHEN n_days < 10 THEN 'regular'
                            ELSE 'heavy' END AS db
                FROM dom JOIN dy ON dom.uid = dy.user_id),
         sens AS (SELECT su, CASE WHEN sc < 2500 * n THEN 'v0'
                                  WHEN sc < 5000 * n THEN 'v1'
                                  WHEN sc < 10000 * n THEN 'v2'
                                  ELSE 'v3' END AS sens
                  FROM (SELECT user_id AS su,
                               CAST(count(*) AS BIGINT) AS n,
                               CAST(sum(CAST(floor(value * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS sc
                        FROM events GROUP BY 1)),
         cl AS (SELECT dom_type, nb, db, CAST(count(*) AS BIGINT) AS k,
                       CAST(count(DISTINCT sens) AS BIGINT) AS l
                FROM qi JOIN sens ON qi.uid = sens.su
                GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_classes,
                min(l) AS l_min, max(l) AS l_max,
                CAST(coalesce(sum(CASE WHEN l = 1 THEN 1 END), 0)
                  AS BIGINT) AS n_classes_l1,
                CAST(coalesce(sum(k) FILTER (l = 1), 0) AS BIGINT)
                  AS users_exposed,
                CAST(sum(k) AS BIGINT) AS n_users,
                ${rsql("CAST(coalesce(sum(k) FILTER (l = 1), 0)" +
                  " AS DOUBLE) * 100 / sum(k)", 1000000)} AS pct_exposed_r
         FROM cl""", cap = 7),
    // 5-cell census, pinned WoE/IV terms, segment-ordered IV fold
    Query("q_ml_woe_iv", woeIv,
      s"""WITH cells AS (
           SELECT c_mktsegment,
                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1
                           ELSE 0 END) AS BIGINT) AS n_good,
                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0
                           ELSE 1 END) AS BIGINT) AS n_bad
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
                        CAST(sum(n_bad) AS BIGINT) AS b
                 FROM cells),
         t1 AS (SELECT c_mktsegment, n_good, n_bad,
                       ${rsql("ln((CAST(n_good AS DOUBLE) / g)" +
                         " / (CAST(n_bad AS DOUBLE) / b))", 1000000)}
                         AS woe_r, g, b
                FROM cells CROSS JOIN tot),
         t2 AS (SELECT c_mktsegment, n_good, n_bad, woe_r,
                       ${rsql("(CAST(n_good AS DOUBLE) / g" +
                         " - CAST(n_bad AS DOUBLE) / b) * woe_r",
                         1000000)} AS iv_term_r
                FROM t1),
         iv AS (SELECT ${rsql("list_reduce(list(iv_term_r" +
                  " ORDER BY c_mktsegment), (a, v) -> a + v)", 1000000)}
                  AS iv_total_r
                FROM t2)
         SELECT c_mktsegment, n_good, n_bad, woe_r, iv_term_r,
                iv_total_r,
                CASE WHEN iv_total_r < 0.02 THEN 'useless'
                     WHEN iv_total_r < 0.1 THEN 'weak'
                     WHEN iv_total_r < 0.3 THEN 'medium'
                     ELSE 'strong' END AS verdict
         FROM t2 CROSS JOIN iv ORDER BY c_mktsegment""", cap = 7),
    // md5-digit folds, leave-fold-out closed form on exact cent sums,
    // m-estimate shrink toward the pinned global prior
    Query("q_ml_target_encode", targetEncode,
      s"""WITH cells AS (
           SELECT c_mktsegment,
                  CAST((strpos('0123456789abcdef',
                     substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1))
                     - 1) % 5 AS BIGINT) AS fold,
                  CAST(count(*) AS BIGINT) AS n_f,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS s_f
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         seg AS (SELECT c_mktsegment AS sseg,
                        CAST(sum(n_f) AS BIGINT) AS n,
                        CAST(sum(s_f) AS BIGINT) AS s
                 FROM cells GROUP BY 1),
         pr AS (SELECT ${rsql("CAST(sum(s) AS DOUBLE)" +
                  " / (sum(n) * 100.0)", 1000000)} AS prior_r FROM seg)
         SELECT c_mktsegment, fold, n - n_f AS n_out,
                ${rsql("CAST(s - s_f AS DOUBLE) / ((n - n_f) * 100.0)",
                  1000000)} AS enc_r,
                prior_r,
                ${rsql("(CAST(s - s_f AS DOUBLE) / 100.0" +
                  " + 20.0 * prior_r) / ((n - n_f) + 20.0)", 1000000)}
                  AS enc_smooth_r
         FROM cells JOIN seg ON c_mktsegment = sseg CROSS JOIN pr
         ORDER BY c_mktsegment, fold""", cap = 7),
    // two capture flags per user, exact censuses, Chapman closed form
    // shared text; est_over_true is the self-audit
    Query("q_stats_capture_recapture", captureRecapture,
      s"""WITH per AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS hc,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS hp
           FROM events GROUP BY user_id),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
                      CAST(sum(hc) AS BIGINT) AS n1,
                      CAST(sum(hp) AS BIGINT) AS n2,
                      CAST(sum(hc * hp) AS BIGINT) AS m
               FROM per)
         SELECT n_true, n1, n2, m,
                ${rsql("(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1)" +
                  " - 1.0", 100)} AS n_hat,
                ${rsql("((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1)" +
                  " - 1.0) / n_true", 1000000)} AS est_over_true
         FROM m"""),
    // spearman's integer twice-midrank over the |d| census; W+ and z
    // from exact integers in shared text
    Query("q_stats_wilcoxon", wilcoxonSigned,
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                    AS c,
                  CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
                    AS v
           FROM events GROUP BY 1),
         dd AS (SELECT day, c - v AS dif, abs(c - v) AS ad
                FROM daily WHERE c - v <> 0),
         per AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt
                 FROM dd GROUP BY ad),
         rk AS (SELECT ad,
                       2 * (CAST(sum(cnt) OVER (ORDER BY ad) AS BIGINT)
                            - cnt) + cnt + 1 AS mr2
                FROM per),
         j AS (SELECT dif, mr2 FROM dd JOIN rk USING (ad)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN dif > 0 THEN mr2 ELSE 0 END)
                        AS BIGINT) AS w2,
                      CAST(count(*) FILTER (dif > 0) AS BIGINT) AS n_pos
               FROM j)
         SELECT n, n_pos,
                ${rsql("w2 / 2.0", 1000000)} AS w_plus,
                ${rsql("(w2 / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0)" +
                  " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1)" +
                  " / 24.0)", 1000000)} AS z_wilcoxon
         FROM m""", cap = 7),
    // integer day-of-week, exact event/exposure censuses, shared
    // closed form; significance on the pinned log-scale bounds
    Query("q_stats_rate_ratio", rateRatio,
      s"""WITH ev AS (
           SELECT event_type,
                  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
           FROM events),
         evw AS (SELECT event_type, day,
                        CAST((day + 4) % 7 IN (0, 6) AS INT) AS we
                 FROM ev),
         expo AS (
           SELECT CAST(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ta,
                  CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tb
           FROM (SELECT DISTINCT day, we FROM evw) x),
         g AS (
           SELECT event_type,
                  CAST(count(*) FILTER (we = 1) AS BIGINT) AS ka,
                  CAST(count(*) FILTER (we = 0) AS BIGINT) AS kb
           FROM evw GROUP BY event_type),
         j AS (SELECT * FROM g CROSS JOIN expo),
         f AS (
           SELECT event_type, ka, kb, ta, tb,
                  ${rsql("(CAST(ka AS DOUBLE) / ta)" +
                    " / (CAST(kb AS DOUBLE) / tb)", 1000000)} AS rr,
                  ${rsql("ln((CAST(ka AS DOUBLE) / ta)" +
                    " / (CAST(kb AS DOUBLE) / tb))" +
                    " - CAST(1.9599639845400545 AS DOUBLE)" +
                    " * sqrt(1.0 / ka + 1.0 / kb)", 1000000)}
                    AS ln_rr_low,
                  ${rsql("ln((CAST(ka AS DOUBLE) / ta)" +
                    " / (CAST(kb AS DOUBLE) / tb))" +
                    " + CAST(1.9599639845400545 AS DOUBLE)" +
                    " * sqrt(1.0 / ka + 1.0 / kb)", 1000000)}
                    AS ln_rr_high
           FROM j)
         SELECT event_type, ka, kb, ta, tb, rr, ln_rr_low, ln_rr_high,
                ln_rr_low > 0.0 OR ln_rr_high < 0.0 AS significant
         FROM f ORDER BY event_type"""),
    // injective ordering value makes the arg-max unique in both
    // engines; totals exact integer cents
    Query("q_agg_argmax", aggArgmax,
      """WITH per AS (
           SELECT event_type, user_id,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS tot_cents
           FROM events GROUP BY event_type, user_id)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
                (max({'c': tot_cents, 'u': user_id})).u AS top_user,
                floor((max(tot_cents) / 100.0) * 100 + 0.5) / 100.0
                  AS top_total,
                (min({'c': tot_cents, 'u': user_id})).u AS bottom_user,
                floor((min(tot_cents) / 100.0) * 100 + 0.5) / 100.0
                  AS bottom_total
         FROM per GROUP BY event_type ORDER BY event_type"""),
    // |days|-bounded pair census; every pair class exact, τ-b one
    // shared closed form
    Query("q_stats_kendall_tau", kendallTau,
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                    AS x,
                  CAST(count(*) FILTER (event_type = 'purchase')
                    AS BIGINT) AS y
           FROM events GROUP BY 1),
         pairs AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
                   FROM daily a JOIN daily b ON a.day < b.day),
         ag AS (
           SELECT CAST(count(*) AS BIGINT) AS n0,
                  CAST(count(*) FILTER ((xa - xb) * (ya - yb) > 0)
                    AS BIGINT) AS nc,
                  CAST(count(*) FILTER ((xa - xb) * (ya - yb) < 0)
                    AS BIGINT) AS nd,
                  CAST(count(*) FILTER (xa = xb) AS BIGINT) AS n_tie_x,
                  CAST(count(*) FILTER (ya = yb) AS BIGINT) AS n_tie_y
           FROM pairs)
         SELECT n0, nc, nd, n_tie_x, n_tie_y,
                ${rsql("(nc - nd) / sqrt(CAST(n0 - n_tie_x AS DOUBLE)" +
                  " * (n0 - n_tie_y))", 1000000)} AS tau_b
         FROM ag""", cap = 5),
    // exact HUGEINT power sums (the Spark side's DECIMAL(38,0) twin),
    // then the shared mM1..mM4 closed forms — one formula text
    Query("q_stats_moments", moments,
      s"""WITH c0 AS (
           SELECT event_type,
                  CAST(floor(value * 100 + 0.5) AS HUGEINT) AS c
           FROM events),
         sums AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(c) AS s1d, sum(c * c) AS s2d,
                  sum((c * c) * c) AS s3d,
                  sum((c * c) * (c * c)) AS s4d
           FROM c0 GROUP BY event_type)
         SELECT event_type, n,
                ${rsql(s"$mM1 / 100.0", 1000000)} AS mean_val,
                ${rsql(s"sqrt($mM2) / 100.0", 1000000)} AS sd_val,
                ${rsql(s"$mM3 / ($mM2 * sqrt($mM2))", 1000000)}
                  AS skewness,
                ${rsql(s"$mM4 / ($mM2 * $mM2) - 3.0", 1000000)}
                  AS ex_kurtosis
         FROM sums ORDER BY event_type"""),
    // chisq's marginal-cross-join census, grouped by the constant n so
    // V can derive from the PINNED chi2 (round-then-replay)
    Query("q_stats_cramers_v", cramersV,
      s"""WITH j AS (
           SELECT c_mktsegment AS seg, o_orderpriority AS pri
           FROM orders JOIN customer ON o_custkey = c_custkey),
         obs AS (SELECT seg, pri, count(*) AS obs FROM j GROUP BY seg, pri),
         rt AS (SELECT seg, count(*) AS rt FROM j GROUP BY seg),
         ct AS (SELECT pri, count(*) AS ct FROM j GROUP BY pri),
         n AS (SELECT count(*) AS n FROM j),
         cells AS (
           SELECT rt.seg, ct.pri, rt.rt, ct.ct, n.n,
                  coalesce(obs.obs, 0) AS obs
           FROM rt CROSS JOIN ct CROSS JOIN n
           LEFT JOIN obs ON obs.seg = rt.seg AND obs.pri = ct.pri),
         ag AS (
           SELECT n,
                  ${rsql("list_reduce(list(pow(obs - CAST(rt * ct" +
                    " AS DOUBLE) / n, 2) / (CAST(rt * ct AS DOUBLE) / n)" +
                    " ORDER BY seg, pri), (acc, v) -> acc + v)", 1000000)}
                    AS chi2,
                  least(count(DISTINCT seg), count(DISTINCT pri)) - 1
                    AS min_dim
           FROM cells GROUP BY n)
         SELECT n AS n_obs, chi2, min_dim,
                ${rsql("sqrt(chi2 / (n * min_dim))", 1000000)}
                  AS cramers_v
         FROM ag""", cap = 7),
    // ttest's join+FILTER aggregate chain; margin and both t stats are
    // pinned BEFORE the comparison (srm round-then-compare)
    Query("q_stats_tost", tost,
      s"""WITH j AS (
           SELECT c_mktsegment, o_orderstatus AS st, o_totalprice AS p
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderstatus IN ('F', 'O')),
         g AS (
           SELECT c_mktsegment,
                  count(*) FILTER (st = 'F') AS n_f,
                  count(*) FILTER (st = 'O') AS n_o,
                  avg(p) FILTER (st = 'F') AS m_f,
                  avg(p) FILTER (st = 'O') AS m_o,
                  var_samp(p) FILTER (st = 'F') AS v_f,
                  var_samp(p) FILTER (st = 'O') AS v_o
           FROM j GROUP BY c_mktsegment),
         t AS (
           SELECT c_mktsegment, n_f, n_o, m_f, m_o, v_f, v_o,
                  ${rsql("0.05 * m_o", 1000000)} AS margin
           FROM g),
         t2 AS (
           SELECT c_mktsegment, n_f, n_o, margin,
                  ${rsql("((m_f - m_o) + margin) / " +
                    "sqrt(v_f / n_f + v_o / n_o)", 1000000)} AS t_low,
                  ${rsql("((m_f - m_o) - margin) / " +
                    "sqrt(v_f / n_f + v_o / n_o)", 1000000)} AS t_high
           FROM t)
         SELECT c_mktsegment, n_f, n_o, margin, t_low, t_high,
                t_low > CAST(1.6448536269514722 AS DOUBLE)
                  AND t_high < -CAST(1.6448536269514722 AS DOUBLE)
                  AS equivalent
         FROM t2 ORDER BY c_mktsegment"""),
    // power's parity-arm conversion census + the shared Wilson strings
    Query("q_stats_wilson_ci", wilsonCi,
      s"""WITH conv AS (
           SELECT user_id % 2 AS arm, user_id,
                  max(CASE WHEN event_type = 'purchase'
                    AND value > 150.0 THEN 1 ELSE 0
                    END) AS conv
           FROM events GROUP BY arm, user_id),
         g AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                  CAST(sum(conv) AS BIGINT) AS n_conv
           FROM conv GROUP BY arm)
         SELECT arm, n_users, n_conv,
                ${rsql(wP, 1000000)} AS p_hat,
                ${rsql(s"$wCenter - $wHalf", 1000000)} AS ci_low,
                ${rsql(s"$wCenter + $wHalf", 1000000)} AS ci_high
         FROM g ORDER BY arm"""),
    // top-501 frontier in (cents DESC, key) order, rank-ordered
    // list_reduce ≡ Spark's array_sort fold (0.0 + x == x exactly)
    Query("q_stats_hill_tail", hillTail,
      s"""WITH top AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    AS cents, o_orderkey
           FROM orders ORDER BY cents DESC, o_orderkey LIMIT 501),
         rk AS (
           SELECT cents, ln(CAST(cents AS DOUBLE)) AS lnc,
                  row_number() OVER (ORDER BY cents DESC, o_orderkey)
                    AS r
           FROM top),
         thr AS (SELECT lnc AS ln_thr, cents AS thr_cents
                 FROM rk WHERE r = 501),
         ag AS (
           SELECT ln_thr, thr_cents, CAST(count(*) AS BIGINT) AS n_tail,
                  list_reduce(list(lnc ORDER BY r),
                    (acc, v) -> acc + v) AS sum_ln
           FROM rk CROSS JOIN thr WHERE r <= 500
           GROUP BY ln_thr, thr_cents),
         h AS (SELECT n_tail, thr_cents,
                      ${rsql("sum_ln / 500.0 - ln_thr", 1000000)}
                        AS h_hill
               FROM ag)
         SELECT n_tail,
                ${rsql("thr_cents / 100.0", 100)} AS x_threshold,
                h_hill,
                ${rsql("1.0 / h_hill", 1000000)} AS alpha_hill
         FROM h"""),
    Query("q_stats_granger", granger,
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                    AS x,
                  CAST(count(*) FILTER (event_type = 'purchase')
                    AS BIGINT) AS y
           FROM events GROUP BY day),
         lagged AS (
           SELECT a.day, a.x AS x1, a.y AS y1, b.y AS y0
           FROM daily a JOIN daily b ON b.day - 1 = a.day),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y1) AS BIGINT) AS s1,
                      CAST(sum(x1) AS BIGINT) AS s2,
                      CAST(sum(y0) AS BIGINT) AS sy,
                      CAST(sum(y1 * y1) AS BIGINT) AS s11,
                      CAST(sum(y1 * x1) AS BIGINT) AS s12,
                      CAST(sum(x1 * x1) AS BIGINT) AS s22,
                      CAST(sum(y1 * y0) AS BIGINT) AS s1y,
                      CAST(sum(x1 * y0) AS BIGINT) AS s2y,
                      CAST(sum(y0 * y0) AS BIGINT) AS syy
               FROM lagged)
         SELECT n,
                floor(($gB2) * 1000000 + 0.5) / 1000000.0 AS b_cross,
                floor((($gSseR - $gSseF) / ($gSseF / (n - 3)))
                  * 1000000 + 0.5) / 1000000.0 AS f_granger,
                floor((($gSseR - $gSseF) / $gSseR) * 1000000 + 0.5)
                  / 1000000.0 AS delta_r2
         FROM m""", cap = 5),
    Query("q_stats_cuped", cuped,
      """WITH d0 AS (SELECT min(epoch_us(ts) // 86400000000) AS d0
                     FROM events),
         pu AS (
           SELECT user_id % 2 AS arm, user_id,
                  CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) - d0
                                     < 15 AND event_type = 'purchase'
                                THEN CAST(floor(value * 100 + 0.5)
                                          AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS x,
                  CAST(sum(CASE WHEN NOT ((epoch_us(ts) // 86400000000)
                                          - d0 < 15)
                                     AND event_type = 'purchase'
                                THEN CAST(floor(value * 100 + 0.5)
                                          AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS y
           FROM events CROSS JOIN d0 GROUP BY arm, user_id),
         mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(y) AS BIGINT) AS sy,
                        CAST(sum(x * x) AS BIGINT) AS sxx,
                        CAST(sum(x * y) AS BIGINT) AS sxy,
                        CAST(sum(y * y) AS BIGINT) AS syy
                 FROM pu),
         gm AS (SELECT
                    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                      / (CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n) AS theta,
                    ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                     * (CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sy / n))
                      / ((CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * sx / n)
                         * (CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * sy / n))
                      AS var_reduction,
                    CAST(sx AS DOUBLE) / n AS xbar
                  FROM mom),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                      CAST(sum(x) AS BIGINT) AS ax,
                      CAST(sum(y) AS BIGINT) AS ay
               FROM pu GROUP BY arm)
         SELECT arm, n_users,
                floor((CAST(ay AS DOUBLE) / n_users / 100.0)
                  * 1000000 + 0.5) / 1000000.0 AS mean_y,
                floor(((CAST(ay AS DOUBLE) - theta * (CAST(ax AS DOUBLE)
                        - n_users * xbar)) / n_users / 100.0)
                  * 1000000 + 0.5) / 1000000.0 AS mean_y_adj,
                floor(theta * 1000000 + 0.5) / 1000000.0 AS theta,
                floor(var_reduction * 1000000 + 0.5) / 1000000.0
                  AS var_reduction
         FROM a CROSS JOIN gm ORDER BY arm"""),
    Query("q_stats_power", power,
      """WITH u AS (
           SELECT user_id % 2 AS arm, user_id,
                  CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                                ELSE 0 END) AS BIGINT) AS conv
           FROM events GROUP BY arm, user_id),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                      CAST(sum(conv) AS BIGINT) AS n_conv
               FROM u GROUP BY arm),
         p AS (SELECT arm, n_users, n_conv,
                      floor((CAST(n_conv AS DOUBLE) / n_users)
                        * 1000000 + 0.5) / 1000000.0 AS ph
               FROM a),
         wide AS (
           SELECT p0.n_users AS n0, p0.n_conv AS c0, p0.ph AS p0,
                  p1.n_users AS n1, p1.n_conv AS c1, p1.ph AS p1
           FROM (SELECT * FROM p WHERE arm = 0) p0
           CROSS JOIN (SELECT * FROM p WHERE arm = 1) p1),
         z AS (SELECT *,
                      CAST(1.9599639845400545 AS DOUBLE)
                          * sqrt(2.0 * ((p0 + p1) / 2.0)
                          * (1.0 - (p0 + p1) / 2.0))
                        + CAST(0.8416212335729143 AS DOUBLE)
                          * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))
                        AS zsum
               FROM wide)
         SELECT n0, n1, p0, p1,
                floor((p1 - p0) * 1000000 + 0.5) / 1000000.0 AS delta,
                CASE WHEN p1 = p0 THEN CAST(-1 AS BIGINT)
                     ELSE CAST(ceil(zsum * zsum
                       / ((p1 - p0) * (p1 - p0))) AS BIGINT) END
                  AS n_per_arm
         FROM z""")
      .allowUnboundedJoin("one arm-0 row x one arm-1 row"),
    Query("q_stats_runs_test", runsTest,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         dif AS (SELECT day, c - lag(c) OVER (ORDER BY day) AS df
                 FROM daily),
         sg AS (SELECT day,
                       CASE WHEN df > 0 THEN CAST(1 AS BIGINT)
                            ELSE CAST(-1 AS BIGINT) END AS sgn
                FROM dif WHERE df IS NOT NULL AND df <> 0),
         rn AS (SELECT sgn,
                       CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                              OR lag(sgn) OVER (ORDER BY day) <> sgn
                            THEN CAST(1 AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS new_run
                FROM sg),
         a AS (SELECT
                 CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
                 CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down,
                 CAST(sum(new_run) AS BIGINT) AS n_runs
               FROM rn)
         SELECT n_up, n_down, n_runs,
                floor((2.0 * n_up * n_down / (n_up + n_down) + 1.0)
                  * 1000000 + 0.5) / 1000000.0 AS e_runs,
                floor(((n_runs - (2.0 * n_up * n_down / (n_up + n_down)
                        + 1.0))
                       / sqrt((2.0 * n_up * n_down
                               * (2.0 * n_up * n_down - (n_up + n_down)))
                              / (CAST(n_up + n_down AS DOUBLE)
                                 * (n_up + n_down)
                                 * (n_up + n_down - 1))))
                  * 1000000 + 0.5) / 1000000.0 AS z
         FROM a""", cap = 4),
    Query("q_stats_anova", anova,
      """WITH g0 AS (
           SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n_g,
                  floor(avg(value) * 1000000 + 0.5) / 1000000.0 AS m_g,
                  floor(var_samp(value) * 1000000 + 0.5) / 1000000.0
                    AS v_g
           FROM events GROUP BY event_type),
         g1 AS (SELECT *, CAST(n_g AS DOUBLE) * m_g AS nm,
                       CAST(n_g - 1 AS DOUBLE) * v_g AS wv
                FROM g0),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(n_g) AS BIGINT) AS n_total,
                        list_reduce(list(nm ORDER BY g),
                          (acc, v) -> acc + v) AS sw,
                        list_reduce(list(wv ORDER BY g),
                          (acc, v) -> acc + v) AS ssw
                 FROM g1),
         s2 AS (SELECT k, n_total, ssw,
                       list_reduce(
                         list(CAST(n_g AS DOUBLE)
                              * (m_g - sw / n_total)
                              * (m_g - sw / n_total) ORDER BY g),
                         (acc, v) -> acc + v) AS ssb
                FROM g1 CROSS JOIN tot
                GROUP BY k, n_total, ssw, sw)
         SELECT k, n_total, k - 1 AS df1, n_total - k AS df2,
                floor(((ssb / (k - 1)) / (ssw / (n_total - k)))
                  * 1000000 + 0.5) / 1000000.0 AS f_stat,
                floor((ssb / (ssb + ssw)) * 1000000 + 0.5) / 1000000.0
                  AS eta_sq
         FROM s2"""),
    Query("q_stats_mannwhitney", mannwhitney,
      """WITH ev AS (
           SELECT value AS p,
                  CAST(event_type = 'purchase' AS BIGINT) AS isp
           FROM events WHERE event_type IN ('purchase', 'click')),
         per AS (SELECT p, CAST(sum(isp) AS BIGINT) AS np,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM ev GROUP BY p),
         r AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY p) AS BIGINT) AS cum
               FROM per),
         a AS (SELECT CAST(sum(np) AS BIGINT) AS n1,
                      CAST(sum(cnt) AS BIGINT) AS n,
                      sum(np * (CAST(cum - cnt AS DOUBLE)
                                + (cnt + 1) / 2.0)) AS rp,
                      CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
               FROM r)
         SELECT n1 AS n_purchase, n - n1 AS n_click,
                rp - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
                floor(((rp - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0
                        - CAST(n1 * (n - n1) AS DOUBLE) / 2.0)
                       / sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 12.0
                              * (CAST(n + 1 AS DOUBLE)
                                 - CAST(tie AS DOUBLE)
                                   / CAST(n * (n - 1) AS DOUBLE))))
                      * 1000000 + 0.5) / 1000000.0 AS z_stat
         FROM a""", cap = 6),
    Query("q_stats_spearman", spearman,
      """WITH ev AS (
           SELECT value AS x,
                  CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
           FROM events),
         px AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt
                FROM ev GROUP BY x),
         rx AS (SELECT x,
                       2 * (CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT)
                            - cnt) + cnt + 1 AS rx2
                FROM px),
         py AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                FROM ev GROUP BY y),
         ry AS (SELECT y,
                       2 * (CAST(sum(cnt) OVER (ORDER BY y) AS BIGINT)
                            - cnt) + cnt + 1 AS ry2
                FROM py),
         j AS (SELECT rx2, ry2
               FROM ev JOIN rx USING (x) JOIN ry USING (y)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(rx2) AS BIGINT) AS sx,
                      CAST(sum(ry2) AS BIGINT) AS sy,
                      CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
                      CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
                      CAST(sum(ry2 * ry2) AS BIGINT) AS syy
               FROM j)
         SELECT n,
                floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * sy)))
                  * 1000000 + 0.5) / 1000000.0 AS rho_spearman
         FROM m""", cap = 10),
    Query("q_stats_kruskal", kruskal,
      """WITH ev AS (SELECT value AS p, event_type AS g FROM events),
         per AS (SELECT p, g, CAST(count(*) AS BIGINT) AS cg
                 FROM ev GROUP BY p, g),
         perv AS (SELECT p, CAST(sum(cg) AS BIGINT) AS cnt
                  FROM per GROUP BY p),
         r AS (SELECT p, cnt,
                      CAST(sum(cnt) OVER (ORDER BY p) AS BIGINT) AS cum
               FROM perv),
         ranked AS (SELECT p,
                           CAST(cum - cnt AS DOUBLE)
                             + (cnt + 1) / 2.0 AS avg_rank
                    FROM r),
         grp AS (SELECT g, CAST(sum(cg) AS BIGINT) AS n_g,
                        sum(cg * avg_rank) AS r_g
                 FROM per JOIN ranked USING (p) GROUP BY g),
         fold AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                         list_reduce(
                           list(r_g * r_g / CAST(n_g AS DOUBLE)
                                ORDER BY g),
                           (acc, v) -> acc + v) AS srr
                  FROM grp),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                        CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
                 FROM perv)
         SELECT n_groups, n AS n_total,
                floor(((12.0 / CAST(n * (n + 1) AS DOUBLE) * srr
                        - 3.0 * CAST(n + 1 AS DOUBLE))
                       / (1.0 - CAST(tie AS DOUBLE)
                                / CAST(n * n * n - n AS DOUBLE)))
                  * 1000000 + 0.5) / 1000000.0 AS h_stat
         FROM fold CROSS JOIN tot""", cap = 8),
    Query("q_stats_seasonal_mk", seasonalMk,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c,
                  (epoch_us(ts) // 86400000000) % 7 AS g
           FROM events GROUP BY 1, 3),
         sf AS (SELECT CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
                FROM daily a JOIN daily b
                  ON b.g = a.g AND b.day > a.day),
         per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g FROM daily
                 GROUP BY g),
         ties AS (SELECT g,
                         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                              AS BIGINT) AS tie_g
                  FROM (SELECT g, CAST(count(*) AS BIGINT) AS t
                        FROM daily GROUP BY g, c) u
                  GROUP BY g),
         vf AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_days,
                       CAST(count(*) AS BIGINT) AS n_seasons,
                       CAST(sum(n_g * (n_g - 1) * (2 * n_g + 5) - tie_g)
                            AS BIGINT) AS var18
                FROM per JOIN ties USING (g)),
         z AS (SELECT n_days, n_seasons, s_stat,
                      CASE WHEN s_stat > 0 THEN
                             CAST(s_stat - 1 AS DOUBLE)
                             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                           WHEN s_stat < 0 THEN
                             CAST(s_stat + 1 AS DOUBLE)
                             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                           ELSE 0.0 END AS zraw
               FROM vf CROSS JOIN sf)
         SELECT n_days, n_seasons, s_stat,
                floor(zraw * 1000000 + 0.5) / 1000000.0 AS z_stat,
                CASE WHEN floor(zraw * 1000000 + 0.5) / 1000000.0 > 1.96
                       THEN 'increasing'
                     WHEN floor(zraw * 1000000 + 0.5) / 1000000.0 < -1.96
                       THEN 'decreasing'
                     ELSE 'no_trend' END AS trend
         FROM z""", cap = 9),
    Query("q_stats_mann_kendall", mannKendall,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         sf AS (SELECT CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
                FROM daily a JOIN daily b ON b.day > a.day),
         nf AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         tf AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                            AS BIGINT) AS tie
                FROM (SELECT CAST(count(*) AS BIGINT) AS t
                      FROM daily GROUP BY c)),
         z AS (SELECT n_days, s_stat,
                      CASE WHEN s_stat > 0 THEN
                             CAST(s_stat - 1 AS DOUBLE)
                             / sqrt(CAST(n_days * (n_days - 1)
                                         * (2 * n_days + 5) - tie AS DOUBLE)
                                    / 18.0)
                           WHEN s_stat < 0 THEN
                             CAST(s_stat + 1 AS DOUBLE)
                             / sqrt(CAST(n_days * (n_days - 1)
                                         * (2 * n_days + 5) - tie AS DOUBLE)
                                    / 18.0)
                           ELSE 0.0 END AS zraw
               FROM nf CROSS JOIN sf CROSS JOIN tf)
         SELECT n_days, s_stat,
                floor(zraw * 1000000 + 0.5) / 1000000.0 AS z_stat,
                CASE WHEN floor(zraw * 1000000 + 0.5) / 1000000.0 > 1.96
                       THEN 'increasing'
                     WHEN floor(zraw * 1000000 + 0.5) / 1000000.0 < -1.96
                       THEN 'decreasing'
                     ELSE 'no_trend' END AS trend
         FROM z""", cap = 7),
    Query("q_eval_quantile_sample", evalQuantileSample,
      s"""WITH h AS (
            SELECT l_extendedprice,
                   md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                       CAST(l_linenumber AS VARCHAR)) AS h
            FROM lineitem),
          samp AS (SELECT l_extendedprice FROM h
                   ORDER BY h, l_extendedprice LIMIT 256),
          est AS (
            SELECT ${rsql("quantile_cont(l_extendedprice, 0.5)", 1000000)}
                     AS est_p50,
                   ${rsql("quantile_cont(l_extendedprice, 0.95)", 1000000)}
                     AS est_p95
            FROM samp),
          tr AS (
            SELECT ${rsql("quantile_cont(l_extendedprice, 0.5)", 1000000)}
                     AS true_p50,
                   ${rsql("quantile_cont(l_extendedprice, 0.95)", 1000000)}
                     AS true_p95
            FROM h)
          SELECT est_p50, true_p50,
                 ${rsql("abs(est_p50 - true_p50)", 1000000)} AS err_p50,
                 est_p95, true_p95,
                 ${rsql("abs(est_p95 - true_p95)", 1000000)} AS err_p95
          FROM est, tr"""),
    Query("q_stats_dispersion", dispersion,
      """WITH hourly AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY event_type, hr)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
                floor(avg(c) * 1000000 + 0.5) / 1000000.0 AS mean_c,
                floor(var_samp(c) * 1000000 + 0.5) / 1000000.0 AS var_c,
                floor((var_samp(c) / avg(c)) * 1000000 + 0.5)
                  / 1000000.0 AS dispersion
         FROM hourly GROUP BY event_type ORDER BY event_type"""),
    Query("q_stats_bootstrap", bootstrap,
      """WITH r AS (SELECT CAST(unnest(generate_series(0, 4)) AS INTEGER)
                      AS rep),
         w AS (SELECT rep, o_totalprice,
                (strpos('0123456789abcdef',
                   substring(md5(o_orderkey::VARCHAR || '_'
                     || rep::VARCHAR), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef',
                    substring(md5(o_orderkey::VARCHAR || '_'
                      || rep::VARCHAR), 2, 1)) - 1 AS h
               FROM orders CROSS JOIN r),
         wt AS (SELECT rep, o_totalprice,
                 CASE WHEN h < 94 THEN 0 WHEN h < 188 THEN 1
                      WHEN h < 235 THEN 2 WHEN h < 251 THEN 3
                      WHEN h < 255 THEN 4 ELSE 5 END AS k
                FROM w)
         SELECT rep, CAST(sum(k) AS BIGINT) AS n_eff,
                floor((sum(k * o_totalprice) / sum(k)) * 1000000 + 0.5)
                  / 1000000.0 AS mean_rep
         FROM wt GROUP BY rep ORDER BY rep"""),
    Query("q_stats_decompose", decompose,
      s"""WITH $stlCtes
         SELECT day, c, trend, seasonal,
                floor((c - trend - seasonal) * 1000000 + 0.5) / 1000000.0
                  AS resid
         FROM se ORDER BY day""", cap = 4),
    Query("q_stats_anomaly_stl", anomalyStl,
      s"""WITH $stlCtes,
         re AS (SELECT day, c,
                 floor((c - trend - seasonal) * 1000000 + 0.5)
                   / 1000000.0 AS resid
                FROM se),
         st AS (SELECT floor(stddev_samp(resid) * 1000000 + 0.5)
                  / 1000000.0 AS sd
                FROM re)
         SELECT day, c, resid,
                floor((resid / sd) * 1000000 + 0.5) / 1000000.0 AS resid_z
         FROM re CROSS JOIN st
         ORDER BY abs(resid_z) DESC, day LIMIT 5""", cap = 5),
    Query("q_stats_theil_sen", theilSen,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         d0 AS (SELECT day - (SELECT min(day) FROM daily) AS x, c
                FROM daily),
         sl AS (SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS m
                FROM d0 a JOIN d0 b ON b.x > a.x),
         ms AS (SELECT floor(quantile_cont(m, 0.5) * 1000000 + 0.5)
                         / 1000000.0 AS slope,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM sl)
         SELECT max(n_pairs) AS n_pairs, max(slope) AS slope,
                floor(quantile_cont(c - slope * x, 0.5) * 1000000 + 0.5)
                  / 1000000.0 AS intercept
         FROM d0 CROSS JOIN ms""", cap = 4),
    Query("q_stats_ewma", ewma, {
      // identical 17-digit weight literals on both sides (see ewmaW).
      // The CAST AS DOUBLE is load-bearing: DuckDB types a bare
      // 0.48999999999999994 literal as DECIMAL(18,17) and would
      // accumulate the whole sum in exact decimal while Spark
      // accumulates doubles — the same r6-boundary parity class as the
      // jackknife raw-moment bug.
      val terms = (0 until EwmaLags).map { k =>
        (s"coalesce(lag(c, $k) OVER w, 0)" +
          s" * CAST(${ewmaW(k)} AS DOUBLE)",
          s"CASE WHEN lag(c, $k) OVER w IS NULL THEN CAST(0 AS DOUBLE)" +
            s" ELSE CAST(${ewmaW(k)} AS DOUBLE) END")
      }
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day)
         SELECT day, c,
                floor(((${terms.map(_._1).mkString(" + ")})
                  / (${terms.map(_._2).mkString(" + ")}))
                  * 1000000 + 0.5) / 1000000.0 AS ewma
         FROM daily
         WINDOW w AS (ORDER BY day)
         ORDER BY day"""
    }, cap = 4),
    Query("q_stats_jackknife", jackknife,
      """WITH f AS (
           SELECT (strpos('0123456789abcdef',
                    substring(md5(o_orderkey::VARCHAR), 1, 1)) - 1) % 10
                    AS fold,
                  o_totalprice
           FROM orders),
         fs AS (SELECT fold, count(*) AS n_i,
                       floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS s_i
                FROM f GROUP BY fold),
         t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
                      floor(sum(s_i) * 100 + 0.5) / 100.0 AS s,
                      count(*) AS g
               FROM fs),
         loo AS (SELECT n, s, g,
                        floor(((s - s_i) / (n - n_i)) * 1000000 + 0.5)
                          / 1000000.0 AS m_i
                 FROM fs CROSS JOIN t),
         mb AS (SELECT floor(avg(m_i) * 1000000 + 0.5) / 1000000.0
                         AS mbar
                FROM loo),
         a AS (SELECT n, s, g,
                      sum((m_i - mbar) * (m_i - mbar)) AS ss
               FROM loo CROSS JOIN mb GROUP BY n, s, g),
         a2 AS (SELECT n, s, g,
                       sqrt((CAST(g - 1 AS DOUBLE) / g) * ss) AS se
                FROM a)
         SELECT n, g,
                floor((s / n) * 1000000 + 0.5) / 1000000.0 AS mean,
                floor(se * 1000000 + 0.5) / 1000000.0 AS se_jack,
                floor((s / n - 1.96 * se) * 1000000 + 0.5) / 1000000.0
                  AS ci_lo,
                floor((s / n + 1.96 * se) * 1000000 + 0.5) / 1000000.0
                  AS ci_hi
         FROM a2""", cap = 6),
    Query("q_sample_neyman", sampleNeyman,
      """WITH strata AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
                  floor(stddev_samp(value) * 1000000 + 0.5) / 1000000.0
                    AS sd_h
           FROM events GROUP BY event_type),
         w AS (SELECT event_type, n_h, sd_h,
                      CAST(floor(n_h * sd_h * 1000000) AS BIGINT) AS wh
               FROM strata),
         t AS (SELECT CAST(sum(wh) AS BIGINT) AS z,
                      CAST(sum(n_h) AS BIGINT) AS n_tot FROM w)
         SELECT event_type, n_h, sd_h,
                floor((wh / CAST(z AS DOUBLE)) * 1000000 + 0.5)
                  / 1000000.0 AS w_share,
                CAST(floor(1000.0 * wh / z) AS BIGINT) AS alloc_neyman,
                CAST(floor(1000.0 * n_h / n_tot) AS BIGINT) AS alloc_prop
         FROM w, t ORDER BY event_type""", cap = 5)
      .allowGlobalWindow("|types| strata census"),
    Query("q_stats_changepoint", changepoint,
      """WITH daily AS (
           SELECT epoch_us(ts)::BIGINT // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                        CAST(sum(c) AS BIGINT) AS t FROM daily),
         x AS (SELECT day, c,
                      row_number() OVER (ORDER BY day) AS rn,
                      CAST(sum(c) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM daily),
         y AS (SELECT day, CAST(rn - 1 AS BIGINT) AS n1, cum - c AS t1,
                      nd - rn + 1 AS n2, t
               FROM x, tot WHERE rn >= 2),
         z AS (SELECT day, n1, n2,
                      CAST(t1 AS DOUBLE) / n1 AS m1,
                      CAST(t - t1 AS DOUBLE) / n2 AS m2
               FROM y)
         SELECT day AS split_day, n1, n2,
                floor(m1 * 1000000 + 0.5) / 1000000.0 AS mean_before,
                floor(m2 * 1000000 + 0.5) / 1000000.0 AS mean_after,
                floor((n1 * n2 / CAST(n1 + n2 AS DOUBLE) * (m1 - m2)
                  * (m1 - m2)) * 1000000 + 0.5) / 1000000.0 AS score
         FROM z ORDER BY score DESC, split_day""", cap = 4),
    Query("q_stats_cusum", cusum,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         st AS (
           SELECT floor(avg(c) * 1000000 + 0.5) / 1000000.0 AS m,
                  floor(stddev_samp(c) * 1000000 + 0.5) / 1000000.0 AS sd
           FROM daily),
         cs AS (
           SELECT day, c,
                  floor(sum((c - m) / sd) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 1000000 + 0.5) / 1000000.0 AS cusum
           FROM daily CROSS JOIN st)
         SELECT day, c, cusum FROM cs
         ORDER BY abs(cusum) DESC, day LIMIT 5""", cap = 6),
    Query("q_stats_winsorize", winsorize,
      """WITH pct AS (
           SELECT floor(quantile_cont(value, 0.05) * 1000000 + 0.5)
                    / 1000000.0 AS p05,
                  floor(quantile_cont(value, 0.95) * 1000000 + 0.5)
                    / 1000000.0 AS p95
           FROM events)
         SELECT CAST(count(*) AS BIGINT) AS n,
                max(p05) AS p05, max(p95) AS p95,
                floor(avg(value) * 1000000 + 0.5) / 1000000.0 AS mean_raw,
                floor(avg(greatest(least(value, p95), p05))
                  * 1000000 + 0.5) / 1000000.0 AS mean_winsor
         FROM events CROSS JOIN pct"""),
    Query("q_stats_autocorr", autocorr,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         p AS (SELECT a.c AS x, b.c AS y
               FROM daily a JOIN daily b ON b.day = a.day + 1)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                floor(((CAST(count(*) AS DOUBLE) * CAST(sum(x * y) AS DOUBLE)
                         - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) /
                       (sqrt(CAST(count(*) AS DOUBLE)
                            * CAST(sum(x * x) AS DOUBLE)
                          - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) *
                        sqrt(CAST(count(*) AS DOUBLE)
                            * CAST(sum(y * y) AS DOUBLE)
                          - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))))
                  * 1000000 + 0.5) / 1000000.0
                  AS acf1
         FROM p""", cap = 5),
    Query("q_stats_psi", psi,
      s"""WITH ev AS (SELECT CAST(event_id % 2 AS INTEGER) AS half,
                             least(CAST(floor(value / 50) AS INTEGER), 9)
                               AS bucket
                      FROM events),
         c0 AS (SELECT bucket,
                       CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS a,
                       CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS b
                FROM ev GROUP BY bucket),
         spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
         c AS (SELECT coalesce(a, 0) AS a, coalesce(b, 0) AS b
               FROM spine LEFT JOIN c0 USING (bucket)),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                      CAST(sum(b) AS BIGINT) AS tb FROM c)
         SELECT count(*) AS n_buckets,
                ${rsql("sum(((a + 1) / CAST(ta + 10 AS DOUBLE)" +
        " - (b + 1) / CAST(tb + 10 AS DOUBLE))" +
        " * ln(((a + 1) / CAST(ta + 10 AS DOUBLE))" +
        " / ((b + 1) / CAST(tb + 10 AS DOUBLE))))",
        1000000)} AS psi
         FROM c CROSS JOIN t""", cap = 4)
      .allowGlobalWindow("10-bucket spine census"),
    Query("q_stats_gini", gini,
      s"""WITH rev AS (
           SELECT o_custkey,
                  floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS rev
           FROM orders GROUP BY o_custkey),
         rk AS (
           SELECT rev,
                  row_number() OVER (ORDER BY rev, o_custkey) AS i
           FROM rev)
         SELECT count(*) AS n_customers,
                ${rsql("sum(rev)", 100)} AS total_rev,
                ${rsql("2.0 * sum(i * rev) / (count(*) * sum(rev)) " +
                  "- (count(*) + 1.0) / count(*)", 1000000)} AS gini
         FROM rk"""),
    // BH step-up replayed: per-type KS on the A/B per-day means, rank
    // by p, reverse-rank running min of the r6 m·p/i terms, clamp 1.
    Query("q_stats_bh", bhFdr,
      s"""WITH $ksFamilyCtes,
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tests),
         rk AS (SELECT event_type, d_r, p_r, m,
                       CAST(row_number() OVER
                         (ORDER BY p_r, event_type) AS BIGINT) AS rank
                FROM tests CROSS JOIN mm),
         tm AS (SELECT event_type, d_r, p_r, rank,
                       ${rsql("p_r * m / rank", 1000000)} AS term_r
                FROM rk),
         adj AS (SELECT event_type, d_r, p_r, rank,
                        least(min(term_r) OVER (ORDER BY rank DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW), CAST(1.0 AS DOUBLE)) AS p_adj
                 FROM tm)
         SELECT event_type, d_r, p_r, rank, p_adj,
                p_adj <= 0.05 AS reject
         FROM adj ORDER BY rank""", cap = 4),
    // Same family text as q_stats_bh; the correction is a step-down
    // cummax from the best rank (BH is a step-up cummin from the worst).
    Query("q_stats_holm", holm,
      s"""WITH $ksFamilyCtes,
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tests),
         rk AS (SELECT event_type, p_r, m,
                       CAST(row_number() OVER
                         (ORDER BY p_r, event_type) AS BIGINT) AS rank
                FROM tests CROSS JOIN mm),
         tm AS (SELECT event_type, p_r, rank,
                       ${rsql("p_r * (m - rank + 1)", 1000000)} AS term_r
                FROM rk),
         adj AS (SELECT event_type, p_r, rank,
                        least(max(term_r) OVER (ORDER BY rank
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW), CAST(1.0 AS DOUBLE)) AS p_adj
                 FROM tm)
         SELECT event_type, p_r, rank, p_adj,
                p_adj <= 0.05 AS reject
         FROM adj ORDER BY rank""", cap = 4),
    // Shares the moments CTE text; S/K are pinned before squaring and
    // JB compares pinned-vs-literal (srm discipline).
    Query("q_stats_jarque_bera", jarqueBera,
      s"""WITH c0 AS (
           SELECT event_type,
                  CAST(floor(value * 100 + 0.5) AS HUGEINT) AS c
           FROM events),
         sums AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(c) AS s1d, sum(c * c) AS s2d,
                  sum((c * c) * c) AS s3d,
                  sum((c * c) * (c * c)) AS s4d
           FROM c0 GROUP BY event_type),
         sk AS (SELECT event_type, n,
                       ${rsql(s"$mM3 / ($mM2 * sqrt($mM2))", 1000000)}
                         AS skew_r,
                       ${rsql(s"$mM4 / ($mM2 * $mM2) - 3.0", 1000000)}
                         AS kurt_r
                FROM sums),
         jb AS (SELECT event_type, n, skew_r, kurt_r,
                       ${rsql("(CAST(n AS DOUBLE) / 6.0) * (skew_r" +
                         " * skew_r + kurt_r * kurt_r / 4.0)", 1000000)}
                         AS jb_r
                FROM sk)
         SELECT event_type, n, skew_r, kurt_r, jb_r,
                jb_r > 5.991464547107979 AS reject_normal
         FROM jb ORDER BY event_type"""),
    // HUGEINT squares of the exact milli-residuals; one division of
    // two exact integers reaches r6.
    Query("q_stats_dw", dw,
      s"""WITH $olsCtes,
         num AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                        sum(CAST(b.e_m - a.e_m AS HUGEINT)
                            * CAST(b.e_m - a.e_m AS HUGEINT)) AS sdiff
                 FROM res a JOIN res b ON b.day = a.day + 1),
         den AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                        max(b_r) AS b_r,
                        sum(CAST(e_m AS HUGEINT)
                            * CAST(e_m AS HUGEINT)) AS ssq
                 FROM res),
         dd AS (SELECT n_days, n_pairs, b_r,
                       ${rsql("CAST(sdiff AS DOUBLE)" +
                         " / CAST(ssq AS DOUBLE)", 1000000)} AS dw_r
                FROM num CROSS JOIN den)
         SELECT n_days, n_pairs, b_r, dw_r,
                ${rsql("1.0 - dw_r / 2.0", 1000000)} AS rho1_r
         FROM dd""", cap = 4),
    // u-moments fold in day order (ljung_box discipline); x-moments
    // stay exact longs; LM assembles in the shared bpR2 text.
    Query("q_stats_breusch_pagan", breuschPagan,
      s"""WITH $olsCtes,
         ru AS (SELECT day, x, n, b_r,
                       (CAST(e_m AS DOUBLE) * e_m) / 1000000.0 AS u,
                       CAST(x AS DOUBLE) * ((CAST(e_m AS DOUBLE) * e_m)
                         / 1000000.0) AS xu,
                       ((CAST(e_m AS DOUBLE) * e_m) / 1000000.0)
                         * ((CAST(e_m AS DOUBLE) * e_m) / 1000000.0)
                         AS uu
                FROM res),
         ag AS (SELECT n, b_r, CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       list_reduce(list(u ORDER BY day),
                         (a, b) -> a + b) AS su,
                       list_reduce(list(xu ORDER BY day),
                         (a, b) -> a + b) AS sxu,
                       list_reduce(list(uu ORDER BY day),
                         (a, b) -> a + b) AS suu
                FROM ru GROUP BY n, b_r),
         lf AS (SELECT n AS n_days, b_r,
                       ${rsql(s"CAST(n AS DOUBLE) * $bpR2", 1000000)}
                         AS lm_r
                FROM ag)
         SELECT n_days, b_r, lm_r,
                lm_r > 3.841458820694124 AS heteroscedastic
         FROM lf""", cap = 4),
    // The ljung_box ACF machinery truncated to 3 lags, then the
    // Durbin–Levinson closed forms with every φ and a21 pinned in
    // declaration order.
    Query("q_stats_pacf", pacf,
      s"""WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         gstat AS (
           SELECT n, sx, sxx, CAST(sx AS DOUBLE) / n AS md FROM (
             SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS sx,
                    CAST(sum(c * c) AS BIGINT) AS sxx
             FROM daily) g),
         lags AS (SELECT CAST(unnest(generate_series(1, 3)) AS BIGINT)
                    AS k),
         pk AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
                  CAST(sum(a.c) AS BIGINT) AS sh,
                  CAST(sum(b.c) AS BIGINT) AS st
           FROM lags CROSS JOIN daily a
                JOIN daily b ON b.day = a.day + k
           GROUP BY k),
         rho AS (
           SELECT k,
                  floor(((sxy - md * (sh + st)
                          + n_pairs * md * md)
                         / (sxx - n * md * md)) * 1000000 + 0.5)
                    / 1000000.0 AS rho_r
           FROM pk CROSS JOIN gstat),
         piv AS (SELECT max(CASE WHEN k = 1 THEN rho_r END) AS r1,
                        max(CASE WHEN k = 2 THEN rho_r END) AS r2v,
                        max(CASE WHEN k = 3 THEN rho_r END) AS r3
                 FROM rho),
         p2 AS (SELECT r1, r2v, r3,
                       ${rsql("(r2v - r1 * r1) / (1.0 - r1 * r1)",
                         1000000)} AS p2_r
                FROM piv),
         p3a AS (SELECT r1, r2v, r3, p2_r,
                        ${rsql("r1 * (1.0 - p2_r)", 1000000)} AS a21_r
                 FROM p2),
         p3 AS (SELECT r1, r2v, r3, p2_r, a21_r,
                       ${rsql("(r3 - a21_r * r2v - p2_r * r1)" +
                         " / (1.0 - a21_r * r1 - p2_r * r2v)", 1000000)}
                         AS p3_r
                FROM p3a)
         SELECT CAST(1 AS BIGINT) AS lag, r1 AS acf_r, r1 AS pacf_r
         FROM p3
         UNION ALL SELECT CAST(2 AS BIGINT), r2v, p2_r FROM p3
         UNION ALL SELECT CAST(3 AS BIGINT), r3, p3_r FROM p3
         ORDER BY lag""", cap = 6),
    // 5-cell integer census; z from exact long sums in the shared caZ
    // text against the 17-digit z literal.
    Query("q_stats_cochran_armitage", cochranArmitage,
      s"""WITH o AS (
           SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS sc,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS resp
           FROM orders),
         per AS (SELECT sc, CAST(count(*) AS BIGINT) AS ni,
                        CAST(sum(resp) AS BIGINT) AS ri
                 FROM o GROUP BY sc),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                       CAST(sum(ni) AS BIGINT) AS nn,
                       CAST(sum(ri) AS BIGINT) AS rr,
                       CAST(sum(sc * ni) AS BIGINT) AS sn,
                       CAST(sum(sc * sc * ni) AS BIGINT) AS ssn,
                       CAST(sum(sc * ri) AS BIGINT) AS sr
                FROM per),
         zz AS (SELECT n_groups, nn, rr,
                       ${rsql(caZ, 1000000)} AS z_ca_r
                FROM ag)
         SELECT n_groups, nn AS n_total, rr AS r_total, z_ca_r,
                CASE WHEN z_ca_r > 1.9599639845400545 THEN 'increasing'
                     WHEN z_ca_r < -1.9599639845400545 THEN 'decreasing'
                     ELSE 'no_trend' END AS trend
         FROM zz"""),
    Query("q_stats_prop_test", propTest,
      s"""WITH pu AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' AND value > 120
                           THEN 1 ELSE 0 END) AS conv,
                  (strpos('0123456789abcdef',
                     substring(md5(user_id::VARCHAR), 1, 1)) - 1) % 2
                    AS grp
           FROM events GROUP BY user_id),
         g AS (
           SELECT count(*) FILTER (grp = 0) AS na,
                  count(*) FILTER (grp = 1) AS nb,
                  CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END)
                    AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END)
                    AS BIGINT) AS cb
           FROM pu)
         SELECT na, nb, ca, cb,
                ${rsql("CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb",
                  1000000)} AS rate_diff,
                CASE WHEN sqrt((CAST(ca + cb AS DOUBLE)/(na + nb)) *
                       (1.0 - CAST(ca + cb AS DOUBLE)/(na + nb)) *
                       (1.0/na + 1.0/nb)) = 0 THEN NULL
                ELSE ${rsql("(CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb) " +
                  "/ sqrt((CAST(ca + cb AS DOUBLE)/(na + nb)) * " +
                  "(1.0 - CAST(ca + cb AS DOUBLE)/(na + nb)) * " +
                  "(1.0/na + 1.0/nb))", 1000000)} END AS z
         FROM g"""),
    Query("q_stats_ks", ks,
      s"""WITH j AS (
           SELECT o_orderstatus AS st, o_totalprice AS p
           FROM orders WHERE o_orderstatus IN ('F', 'O')),
         per AS (
           SELECT p, count(*) FILTER (st = 'F') AS f,
                  count(*) FILTER (st = 'O') AS o
           FROM j GROUP BY p),
         nn AS (SELECT count(*) FILTER (st = 'F') AS nf,
                       count(*) FILTER (st = 'O') AS no FROM j),
         c AS (
           SELECT sum(f) OVER (ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cf,
                  sum(o) OVER (ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS co
           FROM per),
         dmax AS (
           SELECT nf, no,
                  max(abs(CAST(cf AS DOUBLE) / nf
                          - CAST(co AS DOUBLE) / no)) AS d
           FROM c CROSS JOIN nn GROUP BY nf, no)
         SELECT nf, no,
                ${rsql("d", 1000000)} AS ks_d,
                ${rsql("2.0 * exp(-2.0 * d * d * " +
                  "CAST(nf * no AS DOUBLE) / (nf + no))", 1000000)}
                  AS p_approx
         FROM dmax""", cap = 7),
    Query("q_stats_benford", benford,
      s"""WITH b AS (
           SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
         tot AS (SELECT count(*) AS tot FROM orders)
         SELECT digit, count(*) AS n,
                ${rsql("CAST(count(*) AS DOUBLE) / tot", 1000000)} AS share,
                ${rsql("ln(1.0 + 1.0 / digit) / ln(10.0)", 1000000)}
                  AS benford
         FROM b CROSS JOIN tot
         GROUP BY digit, tot ORDER BY digit""", cap = 5)
      .allowGlobalWindow("9-digit census"),
    Query("q_stats_regression", regression,
      s"""SELECT l_returnflag, count(*) AS n,
                ${rsql("regr_slope(l_extendedprice, l_quantity)", 1000000)}
                  AS slope,
                ${rsql("regr_intercept(l_extendedprice, l_quantity)", 100)}
                  AS intercept,
                ${rsql("regr_r2(l_extendedprice, l_quantity)", 1000000)}
                  AS r2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_stats_ttest", ttest,
      s"""WITH j AS (
           SELECT c_mktsegment, o_orderstatus AS st, o_totalprice AS p
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderstatus IN ('F', 'O')),
         g AS (
           SELECT c_mktsegment,
                  count(*) FILTER (st = 'F') AS n_f,
                  count(*) FILTER (st = 'O') AS n_o,
                  avg(p) FILTER (st = 'F') AS m_f,
                  avg(p) FILTER (st = 'O') AS m_o,
                  var_samp(p) FILTER (st = 'F') AS v_f,
                  var_samp(p) FILTER (st = 'O') AS v_o
           FROM j GROUP BY c_mktsegment)
         SELECT c_mktsegment, n_f, n_o,
                ${rsql("(m_f - m_o) / sqrt(v_f/n_f + v_o/n_o)", 1000000)}
                  AS t_welch,
                ${rsql("pow(v_f/n_f + v_o/n_o, 2) / " +
                  "(pow(v_f/n_f, 2)/(n_f - 1) + pow(v_o/n_o, 2)/(n_o - 1))",
                  100)} AS df_welch
         FROM g ORDER BY c_mktsegment"""),
    Query("q_stats_chisq", chisq,
      s"""WITH j AS (
           SELECT c_mktsegment AS seg, o_orderpriority AS pri
           FROM orders JOIN customer ON o_custkey = c_custkey),
         obs AS (SELECT seg, pri, count(*) AS obs FROM j GROUP BY seg, pri),
         rt AS (SELECT seg, count(*) AS rt FROM j GROUP BY seg),
         ct AS (SELECT pri, count(*) AS ct FROM j GROUP BY pri),
         n AS (SELECT count(*) AS n FROM j),
         cells AS (
           SELECT rt.seg, ct.pri, rt.rt, ct.ct, n.n,
                  coalesce(obs.obs, 0) AS obs
           FROM rt CROSS JOIN ct CROSS JOIN n
           LEFT JOIN obs ON obs.seg = rt.seg AND obs.pri = ct.pri)
         SELECT count(*) AS n_cells,
                ${rsql("list_reduce(list(pow(obs - CAST(rt * ct" +
                  " AS DOUBLE) / n, 2) / (CAST(rt * ct AS DOUBLE) / n)" +
                  " ORDER BY seg, pri), (acc, v) -> acc + v)", 1000000)}
                  AS chi2,
                (count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1) AS dof
         FROM cells""", cap = 7),
    // md5-digit arm assignment (the q_sample_split convention); the
    // __ALL__ row counts each user once across types, not the per-type
    // sum. chi2 compare happens on the r6-rounded value on both sides.
    Query("q_stats_srm", srm,
      s"""WITH eu AS (SELECT DISTINCT event_type, user_id FROM events),
         au AS (SELECT DISTINCT '__ALL__' AS event_type, user_id
                FROM events),
         per AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN substring(md5(CAST(user_id
                      AS VARCHAR)), 1, 1) IN
                      ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN substring(md5(CAST(user_id
                      AS VARCHAR)), 1, 1) IN
                      ('0','1','2','3','4','5','6','7')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM (SELECT * FROM eu UNION ALL SELECT * FROM au) u
           GROUP BY event_type)
         SELECT event_type, n_a, n_b, n_a + n_b AS n,
                ${rsql("CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / " +
                  "(n_a + n_b)", 1000000)} AS chi2_r,
                ${rsql("CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / " +
                  "(n_a + n_b)", 1000000)} > 3.8414588206941245 AS srm
         FROM per ORDER BY event_type"""),
    // ANOVA's oracle chain applied to z = |x − per-type median|; the
    // sorted list_reduce keeps the cross-group accumulation order
    // identical to Spark's array_sort fold.
    Query("q_stats_levene", levene,
      s"""WITH med AS (
           SELECT event_type,
                  ${rsql("quantile_cont(value, 0.5)", 1000000)} AS med
           FROM events GROUP BY event_type),
         zt AS (SELECT events.event_type AS g, abs(value - med) AS z
                FROM events JOIN med
                  ON events.event_type = med.event_type),
         g0 AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                  floor(avg(z) * 1000000 + 0.5) / 1000000.0 AS m_g,
                  floor(var_samp(z) * 1000000 + 0.5) / 1000000.0 AS v_g
           FROM zt GROUP BY g),
         g1 AS (SELECT *, CAST(n_g AS DOUBLE) * m_g AS nm,
                       CAST(n_g - 1 AS DOUBLE) * v_g AS wv
                FROM g0),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(n_g) AS BIGINT) AS n_total,
                        list_reduce(list(nm ORDER BY g),
                          (acc, v) -> acc + v) AS sw,
                        list_reduce(list(wv ORDER BY g),
                          (acc, v) -> acc + v) AS ssw
                 FROM g1),
         s2 AS (SELECT k, n_total, ssw,
                       list_reduce(
                         list(CAST(n_g AS DOUBLE)
                              * (m_g - sw / n_total)
                              * (m_g - sw / n_total) ORDER BY g),
                         (acc, v) -> acc + v) AS ssb
                FROM g1 CROSS JOIN tot
                GROUP BY k, n_total, ssw, sw)
         SELECT k, n_total, k - 1 AS df1, n_total - k AS df2,
                floor(((ssb / (k - 1)) / (ssw / (n_total - k)))
                  * 1000000 + 0.5) / 1000000.0 AS w_stat
         FROM s2""", cap = 8),
    // Exact-integer lag sums assembled with the series mean in the
    // same operation order as Spark; the 7-term fold runs in lag
    // order via the sorted list_reduce.
    Query("q_stats_ljung_box", ljungBox,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         gstat AS (
           SELECT n, sx, sxx, CAST(sx AS DOUBLE) / n AS md FROM (
             SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS sx,
                    CAST(sum(c * c) AS BIGINT) AS sxx
             FROM daily) g),
         lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT)
                    AS k),
         pk AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
                  CAST(sum(a.c) AS BIGINT) AS sh,
                  CAST(sum(b.c) AS BIGINT) AS st
           FROM lags CROSS JOIN daily a
                JOIN daily b ON b.day = a.day + k
           GROUP BY k),
         rho AS (
           SELECT k, n_pairs,
                  floor(((sxy - md * (sh + st)
                          + n_pairs * md * md)
                         / (sxx - n * md * md)) * 1000000 + 0.5)
                    / 1000000.0 AS rho_r
           FROM pk CROSS JOIN gstat),
         qv AS (SELECT max(gstat.n) AS n,
                       list_reduce(
                         list(rho_r * rho_r / (gstat.n - k) ORDER BY k),
                         (acc, v) -> acc + v) AS tsum
                FROM rho CROSS JOIN gstat),
         qr AS (SELECT floor((n * (n + 2) * tsum) * 1000000 + 0.5)
                         / 1000000.0 AS q_lb_r
                FROM qv)
         SELECT k, n_pairs, rho_r, q_lb_r,
                q_lb_r > 14.067140449340169 AS reject
         FROM rho CROSS JOIN qr ORDER BY k""", cap = 4),
    Query("q_stats_entropy", entropy,
      s"""WITH c AS (
           SELECT user_id, event_type, count(*) AS c
           FROM events GROUP BY user_id, event_type),
         t AS (SELECT user_id, sum(c) AS t, count(*) AS n_types
               FROM c GROUP BY user_id)
         SELECT c.user_id, n_types,
                ${rsql("-sum((CAST(c AS DOUBLE) / t) * " +
                  "ln(CAST(c AS DOUBLE) / t))", 1000000)} AS entropy
         FROM c JOIN t ON c.user_id = t.user_id
         GROUP BY c.user_id, n_types
         ORDER BY c.user_id"""),
    Query("q_stats_mad", mad,
      s"""WITH med AS (
           SELECT event_type,
                  ${rsql("quantile_cont(value, 0.5)", 1000000)} AS med,
                  count(*) AS n
           FROM events GROUP BY event_type),
         dev AS (
           SELECT events.event_type, abs(value - med) AS adev, med, n
           FROM events JOIN med ON events.event_type = med.event_type),
         madf AS (
           SELECT event_type,
                  ${rsql("quantile_cont(adev, 0.5)", 1000000)} AS mad
           FROM dev GROUP BY event_type)
         SELECT dev.event_type, any_value(n) AS n, any_value(med) AS med,
                any_value(mad) AS mad,
                count(*) FILTER (adev > 3.0 * 1.4826 * mad) AS n_outliers
         FROM dev JOIN madf ON dev.event_type = madf.event_type
         GROUP BY dev.event_type
         ORDER BY dev.event_type"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
