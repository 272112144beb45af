package graft

import scala.util.Try

/** The suite's one pass over the registry (SURVEY.md §5.2), as two
  * shard suites: keys go by sorted-index parity, one forked test JVM
  * each (build.sbt testGrouping). A shard warms every artifact on its
  * own fresh copy of sf0.001, as Bench does, then builds each key's
  * frame once per run; each test reads one field of that pass. The
  * job-count windows rely on each forked JVM running its suites one at
  * a time.
  *
  * Red demo: GRAFT_JOBCAP_BREAK_KEY=q_graph_reach sbt "testOnly
  * graft.RegistrySweep*" fails the cap test. */
abstract class RegistrySweep(shard: Int) extends SparkSpec {
  import RegistrySweep._

  /** Kept as a `Try`, so a failed pass fails every test once instead of
    * running again for each. */
  private lazy val pass: Try[Pass] = Try(withPrivateDir { dir =>
    val counter = new JobCaps.JobCounter(spark)
    try {
      val freshEntries = Caches.entriesFor(dir)
      val zeroBuild = Seq("q_sample_kcenter", "q_events_retention").map { key =>
        counter.reset()
        SparkEntry.queries(key)(spark, dir)
        key -> counter.get
      }
      def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val idsBefore = persisted
      Caches.declared.foreach(_.warm(spark, dir))
      val warmed = persisted -- idsBefore
      val unwarmed = Caches.declared.filter(_.entriesFor(dir) == 0).map(_.name)
      val shardKeys = SparkEntry.declared.sortBy(_.key).zipWithIndex
        .collect { case (q, i) if i % 2 == shard => q }
      val keys = shardKeys.map { q =>
        val entries = Caches.entriesFor(dir)
        counter.reset()
        val df = q.build(spark, dir)
        val buildJobs = counter.get
        val findings = PlanLint.check(q, df.queryExecution.optimizedPlan)
        val run1 = df.collect().map(_.toString).toSeq
        // a cap bounds a count(), whose jobs differ from a collect()'s
        val capJobs =
          q.cap.map(cap => JobCaps.countJobs(spark, dir, q.key).jobs -> cap)
        val run2 = q.build(spark, dir).collect().map(_.toString).toSeq
        KeyRun(q.key, buildJobs, findings, run1.size, run1 == run2, capJobs,
          Caches.entriesFor(dir) - entries)
      }
      Caches.invalidate(dir)
      Pass(freshEntries, zeroBuild, unwarmed, warmed, persisted intersect warmed,
        keys)
    } finally counter.close()
  })

  test("building q_sample_kcenter and q_events_retention submits no job") {
    // Counted on the fresh dir, before the warmup: no artifact exists
    // for it (events_ts_unit among them), so the count covers everything
    // a first build of each key runs eagerly. The per-key census
    // printed here is of builds after the warmup and is not asserted.
    val p = pass.get
    p.keys.foreach(r => info(f"BUILD ${r.key}%-28s ${r.buildJobs}%3d jobs"))
    val building = p.keys.filter(_.buildJobs > 0)
    info(s"shard $shard: ${building.size} of ${p.keys.size} keys submit " +
      s"${building.map(_.buildJobs).sum} build jobs")
    assert(p.zeroBuild.forall(_._2 == 0),
      s"jobs submitted while building: ${p.zeroBuild}")
  }

  test("every session cache is warmup-built: timed keys add no entries") {
    // Bench times one pass after its warmup, and no key of the timed
    // pass may pay an artifact build: a build that lands on whichever
    // consumer runs first charges that key for shared work and moves
    // with key order.
    val p = pass.get
    assert(p.freshEntries === 0)
    assert(p.unwarmed.isEmpty, s"artifacts not warmed: ${p.unwarmed}")
    val adders = p.keys.filter(_.entriesAdded > 0)
      .map(r => s"${r.key} (+${r.entriesAdded})")
    assert(adders.isEmpty, s"${adders.mkString(", ")} built a session " +
      "cache the warmup did not — declare it as a graft.Artifact")
    // invalidate releases everything the warmup persisted, the
    // intermediate checkpoints the builds did not keep included
    assert(p.warmed.nonEmpty)
    assert(p.leaked.isEmpty, s"${p.leaked.size} of ${p.warmed.size} RDDs " +
      s"the warmup persisted are still persisted after invalidate: ${p.leaked}")
  }

  test(s"declared queries (half $shard) are identical on repeated runs") {
    // Verify's coalesce(1) parquet is hash-compared, so a
    // nondeterministic plan (row order included) is a coin-flip failure
    val varying = pass.get.keys.filterNot(_.deterministic).map(_.key)
    assert(varying.isEmpty,
      s"not run-to-run deterministic: ${varying.mkString(", ")}")
  }

  test("every declared query runs at sf0.001 (rows > 0 unless inherently empty)") {
    // q_join_anti is legitimately empty when every customer has orders
    val mayBeEmpty = Set("q_join_anti")
    val empty = pass.get.keys.filter(r => r.rows == 0 && !mayBeEmpty(r.key))
    assert(empty.isEmpty, s"returned no rows: ${empty.map(_.key).mkString(", ")}")
  }

  test("plan lint: unbounded global windows and non-equi joins only where declared") {
    // A global window moves its whole frame into one task and a
    // non-equi join pairs every row with every row: acceptable only
    // where Catalyst bounds the input or the key declares the bound.
    // A new offender fails here until its declaration carries an
    // allowance with its bound; an allowance the plan no longer needs
    // fails as stale.
    val findings = pass.get.keys.flatMap(_.findings)
    assert(findings.isEmpty, findings.mkString("\n"))
  }

  test("guarded keys stay within their recorded job-count caps") {
    assert(SparkEntry.declared.count(_.cap.nonEmpty) === 105,
      "a job cap was added or dropped")
    val over = pass.get.keys.flatMap { r =>
      r.capJobs.flatMap { case (n, cap) =>
        info(f"${if (n <= cap) "OK  " else "OVER"} ${r.key}%-28s $n%3d jobs (cap $cap)")
        if (n > cap) Some(s"${r.key}: $n jobs > cap $cap") else None
      }
    }
    assert(over.isEmpty, s"\njob-cap breach:\n${over.mkString("\n")}")
  }
}

object RegistrySweep {
  final case class KeyRun(key: String, buildJobs: Int,
      findings: Seq[String], rows: Int, deterministic: Boolean,
      capJobs: Option[(Int, Int)], entriesAdded: Int)

  final case class Pass(freshEntries: Int,
      zeroBuild: Seq[(String, Int)], unwarmed: Seq[String],
      warmed: Set[Int], leaked: Set[Int], keys: Seq[KeyRun])
}

class RegistrySweep0 extends RegistrySweep(0)
class RegistrySweep1 extends RegistrySweep(1)
