package graft

import java.nio.file.Files

/** The suite's performance regression guard: every `sbt test` re-counts
  * the jobs one warm run of each key with a declared `Query.cap` submits
  * and fails if any exceeds its cap — so a reverted driver fold, a
  * dropped session cache, or an un-batched iteration (each worth 3-20
  * jobs) fails the build on the commit that introduces it. Counts are
  * config-invariant (measured identical at local[2]/sf0.01 and
  * local[32]/sf0.1, see BASELINE.md), so host weather cannot move the
  * verdict.
  *
  * Red demo: GRAFT_JOBCAP_BREAK_KEY=q_graph_reach sbt "testOnly
  * graft.JobCapSpec" runs 3 extra one-row counts (6 jobs under AQE)
  * inside that key's counting window and this spec fails. */
class JobCapSpec extends SparkSpec {
  test("guarded keys stay within their recorded job-count caps") {
    val sf01 = "/root/testdata/sf0.01"
    val caps = SparkEntry.declared.flatMap(q => q.cap.map(q.key -> _))
    assert(caps.size === 105, "a job cap was added or dropped")
    val over = caps.sortBy(_._1).flatMap {
      case (key, cap) =>
        val n = JobCaps.countJobs(spark, sf01, key).jobs
        info(f"${if (n <= cap) "OK  " else "OVER"} $key%-28s $n%3d jobs (cap $cap)")
        if (n > cap) Some(s"$key: $n jobs > cap $cap") else None
    }
    assert(over.isEmpty, s"\njob-cap breach:\n${over.mkString("\n")}")
  }

  test("building q_sample_kcenter and q_events_retention submits no job") {
    // A fresh private copy of the data dir: no artifact is built for it
    // (events_ts_unit among them), so the count covers everything a
    // first build of each key runs eagerly. Only the builder call is
    // counted; no action runs.
    val dir = Files.createTempDirectory("graft-build-jobs")
    new java.io.File("/root/testdata/sf0.01").listFiles().foreach { f =>
      Files.copy(f.toPath, dir.resolve(f.getName))
    }
    try {
      val built = Seq("q_sample_kcenter", "q_events_retention").map { key =>
        val counter = new JobCaps.JobCounter(spark)
        try {
          counter.reset()
          SparkEntry.queries(key)(spark, dir.toString)
          key -> counter.get
        } finally counter.close()
      }
      assert(built.forall(_._2 == 0), s"jobs submitted while building: $built")
    } finally {
      Caches.invalidate(dir.toString)
      dir.toFile.listFiles().foreach(_.delete())
      dir.toFile.delete(): Unit
    }
  }
}
