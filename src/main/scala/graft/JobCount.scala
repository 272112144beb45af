package graft

/** Per-key Spark JOB census: on a host that taxes every job submission,
  * a key's exposure is its job COUNT, not its data volume. Runs each
  * named key once warm (after an untimed run) and counts its jobs with
  * `JobCaps.countJobs`, as the suite's registry sweep checks the caps.
  * Run: sbt "runMain graft.JobCount q_graph_hits q_graph_kcore ..."
  * (`--all` = every registry key; no args = every key with a job cap,
  * each count printed against its cap and marked OVER above it). */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("ERROR")
    val caps = SparkEntry.declared.flatMap(q => q.cap.map(q.key -> _)).toMap
    val keys: Seq[String] =
      if (args.sameElements(Array("--all")))
        SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else caps.keys.toSeq.sorted
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, sfDir).count()
      val c = JobCaps.countJobs(spark, sfDir, k)
      val vsCap = caps.get(k).fold("") { cap =>
        f"  cap $cap%3d${if (c.jobs > cap) "  OVER" else ""}"
      }
      println(f"JOBS $k%-28s ${c.jobs}%4d jobs  ${c.sec}%6.2f s warm$vsCap")
    }
    spark.stop()
  }
}
