package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("WARN")
    // Warmup, timed per artifact: builds every declared session
    // artifact for sfDir, so which timed key pays a build is not an
    // accident of key order. Its cost is reported (warmup_total_sec,
    // end_to_end_sec and the per-artifact map in target/bench_full.json),
    // not hidden.
    val warmupSecs: Seq[(String, Double)] = Caches.declared.map { a =>
      val t0 = System.nanoTime()
      try a.warm(spark, sfDir)
      catch { case t: Throwable =>
        System.err.println(s"warmup ${a.name} failed: ${t.getClass.getSimpleName}") }
      a.name -> (System.nanoTime() - t0) / 1e9
    }
    // One timed pass in sorted key order (Map iteration order is
    // hash-random). SPARK_GRAFT_ONLY (comma-separated keys) restricts
    // the run for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val keySeq = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    var failed = List.empty[String]
    val counter = new JobCaps.JobCounter(spark)
    counter.reset()
    val results = keySeq.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          failed ::= name
          System.err.println(s"BENCH FAIL $name: ${t.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val nJobs = counter.get
    counter.close()
    val r3 = (v: Double) => math.floor(v * 1000 + 0.5) / 1000
    val total = r3(results.map(_._2).sum)
    val warmupTotal = r3(warmupSecs.map(_._2).sum)
    val endToEnd = r3(warmupTotal + total)
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    def mapJson(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_full.json"),
      (s"""{"single_pass":${mapJson(results)},""" +
        s""""warmup_sec":${mapJson(warmupSecs)},"total_sec":$total,""" +
        s""""warmup_total_sec":$warmupTotal,"end_to_end_sec":$endToEnd,""" +
        s""""n_jobs":$nJobs,"failed":$failedJson}""").getBytes("UTF-8"))
    // The harness keeps only the last ~2000 chars of output, so the
    // in-line map carries the slowest keys (>= 0.5 s) down to a fixed
    // char budget; the full map is in target/bench_full.json.
    val budget = 1000
    var used = 2
    val kept = results.filter(_._2 >= 0.5)
      .sortBy { case (k, v) => (-v, k) }
      .takeWhile { case (k, v) =>
        val len = s"\"$k\":${r3(v)}".length + 1
        val fits = used + len <= budget
        if (fits) used += len
        fits
      }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"warmup_total_sec":$warmupTotal,"end_to_end_sec":$endToEnd,"n_jobs":$nJobs,"queries":${mapJson(kept)},"failed":$failedJson,"sf":"$sfDir"}""")
    if (failed.nonEmpty) System.err.println(s"FAILED QUERIES: $failed")
    spark.stop()
  }
}
