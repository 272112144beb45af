package graft

/** Per-key wall-clock timer for local iteration: runs each named query
  * at sf0.1 in Bench's session and a noop sink, printing one line per
  * key. Run a key twice to separate JVM/codegen warmup from
  * steady-state cost (the number BENCH_r*.json sees is the warm one —
  * Bench runs every key in one JVM).
  * Usage: sbt "runMain graft.TimeOne q_key [q_key ...]" */
object TimeOne {
  def main(a: Array[String]): Unit = {
    val spark = Session.local("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    a.foreach { k =>
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, d).write.mode("overwrite")
        .format("noop").save()
      println(f"$k ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
