package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The job census: one counting primitive (`JobCounter`) serves the
  * cap check of `RegistrySweep`, `graft.JobCount` and the Bench fleet
  * census, so the guard and the census cannot disagree. The caps are
  * declared per key (`Query.cap`). Red demo: GRAFT_JOBCAP_BREAK_KEY=<key>
  * runs 3 extra one-row counts (6 jobs under AQE) inside that key's
  * counting window. */
object JobCaps {

  /** Counts the Spark jobs submitted while it is attached. Listener
    * events post asynchronously, so both edges of a window drain the
    * listener bus before reading the count. A newly attached listener
    * also receives queued events from before the attach, which `reset`
    * drains before zeroing. */
  final class JobCounter(s: SparkSession) extends AutoCloseable {
    private val n = new AtomicInteger(0)
    private val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(): Unit
      }
    }
    s.sparkContext.addSparkListener(listener)

    def reset(): Unit = { GraftSqlBridge.drainListenerBus(s.sparkContext); n.set(0) }
    def get: Int = { GraftSqlBridge.drainListenerBus(s.sparkContext); n.get() }
    def close(): Unit = s.sparkContext.removeSparkListener(listener)
  }

  /** Jobs and seconds of one counted run. */
  final case class Count(jobs: Int, sec: Double)

  /** Count the Spark jobs of one timed build and `count()` of `key`,
    * run once before so that artifact builds and codegen land outside
    * the window. Safe in the suite because each forked test JVM runs
    * its suites sequentially, so no concurrent suite's jobs can land in
    * the window. */
  def countJobs(s: SparkSession, sfDir: String, key: String): Count = {
    val counter = new JobCounter(s)
    try {
      counter.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(s, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sys.env.get("GRAFT_JOBCAP_BREAK_KEY").contains(key))
        (1 to 3).foreach(_ => s.range(1).count())
      Count(counter.get, sec)
    } finally counter.close()
  }
}
