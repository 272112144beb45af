package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The job census: one counting primitive (`JobCounter`) serves
  * JobCapSpec, `graft.JobCount` and the Bench fleet census, so the guard
  * and the census cannot disagree. The caps are declared per key
  * (`Query.cap`). Red demo: GRAFT_JOBCAP_BREAK_KEY=<key> runs 3 extra
  * one-row counts (6 jobs under AQE) inside that key's counting window. */
object JobCaps {

  /** Counts the Spark jobs submitted while it is attached. Listener
    * events post asynchronously (listenerBus.waitUntilEmpty is
    * private[spark]), so both edges of a window are drained: `reset`
    * and `get` poll until the count is stable across two consecutive
    * checks. A newly attached listener also receives queued events from
    * before the attach, which `reset` drains before zeroing. */
  final class JobCounter(s: SparkSession) extends AutoCloseable {
    private val n = new AtomicInteger(0)
    private val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(): Unit
      }
    }
    s.sparkContext.addSparkListener(listener)

    private def quiesce(): Unit = {
      var prev = -1
      var spins = 0
      while (prev != n.get() && spins < 20) {
        prev = n.get()
        Thread.sleep(50)
        spins += 1
      }
    }
    def reset(): Unit = { quiesce(); n.set(0) }
    def get: Int = { quiesce(); n.get() }
    def close(): Unit = s.sparkContext.removeSparkListener(listener)
  }

  /** Jobs and seconds of one counted run. */
  final case class Count(jobs: Int, sec: Double)

  /** Count the Spark jobs one warm run of `key` submits: an untimed
    * run first (artifact builds and codegen land outside the window),
    * then one counted, timed run. Safe in the suite because each forked
    * test JVM runs its suites sequentially, so no concurrent suite's
    * jobs can land in the window. */
  def countJobs(s: SparkSession, sfDir: String, key: String): Count = {
    val fn = SparkEntry.queries(key)
    fn(s, sfDir).count()
    val counter = new JobCounter(s)
    try {
      counter.reset()
      val t0 = System.nanoTime()
      fn(s, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sys.env.get("GRAFT_JOBCAP_BREAK_KEY").contains(key))
        (1 to 3).foreach(_ => s.range(1).count())
      Count(counter.get, sec)
    } finally counter.close()
  }
}
