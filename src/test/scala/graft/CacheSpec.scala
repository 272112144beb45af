package graft

import java.nio.file.Files
import org.apache.spark.storage.StorageLevel

/** The session-artifact invalidation API (graft.Caches): entries are
  * per-(session, dir[, param]) singletons, invalidate(dir) is
  * dir-scoped and unpersists what it drops, and rebuilds read the files
  * as they are at rebuild time.
  *
  * (Note: a SAME-session overwrite of the parquet path is auto-refreshed
  * by Spark's CacheManager.recacheByPath, so in-session writes never go
  * stale — the graft.Caches staleness contract is about files rewritten
  * OUTSIDE the session, which this spec simulates only through the
  * rebuild-after-invalidate behavior.) */
class CacheSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, n: Int): Unit =
    (0 until n).map(i => (i.toLong, s"alpha beta tok$i", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  test("invalidate(dir) is dir-scoped, unpersists, and forces a rebuild") {
    val dir = Files.createTempDirectory("graft-cache").toString
    val tok = "split(text, ' ')"
    writeDocs(dir, 2)
    val first = operators.TokenBitmap.tokens(spark, dir, tok)
    // 2 docs x 3 distinct tokens (alpha, beta, tokI) each
    assert(first.count() === 6)
    assert(first.storageLevel !== StorageLevel.NONE)
    // cache hit: same persisted instance on repeat calls…
    assert(operators.TokenBitmap.tokens(spark, dir, tok) eq first)
    // …and invalidating a DIFFERENT dir doesn't touch this entry…
    Caches.invalidate(dir + "-other")
    assert(operators.TokenBitmap.tokens(spark, dir, tok) eq first)
    // …but invalidating THIS dir unpersists it and the next call
    // rebuilds from the files as they are now.
    writeDocs(dir, 5)
    Caches.invalidate(dir)
    assert(first.storageLevel === StorageLevel.NONE)
    val rebuilt = operators.TokenBitmap.tokens(spark, dir, tok)
    assert(!(rebuilt eq first))
    assert(rebuilt.select("doc_id").distinct().count() === 5)
  }

  test("invalidate(dir) releases checkpointed artifacts") {
    // q_text_quality_classifier's trained state holds a localCheckpoint
    // frame, and the distributed cluster loop hands back a frame over a
    // persisted RDD: Dataset.unpersist reaches neither
    withPrivateDir { aDir =>
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val idsBefore = persisted
      SparkEntry.queries("q_text_quality_classifier")(spark, aDir).count()
      val saved = operators.DedupOps.DriverCcEdgeThreshold
      operators.DedupOps.DriverCcEdgeThreshold = -1L
      try SparkEntry.queries("q_dedup_clusters")(spark, aDir).count()
      finally operators.DedupOps.DriverCcEdgeThreshold = saved
      val built = persisted -- idsBefore
      assert(built.nonEmpty)
      Caches.invalidate(aDir)
      assert((persisted intersect built).isEmpty,
        s"still persisted after invalidate: ${persisted intersect built}")
    }
  }

  test("clearAll drops every cached entry") {
    val dir = Files.createTempDirectory("graft-cache2").toString
    val tok = "split(text, ' ')"
    writeDocs(dir, 3)
    val first = operators.TokenBitmap.tokens(spark, dir, tok)
    assert(first.select("doc_id").distinct().count() === 3)
    writeDocs(dir, 1)
    Caches.clearAll()
    assert(first.storageLevel === StorageLevel.NONE)
    assert(operators.TokenBitmap.tokens(spark, dir, tok)
      .select("doc_id").distinct().count() === 1)
  }
}
