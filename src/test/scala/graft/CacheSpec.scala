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

  /** A private copy of the sf0.001 dir: artifact keys carry the data
    * dir, so a fresh dir starts with an empty census (entries built by
    * EARLIER suites in this JVM would otherwise mask a gap), and a
    * dir-scoped invalidate at the end leaves the artifacts later suites
    * in the shared session rely on alone. */
  private def withPrivateDir(body: String => Unit): Unit = {
    val auditDir = Files.createTempDirectory("graft-warmup-audit")
    new java.io.File(sfDir).listFiles().foreach { f =>
      Files.copy(f.toPath, auditDir.resolve(f.getName))
    }
    val aDir = auditDir.toString
    try body(aDir)
    finally {
      // Release everything built for the private dir: the artifacts,
      // the tmpdir layout parquets and warehouse bucket tables keyed by
      // the fresh dir's hash, and the copied data itself.
      Caches.invalidate(aDir)
      val tag = Integer.toHexString(aDir.hashCode & 0x7fffffff)
      Seq(s"graft_orders_bck_$tag", s"graft_customer_bck_$tag")
        .foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          rmTree(new java.io.File(
            spark.conf.get("spark.sql.warehouse.dir")
              .stripPrefix("file:"), t))
        }
      Seq(s"graft_events_by_day_$tag", s"graft_calendar_dim_$tag")
        .foreach(d => rmTree(
          new java.io.File(sys.props("java.io.tmpdir"), d)))
      rmTree(auditDir.toFile)
    }
  }

  test("every session cache is warmup-built: timed keys add no entries") {
    // Bench times one pass after its warmup, and no key of the timed
    // pass may pay an artifact build: a build that lands on whichever
    // consumer runs first charges that key for shared work and moves
    // with key order. Warm every declared artifact the way Bench does,
    // check each holds an entry, then run one consumer per artifact
    // family: the census must not grow.
    withPrivateDir { aDir =>
      assert(Caches.entriesFor(aDir) === 0)
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val idsBefore = persisted
      Caches.declared.foreach(_.warm(spark, aDir))
      val warmed = persisted -- idsBefore
      assert(warmed.nonEmpty)
      Caches.declared.foreach(a =>
        assert(a.entriesFor(aDir) > 0, s"artifact ${a.name} was not warmed"))
      val before = Caches.entriesFor(aDir)
      val probes = Seq(
        "q_search_rrf", // bm25_per_doc
        "q_stats_dw", "q_stats_pettitt", "q_stats_pacf", // daily_census
        "q_stats_ljung_box",
        "q_dedup_near", // tokens / vocab / bitmaps / near_pairs
        "q_ann_ivf", "q_ann_ivfpq", // kmeans_centroids / pq_codebook
        "q_eval_auroc", // quality_classifier
        "q_multimodal_phash_hamming", // packed_fingerprints
        "q_multimodal_block_jaccard", // block_inventory
        "q_layout_skipping", // layout_stats
        "q_text_bpe_encode", // bpe_trained
        "q_dedup_simhash_pairs", "q_dedup_containment", // simhashes / pairs
        "q_graph_hits", "q_graph_modularity", // graph edges / components
        // disk-backed layouts: co-bucketed tables, calendar dim
        "q_layout_bucket_join", "q_layout_dpp",
        "q_sim_sparse_topk", "q_text_keywords", // tfidf_index
        "q_text_search_tfidf",
        "q_eval_pq_recall", "q_embed_pq") // pq_codes / pq_query_dist
      probes.foreach { k =>
        assert(SparkEntry.queries.contains(k), s"probe key $k missing")
        SparkEntry.queries(k)(spark, aDir).count()
        assert(Caches.entriesFor(aDir) === before,
          s"$k built a session cache the warmup did not — declare it " +
            "as a graft.Artifact")
      }
      // invalidate releases everything the warmup persisted, the
      // intermediate checkpoints the builds did not keep included
      Caches.invalidate(aDir)
      val leaked = persisted intersect warmed
      assert(leaked.isEmpty, s"${leaked.size} of ${warmed.size} RDDs the " +
        s"warmup persisted are still persisted after invalidate: $leaked")
    }
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

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
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
