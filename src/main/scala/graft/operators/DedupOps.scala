package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.r6
import TokenBitmap.unigrams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path near-duplicate detection: MinHash+LSH banding and SimHash
  * (north-star LLM-pipeline operators; same public algorithms as Spark ML's
  * MinHashLSH / classic Charikar SimHash, re-expressed as declarative
  * DataFrame plans).
  *
  * All use md5 as the hash family so every intermediate is deterministic
  * and cross-engine reproducible — the whole pipeline (signatures, bands,
  * candidates, verified pairs) is oracle-checked, not just spot-tested.
  *
  * Scale story (the reason these exist next to q_dedup_near's exact
  * all-pairs baseline): banding turns O(n²) candidate generation into
  * an equi self-join on (band, band_key) — a plain shuffle join whose
  * output is only the colliding pairs. At 100 TB: tokens explode map-side,
  * signatures are a 16-row-per-doc aggregate, bands a 4-row-per-doc
  * aggregate, and the candidate join keys on band_key (high cardinality,
  * salt-able if a band bucket ever gets hot).
  *
  * Candidate dedup is FIRST-COLLISION EMISSION, not DISTINCT: each side of
  * the band join carries the doc's full band-key array, and a colliding
  * pair is emitted only at its lowest colliding band (`no earlier band j
  * with ka[j]=kb[j]`). Every pair appears exactly once with zero extra
  * shuffle — the round-1 plan's distinct over millions of packed pair keys
  * (and its 32-bit doc-id packing hazard) is gone entirely. Cost: a ≤3-
  * element array compare per candidate row, map-side, inside codegen.
  */
object DedupOps {
  private val NumHashes = 16
  private val BandRows = 4 // → 4 bands of 4 rows

  // LSH-banded candidate pairs (a < b, exactly once) for any tokenizer:
  // MinHash(16) signatures from the md5 hash family, 4 bands × 4 rows,
  // band join + first-collision filter. Deterministic ⟹ identical
  // candidates (including any banding misses — recall behavior itself is
  // oracle-pinned) in Spark and DuckDB.
  private val nBands = NumHashes / BandRows

  /** (doc_id, bkeys: array<string>[nBands]) — per-doc LSH band keys. */
  private def docBandKeys(s: SparkSession, d: String,
      tokensExpr: String): DataFrame = {
    val (vdf, _) = TokenBitmap.vocab(s, d, tokensExpr)
    val tok = TokenBitmap.tokens(s, d, tokensExpr)
    // h_i(tok) depends only on (i, tok): |vocab| × NumHashes values —
    // computed once on the cached dictionary as a 16-wide hash array and
    // broadcast, not per doc-token. All 16 signature minimums then come
    // out of ONE groupBy(doc_id) (16 scalar min aggs, map-side partial),
    // and band keys are plain projections of that row — the per-(doc,i)
    // explode and the two follow-up aggregations (band rollup, per-doc
    // collect) that round 1 paid are gone. One shuffle, |tok| rows.
    val tokHash = vdf.select("tok")
      .withColumn("harr", array((0 until NumHashes).map(i =>
        md5(concat(lit(s"$i:"), col("tok")))): _*))
    val sigCols = (0 until NumHashes).map(i =>
      min(expr(s"element_at(harr, ${i + 1})")).as(s"s$i"))
    val sigs = tok.join(broadcast(tokHash), Seq("tok"))
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    // band key = md5 of the band's sigs in i-order
    val bandKeys = (0 until nBands).map { b =>
      md5(concat_ws("|",
        (0 until BandRows).map(r => col(s"s${b * BandRows + r}")): _*))
    }
    sigs.select(col("doc_id"), array(bandKeys: _*).as("bkeys"))
  }

  /** First-collision filter: keep a pair only at its lowest colliding
    * band (empty prefix at band 0 → always kept). Spelled as scalar
    * element_at comparisons, NOT zip_with/slice lambdas: higher-order
    * functions are interpreted (they break WholeStageCodegen) and
    * allocate per row — fatal on millions of candidate rows. */
  private[graft] def firstCollisionOnly(nb: Int) = (0 until nb - 1)
    .map(j => (col("band") <= j) ||
      !(expr(s"element_at(ka, ${j + 1})") === expr(s"element_at(kb, ${j + 1})")))
    .reduce(_ && _)

  private val noEarlierCollision = firstCollisionOnly(nBands)

  /** Candidate pairs (a < b, exactly once) from ANY per-item band-key
    * frame (id, bkeys: array<string>) — the one implementation behind the
    * token-minhash, bigram-minhash, simhash and hyperplane-embedding LSH
    * paths. `nb` MUST equal the caller's bkeys length (each scheme has
    * its own band count; it is not derivable from the unsized array
    * type). */
  private[graft] def candidatesFromBandKeys(s: SparkSession,
      keys: DataFrame, nb: Int): DataFrame = {
    // Explicit fan-out on the probe side: its INPUT is a few MB (AQE
    // would coalesce it to ~1 partition) but each row fans out to its
    // band-bucket size in the join below — the classic input-bytes ≠
    // output-work trap. A fixed-width repartition keeps every core busy
    // generating pairs.
    val x = keys.select(col("id").as("a"), col("bkeys").as("ka"))
      .select(col("a"), col("ka"), posexplode(col("ka")).as(Seq("band", "bk")))
      .repartition(s.sparkContext.defaultParallelism * 4,
        col("a"), col("band"))
    val y = keys.select(col("id").as("b"), col("bkeys").as("kb"))
      .select(col("b"), col("kb"),
        posexplode(col("kb")).as(Seq("band_y", "bk_y")))
    // broadcast the band side: pair generation then distributes by x-rows
    // (even — every doc of a hot bucket expands on its own task) instead
    // of serializing each hot (band, bkey) group through one SMJ task.
    // At 100 TB the band table outgrows broadcast → the salted-shuffle
    // variant below (row-identical output, equivalence-spec'd).
    x.join(broadcast(y),
        col("band") === col("band_y") && col("bk") === col("bk_y") &&
        col("a") < col("b"))
      .filter(firstCollisionOnly(nb))
      .select("a", "b")
  }

  private[graft] def bandedCandidates(s: SparkSession, d: String,
      tokensExpr: String): DataFrame =
    candidatesFromBandKeys(s,
      docBandKeys(s, d, tokensExpr).withColumnRenamed("doc_id", "id"),
      nBands)

  /** 100 TB form of the candidate join: a SHUFFLE join on
    * (band, bkey, salt). The x side gets a deterministic salt from
    * hash(doc_id); the y side is replicated once per salt bucket — a hot
    * band bucket's pair explosion spreads over `saltBuckets` reducers
    * instead of serializing through one task, with no broadcast
    * requirement on either side. Same first-collision emission ⟹
    * row-identical output to bandedCandidates (ScaleTechniqueSpec). */
  private[graft] def bandedCandidatesSalted(s: SparkSession, d: String,
      tokensExpr: String, saltBuckets: Int = 8): DataFrame = {
    val docBands = docBandKeys(s, d, tokensExpr)
    val x = docBands.select(col("doc_id").as("a"), col("bkeys").as("ka"))
      .select(col("a"), col("ka"), posexplode(col("ka")).as(Seq("band", "bk")))
      .withColumn("salt",
        pmod(xxhash64(col("a")), lit(saltBuckets.toLong)).cast("int"))
    val y = docBands.select(col("doc_id").as("b"), col("bkeys").as("kb"))
      .select(col("b"), col("kb"),
        posexplode(col("kb")).as(Seq("band_y", "bk_y")))
      .withColumn("salt_y", explode(expr(s"sequence(0, ${saltBuckets - 1})")))
    x.join(y,
        col("band") === col("band_y") && col("bk") === col("bk_y") &&
        col("salt") === col("salt_y") && col("a") < col("b"))
      .filter(noEarlierCollision)
      .select("a", "b")
  }

  /** Exact-Jaccard verification of candidate pairs via the shared bitmap
    * frame (bit_count fold, codegen). The bitmap side is one row per doc
    * — AQE broadcasts it at tested SFs; at 100 TB it becomes a shuffle
    * join on doc_id, still linear in candidates. */
  private[graft] def verifyJaccard(s: SparkSession, d: String, tokensExpr: String,
      cand: DataFrame, threshold: Double): DataFrame = {
    val base = TokenBitmap.bitmaps(s, d, tokensExpr)
    cand
      .join(base.select(col("doc_id").as("a"), col("bm").as("ba"),
        col("sz").as("sa")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("bm").as("bb"),
        col("sz").as("sb")), Seq("b"))
      .withColumn("inter", expr(TokenBitmap.intersectExpr("ba", "bb")))
      .withColumn("jacc",
        col("inter") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jacc") >= threshold)
      .select(col("a"), col("b"), r6(col("jacc")).as("jacc_r"))
      .orderBy("a", "b")
  }

  /** Banded-LSH candidates + exact-Jaccard verify, persisted per
    * (session, dir, shingle expr, threshold). The verified pair set is a
    * session-lifetime index artifact — shared by the dedup key itself,
    * the incremental cross-batch filter, and the recall audit, exactly
    * like the simhash fingerprints — so each consumer starts from the
    * persisted frame instead of re-deriving shingles → signatures →
    * bands → candidates → bitmap verify. Deterministic, so the sharing
    * is invisible to results (the suite's registry sweep re-proves it
    * per run). */
  private val verifiedPairs = Artifact("verified_pairs",
      Seq((unigrams, 0.8), (TokenBitmap.bigramExpr, 0.6))) {
    (s, d, p: (String, Double)) =>
      verifyJaccard(s, d, p._1, bandedCandidates(s, d, p._1), p._2).persist()
  }

  /** MinHash(16) → LSH(4 bands × 4 rows) candidates → exact-Jaccard
    * verification at 0.8 on unigram token sets. */
  private val dedupMinhash: Q = (s, d) =>
    verifiedPairs(s, d, (unigrams, 0.8))

  /** Charikar SimHash fingerprints: 64-char bit string per doc from
    * token-frequency-weighted md5 bit votes. Computed per *distinct
    * token* (bit matrix is |vocab|×64, broadcastable) then weighted by
    * per-doc counts — linear in corpus size. Persisted per (session,
    * dir): the fingerprint query, the banded pair query, and the cluster
    * query all start from this frame. */
  private val simhashes = Artifact("simhashes") { (s, d) =>
    simhashesUncached(s, d).persist()
  }

  private def simhashesUncached(s: SparkSession, d: String): DataFrame = {
    val tokc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    // per-token ±1 bit matrix as ONE 64-wide array column on the
    // broadcast dictionary (the higher-order lambda runs |vocab| times,
    // not per doc-token), then all 64 weighted bit sums come out of a
    // single groupBy(doc_id) of scalar aggs and the fingerprint is a
    // plain projection — the round-1 shape exploded every (doc, token)
    // row 64× into a 10M-row shuffle on (doc_id, j) plus a second
    // collect_list aggregation just to reassemble the string.
    val tokBits = tokc.select("tok").distinct()
      .withColumn("h", md5(col("tok")))
      .withColumn("sgnarr", expr(
        """transform(sequence(0, 63), j ->
          |CASE WHEN ((position(substring(h, j div 4 + 1, 1),
          |'0123456789abcdef') - 1 >> (j % 4)) % 2) = 1
          |THEN 1 ELSE -1 END)""".stripMargin))
      .select("tok", "sgnarr")
    val sumCols = (0 until 64).map(j =>
      sum(col("cnt") * expr(s"element_at(sgnarr, ${j + 1})")).as(s"b$j"))
    tokc.join(broadcast(tokBits), Seq("tok"))
      .groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(j =>
          when(col(s"b$j") >= 0, "1").otherwise("0")): _*).as("sh"))
  }

  private val dedupSimhash: Q = (s, d) =>
    simhashes(s, d).select(col("doc_id"), col("sh").as("simhash"))
      .orderBy("doc_id")

  private val HammingMax = 3

  /** Simhash-banded near-dup pairs — the USE of the fingerprints above.
    * 4 bands of 16 bits: by pigeonhole, any pair within Hamming distance
    * 3 shares at least one untouched band, so the band join is an EXACT
    * (recall-1.0) candidate generator at this threshold, not a
    * probabilistic one. Verification is pure integer codegen: each band
    * decodes to a 16-bit word (conv base-2), hd = Σ bit_count(xor).
    * Same first-collision emission as the minhash path; at 100 TB the
    * same salted-shuffle variant applies. */
  private val dedupSimhashPairs: Q = (s, d) => {
    val bandCols = (0 until nBands).map(b =>
      substring(col("sh"), 1 + 16 * b, 16))
    val wordCols = (0 until nBands).map(b =>
      conv(substring(col("sh"), 1 + 16 * b, 16), 2, 10).cast("int")
        .as(s"w$b"))
    val fp = simhashes(s, d).select(
      col("doc_id") +: array(bandCols: _*).as("bkeys") +: wordCols: _*)
    val cand = candidatesFromBandKeys(s,
      fp.select(col("doc_id").as("id"), col("bkeys")), nBands)
    def side(p: String, idc: String) = fp.select(
      col("doc_id").as(idc) +: (0 until nBands).map(b =>
        col(s"w$b").as(s"$p$b")): _*)
    cand
      .join(side("xw", "a"), Seq("a"))
      .join(side("yw", "b"), Seq("b"))
      .withColumn("hd", expr(
        """CAST(bit_count(xw0 ^ yw0) + bit_count(xw1 ^ yw1) +
          |bit_count(xw2 ^ yw2) + bit_count(xw3 ^ yw3) AS BIGINT)"""
          .stripMargin))
      .filter(col("hd") <= HammingMax)
      .select("a", "b", "hd")
      .orderBy("a", "b")
  }

  /** Word-bigram shingles (shared key/fast-path in TokenBitmap). */
  private val bigramExpr = TokenBitmap.bigramExpr

  /** n-gram (word-bigram) near-dup — order-sensitive where token-set
    * Jaccard (q_dedup_near) is bag-of-words: shuffled copies of a doc stop
    * matching. Same banded-LSH candidate path as q_dedup_minhash, run on
    * the bigram dictionary (round 1's all-pairs bigram join is gone — the
    * order-sensitive near-dup now also has a non-quadratic scale path).
    * Threshold 0.6: bigram overlap runs lower than unigram overlap on the
    * same corpus. */
  private val dedupNgram: Q = (s, d) =>
    verifiedPairs(s, d, (bigramExpr, 0.6))

  /** Dedup CLUSTER assignment — the step after pair generation that an
    * actual dedup pipeline needs (keep one representative per group of
    * transitively-connected near-dups). Connected components by iterative
    * min-label propagation over the undirected pair graph: every node
    * adopts the minimum label in its neighborhood each round, so the
    * component's minimum doc_id floods outward and the fixpoint is
    * reached in diameter(G) rounds — deterministic under any partitioning
    * (min is order-free), hence oracle-checkable against DuckDB's
    * recursive transitive closure.
    *
    * Scale shape: each round is one shuffle join on node id + a min
    * aggregate (the simple-but-sound cousin of the large-star/small-star
    * algorithm); iterations are bounded and each intermediate label frame
    * is persisted so lineage stays O(1) per round. The driver-side loop
    * only checks the per-round convergence COUNT — no row data ever
    * reaches the driver. Input pairs here: q_dedup_simhash_pairs. */
  /** (doc_id, cluster_rep) for every doc that appears in a near-dup pair
    * — cached per (session, dir) so the cluster query and the curation
    * pipeline run the iterative propagation once. */
  private val clusterReps = Artifact("cluster_reps")(clusterRepsUncached)

  private val dedupClusters: Q = (s, d) =>
    clusterReps(s, d).orderBy("doc_id")

  /** Edge-count ceiling for the driver-side union-find path (≈8 MB of
    * packed longs at the cap — same order as the broadcast-join
    * threshold, the established "small enough for the driver" line).
    * `var` only as a test seam: the equivalence spec pins loop ≡
    * union-find by forcing the distributed path on the same graph. */
  private[graft] var DriverCcEdgeThreshold = 500000L

  /** When non-null, the distributed CC loop appends each round's
    * optimized-plan node count (test hook; never set on execution
    * paths). */
  private[graft] var CcPlanNodeLog
      : scala.collection.mutable.ListBuffer[Int] = null

  /** Union-find with MIN representative — the same fixpoint the
    * distributed min-label propagation converges to, so the two paths
    * are oracle-identical (pinned by ScaleTechniqueSpec's equivalence
    * test on the corpus graph and a scalacheck property on random
    * graphs). Returns (node, min node id of its component) for every
    * node that appears in an edge, sorted order unspecified. */
  private[graft] def unionFindMinReps(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        parent.put(x, parent.get(parent.get(x))) // path halving
        x = parent.get(x)
      }
      x
    }
    var i = 0
    while (i < edges.length) {
      val (a, b) = edges(i); i += 1
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      parent.size())
    val keys = parent.keySet().iterator()
    while (keys.hasNext) { val v = keys.next(); out += ((v, find(v))) }
    out.toSeq
  }

  private[graft] def clusterRepsUncached(s: SparkSession, d: String): DataFrame =
    connectedComponents(s, dedupSimhashPairs(s, d).select("a", "b"))

  /** Generic connected components over an (a, b) long edge list —
    * extracted so the graph pack (q_graph_components) and the dedup
    * cluster path share one implementation. Returns (doc_id,
    * cluster_rep) = (node, min node id of its component) for every node
    * appearing in an edge. Strategy is adaptive: driver union-find below
    * the broadcast-sized edge threshold, distributed min-label +
    * pointer-jumping loop above it. */
  private[graft] def connectedComponents(
      s: SparkSession, edges: DataFrame): DataFrame = {
    // localCheckpoint (eager) — THE iterative-algorithm pattern: it
    // materializes AND truncates lineage. persist()/unpersist() pairs are
    // a trap here: unpersisting round k's frame invalidates the cache of
    // every dependent frame, so round k+1 silently recomputes the entire
    // chain (pair generation included) and the loop goes superlinear.
    // Near-dup pair graphs are sparse (|E| ≪ |docs|), so the iteration
    // frames are right-sized to few partitions — 32 shuffle partitions of
    // a few hundred rows would make every round pure task overhead. At
    // larger graphs the same loop runs with the session default; the
    // algorithm is partition-count-agnostic.
    //
    // Materialize the PAIRS once through the normal (AQE) execution path
    // before building the undirected edge list: localCheckpoint would
    // execute the plan via the RDD path — without adaptive execution the
    // banded pair generation runs several times slower — and a union of
    // two references to the same uncached subtree would execute it twice.
    val pairs = edges.persist()
    val edgeCount = pairs.count()
    // ADAPTIVE STRATEGY CHOICE (the broadcast-join-threshold idea applied
    // to connected components): a materialized pair graph below ~500k
    // edges (≈ 8 MB of longs — same order as Spark's own 10 MB broadcast
    // threshold, which also collects to the driver) is solved by a single
    // driver-side union-find pass — microseconds of compute vs ~0.7 s of
    // job-scheduling floor PER ROUND for the distributed loop. Near-dup
    // graphs are sparse by construction (dedup output ≪ corpus), so in
    // practice even 100 TB corpora produce pair graphs on this side of
    // the threshold; the distributed min-label loop below remains the
    // unbounded-scale path and is what runs past it.
    if (edgeCount <= DriverCcEdgeThreshold) {
      // one fetch job — the threshold just proved the rows fit the driver
      // (toLocalIterator would schedule a sequential job per partition)
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      pairs.unpersist()
      import s.implicits._
      return unionFindMinReps(rows).toDF("doc_id", "cluster_rep")
    }
    // The iteration stages run through the RDD path (localCheckpoint), so
    // AQE never coalesces their shuffles: the loop's shuffle width must be
    // set statically. Right-size it to the MATERIALIZED edge count (~64k
    // edge rows per partition, floor 4): a few-hundred-row bench graph
    // gets 4 partitions instead of drowning in 32-task overhead per
    // round; a billion-edge graph gets thousands and scales out. The
    // width is set on a CHILD session (shared SparkContext, private SQL
    // conf), so no setting leaks into plans concurrently compiled on the
    // caller's session.
    val np = math.max(4L, edgeCount / 65536L).toInt
    val loopS = s.newSession()
    loopS.conf.set("spark.sql.shuffle.partitions", np.toString)
    // Every materialization in the loop goes through an RDD handle WE
    // persist, so block lifetimes are deterministic: each round frees
    // the previous round's blocks as soon as its own are materialized,
    // and the final result's persisted RDD is released by the artifact
    // that holds it (Caches.invalidate) instead of waiting on GC +
    // ContextCleaner.
    // (localCheckpoint was the previous mechanism; its blocks are not
    // reachable from DataFrame.unpersist, so nothing could be freed
    // eagerly.)
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.storage.StorageLevel
    def materialize(df: DataFrame): (DataFrame, RDD[Row]) = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      (loopS.createDataFrame(rdd, df.schema), rdd)
    }
    // Lift the materialized pairs into the child session: the rows come
    // from the persisted blocks, so this is a re-read, not a re-compute.
    val pairsL = loopS.createDataFrame(pairs.toDF().rdd, pairs.schema)
    val (und, undRdd) = materialize(pairsL
      .union(pairsL.select(col("b").as("a"), col("a").as("b")))
      .repartition(np, col("a")))
    // the materialized edge list is self-contained — release the cached
    // pairs blocks instead of pinning them for the session lifetime
    pairs.unpersist()
    val nodes = und.select(col("a").as("v")).distinct()
    var (lab, labRdd) = materialize(
      nodes.select(col("v"), col("v").as("lbl")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 30) {
      // (1) adopt the minimum label in the neighborhood…
      val nbrMin = und.join(lab, und("b") === lab("v"))
        .groupBy(und("a").as("nv")).agg(min("lbl").as("nl"))
      val stepped = lab.join(nbrMin, lab("v") === nbrMin("nv"), "left")
        .select(col("v"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("mid"))
      // (2) …then path-halve: follow the adopted label one hop through
      // the label table (pointer jumping) — long chains collapse in
      // O(log diameter) rounds instead of O(diameter).
      val jump = stepped.select(col("v").as("jv"), col("mid").as("jl"))
      val roundPlan = stepped.join(jump, stepped("mid") === jump("jv"), "left")
        .select(stepped("v"), col("prev"),
          least(col("mid"), coalesce(col("jl"), col("mid"))).as("nlbl"))
        .repartition(np, col("v"))
      // test hook (IterativeLineageSpec): record each round's optimized
      // plan node count — flat across rounds BY CONSTRUCTION, because
      // lab/und are always fresh LogicalRDD scans of materialized blocks
      if (CcPlanNodeLog != null)
        CcPlanNodeLog += roundPlan.queryExecution.optimizedPlan
          .collect { case n => n }.length
      val (upd, updRdd) = materialize(roundPlan)
      changed = upd.filter(col("nlbl") < col("prev")).count()
      labRdd.unpersist(blocking = false) // round k-1 freed eagerly
      lab = upd.select(col("v"), col("nlbl").as("lbl"))
      labRdd = updRdd
      iter += 1
    }
    // Min-label + pointer-jumping converges in O(log diameter) rounds —
    // 30 covers any graph with diameter < 2^30. If we ever hit the cap
    // anyway, the labels are WRONG (docs in one component carry different
    // reps) and every consumer (q_dedup_clusters, q_pipeline_curate)
    // would silently diverge from the oracle — fail loudly instead.
    if (changed > 0)
      throw new IllegalStateException(
        s"cluster label propagation did not converge after $iter rounds " +
          s"($changed labels still changing, $edgeCount edges)")
    val res = lab.select(col("v").as("doc_id"), col("lbl").as("cluster_rep"))
    // Hand the result back on the CALLER's session so downstream plans
    // (cluster query, curation joins) compile with its conf, not the
    // loop's.
    val matRdd = res.toDF().rdd.persist(StorageLevel.MEMORY_AND_DISK)
    matRdd.count()
    undRdd.unpersist(blocking = false)
    labRdd.unpersist(blocking = false)
    s.createDataFrame(matRdd, res.schema)
  }

  /** END-TO-END corpus curation — the composition a training-data user
    * actually runs, as one oracle-checked operator: quality gate
    * (heuristic score ≥ 0.95) ∧ exact-dedup keeper (min doc_id per
    * content hash) ∧ near-dup cluster representative (simhash clusters:
    * unpaired docs represent themselves) ∧ deterministic 50% hash sample.
    * Stages are independent predicates, so the whole pipeline is a single
    * declarative plan over the shared cluster/fingerprint caches — and
    * the DuckDB oracle replays the identical four gates relationally. */
  private val pipelineCurate: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // quality scoring = TextOps' one shared definition (q_text_quality
    // and this gate cannot drift apart)
    val q = TextOps.withQualityStats(Tables.documents(s, d))
      .withColumn("quality_r", r6(TextOps.qualityScore))
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    q.withColumn("rn", row_number().over(w))
      .join(clusterReps(s, d), Seq("doc_id"), "left")
      .filter(col("quality_r") >= 0.95)
      .filter(col("rn") === 1)
      .filter(coalesce(col("cluster_rep"), col("doc_id")) === col("doc_id"))
      .filter(TextOps.hashSampleKeep(TextOps.halfDigits))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("quality_r"))
      .orderBy("doc_id")
  }

  /** Recall audit of the banded MinHash path against the exact
    * all-pairs baseline (the text twin of q_eval_lsh_recall): how many
    * true ≥0.8 near-dup pairs survive banding? Ground truth is
    * q_dedup_near's definition (size-ratio prefilter included). Pure
    * composition of two existing plans joined on the pair key; the
    * measured recall is itself oracle-pinned. */
  private val minhashRecall: Q = (s, d) => {
    // reads the session-cached exact pair set (round 11) instead of
    // re-running the ceiling-guarded ground-truth plan per evaluation
    val exact = TextOps.nearPairs(s, d)
      .select(col("a"), col("b"), lit(1L).as("ex"))
    val lsh = dedupMinhash(s, d)
      .select(col("a"), col("b"), lit(1L).as("ls"))
    // ONE full-outer pass: each side's (expensive) plan executes exactly
    // once — the three-aggregate crossJoin form re-ran both plans twice
    exact.join(lsh, Seq("a", "b"), "full_outer")
      .agg(sum(col("ex")).as("n_exact"), sum(col("ls")).as("n_lsh"),
        count(when(col("ex").isNotNull && col("ls").isNotNull, 1))
          .as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
  }

  /** Near-dup cluster size histogram — the dedup-savings report (a
    * cluster of size k keeps 1, drops k−1): component sizes from the
    * shared cluster cache rolled into (size → n_clusters). Docs outside
    * any pair are singletons by definition and excluded, exactly like
    * q_dedup_clusters. Two bounded aggregates over the cached labels. */
  private val clusterSizes: Q = (s, d) =>
    clusterReps(s, d)
      .groupBy("cluster_rep").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("size")

  /** ROUGE-1/ROUGE-2 F1 of every near-dup cluster member against its
    * kept representative — the summarization-eval metric repurposed as
    * the pre-delete audit a curation pipeline actually needs: the
    * fingerprint similarity that formed the cluster says nothing about
    * SEQUENCE overlap, while clipped unigram/bigram MULTISET F1 says
    * how much of the text being dropped is really inside the text
    * being kept (low rouge2 at high fingerprint similarity = same
    * vocabulary, different order — a paraphrase worth keeping, not a
    * copy). Scoring member↔rep instead of all intra-cluster pairs
    * keeps the audit LINEAR in docs (a size-k cluster costs k−1 rows,
    * never k²/2 — the shape that survives 100 TB); cluster labels come
    * from the shared cached components, n-gram censuses are exploded
    * only for docs inside clusters, and clipped F1 collapses to
    * 2·Σmin(ca,cb)/(na+nb) — one integer overlap join + one division
    * per metric. */
  /** Shared (a=rep, b=member, n_a, n_b, o1, o2) frame for the
    * n-gram-overlap pair metrics (ROUGE + BLEU): clipped unigram and
    * bigram multiset overlaps of every cluster member against its
    * representative. Censuses are exploded only for docs inside
    * clusters; pairs broadcast onto them. A SESSION ARTIFACT since
    * round 11 (the centroidPred pattern): both consumers re-ran the
    * n-gram explode + overlap joins per evaluation (rouge 7 + bleu 7 →
    * 2 + 2 jobs, A/B'd). */
  private val pairOverlaps = Artifact("pair_overlaps") { (s, d) =>
    pairOverlapsUncached(s, d).persist()
  }

  private def pairOverlapsUncached(s: SparkSession, d: String): DataFrame = {
    val pairs = clusterReps(s, d)
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("cluster_rep").as("a"), col("doc_id").as("b"))
    val docs = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val toks = Tables.documents(s, d).join(docs, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val tokc = toks.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bigc = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"""))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def overlap(cnt: DataFrame, name: String) = cnt
      .select(col("doc_id").as("a"), col("g"), col("c").as("ca"))
      .join(broadcast(pairs), "a")
      .join(cnt.select(col("doc_id").as("b"), col("g"),
        col("c").as("cb")), Seq("b", "g"))
      .groupBy("a", "b").agg(sum(least(col("ca"), col("cb"))).as(name))
    val lens = tokc.groupBy("doc_id").agg(sum(col("c")).as("n"))
    pairs
      .join(lens.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(lens.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .join(overlap(tokc, "o1"), Seq("a", "b"), "left")
      .join(overlap(bigc, "o2"), Seq("a", "b"), "left")
      .na.fill(0L, Seq("o1", "o2"))
  }

  private val evalRouge: Q = (s, d) =>
    pairOverlaps(s, d)
      .withColumn("rouge1_f_r",
        r6(lit(2.0) * col("o1") / (col("n_a") + col("n_b"))))
      .withColumn("rouge2_f_r",
        when(col("n_a") + col("n_b") > 2,
          r6(lit(2.0) * col("o2") / (col("n_a") + col("n_b") - 2)))
          .otherwise(lit(0.0)))
      .select("a", "b", "n_a", "n_b", "o1", "o2",
        "rouge1_f_r", "rouge2_f_r")
      .orderBy("a", "b")

  /** BLEU-2 of each cluster member (candidate) against its kept
    * representative (reference) — ROUGE's precision-direction sibling
    * on the SAME shared overlap frame: p_i = clipped i-gram precision
    * o_i/(n_b − i + 1), score = BP·√(p1·p2) with the brevity penalty
    * BP = min(1, e^{1 − n_a/n_b}) punishing members much shorter than
    * their rep (the truncation-dup case ROUGE-F flatters). exp/ln is
    * the one libm call, in the same expression shape both engines
    * already agree on (the sigmoid precedent); everything else is
    * integer overlaps to two divisions and a sqrt. */
  private val evalBleu: Q = (s, d) =>
    pairOverlaps(s, d)
      .withColumn("bp_r",
        r6(when(col("n_b") >= col("n_a"), lit(1.0))
          .otherwise(exp(lit(1.0)
            - col("n_a").cast("double") / col("n_b")))))
      .withColumn("bleu2_r",
        when(col("n_b") > 1,
          r6(col("bp_r") * sqrt(
            (col("o1").cast("double") / col("n_b"))
              * (col("o2").cast("double") / (col("n_b") - 1)))))
          .otherwise(lit(0.0)))
      .select("a", "b", "n_a", "n_b", "o1", "o2", "bp_r", "bleu2_r")
      .orderBy("a", "b")

  /** Quality-aware cluster representative selection: for every near-dup
    * cluster (the shared simhash component labels), keep the member with
    * the HIGHEST heuristic quality score (r6-rounded, doc_id tie-break)
    * instead of the smallest id — the retention policy a curation
    * pipeline actually wants: drop k−1 docs per cluster but never the
    * best-written one. Pure composition of two cached artifacts (cluster
    * labels × the shared TextOps quality stats) plus one
    * cluster-partitioned window; no new corpus scan, no global window.
    * At 100 TB this is a join of the materialized cluster table against
    * the per-doc quality table, shuffled once on cluster_rep — cluster
    * sizes are small by construction so the window never skews. */
  private val dedupKeepBest: Q = (s, d) => {
    val q = TextOps.withQualityStats(Tables.documents(s, d))
      .select(col("doc_id"), r6(TextOps.qualityScore).as("q_r"))
    val byClu = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_rep")
    clusterReps(s, d).join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        byClu.orderBy(col("q_r").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byClu))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keep_doc"),
        col("q_r").as("keep_quality_r"), col("n_members"))
      .orderBy("cluster_rep")
  }

  /** Leakage-free train/val/test split — the GroupKFold-shaped
    * assignment: each doc's split key is its near-dup CLUSTER
    * representative (own doc_id for singletons), hashed with the same
    * md5 12/2/2 partition as q_sample_split. Every near-dup cluster
    * therefore lands in exactly ONE split by construction — the naive
    * per-doc hash split leaks near-duplicates of training docs into
    * val/test, silently inflating eval scores. Output is the per-split
    * census of docs and groups. Scale shape: one left join of the corpus
    * against the bounded cached cluster table + one hash aggregate;
    * assignment stays a pure function of content-cluster identity, so
    * re-runs and incremental ingestion never move an existing group. */
  private val sampleSplitLeakfree: Q = (s, d) => {
    val keyed = Tables.documents(s, d).select(col("doc_id"))
      .join(clusterReps(s, d), Seq("doc_id"), "left")
      .withColumn("gkey", coalesce(col("cluster_rep"), col("doc_id")))
    val digit = substring(md5(col("gkey").cast("string")), 1, 1)
    keyed
      .withColumn("split", when(digit.isin("c", "d"), "val")
        .when(digit.isin("e", "f"), "test")
        .otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("gkey")).as("n_groups"))
      .orderBy("split")
  }

  /** Repetition-aware sampling weights (the data-constrained-scaling
    * recipe: a doc duplicated k× should train with weight 1/k so the
    * effective epoch count over its content stays 1). Cluster sizes come
    * from the shared simhash cluster cache; docs outside any cluster are
    * singletons with weight 1. Output is the bounded (size → n_docs,
    * weight) table a sampler joins back by cluster — at 100 TB this is
    * two tiny aggregates over the already-materialized cluster labels
    * plus one corpus count; nothing quadratic, nothing re-shuffled. */
  private val sampleRepWeight: Q = (s, d) => {
    // the size histogram is a |distinct cluster sizes|-bounded census —
    // DRIVER fold (round 11, the kappa pattern): the old plan consumed
    // the size frame twice (histogram + Σsize) and paid a
    // crossJoin(broadcast) pair for one number. A/B'd round 11: job
    // count ties (7 — AQE stage fan dominates), kept for the single
    // census pass and the simpler driver shape.
    // Exact longs throughout; singleton count = corpus total − docs in
    // clusters, exactly as before.
    val cells = clusterReps(s, d).groupBy("cluster_rep")
      .agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(0) * r.getLong(1)))
      .sortBy(_._1)
    val nIn = cells.map(_._2).sum
    val nTotal = Tables.documents(s, d).count()
    import s.implicits._
    val singles =
      if (nTotal - nIn > 0) Seq((1L, nTotal - nIn)) else Seq.empty
    (singles ++ cells)
      .toDF("size", "n_docs")
      .withColumn("weight_r", r6(lit(1.0) / col("size")))
      .orderBy("size")
  }

  /** Incremental (new-batch-vs-corpus) near-dup: the ingest-time dedup
    * every growing training corpus runs — score only NEW docs (top 20%
    * of the id space, standing in for "today's crawl") against the BASE
    * corpus, never base-vs-base. Reuses the banded MinHash candidates +
    * exact-Jaccard verify and keeps just the cross-partition pairs (a <
    * b and ids are batch-ordered, so a base × b new ⟺ a < cutoff ≤ b).
    * At 100 TB the base side's band keys are a precomputed index read
    * from storage, so per-batch cost is |batch| band lookups — the
    * filter placement here is exactly that access pattern. */
  private val dedupIncremental: Q = (s, d) => {
    val cut = Tables.documents(s, d)
      .agg(expr("(max(doc_id) + 1) * 4 div 5").as("cutoff"))
    verifiedPairs(s, d, (unigrams, 0.8))
      .crossJoin(broadcast(cut))
      .filter(col("a") < col("cutoff") && col("b") >= col("cutoff"))
      .select(col("b").as("new_id"), col("a").as("base_id"), col("jacc_r"))
      .orderBy("new_id", "base_id")
  }

  /** Trainer-ready export manifest — the pipeline's LAST mile, one
    * oracle-checked operator: the curated corpus (the q_pipeline_curate
    * gates, same shared plan) laid out in the epoch-deterministic global
    * shuffle order with round-robin shards and per-doc token counts —
    * i.e. exactly the manifest a training job reads to locate example k
    * of shard s. Order key = md5(epoch salt ‖ doc_id) ranked through
    * Dist.withRankAndCount (range shuffle + broadcast offsets — no
    * single-partition window), so retries, re-ingests, and workers all
    * reproduce the byte-identical layout. */
  private val pipelineExport: Q = (s, d) => {
    val curated = pipelineCurate(s, d).withColumn("okey",
      md5(concat(lit("epoch0:"), col("doc_id").cast("string"))))
    Dist.withRankAndCount(curated, "pos", "__n", Seq.empty,
        Seq(col("okey"), col("doc_id")))
      .select(col("doc_id"), col("pos"),
        ((col("pos") - 1) % 4).cast("int").as("shard"),
        expr("(pos - 1) div 4").as("shard_pos"), col("n_tok"))
      .orderBy("pos")
  }

  /** IEEE-exact x^n for power-of-two n as a textual squaring chain
    * ((x·x)·(x·x)…) — pow()'s correct rounding is not guaranteed
    * identical across engines, chained multiplication is. Shared by the
    * Spark AND DuckDB sides of q_dedup_lsh_planner. */
  private def powChain(x: String, n: Int): String =
    if (n == 1) x
    else { val h = powChain(x, n / 2); s"($h * $h)" }

  /** The (bands × rows) configurations of a 16-hash MinHash signature. */
  private val lshConfigs = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** LSH banding planner — the design table behind q_dedup_minhash's
    * 4×4 choice: for every (bands b × rows r) split of the 16-hash
    * signature and a grid of true Jaccard similarities s, the
    * candidate-pair probability 1 − (1 − s^r)^b. This is the S-curve an
    * engineer reads to place the threshold knee before launching a
    * 100 TB dedup (band joins are priced in candidate volume; the
    * planner turns the (b, r) knob into numbers). Pure bounded census —
    * 5 configs × 19 grid points; all powers evaluate as the SAME
    * squaring chain in both engines, so every probability is
    * bit-identical before its r6. */
  private val lshPlanner: Q = (s, d) => {
    val frames = lshConfigs.map { case (b, r) =>
      val p = s"1.0 - ${powChain(s"(1.0 - ${powChain("s", r)})", b)}"
      s.range(1L, 20L).toDF("k")
        .select(lit(b).as("n_bands"), lit(r).as("n_rows"),
          (col("k") / lit(20.0)).as("s"))
        .withColumn("p_candidate", r6(expr(p)))
    }
    frames.reduce(_ unionAll _)
      .orderBy("n_bands", "s")
  }

  /** Shared CTE chain ending in `curated` = the four q_pipeline_curate
    * gates (quality ∧ exact-dedup keeper ∧ near-dup cluster rep ∧ hash
    * sample) — reused verbatim by the curate and export oracles so the
    * two cannot drift. Callers prepend WITH RECURSIVE (the reach CTE). */
  private def curateCtes: String =
    s"""$simhashPairCtes,
       pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
       und AS (SELECT a, b FROM pairs
               UNION ALL SELECT b, a FROM pairs),
       reach(src, dst) AS (
         SELECT a, b FROM und
         UNION
         SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
       reps AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
                FROM reach GROUP BY src),
       q AS (
         SELECT doc_id, lang, CAST(n_tok AS INTEGER) AS n_tok,
                floor((${TextOps.qualityScoreSql})
                  * 1000000 + 0.5) / 1000000.0 AS quality_r
         FROM (SELECT doc_id, lang, ${TextOps.qualityStatsColsSql}
               FROM documents) t0),
       e AS (
         SELECT doc_id,
                row_number() OVER (PARTITION BY md5(text)
                  ORDER BY doc_id) AS rn
         FROM documents),
       curated AS (
         SELECT q.doc_id, q.lang, q.n_tok, q.quality_r
         FROM q JOIN e USING (doc_id) LEFT JOIN reps USING (doc_id)
         WHERE q.quality_r >= 0.95 AND e.rn = 1
           AND coalesce(reps.cluster_rep, q.doc_id) = q.doc_id
           AND ${TextOps.hashSampleSql("q.doc_id", TextOps.halfDigits)})"""

  /** Shared SQL skeleton: MinHash sigs → bands → DISTINCT band-colliding
    * pairs → exact Jaccard ≥ threshold. (DISTINCT here ≡ the Spark side's
    * first-collision emission — same pair set.) `tokCte` must yield
    * (doc_id, tok) with distinct tokens per doc. */
  private def lshOracle(tokCte: String, threshold: Double): String =
    s"""WITH tok AS ($tokCte),
         hs AS (
           SELECT doc_id, i, min(md5(i::VARCHAR || ':' || tok)) AS sig
           FROM tok, UNNEST(generate_series(0, ${NumHashes - 1})) AS t(i)
           GROUP BY doc_id, i),
         bands AS (
           SELECT doc_id, i // $BandRows AS band,
                  md5(string_agg(sig, '|' ORDER BY i)) AS bkey
           FROM hs GROUP BY doc_id, i // $BandRows),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.bkey = y.bkey
            AND x.doc_id < y.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         inter AS (
           SELECT c.a, c.b, count(*) AS i
           FROM cand c
           JOIN tok x ON x.doc_id = c.a
           JOIN tok y ON y.doc_id = c.b AND y.tok = x.tok
           GROUP BY c.a, c.b)
         SELECT a, b,
                floor((i / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000.0
                  AS jacc_r
         FROM inter
         JOIN sz sa ON sa.doc_id = a
         JOIN sz sb ON sb.doc_id = b
         WHERE i / (sa.n + sb.n - i) >= $threshold
         ORDER BY a, b"""

  /** Shared CTE chain: simhash fingerprints → 4×16-bit band candidates →
    * per-pair hamming distance (`ham(a, b, hd)`). Used by the pairs
    * oracle and, transitively closed, by the clusters oracle. */
  private val simhashPairCtes =
    """tokc AS (
           SELECT doc_id, tok, count(*) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY doc_id, tok),
         tb AS (SELECT DISTINCT tok, md5(tok) AS h FROM tokc),
         bits AS (
           SELECT tok, j,
                  CASE WHEN (((strpos('0123456789abcdef',
                               substring(h, j // 4 + 1, 1)) - 1)
                              >> (j % 4)) % 2) = 1
                       THEN 1 ELSE -1 END AS sgn
           FROM tb, UNNEST(generate_series(0, 63)) AS u(j)),
         sums AS (
           SELECT doc_id, j, sum(cnt * sgn) AS s
           FROM tokc JOIN bits USING (tok)
           GROUP BY doc_id, j),
         sh AS (
           SELECT doc_id,
                  string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                             ORDER BY j) AS sh
           FROM sums GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                  x.sh AS sa, y.sh AS sb
           FROM sh x JOIN sh y ON x.doc_id < y.doc_id
            AND (substring(x.sh, 1, 16) = substring(y.sh, 1, 16)
              OR substring(x.sh, 17, 16) = substring(y.sh, 17, 16)
              OR substring(x.sh, 33, 16) = substring(y.sh, 33, 16)
              OR substring(x.sh, 49, 16) = substring(y.sh, 49, 16))),
         ham AS (
           SELECT a, b,
                  len(list_filter(generate_series(1, 64),
                      i -> substring(sa, i, 1) != substring(sb, i, 1)))
                    AS hd
           FROM cand)"""

  val declared: Seq[Query] = Seq(
    Query("q_dedup_lsh_planner", lshPlanner, {
      val branches = lshConfigs.map { case (b, r) =>
        val p = s"1.0 - ${powChain(s"(1.0 - ${powChain("s", r)})", b)}"
        s"""SELECT $b AS n_bands, $r AS n_rows, s,
               floor(($p) * 1000000 + 0.5) / 1000000.0 AS p_candidate
            FROM g"""
      }.mkString("\n UNION ALL\n ")
      s"""WITH g AS (SELECT CAST(unnest(generate_series(1, 19)) AS BIGINT)
                       / 20.0 AS s)
          $branches
          ORDER BY n_bands, s"""
    }),
    Query("q_dedup_incremental", dedupIncremental,
      s"""WITH cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS cutoff
                       FROM documents)
         SELECT b AS new_id, a AS base_id, jacc_r
         FROM (${lshOracle(
        """SELECT doc_id,
                unnest(list_distinct(string_split(text, ' '))) AS tok
         FROM documents""", 0.8)}) pairs
         CROSS JOIN cut
         WHERE a < cutoff AND b >= cutoff
         ORDER BY new_id, base_id"""),
    Query("q_dedup_minhash", dedupMinhash, lshOracle(
      """SELECT doc_id,
                unnest(list_distinct(string_split(text, ' '))) AS tok
         FROM documents""", 0.8)),
    Query("q_eval_minhash_recall", minhashRecall,
      s"""WITH exact AS (${TextOps.dedupNearSql}),
         lsh AS (${lshOracle(
        """SELECT doc_id,
                unnest(list_distinct(string_split(text, ' '))) AS tok
         FROM documents""", 0.8)})
         SELECT ne.n_exact, nl.n_lsh, h.n_hit,
                floor((CAST(n_hit AS DOUBLE) / n_exact) * 1000000 + 0.5)
                  / 1000000.0 AS recall
         FROM (SELECT count(*) AS n_exact FROM exact) ne
         CROSS JOIN (SELECT count(*) AS n_lsh FROM lsh) nl
         CROSS JOIN (SELECT count(*) AS n_hit
                     FROM lsh JOIN exact USING (a, b)) h""", cap = 6)
      .allowUnboundedJoin("all doc pairs a < b (near_pairs): exact truth"),
    Query("q_dedup_ngram", dedupNgram, lshOracle(
      """SELECT doc_id,
                unnest(list_distinct(list_transform(
                  generate_series(1, len(string_split(text, ' ')) - 1),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i + 1]))) AS tok
         FROM documents""", 0.6)),
    Query("q_dedup_cluster_sizes", clusterSizes,
      s"""WITH RECURSIVE $simhashPairCtes,
         pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         c AS (
           SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
           FROM reach GROUP BY src),
         sz AS (SELECT cluster_rep, count(*) AS size
                FROM c GROUP BY cluster_rep)
         SELECT size, count(*) AS n_clusters
         FROM sz GROUP BY size ORDER BY size"""),
    // same cluster CTEs; weight table = 1/size per size bucket, plus
    // the singleton row (docs in no cluster) at weight 1
    Query("q_sample_rep_weight", sampleRepWeight,
      s"""WITH RECURSIVE $simhashPairCtes,
         pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         c AS (
           SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
           FROM reach GROUP BY src),
         sz AS (SELECT cluster_rep, count(*) AS size
                FROM c GROUP BY cluster_rep),
         bysize AS (SELECT size, CAST(size * count(*) AS BIGINT) AS n_docs
                    FROM sz GROUP BY size),
         tot AS (SELECT count(*) AS n_total FROM documents),
         cl AS (SELECT CAST(coalesce(sum(size), 0) AS BIGINT) AS n_in
                FROM sz),
         allrows AS (
           SELECT CAST(1 AS BIGINT) AS size, n_total - n_in AS n_docs
           FROM tot, cl WHERE n_total - n_in > 0
           UNION ALL
           SELECT size, n_docs FROM bysize)
         SELECT size, n_docs,
                floor(1.0 / size * 1000000 + 0.5) / 1000000.0 AS weight_r
         FROM allrows ORDER BY size"""),
    Query("q_dedup_simhash_pairs", dedupSimhashPairs,
      s"""WITH $simhashPairCtes
         SELECT a, b, hd FROM ham WHERE hd <= $HammingMax
         ORDER BY a, b""", cap = 8),
    Query("q_pipeline_curate", pipelineCurate,
      s"""WITH RECURSIVE $curateCtes
         SELECT doc_id, lang, n_tok, quality_r FROM curated
         ORDER BY doc_id"""),
    Query("q_pipeline_export", pipelineExport,
      s"""WITH RECURSIVE $curateCtes,
         ordered AS (
           SELECT doc_id, n_tok,
                  row_number() OVER (
                    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                             doc_id) AS pos
           FROM curated)
         SELECT doc_id, pos,
                CAST((pos - 1) % 4 AS INT) AS shard,
                (pos - 1) // 4 AS shard_pos, n_tok
         FROM ordered ORDER BY pos"""),
    Query("q_dedup_clusters", dedupClusters,
      s"""WITH RECURSIVE $simhashPairCtes,
         pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst)
         SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
         FROM reach GROUP BY src ORDER BY doc_id"""),
    // member↔rep pairs from the same component chain as
    // q_dedup_clusters; clipped n-gram overlaps via least(ca, cb)
    // joins; F1 = 2·overlap/(len_a + len_b).
    Query("q_eval_rouge", evalRouge,
      s"""WITH RECURSIVE $simhashPairCtes,
         spairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM spairs
                 UNION ALL SELECT b, a FROM spairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         comp AS (SELECT src AS doc_id,
                         least(src, min(dst)) AS cluster_rep
                  FROM reach GROUP BY src),
         rpairs AS (SELECT cluster_rep AS a, doc_id AS b FROM comp
                    WHERE doc_id != cluster_rep),
         rbig AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1])) AS g
             FROM documents) t GROUP BY doc_id, g),
         rlen AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM tokc
                  GROUP BY doc_id),
         ov1 AS (SELECT p.a, p.b,
                        CAST(sum(least(x.cnt, y.cnt)) AS BIGINT) AS o1
                 FROM rpairs p JOIN tokc x ON x.doc_id = p.a
                      JOIN tokc y ON y.doc_id = p.b AND y.tok = x.tok
                 GROUP BY p.a, p.b),
         ov2 AS (SELECT p.a, p.b,
                        CAST(sum(least(x.c, y.c)) AS BIGINT) AS o2
                 FROM rpairs p JOIN rbig x ON x.doc_id = p.a
                      JOIN rbig y ON y.doc_id = p.b AND y.g = x.g
                 GROUP BY p.a, p.b)
         SELECT p.a, p.b, la.n AS n_a, lb.n AS n_b,
                CAST(coalesce(ov1.o1, 0) AS BIGINT) AS o1,
                CAST(coalesce(ov2.o2, 0) AS BIGINT) AS o2,
                floor((2.0 * coalesce(ov1.o1, 0) / (la.n + lb.n))
                  * 1000000 + 0.5) / 1000000.0 AS rouge1_f_r,
                CASE WHEN la.n + lb.n > 2
                  THEN floor((2.0 * coalesce(ov2.o2, 0)
                         / (la.n + lb.n - 2)) * 1000000 + 0.5) / 1000000.0
                  ELSE 0.0 END AS rouge2_f_r
         FROM rpairs p
         JOIN rlen la ON la.doc_id = p.a
         JOIN rlen lb ON lb.doc_id = p.b
         LEFT JOIN ov1 ON ov1.a = p.a AND ov1.b = p.b
         LEFT JOIN ov2 ON ov2.a = p.a AND ov2.b = p.b
         ORDER BY p.a, p.b""", cap = 4),
    // Same member↔rep overlap chain as q_eval_rouge; the final select
    // computes clipped precisions + brevity penalty instead of F1.
    Query("q_eval_bleu", evalBleu,
      s"""WITH RECURSIVE $simhashPairCtes,
         spairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM spairs
                 UNION ALL SELECT b, a FROM spairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         comp AS (SELECT src AS doc_id,
                         least(src, min(dst)) AS cluster_rep
                  FROM reach GROUP BY src),
         rpairs AS (SELECT cluster_rep AS a, doc_id AS b FROM comp
                    WHERE doc_id != cluster_rep),
         rbig AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1])) AS g
             FROM documents) t GROUP BY doc_id, g),
         rlen AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM tokc
                  GROUP BY doc_id),
         ov1 AS (SELECT p.a, p.b,
                        CAST(sum(least(x.cnt, y.cnt)) AS BIGINT) AS o1
                 FROM rpairs p JOIN tokc x ON x.doc_id = p.a
                      JOIN tokc y ON y.doc_id = p.b AND y.tok = x.tok
                 GROUP BY p.a, p.b),
         ov2 AS (SELECT p.a, p.b,
                        CAST(sum(least(x.c, y.c)) AS BIGINT) AS o2
                 FROM rpairs p JOIN rbig x ON x.doc_id = p.a
                      JOIN rbig y ON y.doc_id = p.b AND y.g = x.g
                 GROUP BY p.a, p.b),
         base AS (
           SELECT p.a, p.b, la.n AS n_a, lb.n AS n_b,
                  CAST(coalesce(ov1.o1, 0) AS BIGINT) AS o1,
                  CAST(coalesce(ov2.o2, 0) AS BIGINT) AS o2
           FROM rpairs p
           JOIN rlen la ON la.doc_id = p.a
           JOIN rlen lb ON lb.doc_id = p.b
           LEFT JOIN ov1 ON ov1.a = p.a AND ov1.b = p.b
           LEFT JOIN ov2 ON ov2.a = p.a AND ov2.b = p.b),
         bp AS (
           SELECT *, floor((CASE WHEN n_b >= n_a THEN 1.0
                            ELSE exp(1.0 - CAST(n_a AS DOUBLE) / n_b)
                            END) * 1000000 + 0.5) / 1000000.0 AS bp_r
           FROM base)
         SELECT a, b, n_a, n_b, o1, o2, bp_r,
                CASE WHEN n_b > 1
                  THEN floor((bp_r * sqrt((CAST(o1 AS DOUBLE) / n_b)
                         * (CAST(o2 AS DOUBLE) / (n_b - 1))))
                         * 1000000 + 0.5) / 1000000.0
                  ELSE 0.0 END AS bleu2_r
         FROM bp ORDER BY a, b""", cap = 4),
    Query("q_dedup_keep_best", dedupKeepBest,
      s"""WITH RECURSIVE $simhashPairCtes,
         pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         clus AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
                  FROM reach GROUP BY src),
         qs AS (SELECT doc_id, ${TextOps.qualityStatsColsSql}
                FROM documents),
         qq AS (SELECT doc_id,
                       floor((${TextOps.qualityScoreSql}) * 1000000 + 0.5)
                         / 1000000.0 AS q_r
                FROM qs),
         rk AS (SELECT c.cluster_rep, c.doc_id, q.q_r,
                       row_number() OVER (PARTITION BY c.cluster_rep
                                          ORDER BY q.q_r DESC, c.doc_id)
                         AS rn,
                       count(*) OVER (PARTITION BY c.cluster_rep)
                         AS n_members
                FROM clus c JOIN qq q ON c.doc_id = q.doc_id)
         SELECT cluster_rep, doc_id AS keep_doc, q_r AS keep_quality_r,
                n_members
         FROM rk WHERE rn = 1 ORDER BY cluster_rep"""),
    Query("q_sample_split_leakfree", sampleSplitLeakfree,
      s"""WITH RECURSIVE $simhashPairCtes,
         pairs AS (SELECT a, b FROM ham WHERE hd <= $HammingMax),
         und AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b, a FROM pairs),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         clus AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
                  FROM reach GROUP BY src),
         keyed AS (SELECT d.doc_id,
                          COALESCE(c.cluster_rep, d.doc_id) AS gkey
                   FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
         g AS (SELECT CASE
                        WHEN substring(md5(CAST(gkey AS VARCHAR)), 1, 1)
                             IN ('c', 'd') THEN 'val'
                        WHEN substring(md5(CAST(gkey AS VARCHAR)), 1, 1)
                             IN ('e', 'f') THEN 'test'
                        ELSE 'train' END AS split,
                      doc_id, gkey
               FROM keyed)
         SELECT split, count(*) AS n_docs,
                count(DISTINCT gkey) AS n_groups
         FROM g GROUP BY split ORDER BY split"""),
    Query("q_dedup_simhash", dedupSimhash,
      """WITH tokc AS (
           SELECT doc_id, tok, count(*) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY doc_id, tok),
         tb AS (SELECT DISTINCT tok, md5(tok) AS h FROM tokc),
         bits AS (
           SELECT tok, j,
                  CASE WHEN (((strpos('0123456789abcdef',
                               substring(h, j // 4 + 1, 1)) - 1)
                              >> (j % 4)) % 2) = 1
                       THEN 1 ELSE -1 END AS sgn
           FROM tb, UNNEST(generate_series(0, 63)) AS u(j)),
         sums AS (
           SELECT doc_id, j, sum(cnt * sgn) AS s
           FROM tokc JOIN bits USING (tok)
           GROUP BY doc_id, j)
         SELECT doc_id,
                string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY j) AS simhash
         FROM sums GROUP BY doc_id ORDER BY doc_id"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
