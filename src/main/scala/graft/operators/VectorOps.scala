package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity / ANN operators over the embeddings table
  * (64-dim L2-unit-normalized ⟹ cosine ≡ dot product; SURVEY.md §1.3,
  * §2.9).
  *
  * Scale design: q_sim_cosine_topk is the exact brute-force baseline
  * (O(n²) pairs — the oracle-checkable ground truth). q_ann_ivf is the
  * scale path: an IVF-style probe that dots the query against K coarse
  * centroids, picks the best partition, and searches only there —
  * at 100 TB the centroids come from offline k-means and the partition is
  * a bucketed/partitioned table, so a query touches 1/K of the data. Here
  * the label column stands in for the trained quantizer (deterministic,
  * oracle-checkable); the plumbing — centroid build, probe, partition-local
  * top-k — is the real thing.
  *
  * All dot products accumulate in DOUBLE with sequential fold order
  * (aggregate() in Spark, list_inner_product on DOUBLE[] in DuckDB) and are
  * rounded via Par.r6 before any ranking cut, with id tie-breaks, so the
  * top-k frontier is deterministic cross-engine.
  */
object VectorOps {
  /** Raw float arrays — graft_dot (custom codegen Expression, see
    * graft.functions.DotProductFloat) folds them in double directly,
    * with the same sequential accumulation order as the zip_with/aggregate
    * pipeline it replaced (oracle parity unchanged, ~3× faster). */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))

  private val dotExpr = "graft_dot(x, y)"

  /** Top-10 most similar pairs, exact brute force (a < b halves the work;
    * one side broadcast — no shuffle of the quadratic intermediate). */
  private val cosineTopk: Q = (s, d) => {
    val e = vecs(s, d)
    val a = e.select(col("vec_id").as("va"), col("v").as("x"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("y"))
    a.join(broadcast(b), col("va") < col("vb"))
      .withColumn("sim_r", r6(expr(dotExpr)))
      .select("va", "vb", "sim_r")
      .orderBy(col("sim_r").desc, col("va"), col("vb"))
      .limit(10)
  }

  /** Embedding-cosine near-duplicate pairs (threshold form of the above —
    * the near-dup operator for multimodal/embedding columns). */
  /** Embedding pair frames (exact ≥0.3 and hyperplane-LSH), persisted
    * per (session, dir, variant) through the shared cache registry —
    * same index-artifact rationale as DedupOps' verified text pairs:
    * q_dedup_embed / q_dedup_embed_lsh / q_eval_lsh_recall all start
    * from these frames instead of re-running the pair scan. */
  private val embedPairs = Artifact("embed_pairs", Seq("exact", "lsh")) {
    (s, d, variant: String) =>
      (if (variant == "exact") embedPairsExact(s, d)
       else embedPairsLsh(s, d)).persist()
  }

  private val dedupEmbed: Q = (s, d) => embedPairs(s, d, "exact")

  private def embedPairsExact(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val a = e.select(col("vec_id").as("va"), col("v").as("x"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("y"))
    a.join(broadcast(b), col("va") < col("vb"))
      .withColumn("sim_r", r6(expr(dotExpr)))
      .filter(col("sim_r") >= 0.3)
      .select("va", "vb", "sim_r")
      .orderBy("va", "vb")
  }

  /** L2 normalization audit — the pre-processing primitive every
    * embedding pipeline runs before cosine work. Norm via graft_dot(v,v)
    * (sequential fold) + IEEE sqrt; output is scalar per vector (norm and
    * the first normalized component) so the driver comparator can hash
    * it. Pure map-side projection: no shuffle except the output sort. */
  private val vecNorm: Q = (s, d) =>
    vecs(s, d)
      .withColumn("ss", expr("graft_dot(v, v)"))
      .select(col("vec_id"),
        r6(sqrt(col("ss"))).as("norm_r"),
        r6(expr("CAST(element_at(v, 1) AS DOUBLE)") / sqrt(col("ss")))
          .as("c0_r"))
      .orderBy("vec_id")

  private val HPlanes = 16 // hyperplanes → 16 sign bits
  private val BandBits = 4 // → 4 bands of 4 bits

  /** Bucketed SCALE PATH for embedding near-dup (q_dedup_embed is the
    * exact all-pairs baseline): deterministic hyperplane LSH. 16 md5-
    * seeded ±1 hyperplanes give each vector a 16-bit sign fingerprint
    * (sign of a sequential-fold dot product — same accumulation order in
    * both engines); 4 bands of 4 bits are the bucket keys; candidate
    * pairs come from a band-bucket self-join with first-collision
    * emission (no distinct), then exact graft_dot verification at the
    * same 0.3 threshold. Everything — planes, bits, buckets, misses — is
    * deterministic and oracle-pinned, so recall behavior itself is
    * checked, exactly like q_dedup_minhash for text.
    *
    * At 100 TB: the plane matrix is 16×64 floats (broadcast literal),
    * fingerprinting is one linear map-side pass, and the candidate join
    * keys on (band, 4-bit key) — the quadratic all-pairs broadcast of
    * q_dedup_embed never happens. More bits per band ⟹ more pruning;
    * 4 bits is tuned to this corpus's diffuse similarity (max cosine
    * ≈ 0.6) so the oracle-checked output stays non-trivial. */
  private val dedupEmbedLsh: Q = (s, d) => embedPairs(s, d, "lsh")

  private def embedPairsLsh(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val nBands = HPlanes / BandBits
    // ±1 plane components from md5(p:j) — public-hash seeded, engine-
    // reproducible (first hex digit odd/even)
    val planes = s.range(HPlanes.toLong).toDF("p")
      .withColumn("j", explode(expr(s"sequence(0, ${dim - 1})")))
      .withColumn("sgn", expr(
        """CAST(CASE WHEN (position(substring(
          |md5(concat(cast(p AS string), ':', cast(j AS string))), 1, 1),
          |'0123456789abcdef') - 1) % 2 = 1
          |THEN 1.0 ELSE -1.0 END AS FLOAT)""".stripMargin))
      .groupBy("p")
      .agg(expr("transform(array_sort(collect_list(struct(j, sgn))), x -> x.sgn)")
        .as("parr"))
    val bits = vecs(s, d).select(col("vec_id"), col("v"))
      .crossJoin(broadcast(planes))
      .withColumn("bit",
        when(expr("graft_dot(v, parr)") >= 0, "1").otherwise("0"))
    // all band keys from one groupBy (conditional scalar aggs)
    val keyCols = (0 until nBands).map { b =>
      concat((0 until BandBits).map(r =>
        max(when(col("p") === b * BandBits + r, col("bit")))): _*).as(s"k$b")
    }
    val fp = bits.groupBy("vec_id").agg(keyCols.head, keyCols.tail: _*)
      .select(col("vec_id"),
        array((0 until nBands).map(b => col(s"k$b")): _*).as("bkeys"))
    // pair generation shares the one first-collision band-join
    // implementation with every other LSH path (DedupOps)
    val cand = DedupOps.candidatesFromBandKeys(s,
      fp.select(col("vec_id").as("id"), col("bkeys")), nBands)
    val e = vecs(s, d)
    cand
      .join(e.select(col("vec_id").as("a"), col("v").as("xv")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("v").as("yv")), Seq("b"))
      .withColumn("sim_r", r6(expr("graft_dot(xv, yv)")))
      .filter(col("sim_r") >= 0.3)
      .select(col("a").as("va"), col("b").as("vb"), col("sim_r"))
      .orderBy("va", "vb")
  }

  /** (vec_id, label, pos, val) long form — the layout every aggregate
    * below keys on; at scale this is the column-exploded table you'd
    * pre-materialize (or keep as arrays and use codegen'd folds). */
  private def dims(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("col").cast("double").as("val"))

  /** Per-label centroid as an ordered double array — built once from the
    * long form, then broadcast. Similarity against a centroid becomes a
    * sequential zip_with/aggregate fold over the raw arrays: accumulation
    * order is pinned (matching DuckDB's list_inner_product), where the
    * round-1 shuffled groupBy().sum() over exploded positions depended on
    * partition layout. */
  private def centroidArr(s: SparkSession, d: String): DataFrame =
    dims(s, d).groupBy("label", "pos").agg(avg("val").as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
        .as("carr"))

  private val centDotExpr =
    "aggregate(zip_with(v, carr, (x, y) -> x * y), 0D, (acc, e) -> acc + e)"

  /** Per-label centroid, then the member nearest to its centroid —
    * the medoid-style representative per class. */
  private val knnLabel: Q = (s, d) => {
    val sims = vecs(s, d).join(broadcast(centroidArr(s, d)), Seq("label"))
      .withColumn("sim_r", r6(expr(centDotExpr)))
    val w = Window.partitionBy("label")
      .orderBy(col("sim_r").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("label", "vec_id", "sim_r")
      .orderBy("label")
  }

  /** IVF-style ANN: queries = vec_id < 5; probe = argmax centroid dot;
    * then exact top-3 within the probed partition only — all dot products
    * are sequential array folds (centroid probe) or graft_dot (exact
    * rerank), never shuffled per-position sums. */
  private def ivfTop3(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val qc = q.withColumnRenamed("qv", "v")
      .crossJoin(broadcast(centroidArr(s, d)
        .withColumnRenamed("label", "clabel")))
      .withColumn("csim", r6(expr(centDotExpr)))
    val wq = Window.partitionBy("qid").orderBy(col("csim").desc, col("clabel"))
    val probe = qc.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1)
      .select(col("qid"), col("clabel").as("label"))
    val cand = probe.join(e, Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .join(q, Seq("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
    val wr = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"), col("sim_r"))
      .orderBy("qid", "rank")
  }

  private val annIvf: Q = (s, d) => ivfTop3(s, d)

  /** Classification-margin statistics — the active-learning signal: per
    * true label, how decisively does the centroid classifier score its
    * members (margin = best centroid sim − runner-up sim on r6 sims, so
    * the subtraction is exact cross-engine)? Low-margin examples are
    * the uncertainty-sampling pool / the labels to re-audit. The
    * K-centroid table broadcasts; lag over the K-row per-vector window
    * derives the runner-up; margins aggregate per label. */
  private val vecMargin: Q = (s, d) => {
    val sims = vecs(s, d)
      .crossJoin(broadcast(centroidArr(s, d)
        .withColumnRenamed("label", "clabel")))
      .withColumn("sim_r", r6(expr(centDotExpr)))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim_r").desc, col("clabel"))
    sims.withColumn("rn", row_number().over(w))
      .withColumn("margin", col("sim_r") - lead(col("sim_r"), 1).over(w))
      .filter(col("rn") === 1)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        r6(avg(col("margin"))).as("avg_margin"),
        count(when(col("margin") < 0.05, 1)).as("n_low"))
      .orderBy("label")
  }

  /** kNN label-noise audit (the confident-learning / cleanlab shape):
    * flag vectors whose 5-NN majority label disagrees with their own —
    * the training-data QA pass that catches mislabeled examples before
    * they poison a classifier. Exact brute-force here (one broadcast
    * side, the q_dedup_embed baseline shape — ~0.5 MB at bench scale);
    * at 100 TB the candidate set comes from the IVF probe
    * (q_ann_ivf composes in front) and the voting stays identical.
    * Majority ties break to the smallest label, ranks on r6 sims with
    * vec_id tie-breaks — deterministic cross-engine. */
  private val labelNoise: Q = (s, d) => {
    val e = vecs(s, d)
    val nbr = e.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("v").as("y"))
    // each unordered pair's dot is computed ONCE (a < b halves the 4M
    // graft_dot folds at sf0.1) and emitted in both directions for the
    // per-vec top-5 — the sim set reaching the heap is identical
    val sims = e.withColumnRenamed("v", "x")
      .join(broadcast(nbr), col("vec_id") < col("nid"))
      .withColumn("sim_r", r6(expr("graft_dot(x, y)")))
      // drop both 64-float vectors before the per-vec window: the rank
      // shuffle moves |n|² rows and must carry scores, not payloads
      .select(explode(array(
        struct(col("vec_id"), col("label"), col("nid"), col("nlabel"),
          col("sim_r")),
        struct(col("nid").as("vec_id"), col("nlabel").as("label"),
          col("vec_id").as("nid"), col("label").as("nlabel"),
          col("sim_r")))).as("r"))
      .select("r.vec_id", "r.label", "r.nid", "r.nlabel", "r.sim_r")
    // top-5 via the bounded-heap physical operator: same exchange as the
    // window form but O(n·k) per group instead of a full partition sort
    val votes = graft.plans.TopKPerGroup(sims, 5, Seq("vec_id"),
        Seq(("sim_r", false), ("nid", true)), "rk")
      .groupBy("vec_id", "label", "nlabel")
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("vec_id")
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .filter(col("nlabel") =!= col("label"))
      .select(col("vec_id"), col("label"), col("nlabel").as("maj_label"),
        col("votes"))
      .orderBy("vec_id")
  }

  /** k-center / farthest-point diversity sampling — the coreset seeding
    * pass a curation pipeline uses to pick a maximally-spread subset:
    * greedily add the point farthest (1 − cosine, r6-rounded before the
    * argmax so both engines rank identical values) from the chosen set.
    * k=8 rounds; smallest-id start and tie-breaks. The emitted radius
    * sequence is the classic 2-approximation coverage certificate
    * (non-increasing).
    *
    * The round count is fixed by k and each round needs the previous
    * round's pick, so when the embeddings fit one process the k rounds
    * run in ONE task (kcenterPicks): the frame is lazy, building it runs
    * no job, and the action is the key's only job. "Fit one process" is
    * the line Spark already draws for shipping a whole relation to one
    * place: the relation's Catalyst size estimate (a statistic, no job)
    * within the session's spark.sql.autoBroadcastJoinThreshold. Above
    * it, kcenterLoop is the unbounded-scale path: one broadcast-literal
    * dot pass + TakeOrdered(1) per round on the driver. Both paths
    * share the arithmetic, so they pick the same rows. */
  private val sampleKcenter: Q = (s, d) => {
    val k = 8
    val e = vecs(s, d)
    if (e.queryExecution.optimizedPlan.stats.sizeInBytes <=
        s.sessionState.conf.autoBroadcastJoinThreshold) {
      import s.implicits._
      e.as[(Long, Int, Array[Float])]
        .coalesce(1)
        .mapPartitions(kcenterPicks(k))
        .toDF("round", "vec_id", "label", "radius")
    } else kcenterLoop(s, e, k)
  }

  /** The greedy rounds over one partition: the vectors in vec_id order,
    * a running minimum distance per vector, and a strict-`>` argmax so
    * a tie goes to the smaller vec_id. Distances use graft_dot's
    * arithmetic (a sequential float→double fold) and Par.r6d, the same
    * doubles kcenterLoop and the oracle rank. Emits the k picks in
    * round order; with fewer than k vectors the later rounds repeat the
    * smallest-id vector among the farthest, as the oracle's LIMIT 1
    * does. */
  private def kcenterPicks(k: Int)(rows: Iterator[(Long, Int, Array[Float])])
      : Iterator[(Int, Long, Int, Double)] = {
    val pts = rows.toArray.sortBy(_._1)
    def dist(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble
        i += 1
      }
      graft.Par.r6d(1.0 - acc)
    }
    val minDist = Array.fill(pts.length)(Double.PositiveInfinity)
    var pick = 0
    var radius = 2.0
    if (pts.isEmpty) Iterator.empty
    else (0 until k).iterator.map { round =>
      if (round > 0) {
        pts.indices.foreach { j =>
          minDist(j) = math.min(minDist(j), dist(pts(j)._3, pts(pick)._3))
        }
        pick = 0
        pts.indices.foreach(j => if (minDist(j) > minDist(pick)) pick = j)
        radius = minDist(pick)
      }
      (round, pts(pick)._1, pts(pick)._2, radius)
    }
  }

  /** The distributed rounds: each round collects its argmax (one
    * broadcast-literal dot pass + a TakeOrdered(1)), and driver state is
    * k rows — the bounded-collect pattern of the k-means trainer.
    * Rounds recompute the lineage chain (k² passes); at 100 TB persist
    * the running min-distance frame per round instead — the algorithm
    * is unchanged. */
  private def kcenterLoop(s: SparkSession, e: DataFrame, k: Int)
      : DataFrame = {
    val c0 = e.orderBy("vec_id").limit(1).collect()(0)
    var sel = Vector[(Int, Long, Int, Double)](
      (0, c0.getLong(0), c0.getInt(1), 2.0))
    var dist = e.withColumn("cv", typedLit(c0.getSeq[Float](2)))
      .withColumn("dist", r6(lit(1.0) - expr("graft_dot(v, cv)")))
      .drop("cv")
    for (i <- 1 until k) {
      val nxt = dist.orderBy(col("dist").desc, col("vec_id")).limit(1)
        .collect()(0)
      sel = sel :+ ((i, nxt.getLong(0), nxt.getInt(1), nxt.getDouble(3)))
      dist = dist.withColumn("cv", typedLit(nxt.getSeq[Float](2)))
        .withColumn("dist",
          least(col("dist"), r6(lit(1.0) - expr("graft_dot(v, cv)"))))
        .drop("cv")
    }
    s.createDataFrame(sel).toDF("round", "vec_id", "label", "radius")
      .orderBy("round")
  }

  private def kcenterSql: String = {
    val k = 8
    def rdist(v: String, c: String) =
      s"floor((1 - list_inner_product($v, $c)) * 1000000 + 0.5) / 1000000.0"
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, label,
                     CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       s0 AS (SELECT 0 AS round, vec_id, label, 2.0 AS radius, v
              FROM e ORDER BY vec_id LIMIT 1),
       m0 AS (SELECT e.vec_id, e.label, e.v,
                     ${rdist("e.v", "s0.v")} AS dist FROM e, s0)"""
    for (i <- 1 until k) {
      sb ++= s""",
       s$i AS (SELECT $i AS round, vec_id, label, dist AS radius, v
              FROM m${i - 1} ORDER BY dist DESC, vec_id LIMIT 1)"""
      if (i < k - 1)
        sb ++= s""",
       m$i AS (SELECT m.vec_id, m.label, m.v,
                      least(m.dist, ${rdist("m.v", s"s$i.v")}) AS dist
              FROM m${i - 1} m, s$i)"""
    }
    sb ++= (0 until k)
      .map(i => s"SELECT round, vec_id, label, radius FROM s$i")
      .mkString("\n       ", "\n       UNION ALL ", "\n       ORDER BY round")
    sb.toString
  }

  /** Recall@3 audit of the IVF probe against the exact brute-force
    * top-3 — the third member of the eval-harness family (LSH pairs,
    * MinHash pairs, now ANN retrieval): every approximate index this
    * library ships carries an oracle-pinned measurement of what it
    * loses. The exact side is the |corpus| × |queries| broadcast
    * score (the q_sim_cosine_topk shape); the IVF side reuses the
    * probe pipeline verbatim, so the measured recall is exactly what
    * q_ann_ivf serves. Both sides rank on r6-rounded sims with vec_id
    * tie-breaks — cross-engine identical sets by construction. */
  private val evalIvfRecall: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim_r").desc, col("vec_id"))
    val exact = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id").as("nid"))
    val ivf = ivfTop3(s, d).select(col("qid"), col("nid"),
      lit(1).as("hit"))
    exact.join(ivf, Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderBy("qid")
  }

  /** Matryoshka-truncation recall audit — the serving trick of keeping
    * only the first 16 of 64 embedding dims (4× memory/bandwidth cut,
    * the MRL deployment shape) PRICED like every other sketch here:
    * per query, exact cosine top-10 under the full vectors vs top-10
    * under the truncated prefix (renormalized — prefix norms differ
    * per vector, so the division cannot be skipped), recall@10 =
    * overlap/10. ONE broadcast-query scan computes both scores (the
    * q_eval_ivf_recall shape — |corpus|×|queries| map-side work, no
    * corpus shuffle); both rankings use r6-rounded sims with vec_id
    * tie-breaks, so the sets are cross-engine identical by
    * construction. At 100 TB the same audit runs on a query sample
    * against an IVF-probed candidate set. */
  private val evalMrlRecall: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("full_r", r6(expr("graft_dot(v, qv)")))
      .withColumn("tr_r", r6(expr(
        """graft_dot(slice(v, 1, 16), slice(qv, 1, 16))
           / sqrt(graft_dot(slice(v, 1, 16), slice(v, 1, 16))
                  * graft_dot(slice(qv, 1, 16), slice(qv, 1, 16)))""")))
    val wf = Window.partitionBy("qid")
      .orderBy(col("full_r").desc, col("vec_id"))
    val wt = Window.partitionBy("qid")
      .orderBy(col("tr_r").desc, col("vec_id"))
    val full = scored.withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= 10).select(col("qid"), col("vec_id"))
    val trunc = scored.withColumn("rk", row_number().over(wt))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    full.join(trunc, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderBy("qid")
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector (vec_id < 10), the top-3 most-similar vectors carrying
    * a DIFFERENT label (similar-but-wrong = the informative negatives).
    * The query side is a bounded broadcast (10 rows), so the scored
    * frame is |corpus| × |queries| map-side work with NO shuffle of the
    * corpus; the per-query top-3 is a 10-partition window. At 100 TB the
    * same plan runs per query batch, and the IVF probe (q_ann_ivf)
    * composes in front to cut the candidate set before scoring. */
  private val hardNegatives: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val scored = e.join(broadcast(q), col("label") =!= col("qlabel"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id").as("neg_id"), col("sim_r"))
      .orderBy("qid", "rk")
  }

  /** Centroid-distance outlier audit — the embedding-quality filter
    * (drop vectors far from the corpus centroid: encoder failures, OOD
    * junk). The global centroid is a per-dimension mean (one hash
    * aggregate over posexploded components, r6-rounded per the round-
    * replay discipline), re-packed to an array and broadcast; each
    * vector's distance then comes from three sequential-fold inner
    * products (‖v−c‖² = v·v − 2v·c + c·c — DuckDB's list_inner_product
    * accumulation order), so the scan side is one linear codegen pass.
    * Top-20 farthest with vec_id tie-break. */
  private val embedOutliers: Q = (s, d) => {
    val cen = vecs(s, d)
      .select(posexplode(col("v")).as(Seq("pos", "comp")))
      .groupBy("pos").agg(r6(avg(col("comp").cast("double"))).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("carr"))
    val dd = "aggregate(zip_with(%s, %s, (p, q) -> p * q), 0D, (acc, e) -> acc + e)"
    vecs(s, d)
      .withColumn("vd", expr("transform(v, x -> CAST(x AS DOUBLE))"))
      .crossJoin(broadcast(cen))
      .withColumn("d2",
        expr(dd.format("vd", "vd")) - lit(2.0) * expr(dd.format("vd", "carr"))
          + expr(dd.format("carr", "carr")))
      .select(col("vec_id"), col("label"),
        r6(sqrt(greatest(col("d2"), lit(0.0)))).as("dist_r"))
      .orderBy(col("dist_r").desc, col("vec_id"))
      .limit(20)
  }

  /** Spherical k-means assignment: nearest centroid by (rounded) dot
    * product, ties to the lowest cid — the argmax is a K-row broadcast
    * against the vector stream, one window per vector, no shuffle of the
    * vectors themselves. */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val sims = e.crossJoin(broadcast(cents))
      .withColumn("sim_r", r6(expr(centDotExpr)))
    val w = Window.partitionBy("vec_id").orderBy(col("sim_r").desc, col("cid"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cid")
  }

  /** K rounds of Lloyd: assign → per-(cid, dim) mean → re-pack centroid
    * arrays. Deterministic: seeds are the first K vectors by id and every
    * similarity is r6-rounded before the argmax; the means themselves are
    * order-dependent double sums, carried to the output (c0_r) and the
    * next round's argmax only through the same r6 discipline as every
    * other aggregated-double output (q_agg_stats & co). Each round's
    * K×dims centroid table is MATERIALIZED to the driver (a bounded
    * index artifact, 4×64 doubles — same rule as the vocab dictionary),
    * so round N+1's plan starts from a LocalRelation instead of
    * re-deriving every earlier round's crossJoin per reference. */
  /** Trained-quantizer caches (round 7): the coarse centroids and PQ
    * codebook are session-lifetime index artifacts (the bm25DocCache /
    * simhash rationale) — q_ann_kmeans, q_dedup_semantic, q_ann_ivfpq
    * and the PQ keys each used to re-run the Lloyd collects. Values
    * are driver-local LocalRelation frames (nothing persisted on
    * executors), so release is a no-op. */
  private val kmeansCentroids = Artifact("kmeans_centroids", Seq((4, 2))) {
    (s, d, kr: (Int, Int)) => kmeansCentroidsUncached(s, d, kr._1, kr._2)
  }

  /** Assigned PQ codes (vec_id, m, code, dist_r) under the trained
    * codebook — a session artifact (round 10): q_embed_pq, q_ann_ivfpq
    * and q_eval_pq_recall each re-ran the
    * assign's join + argmin window per evaluation. Persisted frame,
    * same deterministic values (r6 + code tie-break) by construction. */
  private val pqCodes = Artifact("pq_codes") { (s, d) =>
    pqAssign(pqSub(s, d), pqCodebook(s, d)).persist()
  }

  /** The query's 32-row ADC distance table (m, code, dr_micros) for
    * vec 0 — shared verbatim by q_ann_ivfpq and q_eval_pq_recall (round
    * 10; each built it from two broadcasts + an aggregate per
    * evaluation). Bounded LocalRelation, the kmeansCentroids rule. */
  private val pqQueryDist = Artifact("pq_query_dist") { (s, d) =>
    val qsub = pqSub(s, d).filter(col("vec_id") === 0)
      .select(col("m").as("qm"), col("p").as("qp"),
        col("val").as("qval"))
    val qd = broadcast(pqCodebook(s, d)).join(broadcast(qsub),
        col("m") === col("qm") && col("p") === col("qp"))
      .groupBy("m", "code")
      .agg(floor(r6(sum((col("qval") - col("c"))
        * (col("qval") - col("c")))) * 1000000 + 0.5)
        .cast("long").as("dr_micros"))
    s.createDataFrame(
      java.util.Arrays.asList(qd.collect(): _*), qd.schema)
  }

  private def kmeansCentroidsUncached(s: SparkSession, d: String,
      k: Int, rounds: Int): DataFrame = {
    val e = vecs(s, d)
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        expr("transform(v, x -> cast(x AS double))").as("carr"))
    for (_ <- 1 to rounds) {
      val assign = assignTo(e, cents)
      val next = dims(s, d).join(assign, Seq("vec_id"))
        .groupBy("cid", "pos").agg(avg("val").as("c"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), " +
          "x -> x.c)").as("carr"))
      cents = s.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    cents
  }

  /** SemDeDup (semantic dedup à la Abbas et al. 2023): cluster the
    * embedding space with the SAME deterministic 2-round Lloyd quantizer
    * as q_ann_kmeans, then find near-duplicate pairs ONLY within each
    * cluster (r6 dot ≥ 0.3 — q_dedup_embed's threshold) and mark the
    * higher vec_id of each pair as the drop candidate (keep-lowest, the
    * convention every dedup key here uses). Output is the per-cluster
    * dedup report: members, n_pairs, n_dropped.
    *
    * Scale shape — this is the point of the operator: the quadratic pair
    * scan is CONFINED to a cluster, so at 100 TB the corpus is
    * partitioned by cid (the IVF layout q_ann_ivf already reads) and
    * each partition runs an independent local pair join — no global
    * all-pairs, no cross-partition shuffle. Here the corpus side
    * broadcasts (512 KB) and cid is an equi-join key, so the executed
    * plan is a BroadcastHashJoin on cid + residual va<vb — the same
    * partition-local access pattern in miniature. */
  private val dedupSemantic: Q = (s, d) => {
    val cents = kmeansCentroids(s, d, (4, 2))
    val assign = assignTo(vecs(s, d), cents)
    val av = vecs(s, d).join(assign, Seq("vec_id"))
    val a = av.select(col("cid"), col("vec_id").as("va"), col("v").as("x"))
    val b = av.select(col("cid"), col("vec_id").as("vb"), col("v").as("y"))
    val pairs = a.join(broadcast(b),
        a("cid") === b("cid") && col("va") < col("vb"))
      .withColumn("sim_r", r6(expr(dotExpr)))
      .filter(col("sim_r") >= 0.3)
      .select(a("cid"), col("va"), col("vb"))
    val members = assign.groupBy("cid").agg(count(lit(1)).as("members"))
    val np = pairs.groupBy("cid").agg(count(lit(1)).as("n_pairs"))
    val nd = pairs.groupBy("cid")
      .agg(countDistinct(col("vb")).as("n_dropped"))
    members.join(np, Seq("cid"), "left").join(nd, Seq("cid"), "left")
      .select(col("cid"), col("members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("cid")
  }

  /** The IVF coarse quantizer TRAINED, not stood in for by labels:
    * 2 Lloyd rounds from deterministic seeds, then the final partition
    * assignment — output is the cluster population plus a centroid
    * signature component, i.e. the artifact a 100 TB ANN pipeline would
    * persist as its partitioning function. The DuckDB oracle replays the
    * identical rounds as chained CTEs, pinning every assignment. */
  private val annKmeans: Q = (s, d) => {
    val cents = kmeansCentroids(s, d, (4, 2))
    assignTo(vecs(s, d), cents)
      .groupBy("cid").agg(count(lit(1)).as("members"))
      .join(cents.select(col("cid"), r6(expr("carr[0]")).as("c0_r")),
        Seq("cid"))
      .orderBy("cid")
  }

  /** Int8 scalar quantization of the embedding column — the storage/
    * bandwidth operator of a 100 TB vector pipeline (float32 → int8 is a
    * 4× cut in scan bytes; rerank against the float originals restores
    * exactness). Per-dimension affine code: q = floor((x−mn)/(mx−mn)·254
    * + .5) − 127 ∈ [−127, 127]. The stats frame is |dims| rows (64) —
    * broadcast, never shuffled; the quantization itself is a linear
    * projection. All arithmetic in DOUBLE on both engines (float math
    * would stay single-precision in DuckDB and diverge). Output is the
    * space-joined code string per vector (driver-comparator-safe form,
    * same info as the int8 array). */
  private val embedQuantize: Q = (s, d) => {
    val stats = dims(s, d).groupBy("pos")
      .agg(min("val").as("mn"), max("val").as("mx"))
    dims(s, d).join(broadcast(stats), Seq("pos"))
      .withColumn("qv",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(floor((col("val") - col("mn"))
            / (col("mx") - col("mn")) * 254.0 + 0.5).cast("int") - 127))
      .groupBy("vec_id")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, qv))), x -> cast(x.qv AS string)), ' ')").as("qvec"))
      .orderBy("vec_id")
  }

  /** Product quantization (PQ) — the ANN memory-compression path: split
    * the 64-dim space into 8 subspaces of 8 dims, train an independent
    * k=4 codebook per subspace (1 Lloyd round from the same
    * deterministic vec_id<4 seeds as the IVF quantizer), and assign each
    * vector 8 one-byte codes — float32×64 → 8 bytes, the 32× cut that
    * makes billion-vector ANN fit in memory. Output is the quantization
    * audit a PQ index ships with: per (subspace, code) population and
    * r6 mean squared distortion. Everything long-form (no array
    * packing): codebooks are 256-row broadcast artifacts (materialized
    * to a LocalRelation between rounds, the kmeansCentroids rule),
    * distances are (val−c)² partial-aggregated map-side, the argmin is
    * a per-(vec, subspace) window. Distance r6 before argmin and code
    * tie-break keep every assignment cross-engine-pinned. */
  /** (vec_id, m, p, val) — embeddings split into 8 subspaces of 8 dims. */
  private def pqSub(s: SparkSession, d: String): DataFrame =
    dims(s, d).select(col("vec_id"),
      expr("pos div 8").as("m"), expr("pos % 8").as("p"), col("val"))

  /** Per-(vec, subspace) nearest code under codebook `cb` (m, code, p, c):
    * r6 squared-L2 before the argmin, code tie-break — every assignment
    * cross-engine-pinned. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m", "p"))
      .groupBy("vec_id", "m", "code")
      .agg(r6(sum((col("val") - col("c")) * (col("val") - col("c"))))
        .as("dist_r"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "m")
          .orderBy(col("dist_r"), col("code"))))
      .filter(col("rn") === 1)
      .select("vec_id", "m", "code", "dist_r")

  /** Trained per-subspace codebook (1 Lloyd round from vec_id<4 seeds),
    * materialized to a LocalRelation (256 bounded rows — the
    * kmeansCentroids rule). */
  private val pqCodebook = Artifact("pq_codebook") { (s, d) =>
    val sub = pqSub(s, d)
    val cb0 = sub.filter(col("vec_id") < 4)
      .select(col("m"), col("vec_id").as("code"), col("p"),
        col("val").as("c"))
    val a1 = pqAssign(sub, cb0)
    val cb1 = sub.join(a1.select("vec_id", "m", "code"), Seq("vec_id", "m"))
      .groupBy("m", "code", "p").agg(avg(col("val")).as("c"))
    s.createDataFrame(
      java.util.Arrays.asList(cb1.collect(): _*), cb1.schema)
  }

  /** IVF-PQ serving composition — the actual billion-vector ANN layout
    * (FAISS IVFPQ shape): the TRAINED coarse quantizer (q_ann_kmeans's
    * 2-round Lloyd) routes the query to ONE inverted list, and ADC
    * scoring with the TRAINED codebooks (q_embed_pq's) ranks only that
    * list's members from their 8-byte codes — the float vectors are
    * never touched at query time. At 100 TB: corpus partitioned by
    * cid, codes 32× smaller than vectors, query cost = |one list| code
    * lookups against a 32-row broadcast distance table. Exact integer
    * micros throughout (the 8-term ADC sums cannot drift); both
    * trained artifacts are shared with their parent keys, so this key
    * also pins that the two quantizers compose deterministically. */
  private val annIvfPq: Q = (s, d) => {
    val cents = kmeansCentroids(s, d, (4, 2))
    val assign = assignTo(vecs(s, d), cents)
    val probe = assign.filter(col("vec_id") === 0).select(col("cid"))
    val cand = assign.join(broadcast(probe), Seq("cid"))
      .filter(col("vec_id") =!= 0)
    // codes + the 32-row query table are session artifacts (round 10):
    // pqCodes / pqQueryDist — this key re-built both per evaluation
    val codes = pqCodes(s, d).select("vec_id", "m", "code")
    val qd = pqQueryDist(s, d)
    codes.join(cand, Seq("vec_id"))
      .join(broadcast(qd), Seq("m", "code"))
      .groupBy("vec_id", "cid")
      .agg(sum(col("dr_micros")).as("est_micros"))
      .select(col("vec_id").as("nid"), col("cid"), col("est_micros"))
      .orderBy(col("est_micros"), col("nid"))
      .limit(5)
  }

  private val embedPq: Q = (s, d) => {
    // mean distortion through EXACT integer micros (dist_r is a 1e-6
    // multiple): double-summing 100+ rounded values flips the final r6
    // at a .5 boundary between engines; long summation cannot
    pqCodes(s, d)
      .groupBy("m", "code")
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("dist_r") * 1000000 + 0.5).cast("long")).as("micros"))
      .select(col("m"), col("code"), col("n_vecs"),
        r6(col("micros") / (col("n_vecs") * lit(1000000.0))).as("mse_r"))
      .orderBy("m", "code")
  }

  /** PQ retrieval calibration — the recall audit the compressed index
    * ships with (the PQ member of the q_eval_* family): asymmetric
    * distance computation (ADC) top-10 for a fixed query (vec 0) vs the
    * exact squared-L2 top-10. ADC = Σ over subspaces of the
    * query-to-codeword distance of each vector's assigned code — a
    * 32-row query-distance table joined to the code table, never a
    * vector × vector product; distances ride as exact integer micros so
    * 8-term sums cannot drift across engines. Output: hits@10 and
    * recall — PQ trades exactness for 32× memory, and this key measures
    * exactly how much. */
  private val evalPqRecall: Q = (s, d) => {
    // codes + the 32-row query table are session artifacts (round 10):
    // pqCodes / pqQueryDist — this key re-built both per evaluation
    val codes = pqCodes(s, d).select("vec_id", "m", "code")
    val qd = pqQueryDist(s, d)
    val adc = codes.filter(col("vec_id") =!= 0)
      .join(broadcast(qd), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(sum(col("dr_micros")).as("est_micros"))
      .orderBy(col("est_micros"), col("vec_id")).limit(10)
    val exact = dims(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(dims(s, d).filter(col("vec_id") === 0)
        .select(col("pos").as("qpos"), col("val").as("qval"))),
        col("pos") === col("qpos"))
      .groupBy("vec_id")
      .agg(floor(r6(sum((col("val") - col("qval")) * (col("val") - col("qval"))))
        * 1000000 + 0.5).cast("long").as("d_micros"))
      .orderBy(col("d_micros"), col("vec_id")).limit(10)
    adc.join(exact, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), r6(col("n_hits") / lit(10.0)).as("recall_r"))
  }

  /** Top principal component by distributed power iteration. The heavy,
    * data-proportional work is the Gram matrix C = Σ v·vᵀ — one explode
    * + self-join per vec_id, partially aggregated map-side into exactly
    * d² = 4096 cells (the bounded index artifact; at 100 TB this is the
    * only pass that touches the data, and it is one shuffle of d²
    * groups). The 64-vector power iteration then runs on the collected
    * 64×64 cells — same bounded-driver-artifact rationale as the IVF
    * centroids and the union-find edge list. Parity discipline: C cells
    * are r6-rounded (summation-order-independent), each iterate is
    * r6-rounded after normalization, and the oracle replays the three
    * iterations as chained CTEs on the same rounded cells. */
  private val pcaTop1: Q = (s, d) => {
    import s.implicits._
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        col("col").cast("double").as("v"))
    val gram = el.as("a")
      .join(el.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(r6(sum(col("a.v") * col("b.v"))).as("c"))
    val cells = gram.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val dim = 64
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => cells((i, j)) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      v = w.map(x => math.floor(x / n * 1000000 + 0.5) / 1000000)
    }
    v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
      .toDF("i", "loading").orderBy("i")
  }

  /** Recall audit of the LSH scale path against the exact baseline —
    * the evaluation harness a production dedup pipeline ships with: how
    * many true ≥0.3 pairs does banding keep? Pure composition of the
    * two existing plans (exact all-pairs, banded LSH) joined on the
    * pair key; counts are integers, recall one rounded division. The
    * oracle replays both plans as CTEs, so the *measured recall itself*
    * is cross-engine-pinned. */
  private val lshRecall: Q = (s, d) => {
    val exact = dedupEmbed(s, d)
      .select(col("va"), col("vb"), lit(1L).as("ex"))
    val lsh = dedupEmbedLsh(s, d)
      .select(col("va"), col("vb"), lit(1L).as("ls"))
    // ONE full-outer pass: each side's plan executes exactly once — the
    // three-aggregate crossJoin form re-ran both plans twice
    exact.join(lsh, Seq("va", "vb"), "full_outer")
      .agg(sum(col("ex")).as("n_exact"), sum(col("ls")).as("n_lsh"),
        count(when(col("ex").isNotNull && col("ls").isNotNull, 1))
          .as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
  }

  /** Embedding drift monitor: hash-split the corpus into two halves
    * (md5(vec_id) parity — deterministic, layout-independent), build
    * per-label centroids for each half, and report the cross-half
    * centroid cosine per label. For clustered labels healthy ingest ⟹
    * cosines ≈ 1 and a drop flags distribution shift; for isotropic
    * labels (this synthetic corpus) centroids are ≈ 0 and the alignment
    * correctly reads as noise — the oracle pins the exact value either
    * way. Centroid
    * components are r6-rounded BEFORE the cosine (round-then-replay),
    * so the similarity arithmetic runs on identical doubles in both
    * engines. Two hash aggregates + one 640-row join — linear, shuffles
    * on (label, split, pos). */
  private val embedDrift: Q = (s, d) => {
    val sp = dims(s, d).withColumn("sp", expr(
      "(position(substring(md5(cast(vec_id AS string)), 1, 1)," +
        " '0123456789abcdef') - 1) % 2"))
    // per-(label, split) vector counts ride the centroid census (round
    // 11): every vector contributes exactly one pos=0 row, so the
    // census row count AT pos 0 is the split's vector count. A/B'd:
    // job count ties (8) — AQE stages dominate at sf0.1 — but the old
    // separate distinct+count aggregate was a second shuffle over the
    // |vecs|×64 exploded frame, which is the term that matters at
    // 100 TB; kept for the scan count, oracle-checked.
    val cent = sp.groupBy("label", "sp", "pos")
      .agg(r6(avg(col("val"))).as("c"), count(lit(1)).as("nv"))
    val counts = cent.filter(col("pos") === 0)
      .groupBy("label")
      .agg(max(when(col("sp") === 0, col("nv"))).as("n_a"),
        max(when(col("sp") === 1, col("nv"))).as("n_b"))
    cent.filter(col("sp") === 0)
      .select(col("label"), col("pos"), col("c").as("ca"))
      .join(cent.filter(col("sp") === 1)
        .select(col("label"), col("pos"), col("c").as("cb")),
        Seq("label", "pos"))
      .groupBy("label")
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na2"),
        sum(col("cb") * col("cb")).as("nb2"))
      .join(counts, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        r6(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))))
          .as("cos_ab"))
      .orderBy("label")
  }

  /** The shared 8×64 Rademacher (±1) projection matrix, md5-seeded in
    * the 'proj:' domain — built once per consumer, broadcast; both
    * q_vec_project and q_eval_rp_distortion read THIS matrix so the
    * audit measures exactly the projection the operator serves. */
  private def rpPlanes(s: SparkSession): DataFrame =
    s.range(8L).toDF("k")
      .withColumn("j", explode(expr("sequence(0, 63)")))
      .withColumn("sgn", expr(
        """CAST(CASE WHEN (position(substring(
          |md5(concat('proj:', cast(k AS string), ':', cast(j AS string))),
          |1, 1), '0123456789abcdef') - 1) % 2 = 1
          |THEN 1.0 ELSE -1.0 END AS FLOAT)""".stripMargin))
      .groupBy("k")
      .agg(expr("transform(array_sort(collect_list(struct(j, sgn))), x -> x.sgn)")
        .as("parr"))

  /** Johnson–Lindenstrauss random projection 64→8 dims — the
    * dimensionality-reduction scale lever BETWEEN full vectors and
    * int8 quantization (q_embed_quantize): a Rademacher (±1) projection
    * matrix preserves pairwise distances within ~1/√k, and unlike PCA
    * needs NO training pass. The matrix is md5-seeded ('proj:' domain,
    * disjoint from the LSH planes), 8×64 floats, broadcast; projection
    * is one graft_dot per output dim with the same sequential-fold
    * parity as every other dot here, scaled by 1/√8 (IEEE sqrt is
    * correctly rounded — identical cross-engine). Long-form output
    * (vec_id, k, proj) keeps the comparator array-free; the vec_id < 20
    * filter only bounds the oracle dump. */
  private val vecProject: Q = (s, d) => {
    val kDims = 8
    val planes = rpPlanes(s)
    vecs(s, d).filter(col("vec_id") < 20)
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("k"),
        r6(expr("graft_dot(v, parr)") / lit(math.sqrt(kDims.toDouble)))
          .as("proj"))
      .orderBy("vec_id", "k")
  }

  /** JL distortion audit for the q_vec_project matrix — the eval-harness
    * member that prices the 64→8 compression the way q_eval_pq_recall
    * prices PQ: pairwise squared-distance ratio projected/original over
    * the deterministic 1-in-5 vec_id sample (sampling IS the 100 TB
    * shape for a pairwise audit; the estimate needs pairs, not the
    * corpus). All distance arithmetic is exact integer micros: original
    * d² = 2·(1e6 − dot_micros) on unit vectors, projected d² sums 8
    * squared micro-differences as longs, and the ratio is ONE double
    * division of two exact integers — no float-sum ordering anywhere.
    * The mean rides on long micro sums; p05/p95 interpolate over
    * micros-valued doubles (identical inputs ⇒ identical outputs). */
  private val rpDistortion: Q = (s, d) => {
    // NOT checkpointed: a round-10 A/B measured the pin at 10 jobs vs
    // 9 without — the k-join's twin reads of proj are already
    // exchange-reused, so the eager materialization only added a job
    val proj = vecs(s, d).filter(col("vec_id") % 5 === 0)
      .crossJoin(broadcast(rpPlanes(s)))
      .select(col("vec_id"), col("k"),
        floor(expr("graft_dot(v, parr)") / lit(math.sqrt(8.0))
          * 1000000L + 0.5).as("pm"))
    val sample = vecs(s, d).filter(col("vec_id") % 5 === 0)
    val pairs = sample.select(col("vec_id").as("va"), col("v").as("x"))
      .join(broadcast(sample.select(col("vec_id").as("vb"),
        col("v").as("y"))), col("va") < col("vb"))
      .select(col("va"), col("vb"),
        (lit(2L) * (lit(1000000L) -
          floor(expr(dotExpr) * 1000000L + 0.5))).as("d2o_m"))
      .filter(col("d2o_m") > 0)
    val d2p = proj.select(col("vec_id").as("va"), col("k"),
        col("pm").as("pa"))
      .join(proj.select(col("vec_id").as("vb"), col("k"),
        col("pm").as("pb")), Seq("k"))
      .filter(col("va") < col("vb"))
      .groupBy("va", "vb")
      .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb")))
        .as("d2p_m2"))
    pairs.join(d2p, Seq("va", "vb"))
      .select(floor(col("d2p_m2").cast("double") /
        (col("d2o_m").cast("double") * 1000000.0) * 1000000L + 0.5)
        .as("rm"))
      .agg(count(lit(1)).as("n_pairs"),
        r6(sum(col("rm")).cast("double") / count(lit(1)) / 1e6)
          .as("mean_ratio"),
        r6(expr("percentile(rm / 1000000.0, 0.05)")).as("p05_ratio"),
        r6(expr("percentile(rm / 1000000.0, 0.95)")).as("p95_ratio"),
        r6(count(when(abs(col("rm") / lit(1000000.0) - 1.0) <= 0.5, 1))
          .cast("double") / count(lit(1))).as("within_50pct_rate"))
  }

  /** Embedding effective rank (participation ratio) — the
    * "is my embedding space collapsed" audit: erank = (Σ_d v_d)² /
    * Σ_d v_d² over the 64 per-dimension variances. Isotropic space ⇒
    * erank ≈ 64; rank-collapsed representations (the classic failure
    * after bad contrastive training) ⇒ erank ≪ dims, with NO
    * eigendecomposition — two hash aggregates, 64-row intermediate.
    * Determinism: coordinates quantize to integer micros FIRST, so the
    * per-dim moment sums are exact longs in any partition order (a raw
    * var_samp merge is partial-order-dependent), each variance is one
    * closed-form double expression over exact integers, and variances
    * re-quantize to micros before the final ratio — integer arithmetic
    * end to end, one rounded division per output. */
  private val embedErank: Q = (s, d) => {
    val q = dims(s, d)
      .select(col("pos"),
        floor(col("val") * 1000000L + 0.5).as("vm"))
    val perPos = q.groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
        sum(col("vm") * col("vm")).as("svv"))
      .select(col("pos"),
        floor((col("svv").cast("double") -
            col("sv").cast("double") * col("sv") / col("n")) /
          (col("n") - 1) / 1e12 * 1000000L + 0.5).as("varm"))
    perPos.agg(count(lit(1)).as("n_dims"),
        sum(col("varm")).as("tv"), sum(col("varm") * col("varm")).as("tvv"))
      .select(col("n_dims"),
        r6(col("tv").cast("double") / 1e6).as("total_var"),
        r6(col("tv").cast("double") * col("tv") / col("tvv"))
          .as("erank"),
        r6(col("tv").cast("double") * col("tv") / col("tvv") /
          col("n_dims")).as("erank_ratio"))
  }

  /** Similarity-score calibration curve: bin pairwise cosine into 10
    * equal bins over [−1, 1] and report the same-label rate per bin —
    * the audit that turns a raw embedding score into "probability these
    * two are related", and the pre-flight check for any cosine
    * threshold a dedup/retrieval stage wants to hardcode. Runs on the
    * deterministic 1-in-5 sample (pairwise audits sample, never scan,
    * at scale); cosines are floored to exact integer micros before
    * binning and averaging, so bin membership and the per-bin mean are
    * integer arithmetic with one rounded division each. */
  private val vecCalibration: Q = (s, d) => {
    val sample = vecs(s, d).filter(col("vec_id") % 5 === 0)
    val a = sample.select(col("vec_id").as("va"), col("label").as("la"),
      col("v").as("x"))
    val b = sample.select(col("vec_id").as("vb"), col("label").as("lb"),
      col("v").as("y"))
    a.join(broadcast(b), col("va") < col("vb"))
      .select((col("la") === col("lb")).cast("long").as("same"),
        floor(expr(dotExpr) * 1000000L + 0.5).as("cm"))
      .select(col("same"), col("cm"),
        least(floor((col("cm") / lit(1000000.0) + 1.0) * 5.0), lit(9.0))
          .cast("int").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum(col("same")).as("n_same"),
        r6(sum(col("same")).cast("double") / count(lit(1)))
          .as("same_rate"),
        r6(sum(col("cm")).cast("double") / count(lit(1)) / 1e6)
          .as("avg_cos"))
      .orderBy("bin")
  }

  /** Nearest-centroid classifier with its confusion-matrix eval in one
    * plan — the cheapest embedding classifier (one centroid per label,
    * the model IS a |labels|×64 table) and the evaluation loop that
    * justifies or retires it. Centroids are r6-rounded per-dim means
    * (round-then-score, the embed_drift discipline); scores go through
    * the pos-join + per-(vector, candidate) sum — r6-rounded before the
    * argmax cut with the label as tie-break, so the decision boundary
    * is deterministic cross-engine. Linear: |vectors|×|labels| scores,
    * never vector×vector. */
  private val centroidClassify: Q = (s, d) =>
    centroidPred(s, d)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")

  /** Per-vector nearest-centroid prediction (vec_id, true_label,
    * pred_label) — extracted (round 7) so the confusion matrix and the
    * chance-corrected agreement audit share one definition; a SESSION
    * ARTIFACT since round 11 (the pqCodes pattern): q_vec_centroid_classify
    * and q_eval_kappa each re-ran the
    * |vectors|×|labels| scoring join + argmax window per evaluation
    * (classify 7 → 3, kappa 8 → 4 jobs, A/B'd round 11). Persisted
    * frame, deterministic values (r6 + label tie-break) by
    * construction. */
  private val centroidPred = Artifact("centroid_pred") { (s, d) =>
    centroidPredUncached(s, d).persist()
  }

  private def centroidPredUncached(s: SparkSession, d: String): DataFrame = {
    val cent = dims(s, d).groupBy(col("label").as("cand"), col("pos"))
      .agg(r6(avg(col("val"))).as("c"))
    val scored = dims(s, d)
      .select(col("vec_id"), col("label").as("true_label"), col("pos"),
        col("val"))
      .join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "true_label", "cand")
      .agg(r6(sum(col("val") * col("c"))).as("score"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("true_label"),
        col("cand").as("pred_label"))
  }

  /** Cohen's kappa of the centroid classifier against ground truth —
    * chance-corrected agreement, the labeling-pipeline QA statistic
    * (raw accuracy is inflated exactly when the label distribution is
    * skewed, which is when an auto-labeler is most dangerous; kappa
    * prices that chance agreement out). Everything reduces over the
    * |labels|²-bounded confusion census: row/column marginals, the
    * Σ row·col chance term, and kappa = (N·agree − Σrc)/(N² − Σrc) as
    * ONE division of exact longs — no float accumulates anywhere. At
    * 100 TB the only corpus-sized work is the classifier pass itself
    * (shared with q_vec_centroid_classify), which is map-side
    * broadcast scoring. */
  private val evalKappa: Q = (s, d) => {
    val conf = centroidPred(s, d)
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
    // the marginal/chance folds reduce over the |labels|²-bounded
    // confusion census, so they run DRIVER-SIDE on the collected census
    // (the cluster-purity pattern — round 9: the two marginal
    // aggregates, their full-outer join, and two broadcast crossJoins
    // were 5 extra jobs for ≤k² rows). Exact-long arithmetic throughout
    // → identical r6 doubles; only the classifier pass stays corpus-
    // sized, exactly as before. Oracle hash unchanged.
    val cells = conf.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // empty census → empty result (empty-stays-empty discipline)
    if (cells.isEmpty) {
      import s.implicits._
      Seq.empty[(Long, Long, Long, Double, Double, Double)]
        .toDF("n_total", "n_agree", "sum_rc", "po", "pe", "kappa")
    } else kappaFold(s, cells)
  }

  private def kappaFold(s: SparkSession,
      cells: Array[(Int, Int, Long)]): DataFrame = {
    val rown = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val coln = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val sumRc = (rown.keySet ++ coln.keySet).toSeq
      .map(c => rown.getOrElse(c, 0L) * coln.getOrElse(c, 0L)).sum
    val nTotal = cells.map(_._3).sum
    val nAgree = cells.collect { case (t, p, n) if t == p => n }.sum
    import s.implicits._
    // a single-class degenerate matrix has n² = Σrc → null kappa per
    // Spark's null-on-zero-divisor, not IEEE NaN
    val kap =
      if (nTotal * nTotal == sumRc) None
      else Some(graft.Par.r6d((nTotal * nAgree - sumRc).toDouble
        / (nTotal * nTotal - sumRc)))
    Seq((nTotal, nAgree, sumRc,
      graft.Par.r6d(nAgree.toDouble / nTotal),
      graft.Par.r6d(sumRc.toDouble / (nTotal * nTotal)), kap))
      .toDF("n_total", "n_agree", "sum_rc", "po", "pe", "kappa")
  }

  /** Per-label embedding-norm distribution — the embedding-health audit
    * run before any cosine work (un-normalized or degenerate batches
    * show up as shifted/collapsed norm ranges per class). Uses the
    * graft_norm2 codegen expression (one array read per element; also
    * the target of the RewriteSelfDot optimizer rule) for Σv², r6-rounds
    * each norm BEFORE aggregating (round-then-aggregate parity), then
    * one |labels|-bounded hash aggregate. Map-side partial agg; no
    * shuffle beyond the bounded group frame. */
  private val embedNormStats: Q = (s, d) =>
    vecs(s, d)
      .withColumn("norm_r", r6(sqrt(expr("graft_norm2(v)"))))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        r6(avg(col("norm_r"))).as("avg_norm"),
        min(col("norm_r")).as("min_norm"),
        max(col("norm_r")).as("max_norm"))
      .orderBy("label")

  /** NDCG@10 retrieval-quality audit — the eval-harness member for
    * RANKED retrieval (where the recall audits measure set overlap,
    * NDCG measures position: a relevant doc at rank 1 is worth more
    * than at rank 10). Relevance is binary and data-derived: a
    * retrieved vector is relevant to query q iff it carries q's label.
    * Three fixed queries (vec_id < 3) rank the corpus exactly (the
    * q_sim_cosine_topk broadcast shape — at 100 TB the IVF probe
    * composes in front, and THIS key is how you price that swap).
    * Float discipline: every DCG/IDCG term is r6-rounded, and both
    * engines fold the ≤10 terms SEQUENTIALLY in rank order (Spark
    * aggregate-over-array_sort ↔ DuckDB list_reduce-over-ordered-list
    * — the kruskal discipline); IDCG's ideal ranks come from an
    * explicit sequence(1, min(10, n_rel)), so the quotient divides two
    * bit-identical doubles. */
  /** Shared ranked retrieval frame (qid, vec_id, rel, rk, cum_rel) for
    * the NDCG/MAP audit pair — identical query set (vec_id < 3), binary
    * relevance, exact cosine ranking, per-qid rank and running
    * relevance. A SESSION ARTIFACT since round 11 (the centroidPred
    * pattern): both consumers re-ran the broadcast scoring + rank
    * window per evaluation (ndcg 7 + map 7 → 3 + 3 jobs, A/B'd). */
  private val retrievalRanked = Artifact("retrieval_ranked") { (s, d) =>
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim_r").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
      .withColumn("rel",
        when(col("label") === col("qlabel"), 1L).otherwise(0L))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_rel", sum(col("rel")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("qid", "vec_id", "rel", "rk", "cum_rel")
      .persist()
  }

  private val evalNdcg: Q = (s, d) => {
    val ranked = retrievalRanked(s, d)
    val dcg = ranked
      .filter(col("rk") <= 10)
      .withColumn("term",
        expr("floor((rel * ln(2.0) / ln(rk + 1.0)) * 1000000 + 0.5)" +
          " / 1000000.0"))
      .groupBy("qid")
      .agg(expr("aggregate(transform(array_sort(collect_list(" +
        "struct(rk, term))), x -> x.term), 0D," +
        " (acc, v) -> acc + v)").as("dcg_r"))
    val nrel = ranked.filter(col("rel") === 1L)
      .groupBy("qid").agg(count(lit(1)).as("n_rel"))
    dcg.join(nrel, Seq("qid"))
      .withColumn("idcg_r",
        expr("aggregate(transform(sequence(1L, least(10L, n_rel))," +
          " i -> floor((ln(2.0) / ln(i + 1.0)) * 1000000 + 0.5)" +
          " / 1000000.0), 0D, (acc, v) -> acc + v)"))
      .select(col("qid"), col("n_rel"), col("dcg_r"), col("idcg_r"),
        r6(col("dcg_r") / col("idcg_r")).as("ndcg"))
      .orderBy("qid")
  }

  /** MAP@10 — the mean-average-precision sibling of q_eval_ndcg over
    * the identical query/relevance frame (queries = vec_id < 3, binary
    * relevance = label match, exact cosine ranking). Where NDCG
    * discounts logarithmically, AP averages precision AT each hit:
    * AP = (1/min(10, n_rel)) Σ_{hits k≤10} cum_rel(k)/k — the metric
    * retrieval papers actually headline, so the eval harness needs
    * both. Same scale shape as NDCG: one broadcast of 3 query rows,
    * one corpus scan, a per-qid window cut at 10. Determinism: each
    * precision term is an exact small-int division r6-pinned before
    * the ≤10-term sequential fold (the kruskal discipline); the
    * denominator min(10, n_rel) divides two bit-identical doubles. */
  private val evalMap: Q = (s, d) => {
    val ranked = retrievalRanked(s, d)
    val hits = ranked
      .filter(col("rk") <= 10 && col("rel") === 1L)
      .withColumn("term",
        expr("floor((cast(cum_rel AS double) / rk) * 1000000 + 0.5)" +
          " / 1000000.0"))
    val ap = hits.groupBy("qid")
      .agg(count(lit(1)).as("n_hits10"),
        expr("aggregate(transform(array_sort(collect_list(" +
          "struct(rk, term))), x -> x.term), 0D," +
          " (acc, v) -> acc + v)").as("sum_t"))
    val nrel = ranked.filter(col("rel") === 1L)
      .groupBy("qid").agg(count(lit(1)).as("n_rel"))
    ap.join(nrel, Seq("qid"))
      .select(col("qid"), col("n_rel"), col("n_hits10"),
        r6(col("sum_t") / least(lit(10L), col("n_rel"))).as("ap"))
      .orderBy("qid")
  }

  /** Long-form int8 affine codes (vec_id, pos, qv) — the q_embed_quantize
    * formula kept un-packed so downstream keys can do exact integer
    * arithmetic on the codes. The |dims|-row min/max frame is broadcast;
    * the code projection is linear, map-side only. */
  private def int8Codes(s: SparkSession, d: String): DataFrame = {
    val stats = dims(s, d).groupBy("pos")
      .agg(min("val").as("mn"), max("val").as("mx"))
    dims(s, d).join(broadcast(stats), Seq("pos"))
      .withColumn("qv",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(floor((col("val") - col("mn"))
            / (col("mx") - col("mn")) * 254.0 + 0.5).cast("int") - 127))
      .select(col("vec_id"), col("pos"), col("qv"))
  }

  /** RBO@10 (p = 0.9) between the exact float ranking and the int8-
    * quantized ranking — the ORDER-level audit of what scalar
    * quantization (q_embed_quantize) costs: the recall audits price set
    * overlap, but a serving layer that ranks on int8 codes cares where
    * results MOVE, and rank-biased overlap weights agreement at the
    * top (weight p^(d-1) at depth d) exactly like a user reading down
    * the list. Ranking B's scores are integer dot products of the
    * affine codes — exact cross-engine arithmetic, no float risk until
    * the ≤10 weighted terms. Scale shape: both rankings are per-query
    * window cuts at 10; the overlap census is a 3-query × 10-depth
    * bounded grid left-joined against the ≤10-row intersection (RBO of
    * 0-overlap prefixes must be 0, not a dropped row). Determinism:
    * integer overlap counts, each p^(d-1)·X_d/d term r6-pinned, 10-term
    * sequential fold, literal 0.1 = (1−p) in both engines. */
  private val evalRbo: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
    val wA = Window.partitionBy("qid")
      .orderBy(col("sim_r").desc, col("vec_id"))
    val topA = exact.withColumn("ra", row_number().over(wA).cast("long"))
      .filter(col("ra") <= 10).select("qid", "vec_id", "ra")
    val codes = int8Codes(s, d)
    val qc = codes.join(broadcast(q.select("qid")),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("pos"), col("qv").as("qa"))
    val simQ = codes.join(broadcast(qc), Seq("pos"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("qv").cast("long") * col("qa")).as("simq"))
    val wB = Window.partitionBy("qid")
      .orderBy(col("simq").desc, col("vec_id"))
    val topB = simQ.withColumn("rb", row_number().over(wB).cast("long"))
      .filter(col("rb") <= 10).select("qid", "vec_id", "rb")
    val both = topA.join(topB, Seq("qid", "vec_id"))
    val grid = q.select("qid")
      .crossJoin(broadcast(s.range(1, 11).select(col("id").as("dep"))))
    val xd = grid.join(both, Seq("qid"), "left")
      .withColumn("inb",
        when(col("ra") <= col("dep") && col("rb") <= col("dep"), 1L)
          .otherwise(0L))
      .groupBy("qid", "dep")
      .agg(sum(col("inb")).as("x_d"))
    xd.withColumn("term",
        r6(col("x_d").cast("double") / col("dep")
          * pow(lit(0.9), col("dep").cast("double") - 1)))
      .groupBy("qid")
      .agg(max(when(col("dep") === 10, col("x_d"))).as("overlap10"),
        expr("aggregate(transform(array_sort(collect_list(" +
          "struct(dep, term))), x -> x.term), 0D," +
          " (acc, v) -> acc + v)").as("sum_t"))
      .select(col("qid"), col("overlap10"),
        r6(lit(0.1) * col("sum_t")).as("rbo"))
      .orderBy("qid")
  }

  /** MMR (maximal marginal relevance) diversified top-5 — the re-rank
    * every retrieval/RAG serving layer runs between "nearest" and
    * "shown": pure cosine top-k returns near-duplicates of one result
    * (this corpus has engineered near-dup clusters — that is the
    * failure mode, proven by q_dedup_embed); MMR greedily picks
    * argmax λ·rel − (1−λ)·max-sim-to-already-picked, trading relevance
    * against redundancy. λ=0.7, k=5 from a 12-candidate pool, queries
    * = vec_id < 3 (the ivfTop3 convention). Scale shape: the candidate
    * pool per query is k-bounded (an ANN front end at 100 TB — here the
    * exact top-12, so the oracle can see it), the 12×12 pair-sim frame
    * and the 5 greedy rounds run on BOUNDED frames (≤ 432 rows), and
    * the sequential dependency is 5 fixed plan iterations, not a
    * driver loop over data. Determinism: rel/pair sims r6-pinned,
    * every greedy argmax ranks on an r6-pinned score with cid
    * tie-break; 0.7/0.3 are literal text in both engines (never
    * 1−0.7, which is 0.30000000000000004 in IEEE). */
  private val simMmr: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val rel0 = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("rel_r", r6(expr("graft_dot(v, qv)")))
      .select("qid", "vec_id", "rel_r", "v")
    val wq = Window.partitionBy("qid")
      .orderBy(col("rel_r").desc, col("vec_id"))
    // The greedy recursion would otherwise re-expand the candidate
    // lineage ~3× per level (ms join + anti join + union), re-running
    // the corpus-wide relevance scan dozens of times — so the BOUNDED
    // artifacts (the ≤36-row candidate frame, ≤396-row pair-sim frame,
    // and each round's ≤3-row pick) are pinned to LocalRelations first
    // (the kmeansCentroids rule; every collect here is k·|queries|-
    // bounded by construction, independent of corpus size).
    def pinLocal(df: DataFrame): DataFrame = s.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    val cand = pinLocal(rel0.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 12)
      .select(col("qid"), col("vec_id").as("cid"), col("rel_r"), col("v")))
    val pair = pinLocal(cand
      .select(col("qid"), col("cid").as("ca"), col("v").as("x"))
      .join(cand.select(col("qid"), col("cid").as("cb"), col("v").as("y")),
        Seq("qid"))
      .filter(col("ca") =!= col("cb"))
      .withColumn("ps_r", r6(expr("graft_dot(x, y)")))
      .select("qid", "ca", "cb", "ps_r"))
    // The 5 greedy rounds run DRIVER-SIDE on the two collected bounded
    // frames (≤36 candidate rows, ≤396 pair rows — k·|queries|-bounded
    // by construction, the union-find-below-ceiling class). Both
    // graft_dot passes stay in Spark, so every float the greedy loop
    // touches is the engine-pinned r6 double; the loop itself is pure
    // IEEE-double compare/argmax, identical to the round-7 plan-per-
    // round form it replaces — which pinned 8 LocalRelations via 8
    // collect jobs plus ~20 AQE stage jobs (29 jobs total, the
    // registry's most job-exposed key; this form runs ~6).
    val candRows = cand.select("qid", "cid", "rel_r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val psim = pair.select("qid", "ca", "cb", "ps_r").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getDouble(3))).toMap
    val picks = candRows.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      var selected = Vector.empty[(Long, Long, Double)] // (step, cid, mmr)
      var step = 1
      var exhausted = false
      while (step <= 5 && !exhausted) {
        val scored = cs
          .filter(c => !selected.exists(_._2 == c._2))
          .map { case (_, cid, rel) =>
            val mmr =
              if (step == 1) graft.Par.r6d(0.7 * rel) // empty set → diversity 0
              else {
                val maxsim = selected.map(s => psim((qid, cid, s._2))).max
                graft.Par.r6d(0.7 * rel - 0.3 * maxsim)
              }
            (cid, mmr)
          }
        // a query with < 5 distinct candidates emits fewer steps (the
        // round-7 plan-per-round degraded-output behavior), instead of
        // minBy throwing on the empty remainder
        if (scored.isEmpty) exhausted = true
        else {
          val (cid, mmr) = scored.minBy { case (c2, m) => (-m, c2) }
          selected :+= ((step.toLong, cid, mmr))
        }
        step += 1
      }
      selected.map { case (step, cid, mmr) => (qid, step, cid, mmr) }
    }
    s.createDataFrame(picks.sortBy(p => (p._1, p._2)))
      .toDF("qid", "step", "cid", "mmr_r")
      .orderBy("qid", "step")
  }

  /** IVF probe-sweep tuning curve — the capacity-planning readout an
    * ANN deployment is actually tuned with: recall@3 as a function of
    * nprobe ∈ {1,2,3} (q_eval_ivf_recall prices ONE operating point;
    * this key prices the curve, which is what decides "how many
    * partitions must a query touch to hit the recall SLO"). One
    * centroid ranking per query (K-bounded broadcast), candidates
    * scored ONCE across the union of the 3 best partitions and then
    * re-cut per probe depth (prn ≤ p) — the sweep adds rank windows
    * over the same scored frame, not extra corpus scans. Monotonicity
    * (recall non-decreasing in nprobe) is a structural invariant the
    * spec pins. All ranks on r6 sims with id tie-breaks. */
  private val evalProbeSweep: Q = (s, d) => {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim_r").desc, col("vec_id"))
    val exact = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select(col("qid"), col("vec_id").as("nid"))
    val qc = q.withColumnRenamed("qv", "v")
      .crossJoin(broadcast(centroidArr(s, d)
        .withColumnRenamed("label", "clabel")))
      .withColumn("csim", r6(expr(centDotExpr)))
    val wq = Window.partitionBy("qid")
      .orderBy(col("csim").desc, col("clabel"))
    val probeRank = qc.withColumn("prn", row_number().over(wq))
      .filter(col("prn") <= 3)
      .select(col("qid"), col("clabel").as("label"), col("prn"))
    val cand = probeRank.join(e, Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .join(q, Seq("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
      .select("qid", "prn", "vec_id", "sim_r")
    val perProbe = (1 to 3).map { p =>
      val wp = Window.partitionBy("qid")
        .orderBy(col("sim_r").desc, col("vec_id"))
      val top = cand.filter(col("prn") <= p)
        .withColumn("rk", row_number().over(wp))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), lit(1).as("hit"))
      exact.join(top, Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(lit(p).as("nprobe"), col("n_exact"), col("n_hit"),
          r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
    }
    perProbe.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** Clustering-quality eval (purity + NMI) for the trained k-means
    * against the ground-truth labels — the eval-harness entry for
    * q_ann_kmeans itself (the recall audits price the INDEXES built on
    * the clustering; nothing priced the clustering): purity = share of
    * vectors whose cluster's majority label is their own, NMI =
    * 2·I(C;L)/(H(C)+H(L)) — the chance-corrected form that a
    * degenerate 1-cluster solution cannot game. Everything derives
    * from the |clusters|×|labels| (≤16-cell) contingency census of the
    * SAME cached 2-round Lloyd assignment the other kmeans keys share;
    * cross-cell entropy/MI sums run as sorted-list folds on exact
    * integer counts (the levene fold discipline), so both engines
    * accumulate identically. */
  private val evalClusterPurity: Q = (s, d) => {
    val assign = assignTo(vecs(s, d), kmeansCentroids(s, d, (4, 2)))
    // The contingency census is ≤ |clusters|·|labels| = 16 cells BY
    // CONSTRUCTION (both factors are fixed constants, not data-scaled),
    // so the entropy/MI folds run DRIVER-SIDE on the collected census —
    // the MMR k-bounded-collect pattern. The round-8 form derived
    // nc/nl/nt/mi/hc/hl as six chained frames, each crossJoin(broadcast)
    // a job (20 jobs for 16 integers); this is ONE collect job after the
    // assignment join. Fold order and arithmetic replay the previous SQL
    // folds exactly: cells sorted by (cid, label), clusters by cid,
    // labels by label, same java.lang.Math.log doubles (Spark's codegen
    // ln IS Math.log), same r6 pins — the oracle hash is unchanged.
    val cells = assign
      .join(vecs(s, d).select("vec_id", "label"), Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("ncl"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
    val n = cells.map(_._3).sum
    val nD = n.toDouble
    val nc = cells.groupBy(_._1).view
      .mapValues(cs => (cs.map(_._3).sum, cs.map(_._3).max)).toMap
    val nl = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val purity = nc.values.map(_._2).sum.toDouble / nD
    val mi = cells.sortBy(c => (c._1, c._2)).foldLeft(0.0) {
      case (acc, (cid, label, ncl)) =>
        acc + (ncl / nD) * math.log(
          ncl.toDouble * n / (nc(cid)._1.toDouble * nl(label)))
    }
    val hc = nc.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, (_, (c, _))) =>
      acc - (c / nD) * math.log(c / nD)
    }
    val hl = nl.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, (_, c)) =>
      acc - (c / nD) * math.log(c / nD)
    }
    s.createDataFrame(Seq(
        (n, cells.length.toLong, graft.Par.r6d(purity), graft.Par.r6d(hc), graft.Par.r6d(hl),
          graft.Par.r6d(2.0 * mi / (hc + hl)))))
      .toDF("n", "n_cells", "purity", "h_cluster", "h_label", "nmi")
  }

  /** Binary (1-bit sign) embedding quantization with its recall audit —
    * the last rung of the registry's quantization ladder (float32 →
    * int8 q_embed_quantize → PQ q_embed_pq → 1-bit here, a 32× memory
    * cut and XOR-popcount distance, the binary-embedding serving trick)
    * priced like every other sketch: per query, hamming top-10 vs the
    * full-precision exact top-10, recall@10 = overlap/10. Codes pack
    * into two 32-bit BIGINT halves via the phash-hamming machinery
    * (explode → shifted-flag integer sums — the aggregate barrier is
    * deliberate, see multimodalPhashHamming's CollapseProject note);
    * distance = bit_count(xor) per half, ranked ascending with vec_id
    * tie-breaks. Integer end to end; the only doubles are the exact
    * side's r6 sims. */
  private val evalBinaryRecall: Q = (s, d) => {
    val codes = dims(s, d)
      .select(col("vec_id"), col("pos"),
        when(col("val") >= 0, 1L).otherwise(0L).as("b"))
      .groupBy("vec_id")
      .agg(
        sum(expr("CASE WHEN pos < 32 THEN shiftleft(b, 31 - pos)" +
          " ELSE 0 END")).as("h1"),
        sum(expr("CASE WHEN pos >= 32 THEN shiftleft(b, 63 - pos)" +
          " ELSE 0 END")).as("h2"))
    val q = codes.join(vecs(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id")), Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("h1").as("qh1"),
        col("h2").as("qh2"))
    val wb = Window.partitionBy("qid").orderBy(col("hd"), col("vec_id"))
    val bin = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("hd", expr("CAST(bit_count(h1 ^ qh1)" +
        " + bit_count(h2 ^ qh2) AS INT)"))
      .withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id").as("nid"), lit(1).as("hit"))
    val e = vecs(s, d)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val we = Window.partitionBy("qid")
      .orderBy(col("sim_r").desc, col("vec_id"))
    val exact = e.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id").as("nid"))
    exact.join(bin, Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderBy("qid")
  }

  /** Shared oracle fragment: the PQ training chain (8 subspaces × k=4,
    * one Lloyd round, r6 squared-L2 argmin with code tie-break) ending
    * in `a2` = final (vec_id, m, code, dist_r) — referenced by
    * q_embed_pq and extended by q_eval_pq_recall. */
  private val pqCtes =
    """el AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, len(embedding)))
                    AS INTEGER) - 1 AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         sub AS (SELECT vec_id, CAST(pos // 8 AS BIGINT) AS m,
                        CAST(pos % 8 AS INTEGER) AS p, val
                 FROM el),
         cb0 AS (SELECT m, vec_id AS code, p, val AS c
                 FROM sub WHERE vec_id < 4),
         d1 AS (SELECT s.vec_id, s.m, c.code,
                       floor(sum((s.val - c.c) * (s.val - c.c))
                         * 1000000 + 0.5) / 1000000.0 AS dist_r
                FROM sub s JOIN cb0 c ON s.m = c.m AND s.p = c.p
                GROUP BY s.vec_id, s.m, c.code),
         a1 AS (SELECT vec_id, m, code FROM (
                  SELECT vec_id, m, code,
                         row_number() OVER (PARTITION BY vec_id, m
                           ORDER BY dist_r, code) AS rn
                  FROM d1) t WHERE rn = 1),
         cb1 AS (SELECT s.m, a.code, s.p, avg(s.val) AS c
                 FROM sub s JOIN a1 a
                   ON s.vec_id = a.vec_id AND s.m = a.m
                 GROUP BY s.m, a.code, s.p),
         d2 AS (SELECT s.vec_id, s.m, c.code,
                       floor(sum((s.val - c.c) * (s.val - c.c))
                         * 1000000 + 0.5) / 1000000.0 AS dist_r
                FROM sub s JOIN cb1 c ON s.m = c.m AND s.p = c.p
                GROUP BY s.vec_id, s.m, c.code),
         a2 AS (SELECT vec_id, m, code, dist_r FROM (
                  SELECT vec_id, m, code, dist_r,
                         row_number() OVER (PARTITION BY vec_id, m
                           ORDER BY dist_r, code) AS rn
                  FROM d2) t WHERE rn = 1)"""

  /** pqCtes with every CTE name prefixed `pq_` — needed when the PQ
    * chain composes with kmeansCtes in ONE WITH clause (both define
    * `el`/`a1`/`a2`); a mechanical rename of the SAME shared text, so
    * the training chains still cannot drift between keys. */
  private val pqCtesPrefixed =
    Seq("el", "sub", "cb0", "d1", "a1", "cb1", "d2", "a2")
      .foldLeft(pqCtes)((acc, n) =>
        acc.replaceAll("\\b" + n + "\\b", "pq_" + n))

  /** Shared oracle fragment: the deterministic 2-round Lloyd chain
    * (seeds = vec_id < 4, r6-rounded argmax, ties to lowest cid) —
    * referenced by q_ann_kmeans and composed by q_dedup_semantic. */
  private val kmeansCtes =
    """ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS varr
                     FROM embeddings),
           el AS (SELECT vec_id,
                         CAST(unnest(generate_series(1, len(embedding)))
                           AS INTEGER) - 1 AS pos,
                         CAST(unnest(embedding) AS DOUBLE) AS val
                  FROM embeddings),
           c0 AS (SELECT vec_id AS cid, varr AS carr FROM ev
                  WHERE vec_id < 4),
           a1 AS (SELECT vec_id, cid FROM (
                    SELECT ev.vec_id, c.cid,
                           row_number() OVER (PARTITION BY ev.vec_id
                             ORDER BY floor(list_inner_product(ev.varr,
                               c.carr) * 1000000 + 0.5) DESC, c.cid) AS rn
                    FROM ev CROSS JOIN c0 c) t WHERE rn = 1),
           c1 AS (SELECT cid, list(c ORDER BY pos) AS carr FROM (
                    SELECT cid, pos, avg(val) AS c
                    FROM el JOIN a1 USING (vec_id)
                    GROUP BY cid, pos) t GROUP BY cid),
           a2 AS (SELECT vec_id, cid FROM (
                    SELECT ev.vec_id, c.cid,
                           row_number() OVER (PARTITION BY ev.vec_id
                             ORDER BY floor(list_inner_product(ev.varr,
                               c.carr) * 1000000 + 0.5) DESC, c.cid) AS rn
                    FROM ev CROSS JOIN c1 c) t WHERE rn = 1),
           c2 AS (SELECT cid, list(c ORDER BY pos) AS carr FROM (
                    SELECT cid, pos, avg(val) AS c
                    FROM el JOIN a2 USING (vec_id)
                    GROUP BY cid, pos) t GROUP BY cid),
           a3 AS (SELECT vec_id, cid FROM (
                    SELECT ev.vec_id, c.cid,
                           row_number() OVER (PARTITION BY ev.vec_id
                             ORDER BY floor(list_inner_product(ev.varr,
                               c.carr) * 1000000 + 0.5) DESC, c.cid) AS rn
                    FROM ev CROSS JOIN c2 c) t WHERE rn = 1)"""

  /** Shared oracle fragments: the exact and LSH embedding-pair plans are
    * referenced both standalone and composed by q_eval_lsh_recall. */
  private val embedExactSql =
    """SELECT va, vb, sim_r FROM (
         SELECT a.vec_id AS va, b.vec_id AS vb,
                floor((list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])))
                      * 1000000 + 0.5) / 1000000.0 AS sim_r
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
       WHERE sim_r >= 0.3 ORDER BY va, vb"""

  private val embedLshSql =
    """WITH pc AS (
         SELECT p, j,
                CASE WHEN (strpos('0123456789abcdef',
                       substring(md5(p::VARCHAR || ':' || j::VARCHAR), 1, 1))
                       - 1) % 2 = 1
                     THEN 1.0 ELSE -1.0 END AS sgn
         FROM UNNEST(generate_series(0, 15)) AS tp(p),
              UNNEST(generate_series(0, 63)) AS tj(j)),
       pl AS (SELECT p, list(CAST(sgn AS DOUBLE) ORDER BY j) AS parr
              FROM pc GROUP BY p),
       bits AS (
         SELECT e.vec_id, pl.p,
                CASE WHEN list_inner_product(
                       CAST(e.embedding AS DOUBLE[]), parr) >= 0
                     THEN '1' ELSE '0' END AS bit
         FROM embeddings e, pl),
       ks AS (
         SELECT vec_id, p // 4 AS band,
                string_agg(bit, '' ORDER BY p) AS bkey
         FROM bits GROUP BY vec_id, p // 4),
       cand AS (
         SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM ks x JOIN ks y
           ON x.band = y.band AND x.bkey = y.bkey
          AND x.vec_id < y.vec_id)
       SELECT va, vb, sim_r FROM (
         SELECT c.a AS va, c.b AS vb,
                floor((list_inner_product(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])))
                      * 1000000 + 0.5) / 1000000.0 AS sim_r
         FROM cand c
         JOIN embeddings ea ON ea.vec_id = c.a
         JOIN embeddings eb ON eb.vec_id = c.b) t
       WHERE sim_r >= 0.3 ORDER BY va, vb"""

  /** Chained-CTE power iteration on the r6-rounded Gram cells — the
    * same round-then-replay discipline as q_graph_pagerank. */
  private val pcaIterSql: String => String = prev =>
    s"""SELECT w.i,
              floor(w.w / n.n * 1000000 + 0.5) / 1000000.0 AS x
        FROM (SELECT gram.i, sum(c * $prev.x) AS w
              FROM gram JOIN $prev ON gram.j = $prev.i GROUP BY gram.i) w
        CROSS JOIN (SELECT sqrt(sum(w * w)) AS n FROM (
              SELECT gram.i, sum(c * $prev.x) AS w
              FROM gram JOIN $prev ON gram.j = $prev.i GROUP BY gram.i)) n"""

  private val pcaSql =
    s"""WITH el AS (
         SELECT vec_id,
                CAST(unnest(generate_series(1, len(embedding)))
                  AS INTEGER) - 1 AS i,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       gram AS (
         SELECT a.i AS i, b.i AS j,
                floor(sum(a.v * b.v) * 1000000 + 0.5) / 1000000.0 AS c
         FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       v0 AS (SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS i,
                     0.125 AS x),
       v1 AS (${pcaIterSql("v0")}),
       v2 AS (${pcaIterSql("v1")}),
       v3 AS (${pcaIterSql("v2")})
       SELECT i, x AS loading FROM v3 ORDER BY i"""

  /** Shared label-centroid CTE chain — q_sim_knn_label and q_vec_margin
    * replay ONE centroid build (the ivfCtes rule). */
  private val centCtes: String =
    """dm AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, len(embedding))) - 1
                       AS INTEGER) AS pos,
                  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS val
           FROM embeddings),
         cent AS (SELECT label, pos, avg(val) AS c
                  FROM dm GROUP BY label, pos),
         ca AS (SELECT label, list(c ORDER BY pos) AS carr
                FROM cent GROUP BY label)"""

  /** Shared IVF-probe CTE chain (label centroids → probe → candidate
    * scores) — q_ann_ivf's final top-3 and q_eval_ivf_recall's audit
    * both read from `cand`/`q`, so the replayed pipeline is one text. */
  private val ivfCtes: String =
    """dm AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, len(embedding))) - 1
                       AS INTEGER) AS pos,
                  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS val
           FROM embeddings),
         cent AS (SELECT label, pos, avg(val) AS c
                  FROM dm GROUP BY label, pos),
         ca AS (SELECT label, list(c ORDER BY pos) AS carr
                FROM cent GROUP BY label),
         q AS (SELECT vec_id AS qid, embedding FROM embeddings
               WHERE vec_id < 5),
         qc AS (
           SELECT q.qid, ca.label AS clabel,
                  floor((list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                            ca.carr))
                        * 1000000 + 0.5) / 1000000.0 AS csim
           FROM q, ca),
         probe AS (
           SELECT qid, clabel AS label FROM (
             SELECT qid, clabel, row_number() OVER (PARTITION BY qid
               ORDER BY csim DESC, clabel) AS rn
             FROM qc) t WHERE rn = 1),
         cand AS (
           SELECT probe.qid, e.vec_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM probe
           JOIN embeddings e ON e.label = probe.label
                            AND e.vec_id != probe.qid
           JOIN q ON q.qid = probe.qid)"""

  /** Nearest-centroid prediction oracle CTE chain ending in
    * `pred(vec_id, true_label, pred_label)` — ONE definition shared by
    * the confusion-matrix and kappa oracles (mirrors centroidPred). */
  private val centroidPredCtesSql =
    """el AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, len(embedding)))
                    AS INTEGER) - 1 AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         cent AS (
           SELECT label AS cand, pos,
                  floor(avg(val) * 1000000 + 0.5) / 1000000.0 AS c
           FROM el GROUP BY label, pos),
         sc AS (
           SELECT e.vec_id, e.label AS true_label, cent.cand,
                  floor(sum(e.val * cent.c) * 1000000 + 0.5) / 1000000.0
                    AS score
           FROM el e JOIN cent ON e.pos = cent.pos
           GROUP BY e.vec_id, e.label, cent.cand),
         pred AS (
           SELECT vec_id, true_label, cand AS pred_label FROM (
             SELECT vec_id, true_label, cand,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY score DESC, cand) AS rn
             FROM sc) t WHERE rn = 1)"""

  /** q_sim_mmr oracle: greedy round i as a generated CTE — score the
    * not-yet-picked candidates against the union of prior picks (max
    * pair-sim), pin with the same floor text as the Spark plan, take
    * the per-query argmax with cid tie-break. Five fixed rounds =
    * five chained CTEs (no recursion needed). */
  private def mmrStep(i: Int): String = {
    val prev = (1 until i).map(j => s"SELECT qid, cid FROM s$j")
      .mkString(" UNION ALL ")
    s"""s$i AS (
       SELECT qid, CAST($i AS BIGINT) AS step, cid, mmr_r FROM (
         SELECT qid, cid, mmr_r, row_number() OVER (PARTITION BY qid
             ORDER BY mmr_r DESC, cid) AS rn
         FROM (
           SELECT c.qid, c.cid,
                  floor((0.7 * c.rel_r - 0.3 * ms.maxsim_r) * 1000000
                        + 0.5) / 1000000.0 AS mmr_r
           FROM cand c
           JOIN (SELECT p.qid, p.ca AS cid, max(p.ps_r) AS maxsim_r
                 FROM pair p JOIN ($prev) s
                   ON p.qid = s.qid AND p.cb = s.cid
                 GROUP BY p.qid, p.ca) ms
             ON ms.qid = c.qid AND ms.cid = c.cid
           WHERE NOT EXISTS (SELECT 1 FROM ($prev) sx
                             WHERE sx.qid = c.qid AND sx.cid = c.cid)
         ) b) t
       WHERE rn = 1)"""
  }

  val declared: Seq[Query] = Seq(
    // sign-bit codes packed into two shifted-flag halves, hamming =
    // bit_count(xor), ascending rank vs the exact graft_dot top-10
    Query("q_eval_binary_recall", evalBinaryRecall,
      """WITH el AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, len(embedding))) - 1
                    AS INTEGER) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         bits AS (SELECT vec_id, pos,
                         CAST(CASE WHEN val >= 0 THEN 1 ELSE 0 END
                           AS BIGINT) AS b
                  FROM el),
         codes AS (
           SELECT vec_id,
                  CAST(sum(CASE WHEN pos < 32 THEN b << (31 - pos)
                    ELSE 0 END) AS BIGINT) AS h1,
                  CAST(sum(CASE WHEN pos >= 32 THEN b << (63 - pos)
                    ELSE 0 END) AS BIGINT) AS h2
           FROM bits GROUP BY vec_id),
         q AS (SELECT vec_id AS qid, h1 AS qh1, h2 AS qh2
               FROM codes WHERE vec_id < 5),
         bin AS (
           SELECT qid, vec_id AS nid FROM (
             SELECT q.qid, c.vec_id,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      CAST(bit_count(xor(c.h1, q.qh1))
                           + bit_count(xor(c.h2, q.qh2)) AS INTEGER),
                      c.vec_id) AS rk
             FROM codes c CROSS JOIN q
             WHERE c.vec_id <> q.qid) t WHERE rk <= 10),
         qv AS (SELECT vec_id AS qid, embedding FROM embeddings
                WHERE vec_id < 5),
         exact AS (
           SELECT qid, vec_id AS nid FROM (
             SELECT qv.qid, e.vec_id,
                    row_number() OVER (PARTITION BY qv.qid ORDER BY
                      floor(list_inner_product(
                        CAST(e.embedding AS DOUBLE[]),
                        CAST(qv.embedding AS DOUBLE[]))
                        * 1000000 + 0.5) / 1000000.0 DESC,
                      e.vec_id) AS rk
             FROM embeddings e JOIN qv ON e.vec_id <> qv.qid) t
           WHERE rk <= 10)
         SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_exact,
                CAST(sum(CASE WHEN b.nid IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit,
                floor((CAST(sum(CASE WHEN b.nid IS NOT NULL THEN 1
                  ELSE 0 END) AS DOUBLE) / count(*))
                  * 1000000 + 0.5) / 1000000.0 AS recall
         FROM exact ex LEFT JOIN bin b
           ON b.qid = ex.qid AND b.nid = ex.nid
         GROUP BY ex.qid ORDER BY ex.qid""")
      .allowUnboundedJoin("|vectors| x 5 query codes (vec_id < 5)"),
    // kmeansCtes' round-2 assignment a3 → contingency census → purity
    // and NMI via ordered folds on exact integer counts
    Query("q_eval_cluster_purity", evalClusterPurity,
      s"""WITH $kmeansCtes,
         lab AS (SELECT vec_id, label FROM embeddings),
         cells AS (SELECT a3.cid, lab.label,
                          CAST(count(*) AS BIGINT) AS ncl
                   FROM a3 JOIN lab USING (vec_id)
                   GROUP BY a3.cid, lab.label),
         ncf AS (SELECT cid, CAST(sum(ncl) AS BIGINT) AS nc,
                        CAST(max(ncl) AS BIGINT) AS mx
                 FROM cells GROUP BY cid),
         nlf AS (SELECT label, CAST(sum(ncl) AS BIGINT) AS nl
                 FROM cells GROUP BY label),
         ntf AS (SELECT CAST(sum(ncl) AS BIGINT) AS n FROM cells),
         mif AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                        list_reduce(list((CAST(ncl AS DOUBLE) / n)
                          * ln((CAST(ncl AS DOUBLE) * n)
                               / (CAST(nc AS DOUBLE) * nl))
                          ORDER BY cid, label),
                          (acc, v) -> acc + v) AS mi
                 FROM cells JOIN ncf USING (cid) JOIN nlf USING (label)
                 CROSS JOIN ntf),
         hcf AS (SELECT list_reduce(list(-(CAST(nc AS DOUBLE) / n)
                          * ln(CAST(nc AS DOUBLE) / n) ORDER BY cid),
                          (acc, v) -> acc + v) AS hc,
                        CAST(sum(mx) AS BIGINT) AS sum_mx
                 FROM ncf CROSS JOIN ntf),
         hlf AS (SELECT list_reduce(list(-(CAST(nl AS DOUBLE) / n)
                          * ln(CAST(nl AS DOUBLE) / n) ORDER BY label),
                          (acc, v) -> acc + v) AS hl
                 FROM nlf CROSS JOIN ntf)
         SELECT n, n_cells,
                floor((CAST(sum_mx AS DOUBLE) / n) * 1000000 + 0.5)
                  / 1000000.0 AS purity,
                floor((hc) * 1000000 + 0.5) / 1000000.0 AS h_cluster,
                floor((hl) * 1000000 + 0.5) / 1000000.0 AS h_label,
                floor((2.0 * mi / (hc + hl)) * 1000000 + 0.5)
                  / 1000000.0 AS nmi
         FROM mif CROSS JOIN hcf CROSS JOIN hlf CROSS JOIN ntf""", cap = 9),
    // the ivfCtes centroid/query chain widened to a 3-deep probe rank;
    // candidates scored once, the sweep re-cuts them per probe depth
    Query("q_eval_probe_sweep", evalProbeSweep,
      """WITH dm AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, len(embedding))) - 1
                       AS INTEGER) AS pos,
                  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS val
           FROM embeddings),
         cent AS (SELECT label, pos, avg(val) AS c
                  FROM dm GROUP BY label, pos),
         ca AS (SELECT label, list(c ORDER BY pos) AS carr
                FROM cent GROUP BY label),
         q AS (SELECT vec_id AS qid, embedding FROM embeddings
               WHERE vec_id < 5),
         qc AS (
           SELECT q.qid, ca.label AS clabel,
                  floor((list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                            ca.carr))
                        * 1000000 + 0.5) / 1000000.0 AS csim
           FROM q, ca),
         pr AS (SELECT qid, clabel AS label, rn AS prn FROM (
                  SELECT qid, clabel, row_number() OVER (PARTITION BY qid
                    ORDER BY csim DESC, clabel) AS rn
                  FROM qc) t WHERE rn <= 3),
         scored AS (
           SELECT q.qid, e.vec_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings e JOIN q ON e.vec_id != q.qid),
         exact AS (SELECT qid, vec_id AS nid FROM (
                     SELECT qid, vec_id, row_number() OVER (
                       PARTITION BY qid ORDER BY sim_r DESC, vec_id) AS rk
                     FROM scored) t WHERE rk <= 3),
         cand AS (
           SELECT pr.qid, pr.prn, e.vec_id, s.sim_r
           FROM pr
           JOIN embeddings e ON e.label = pr.label AND e.vec_id != pr.qid
           JOIN scored s ON s.qid = pr.qid AND s.vec_id = e.vec_id),
         pp AS (SELECT CAST(unnest(generate_series(1, 3)) AS INTEGER)
                  AS p),
         sweep AS (SELECT p, qid, vec_id AS nid FROM (
                     SELECT pp.p, c.qid, c.vec_id, row_number() OVER (
                       PARTITION BY pp.p, c.qid
                       ORDER BY c.sim_r DESC, c.vec_id) AS rk
                     FROM cand c JOIN pp ON c.prn <= pp.p) t
                   WHERE rk <= 3),
         res AS (
           SELECT pp.p AS nprobe, CAST(count(*) AS BIGINT) AS n_exact,
                  CAST(sum(CASE WHEN s.nid IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
           FROM pp CROSS JOIN exact ex
           LEFT JOIN sweep s ON s.p = pp.p AND s.qid = ex.qid
                            AND s.nid = ex.nid
           GROUP BY pp.p)
         SELECT nprobe, n_exact, n_hit,
                floor((CAST(n_hit AS DOUBLE) / n_exact)
                      * 1000000 + 0.5) / 1000000.0 AS recall
         FROM res ORDER BY nprobe""")
      .allowUnboundedJoin(
        "|vectors| x 5 query vectors; 5 queries x |labels| centroids"),
    Query("q_sim_mmr", simMmr,
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
             FROM embeddings WHERE vec_id < 3),
         rel0 AS (
           SELECT qid, e.vec_id,
                  floor(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                        CAST(qv AS DOUBLE[])) * 1000000 + 0.5)
                    / 1000000.0 AS rel_r
           FROM embeddings e JOIN q ON e.vec_id <> qid),
         cand AS (
           SELECT qid, vec_id AS cid, rel_r FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY rel_r DESC, vec_id) AS rn FROM rel0) t
           WHERE rn <= 12),
         pair AS (
           SELECT a.qid, a.cid AS ca, b.cid AS cb,
                  floor(list_inner_product(CAST(ea.embedding AS DOUBLE[]),
                        CAST(eb.embedding AS DOUBLE[])) * 1000000 + 0.5)
                    / 1000000.0 AS ps_r
           FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
           JOIN embeddings ea ON ea.vec_id = a.cid
           JOIN embeddings eb ON eb.vec_id = b.cid),
         s1 AS (
           SELECT qid, CAST(1 AS BIGINT) AS step, cid, mmr_r FROM (
             SELECT qid, cid, mmr_r, row_number() OVER (PARTITION BY qid
                 ORDER BY mmr_r DESC, cid) AS rn
             FROM (SELECT qid, cid,
                     floor((0.7 * rel_r) * 1000000 + 0.5) / 1000000.0
                       AS mmr_r FROM cand) b) t
           WHERE rn = 1),
         ${mmrStep(2)}, ${mmrStep(3)}, ${mmrStep(4)}, ${mmrStep(5)}
         SELECT qid, step, cid, mmr_r FROM (
           SELECT * FROM s1 UNION ALL SELECT * FROM s2
           UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
           UNION ALL SELECT * FROM s5) u
         ORDER BY qid, step""", cap = 9),
    // Both engines fold DCG terms sequentially in rank order and build
    // IDCG from an explicit 1..min(10,n_rel) series; list_reduce's
    // first-element init matches aggregate's 0D init exactly because
    // 0.0 + t == t in IEEE for finite t.
    Query("q_eval_ndcg", evalNdcg,
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                           embedding AS qv
                    FROM embeddings WHERE vec_id < 3),
         scored AS (
           SELECT qid, vec_id,
                  floor((list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r,
                  CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
           FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
         top AS (
           SELECT qid, rel, rk FROM (
             SELECT qid, rel,
                    CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY sim_r DESC, vec_id) AS BIGINT) AS rk
             FROM scored) t WHERE rk <= 10),
         dcg AS (
           SELECT qid,
                  list_reduce(list(
                    floor((rel * ln(2.0) / ln(rk + 1.0)) * 1000000 + 0.5)
                      / 1000000.0 ORDER BY rk),
                    (a, b) -> a + b) AS dcg_r
           FROM top GROUP BY qid),
         nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
                  FROM scored WHERE rel = 1 GROUP BY qid),
         j AS (
           SELECT d.qid AS qid, n_rel, dcg_r,
                  list_reduce(list_transform(
                    generate_series(1, CAST(least(10, n_rel) AS BIGINT)),
                    i -> floor((ln(2.0) / ln(i + 1.0)) * 1000000 + 0.5)
                           / 1000000.0),
                    (a, b) -> a + b) AS idcg_r
           FROM dcg d JOIN nrel USING (qid))
         SELECT qid, n_rel, dcg_r, idcg_r,
                floor((dcg_r / idcg_r) * 1000000 + 0.5) / 1000000.0 AS ndcg
         FROM j ORDER BY qid""", cap = 5)
      .allowUnboundedJoin("|vectors| x 3 query vectors (retrieval_ranked)"),
    // Precision terms are exact small-int divisions r6-pinned before a
    // ≤10-term ordered fold; min(10, n_rel) divides two bit-identical
    // doubles — the NDCG discipline applied to MAP.
    Query("q_eval_map", evalMap,
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                           embedding AS qv
                    FROM embeddings WHERE vec_id < 3),
         scored AS (
           SELECT qid, vec_id,
                  floor((list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r,
                  CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
           FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
         ranked AS (
           SELECT qid, rel,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, vec_id) AS BIGINT) AS rk,
                  CAST(sum(rel) OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, vec_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_rel
           FROM scored),
         hits AS (
           SELECT qid, rk,
                  floor((CAST(cum_rel AS DOUBLE) / rk) * 1000000 + 0.5)
                    / 1000000.0 AS term
           FROM ranked WHERE rk <= 10 AND rel = 1),
         ap AS (
           SELECT qid, CAST(count(*) AS BIGINT) AS n_hits10,
                  list_reduce(list(term ORDER BY rk),
                    (a, b) -> a + b) AS sum_t
           FROM hits GROUP BY qid),
         nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
                  FROM scored WHERE rel = 1 GROUP BY qid)
         SELECT a.qid AS qid, n_rel, n_hits10,
                floor((sum_t / least(10, n_rel)) * 1000000 + 0.5)
                  / 1000000.0 AS ap
         FROM ap a JOIN nrel USING (qid) ORDER BY qid""", cap = 5)
      .allowUnboundedJoin("|vectors| x 3 query vectors (retrieval_ranked)"),
    // Ranking B scores are integer dots of the q_embed_quantize affine
    // codes (exact cross-engine); the (qid, depth) grid is left-joined
    // so a 0-overlap prefix contributes a 0 term instead of dropping.
    Query("q_eval_rbo", evalRbo,
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
                    FROM embeddings WHERE vec_id < 3),
         exact AS (
           SELECT qid, vec_id,
                  floor((list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
         ta AS (SELECT qid, vec_id, ra FROM (
             SELECT qid, vec_id,
                    CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY sim_r DESC, vec_id) AS BIGINT) AS ra
             FROM exact) t WHERE ra <= 10),
         el AS (SELECT vec_id,
                       CAST(unnest(generate_series(1, len(embedding)))
                         AS INTEGER) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings),
         st AS (SELECT pos, min(val) AS mn, max(val) AS mx
                FROM el GROUP BY pos),
         cd AS (SELECT vec_id, pos,
                       CASE WHEN mx = mn THEN 0
                            ELSE CAST(floor((val - mn) / (mx - mn) * 254.0
                                            + 0.5) AS INTEGER) - 127
                       END AS qv
                FROM el JOIN st USING (pos)),
         qc AS (SELECT q.qid, c.pos, c.qv AS qa
                FROM cd c JOIN q ON c.vec_id = q.qid),
         sq AS (SELECT qc.qid, cd.vec_id,
                       sum(CAST(cd.qv AS BIGINT) * qa) AS simq
                FROM cd JOIN qc USING (pos) WHERE cd.vec_id <> qc.qid
                GROUP BY qc.qid, cd.vec_id),
         tb AS (SELECT qid, vec_id, rb FROM (
             SELECT qid, vec_id,
                    CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY simq DESC, vec_id) AS BIGINT) AS rb
             FROM sq) t WHERE rb <= 10),
         bo AS (SELECT qid, vec_id, ra, rb
                FROM ta JOIN tb USING (qid, vec_id)),
         grid AS (SELECT qid,
                         CAST(unnest(generate_series(1, 10)) AS BIGINT)
                           AS dep
                  FROM q),
         xd AS (SELECT g.qid, g.dep,
                       CAST(coalesce(sum(CASE WHEN ra <= g.dep
                                               AND rb <= g.dep
                                              THEN 1 ELSE 0 END), 0)
                         AS BIGINT) AS x_d
                FROM grid g LEFT JOIN bo ON g.qid = bo.qid
                GROUP BY g.qid, g.dep),
         tm AS (SELECT qid, dep, x_d,
                       floor((CAST(x_d AS DOUBLE) / dep
                              * power(0.9, CAST(dep AS DOUBLE) - 1))
                             * 1000000 + 0.5) / 1000000.0 AS term
                FROM xd)
         SELECT qid,
                max(CASE WHEN dep = 10 THEN x_d END) AS overlap10,
                floor((0.1 * list_reduce(list(term ORDER BY dep),
                    (a, b) -> a + b)) * 1000000 + 0.5) / 1000000.0 AS rbo
         FROM tm GROUP BY qid ORDER BY qid""")
      .allowUnboundedJoin("|vectors| x 3 query vectors (vec_id < 3)"),
    Query("q_embed_norm_stats", embedNormStats,
      """WITH n AS (
           SELECT label,
                  floor(sqrt(list_inner_product(
                      CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) * 1000000 + 0.5)
                    / 1000000.0 AS norm_r
           FROM embeddings)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
                floor(avg(norm_r) * 1000000 + 0.5) / 1000000.0 AS avg_norm,
                min(norm_r) AS min_norm,
                max(norm_r) AS max_norm
         FROM n GROUP BY label ORDER BY label"""),
    Query("q_vec_centroid_classify", centroidClassify,
      s"""WITH $centroidPredCtesSql
         SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
         FROM pred GROUP BY true_label, pred_label
         ORDER BY true_label, pred_label""", cap = 5),
    // kappa = (N·agree − Σ row·col)/(N² − Σ row·col): one division of
    // exact BIGINTs over the |labels|² confusion census; the pred CTE
    // chain is SHARED with q_vec_centroid_classify's oracle.
    Query("q_eval_kappa", evalKappa,
      s"""WITH $centroidPredCtesSql,
         conf AS (SELECT true_label, pred_label,
                         CAST(count(*) AS BIGINT) AS n
                  FROM pred GROUP BY true_label, pred_label),
         rows_ AS (SELECT true_label AS c, CAST(sum(n) AS BIGINT) AS rown
                   FROM conf GROUP BY true_label),
         cols_ AS (SELECT pred_label AS c, CAST(sum(n) AS BIGINT) AS coln
                   FROM conf GROUP BY pred_label),
         rc AS (SELECT CAST(sum(coalesce(rown, 0) * coalesce(coln, 0))
                    AS BIGINT) AS sum_rc
                FROM rows_ FULL OUTER JOIN cols_ USING (c)),
         ag AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                       CAST(sum(CASE WHEN true_label = pred_label
                                     THEN n ELSE 0 END) AS BIGINT)
                         AS n_agree
                FROM conf)
         SELECT n_total, n_agree, sum_rc,
                floor((CAST(n_agree AS DOUBLE) / n_total)
                  * 1000000 + 0.5) / 1000000.0 AS po,
                floor((CAST(sum_rc AS DOUBLE) / (n_total * n_total))
                  * 1000000 + 0.5) / 1000000.0 AS pe,
                floor((CAST(n_total * n_agree - sum_rc AS DOUBLE)
                       / (n_total * n_total - sum_rc))
                  * 1000000 + 0.5) / 1000000.0 AS kappa
         FROM ag CROSS JOIN rc""", cap = 6),
    Query("q_eval_rp_distortion", rpDistortion,
      """WITH pl AS (
           SELECT k, j,
                  CASE WHEN (strpos('0123456789abcdef', substring(
                    md5('proj:' || CAST(k AS VARCHAR) || ':' ||
                        CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS sgn
           FROM (SELECT unnest(generate_series(0, 7)) AS k) ks,
                (SELECT unnest(generate_series(0, 63)) AS j) js),
         pa AS (SELECT k, list(sgn ORDER BY j) AS parr
                FROM pl GROUP BY k),
         sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS varr
                FROM embeddings WHERE vec_id % 5 = 0),
         proj AS (SELECT vec_id, k,
                         CAST(floor(list_inner_product(varr, parr)
                           / sqrt(8.0) * 1000000 + 0.5) AS BIGINT) AS pm
                  FROM sv CROSS JOIN pa),
         pairs AS (SELECT * FROM (
                     SELECT a.vec_id AS va, b.vec_id AS vb,
                            CAST(2 * (1000000 -
                              floor(list_inner_product(a.varr, b.varr)
                                * 1000000 + 0.5)) AS BIGINT) AS d2o_m
                     FROM sv a JOIN sv b ON a.vec_id < b.vec_id)
                   WHERE d2o_m > 0),
         pd AS (SELECT p1.vec_id AS va, p2.vec_id AS vb,
                       CAST(sum((p1.pm - p2.pm) * (p1.pm - p2.pm))
                         AS BIGINT) AS d2p_m2
                FROM proj p1 JOIN proj p2
                  ON p1.k = p2.k AND p1.vec_id < p2.vec_id
                GROUP BY 1, 2),
         rr AS (SELECT CAST(floor(CAST(d2p_m2 AS DOUBLE)
                    / (CAST(d2o_m AS DOUBLE) * 1000000.0)
                    * 1000000 + 0.5) AS BIGINT) AS rm
                FROM pairs JOIN pd USING (va, vb))
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                floor((CAST(sum(rm) AS DOUBLE) / count(*) / 1000000.0)
                  * 1000000 + 0.5) / 1000000.0 AS mean_ratio,
                floor(quantile_cont(rm / 1000000.0, 0.05)
                  * 1000000 + 0.5) / 1000000.0 AS p05_ratio,
                floor(quantile_cont(rm / 1000000.0, 0.95)
                  * 1000000 + 0.5) / 1000000.0 AS p95_ratio,
                floor((CAST(count(*) FILTER (
                        WHERE abs(rm / 1000000.0 - 1.0) <= 0.5)
                      AS DOUBLE) / count(*))
                  * 1000000 + 0.5) / 1000000.0 AS within_50pct_rate
         FROM rr""")
      .allowUnboundedJoin(
        "pairs of the 1-in-5 vector sample; sample x 8 projection planes"),
    Query("q_embed_erank", embedErank,
      """WITH dm AS (
           SELECT CAST(unnest(generate_series(1, len(embedding))) - 1
                    AS INTEGER) AS pos,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                    * 1000000 + 0.5) AS BIGINT) AS vm
           FROM embeddings),
         pp AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(vm) AS BIGINT) AS sv,
                       CAST(sum(vm * vm) AS BIGINT) AS svv
                FROM dm GROUP BY pos),
         pv AS (SELECT pos,
                       CAST(floor((CAST(svv AS DOUBLE)
                           - CAST(sv AS DOUBLE) * sv / n)
                         / (n - 1) / 1e12 * 1000000 + 0.5) AS BIGINT)
                         AS varm
                FROM pp),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_dims,
                      CAST(sum(varm) AS BIGINT) AS tv,
                      CAST(sum(varm * varm) AS BIGINT) AS tvv
               FROM pv)
         SELECT n_dims,
                floor((CAST(tv AS DOUBLE) / 1e6) * 1000000 + 0.5)
                  / 1000000.0 AS total_var,
                floor((CAST(tv AS DOUBLE) * tv / tvv)
                  * 1000000 + 0.5) / 1000000.0 AS erank,
                floor((CAST(tv AS DOUBLE) * tv / tvv / n_dims)
                  * 1000000 + 0.5) / 1000000.0 AS erank_ratio
         FROM t"""),
    Query("q_vec_calibration", vecCalibration,
      """WITH sv AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS varr
                     FROM embeddings WHERE vec_id % 5 = 0),
         p AS (SELECT CAST(a.label = b.label AS BIGINT) AS same,
                      CAST(floor(list_inner_product(a.varr, b.varr)
                        * 1000000 + 0.5) AS BIGINT) AS cm
               FROM sv a JOIN sv b ON a.vec_id < b.vec_id),
         bb AS (SELECT same, cm,
                       CAST(least(floor((cm / 1000000.0 + 1.0) * 5.0),
                         9.0) AS INT) AS bin
                FROM p)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(same) AS BIGINT) AS n_same,
                floor((CAST(sum(same) AS DOUBLE) / count(*))
                  * 1000000 + 0.5) / 1000000.0 AS same_rate,
                floor((CAST(sum(cm) AS DOUBLE) / count(*) / 1000000.0)
                  * 1000000 + 0.5) / 1000000.0 AS avg_cos
         FROM bb GROUP BY bin ORDER BY bin""")
      .allowUnboundedJoin("pairs of the 1-in-5 vector sample"),
    Query("q_vec_project", vecProject,
      """WITH pl AS (
           SELECT k, j,
                  CASE WHEN (strpos('0123456789abcdef', substring(
                    md5('proj:' || CAST(k AS VARCHAR) || ':' ||
                        CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS sgn
           FROM (SELECT unnest(generate_series(0, 7)) AS k) ks,
                (SELECT unnest(generate_series(0, 63)) AS j) js),
         pa AS (SELECT k, list(sgn ORDER BY j) AS parr
                FROM pl GROUP BY k),
         q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS varr
               FROM embeddings WHERE vec_id < 20)
         SELECT vec_id, k,
                floor(list_inner_product(varr, parr) / sqrt(8.0)
                  * 1000000 + 0.5) / 1000000.0 AS proj
         FROM q CROSS JOIN pa ORDER BY vec_id, k""")
      .allowUnboundedJoin("20 vectors (vec_id < 20) x 8 projection planes"),
    Query("q_sim_hard_negatives", hardNegatives,
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                           CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id AS neg_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            q.qv)) * 1000000 + 0.5)
                    / 1000000.0 AS sim_r
           FROM q JOIN embeddings e ON e.label <> q.qlabel),
         rk AS (SELECT qid, neg_id, sim_r,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY sim_r DESC, neg_id) AS rk
                FROM scored)
         SELECT qid, rk, neg_id, sim_r FROM rk
         WHERE rk <= 3 ORDER BY qid, rk""")
      .allowUnboundedJoin("|vectors| x 10 query vectors (vec_id < 10)"),
    Query("q_embed_outliers", embedOutliers,
      """WITH ex AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS varr
                     FROM embeddings),
         pe AS (SELECT CAST(unnest(generate_series(1, len(varr)))
                         AS INTEGER) AS pos,
                       unnest(varr) AS comp
                FROM ex),
         cen AS (SELECT pos,
                        floor(avg(comp) * 1000000 + 0.5) / 1000000.0 AS m
                 FROM pe GROUP BY pos),
         carr AS (SELECT list(m ORDER BY pos) AS c FROM cen),
         d AS (SELECT vec_id, label,
                      list_inner_product(varr, varr)
                        - 2 * list_inner_product(varr, c)
                        + list_inner_product(c, c) AS d2
               FROM ex CROSS JOIN carr)
         SELECT vec_id, label,
                floor(sqrt(greatest(d2, 0)) * 1000000 + 0.5)
                  / 1000000.0 AS dist_r
         FROM d ORDER BY dist_r DESC, vec_id LIMIT 20"""),
    Query("q_embed_pq", embedPq,
      s"""WITH $pqCtes
         SELECT m, code, count(*) AS n_vecs,
                floor((CAST(sum(CAST(floor(dist_r * 1000000 + 0.5)
                          AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1000000.0))
                  * 1000000 + 0.5) / 1000000.0 AS mse_r
         FROM a2 GROUP BY m, code ORDER BY m, code""", cap = 5),
    Query("q_eval_pq_recall", evalPqRecall,
      s"""WITH $pqCtes,
         q AS (SELECT m, p, val FROM sub WHERE vec_id = 0),
         qd AS (SELECT c.m, c.code,
                       CAST(floor((floor(sum((q.val - c.c) * (q.val - c.c))
                           * 1000000 + 0.5) / 1000000.0)
                         * 1000000 + 0.5) AS BIGINT) AS dr_micros
                FROM cb1 c JOIN q ON c.m = q.m AND c.p = q.p
                GROUP BY c.m, c.code),
         adc AS (SELECT a.vec_id, sum(qd.dr_micros) AS est_micros
                 FROM a2 a JOIN qd ON a.m = qd.m AND a.code = qd.code
                 WHERE a.vec_id != 0
                 GROUP BY a.vec_id
                 ORDER BY est_micros, a.vec_id LIMIT 10),
         exq AS (SELECT pos, val FROM el WHERE vec_id = 0),
         ex AS (SELECT e.vec_id,
                       CAST(floor((floor(sum((e.val - x.val) * (e.val - x.val))
                           * 1000000 + 0.5) / 1000000.0)
                         * 1000000 + 0.5) AS BIGINT) AS d_micros
                FROM el e JOIN exq x ON e.pos = x.pos
                WHERE e.vec_id != 0
                GROUP BY e.vec_id
                ORDER BY d_micros, e.vec_id LIMIT 10)
         SELECT count(*) AS n_hits,
                floor((count(*) / 10.0) * 1000000 + 0.5) / 1000000.0
                  AS recall_r
         FROM adc JOIN ex USING (vec_id)""", cap = 8),
    // IVF-PQ: the kmeans chain (coarse quantizer) and the pq_ chain
    // (codebooks, mechanically prefixed) compose in one WITH; ADC runs
    // only over the probed cluster's members.
    Query("q_ann_ivfpq", annIvfPq,
      s"""WITH $kmeansCtes,
         $pqCtesPrefixed,
         probe AS (SELECT cid FROM a3 WHERE vec_id = 0),
         cand AS (SELECT a3.vec_id, a3.cid
                  FROM a3 JOIN probe USING (cid)
                  WHERE a3.vec_id <> 0),
         q AS (SELECT m, p, val FROM pq_sub WHERE vec_id = 0),
         qd AS (SELECT c.m, c.code,
                       CAST(floor((floor(sum((q.val - c.c) * (q.val - c.c))
                           * 1000000 + 0.5) / 1000000.0)
                         * 1000000 + 0.5) AS BIGINT) AS dr_micros
                FROM pq_cb1 c JOIN q ON c.m = q.m AND c.p = q.p
                GROUP BY c.m, c.code)
         SELECT a.vec_id AS nid, c.cid,
                CAST(sum(qd.dr_micros) AS BIGINT) AS est_micros
         FROM pq_a2 a
         JOIN cand c ON a.vec_id = c.vec_id
         JOIN qd ON a.m = qd.m AND a.code = qd.code
         GROUP BY a.vec_id, c.cid
         ORDER BY est_micros, nid LIMIT 5""", cap = 9),
    Query("q_ann_kmeans", annKmeans,
      s"""WITH $kmeansCtes
         SELECT a3.cid, count(*) AS members,
                floor((c2.carr[1]) * 1000000 + 0.5) / 1000000.0 AS c0_r
         FROM a3 JOIN c2 ON a3.cid = c2.cid
         GROUP BY a3.cid, c2.carr
         ORDER BY a3.cid"""),
    // SemDeDup: the kmeans CTE chain pins the identical cluster
    // assignment, then the pair/drop logic replays within clusters only
    Query("q_dedup_semantic", dedupSemantic,
      s"""WITH $kmeansCtes,
         pr AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
                FROM a3 a JOIN a3 b
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                JOIN ev ea ON ea.vec_id = a.vec_id
                JOIN ev eb ON eb.vec_id = b.vec_id
                WHERE floor(list_inner_product(ea.varr, eb.varr)
                        * 1000000 + 0.5) / 1000000.0 >= 0.3),
         m AS (SELECT cid, count(*) AS members FROM a3 GROUP BY cid),
         np AS (SELECT cid, count(*) AS n_pairs FROM pr GROUP BY cid),
         nd AS (SELECT cid, count(DISTINCT vb) AS n_dropped
                FROM pr GROUP BY cid)
         SELECT m.cid, m.members,
                CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                CAST(coalesce(nd.n_dropped, 0) AS BIGINT) AS n_dropped
         FROM m LEFT JOIN np USING (cid) LEFT JOIN nd USING (cid)
         ORDER BY m.cid"""),
    Query("q_embed_quantize", embedQuantize,
      """WITH e AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, len(embedding)))
                    AS INTEGER) - 1 AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         st AS (SELECT pos, min(val) AS mn, max(val) AS mx
                FROM e GROUP BY pos),
         q AS (SELECT vec_id, pos,
                      CASE WHEN mx = mn THEN 0
                           ELSE CAST(floor((val - mn) / (mx - mn) * 254.0
                                           + 0.5) AS INTEGER) - 127
                      END AS qv
               FROM e JOIN st USING (pos))
         SELECT vec_id,
                string_agg(CAST(qv AS VARCHAR), ' ' ORDER BY pos) AS qvec
         FROM q GROUP BY vec_id ORDER BY vec_id"""),
    Query("q_sim_cosine_topk", cosineTopk,
      """SELECT va, vb, sim_r FROM (
           SELECT a.vec_id AS va, b.vec_id AS vb,
                  floor((list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
         ORDER BY sim_r DESC, va, vb LIMIT 10""")
      .allowUnboundedJoin(
        "all vector pairs a < b: exact ground truth, not the scale path"),
    Query("q_dedup_embed", dedupEmbed, embedExactSql)
      .allowUnboundedJoin("all vector pairs a < b (embed_pairs): exact truth"),
    Query("q_sample_kcenter", sampleKcenter, kcenterSql, cap = 3),
    Query("q_eval_lsh_recall", lshRecall,
      s"""WITH exact AS ($embedExactSql),
         lsh AS ($embedLshSql)
         SELECT ne.n_exact, nl.n_lsh, h.n_hit,
                floor((CAST(n_hit AS DOUBLE) / n_exact) * 1000000 + 0.5)
                  / 1000000.0 AS recall
         FROM (SELECT count(*) AS n_exact FROM exact) ne
         CROSS JOIN (SELECT count(*) AS n_lsh FROM lsh) nl
         CROSS JOIN (SELECT count(*) AS n_hit
                     FROM lsh JOIN exact USING (va, vb)) h""")
      .allowUnboundedJoin("vector pairs a < b; |vectors| x 16 LSH planes"),
    Query("q_vec_norm", vecNorm,
      """SELECT vec_id,
                floor((sqrt(list_inner_product(
                        CAST(embedding AS DOUBLE[]),
                        CAST(embedding AS DOUBLE[]))))
                      * 1000000 + 0.5) / 1000000.0 AS norm_r,
                floor((CAST(embedding[1] AS DOUBLE)
                       / sqrt(list_inner_product(
                           CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[]))))
                      * 1000000 + 0.5) / 1000000.0 AS c0_r
         FROM embeddings ORDER BY vec_id"""),
    Query("q_dedup_embed_lsh", dedupEmbedLsh, embedLshSql)
      .allowUnboundedJoin("|vectors| x 16 LSH planes (embed_pairs)"),
    Query("q_embed_pca_top1", pcaTop1, pcaSql),
    Query("q_embed_drift", embedDrift,
      """WITH dm AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, len(embedding))) - 1
                    AS INTEGER) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         sp AS (
           SELECT *, (strpos('0123456789abcdef',
                    substring(md5(vec_id::VARCHAR), 1, 1)) - 1) % 2 AS sp
           FROM dm),
         cent AS (
           SELECT label, sp, pos,
                  floor(avg(val) * 1000000 + 0.5) / 1000000.0 AS c
           FROM sp GROUP BY label, sp, pos),
         counts AS (
           SELECT label,
                  count(DISTINCT vec_id) FILTER (sp = 0) AS n_a,
                  count(DISTINCT vec_id) FILTER (sp = 1) AS n_b
           FROM sp GROUP BY label),
         j AS (
           SELECT a.label, sum(a.c * b.c) AS dot,
                  sum(a.c * a.c) AS na2, sum(b.c * b.c) AS nb2
           FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
                                   AND a.sp = 0 AND b.sp = 1
           GROUP BY a.label)
         SELECT j.label, n_a, n_b,
                floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000 + 0.5)
                  / 1000000.0 AS cos_ab
         FROM j JOIN counts ON j.label = counts.label
         ORDER BY j.label""", cap = 10),
    Query("q_vec_margin", vecMargin,
      s"""WITH $centCtes,
         sims AS (
           SELECT e.vec_id, e.label, ca.label AS clabel,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            ca.carr))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings e CROSS JOIN ca),
         rk AS (SELECT vec_id, label, sim_r,
                 row_number() OVER w AS rn,
                 lead(sim_r) OVER w AS nxt
                FROM sims
                WINDOW w AS (PARTITION BY vec_id
                             ORDER BY sim_r DESC, clabel))
         SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                floor(avg(sim_r - nxt) * 1000000 + 0.5) / 1000000.0
                  AS avg_margin,
                CAST(count(*) FILTER (sim_r - nxt < 0.05) AS BIGINT)
                  AS n_low
         FROM rk WHERE rn = 1 GROUP BY label ORDER BY label""")
      .allowUnboundedJoin("|vectors| x |labels| centroids"),
    Query("q_sim_knn_label", knnLabel,
      s"""WITH $centCtes,
         sims AS (
           SELECT e.label, e.vec_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            ca.carr))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings e JOIN ca ON e.label = ca.label)
         SELECT label, vec_id, sim_r FROM (
           SELECT label, vec_id, sim_r,
                  row_number() OVER (PARTITION BY label
                    ORDER BY sim_r DESC, vec_id) AS rn
           FROM sims) t
         WHERE rn = 1 ORDER BY label"""),
    Query("q_vec_label_noise", labelNoise,
      """WITH sims AS (
           SELECT a.vec_id, a.label, b.vec_id AS nid, b.label AS nlabel,
                  floor((list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id),
         top5 AS (SELECT vec_id, label, nlabel FROM (
             SELECT vec_id, label, nlabel,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY sim_r DESC, nid) AS rk
             FROM sims) t
           WHERE rk <= 5),
         votes AS (SELECT vec_id, label, nlabel,
                          CAST(count(*) AS BIGINT) AS votes
                   FROM top5 GROUP BY vec_id, label, nlabel),
         maj AS (SELECT vec_id, label, nlabel, votes FROM (
             SELECT vec_id, label, nlabel, votes,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY votes DESC, nlabel) AS vr
             FROM votes) t
           WHERE vr = 1)
         SELECT vec_id, label, nlabel AS maj_label, votes
         FROM maj WHERE nlabel != label ORDER BY vec_id""", cap = 6)
      .allowUnboundedJoin(
        "all vector pairs a < b: exact kNN ground truth, not the scale path"),
    Query("q_ann_ivf", annIvf,
      s"""WITH $ivfCtes
         SELECT qid, CAST(rnk AS BIGINT) AS rank, vec_id AS nid, sim_r
         FROM (SELECT qid, vec_id, sim_r,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY sim_r DESC, vec_id) AS rnk
               FROM cand) t
         WHERE rnk <= 3 ORDER BY qid, rank""")
      .allowUnboundedJoin("5 query vectors x |labels| centroids"),
    Query("q_eval_ivf_recall", evalIvfRecall,
      s"""WITH $ivfCtes,
         ivf AS (SELECT qid, vec_id FROM (
                   SELECT qid, vec_id, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_r DESC, vec_id) AS rnk
                   FROM cand) t WHERE rnk <= 3),
         exsc AS (
           SELECT q.qid, e.vec_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM q JOIN embeddings e ON e.vec_id != q.qid),
         ext AS (SELECT qid, vec_id FROM (
                   SELECT qid, vec_id, row_number() OVER (
                     PARTITION BY qid ORDER BY sim_r DESC, vec_id) AS rk
                   FROM exsc) t WHERE rk <= 3)
         SELECT ext.qid, CAST(count(*) AS BIGINT) AS n_exact,
                CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_hit,
                floor((CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1
                    ELSE 0 END) AS DOUBLE) / count(*)) * 1000000 + 0.5)
                  / 1000000.0 AS recall
         FROM ext LEFT JOIN ivf ON ext.qid = ivf.qid
                              AND ext.vec_id = ivf.vec_id
         GROUP BY ext.qid ORDER BY ext.qid""")
      .allowUnboundedJoin(
        "|vectors| x 5 query vectors; 5 queries x |labels| centroids"),
    // One scored scan yields both rankings; the truncated similarity
    // renormalizes by the 16-dim prefix norms (list slice is 1-based
    // inclusive in DuckDB, matching Spark's slice(v, 1, 16)).
    Query("q_eval_mrl_recall", evalMrlRecall,
      """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings
                   WHERE vec_id < 5),
         sc AS (
           SELECT q.qid, e.vec_id,
                  floor((list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS full_r,
                  floor((list_inner_product(
                           CAST(e.embedding[1:16] AS DOUBLE[]),
                           CAST(q.embedding[1:16] AS DOUBLE[]))
                         / sqrt(list_inner_product(
                                  CAST(e.embedding[1:16] AS DOUBLE[]),
                                  CAST(e.embedding[1:16] AS DOUBLE[]))
                                * list_inner_product(
                                    CAST(q.embedding[1:16] AS DOUBLE[]),
                                    CAST(q.embedding[1:16] AS DOUBLE[]))))
                        * 1000000 + 0.5) / 1000000.0 AS tr_r
           FROM q JOIN embeddings e ON e.vec_id != q.qid),
         f AS (SELECT qid, vec_id FROM (
                 SELECT qid, vec_id, row_number() OVER (
                   PARTITION BY qid ORDER BY full_r DESC, vec_id) AS rk
                 FROM sc) t WHERE rk <= 10),
         tr AS (SELECT qid, vec_id FROM (
                 SELECT qid, vec_id, row_number() OVER (
                   PARTITION BY qid ORDER BY tr_r DESC, vec_id) AS rk
                 FROM sc) t WHERE rk <= 10)
         SELECT f.qid, CAST(count(*) AS BIGINT) AS n_exact,
                CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_hit,
                floor((CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1
                    ELSE 0 END) AS DOUBLE) / count(*)) * 1000000 + 0.5)
                  / 1000000.0 AS recall
         FROM f LEFT JOIN tr ON f.qid = tr.qid AND f.vec_id = tr.vec_id
         GROUP BY f.qid ORDER BY f.qid""")
      .allowUnboundedJoin("|vectors| x 5 query vectors (vec_id < 5)"))

  val queries: Map[String, Q] = Query.builders(declared)
}
