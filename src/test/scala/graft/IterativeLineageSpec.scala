package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lineage boundedness for every iterative loop (VERDICT r8 item 5).
  *
  * The classic 100×-scale iterative failure is lineage blow-up: round
  * k's plan re-deriving rounds 1..k−1 (linear planning bloat at best,
  * 2^k re-execution at worst when a round references its predecessor
  * more than once). Round 8 fixed the loops' JOB counts; this spec pins
  * the PLAN-shape invariant those fixes rely on, by running each loop
  * at 2 vs 3 vs 4 iterations and asserting the per-iteration frame's
  * optimized-plan node count:
  *
  *  - FLAT (count independent of k) for the loops that materialize each
  *    round — LPA / k-core (localCheckpoint → LogicalRDD scan), HITS
  *    (persist → InMemoryRelation), distributed connected components
  *    (RDD-materialized rounds, via the CcPlanNodeLog hook);
  *  - CONSTANT INCREMENT (node count linear in k, never multiplicative)
  *    for the two deliberately UNmaterialized chains — PageRank's
  *    single-reference rank chain and the layered BFS expansion — whose
  *    fixed small iteration counts pipeline as one job, where a
  *    per-round checkpoint would add a job per round for nothing. A
  *    fold that referenced a round twice would double the increment at
  *    every k and fail the equality.
  */
class IterativeLineageSpec extends SparkSpec {

  private def nodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n => n }.length

  test("pagerank rank chain grows by a constant per iteration") {
    val Seq(n2, n3, n4) = Seq(2, 3, 4).map(k =>
      nodes(operators.GraphOps.pagerankRanks(spark, sfDir, k)))
    assert(n3 - n2 === n4 - n3,
      s"per-iteration increment drifted: $n2 -> $n3 -> $n4")
    assert(n3 - n2 > 0)
  }

  test("bfs layered frontier grows by a constant per hop") {
    val e = spark.range(30).select(col("id").as("x"),
      ((col("id") + 1) % 30).as("y"))
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val seed = und.agg(min(col("x")).as("part"))
      .select(col("part"), lit(0L).as("hops"))
    val Seq(n2, n3, n4) = Seq(2, 3, 4).map(k =>
      nodes(operators.GraphOps.bfsLayers(und, seed, Nil, k).head))
    assert(n3 - n2 === n4 - n3,
      s"per-hop increment drifted: $n2 -> $n3 -> $n4")
  }

  test("lpa per-round label frame is a flat checkpoint scan") {
    val Seq(n2, n4) = Seq(2, 4).map(k =>
      nodes(operators.GraphOps.lpaLabels(spark, sfDir, k)))
    assert(n2 === n4, s"lpa round frame grew: $n2 -> $n4")
  }

  test("kcore per-round edge frame is a flat checkpoint scan") {
    val Seq(n2, n4) = Seq(2, 4).map(k =>
      nodes(operators.GraphOps.kcoreSurvivors(spark, sfDir, k)))
    assert(n2 === n4, s"kcore round frame grew: $n2 -> $n4")
  }

  test("hits per-iteration score frame is a flat cached-scan projection") {
    val (a2, h2, p2) = operators.GraphOps.hitsScores(spark, sfDir, 2)
    val (a4, h4, p4) = operators.GraphOps.hitsScores(spark, sfDir, 4)
    try {
      assert(nodes(a2) === nodes(a4),
        s"hits auth frame grew: ${nodes(a2)} -> ${nodes(a4)}")
      assert(nodes(h2) === nodes(h4),
        s"hits hub frame grew: ${nodes(h2)} -> ${nodes(h4)}")
    } finally (p2 ++ p4).foreach(_.unpersist(false))
  }

  test("distributed components rounds keep a flat plan (multi-round chain)") {
    import spark.implicits._
    // a 17-node path needs several pointer-jumping rounds to converge
    val edges = (0L until 16L).map(i => (i, i + 1)).toDF("a", "b")
    val savedT = operators.DedupOps.DriverCcEdgeThreshold
    val log = scala.collection.mutable.ListBuffer.empty[Int]
    operators.DedupOps.DriverCcEdgeThreshold = -1L
    operators.DedupOps.CcPlanNodeLog = log
    try {
      val res = operators.DedupOps
        .connectedComponents(spark, edges)
        .collect()
      assert(res.length === 17)
      assert(res.map(_.getLong(1)).distinct.toSeq === Seq(0L))
      assert(log.size >= 3, s"expected a multi-round run, got ${log.size}")
      // round 1 reads the freshly-materialized initial label frame (a
      // bare scan); every later round adds the SAME constant projection
      // over its predecessor's materialized blocks — so the invariant is
      // flat from round 2 on (and round 1 strictly no bigger)
      assert(log.drop(1).distinct.size === 1,
        s"round plan node counts drifted: ${log.mkString(", ")}")
      assert(log.head <= log(1),
        s"round 1 bigger than steady state: ${log.mkString(", ")}")
    } finally {
      operators.DedupOps.DriverCcEdgeThreshold = savedT
      operators.DedupOps.CcPlanNodeLog = null
    }
  }
}
