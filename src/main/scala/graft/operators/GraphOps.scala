package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the purchase-derived graphs (SURVEY.md §2
  * north-star extensions): PageRank on the bipartite customer↔part
  * co-purchase graph and triangle counting on the min-support part
  * co-occurrence graph.
  *
  * Scale design: both operators are pure join/aggregate pipelines keyed
  * on node ids — the shape Pregel-style systems compile to anyway. No
  * adjacency structure is ever collected; each PageRank iteration is one
  * shuffle (edges ⋈ ranks on src, groupBy dst), so a 1000-executor run
  * is iterations × one-pass-over-edges. Edge lists are session-cached
  * per (session, dir) like the dedup index artifacts (graft.Caches owns
  * invalidation).
  */
object GraphOps {
  /** Builds and MATERIALIZES a frame with AQE disabled, restoring the
    * session conf after. For the bounded layered-BFS keys (closeness,
    * reach) AQE is a measured net loss: every layer's exchange becomes
    * its own QueryStage job (28 jobs per run, counted by
    * graft.JobCount), and on a host that taxes job submission
    * (BENCH canary_10jobs) the key's cost is its job count, not its
    * data — with AQE off the same plan runs as 5 jobs and ~30% faster
    * even on a healthy host. The frontiers here are node-bounded with
    * statically known shapes, so AQE's re-planning has nothing to
    * improve; iterative keys where AQE's coalescing DOES win (lpa:
    * 0.8 s with, 2.1 s without) keep it on. The localCheckpoint runs
    * the work eagerly inside the conf scope, while the frame is built,
    * and hands back a lineage-free bounded frame. */
  private def noAqeCheckpoint(s: SparkSession)(build: => DataFrame)
      : DataFrame =
    Dist.noAqe(s)(build.localCheckpoint())

  /** Bipartite customer↔part edges, BOTH directions (undirected
    * PageRank), cached per (session, dir) — the index artifact shared
    * across graph queries and iterations. */
  private val biEdges = Artifact("bipartite_edges") { (s, d) =>
    val e = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"))
      .distinct()
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // deg rides IN the cached frame: every PageRank iteration's plan
    // re-expands its input lineage, so an uncached edges ⋈ deg would
    // recompute the degree aggregate once per iteration level
    und.join(und.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist()
  }

  /** Part co-occurrence edges (x, y, sup) with min support 2 (parts
    * bought together in ≥2 distinct orders — the frequent-pair/A-priori
    * thinning that keeps a co-occurrence graph sparse at any scale: raw
    * co-purchase is ~|order|² per basket, support-2 drops 97% of it on
    * this data). Oriented x < y, so each undirected edge exists exactly
    * once; sup rides along so triangle counting and rule mining share
    * one build. */
  private val copurchaseEdges = Artifact("copurchase_edges") { (s, d) =>
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("x"), col("b.pk").as("y"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .persist()
  }

  private val PrIterations = 2

  /** Distributed PageRank (damping 0.85, 2 fixed iterations) over the
    * bipartite co-purchase graph. Every iteration is edges ⋈ ranks on
    * src → groupBy dst — ONE shuffle per iteration, never an adjacency
    * collect, so the plan is iterations × linear-in-edges at any scale.
    * Undirected graph → no dangling mass (every node has out-degree ≥1).
    * Ranks are r6-rounded each iteration on BOTH sides (the kmeans
    * round-replay discipline), so iteration k+1 starts from identical
    * doubles in both engines; the oracle replays the iterations as
    * chained CTEs. Top-50 by (rank, node) via TakeOrderedAndProject. */
  /** Ranks after `iters` PageRank iterations — the per-iteration frame
    * the lineage-boundedness spec pins (IterativeLineageSpec): each
    * iteration references the previous ranks exactly ONCE, so the chain
    * composes as a single linear plan (constant node-increment per
    * iteration, never multiplicative re-expansion) and executes as
    * pipelined shuffle stages in one job — for a FIXED small iteration
    * count that beats per-iteration materialization, which would break
    * the pipeline and add a job per round. */
  private[graft] def pagerankRanks(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    val e = biEdges(s, d) // (src, dst, deg) — one cached read per use
    var ranks = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      ranks = e.join(ranks, col("src") === col("node"))
        .groupBy("dst")
        .agg(sum(col("pr") / col("deg")).as("m"))
        .select(col("dst").as("node"),
          r6(lit(0.15) + lit(0.85) * col("m")).as("pr"))
    }
    ranks
  }

  private val pagerank: Q = (s, d) =>
    pagerankRanks(s, d, PrIterations)
      .orderBy(col("pr").desc, col("node")).limit(50)

  /** Exact triangle enumeration on the support-2 co-purchase graph: the
    * classic oriented wedge join — e(a,b) ⋈ e(b,c) builds wedges, a
    * second join against e(a,c) closes them. Orientation (x < y) makes
    * each triangle appear exactly once and bounds the wedge count; at
    * 100 TB orient by (degree, id) instead so no wedge center fans out
    * more than O(sqrt(m)) — same plan, different sort key. */
  private val triangles: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    e.select(col("x").as("a"), col("y").as("b"))
      .join(e.select(col("x").as("b2"), col("y").as("c")),
        col("b") === col("b2"))
      .join(e.select(col("x").as("a3"), col("y").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
      .orderBy("a", "b", "c")
  }

  /** Market-basket association rules (A-priori 2-itemsets): directed
    * rules x→y over the support-2 co-purchase pairs, scored by lift =
    * (sup_xy · n_orders) / (sup_x · sup_y). Pair supports come from the
    * shared co-purchase cache (one build serves triangles and rules);
    * item supports are one hash aggregate over the distinct (order,
    * part) frame. Supports are exact integers multiplied BEFORE the
    * single division,
    * so lift is bit-identical cross-engine with no rounding step.
    * Top-20 by (lift, x, y) via TakeOrderedAndProject. */
  private val basketRules: Q = (s, d) => {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val n = op.agg(countDistinct(col("ok")).as("n_orders"))
    val isup = op.groupBy("pk").agg(count(lit(1)).as("isup"))
    val pairs = copurchaseEdges(s, d)
    val directed = pairs.select(col("x"), col("y"), col("sup"))
      .union(pairs.select(col("y").as("x"), col("x").as("y"), col("sup")))
    directed
      .join(broadcast(isup.select(col("pk").as("x"), col("isup").as("sx"))),
        Seq("x"))
      .join(broadcast(isup.select(col("pk").as("y"), col("isup").as("sy"))),
        Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("sup"),
        ((col("sup") * col("n_orders")) / (col("sx") * col("sy")))
          .as("lift"))
      .orderBy(col("lift").desc, col("x"), col("y"))
      .limit(20)
  }

  /** Link prediction by neighbor-set Jaccard over the support-2
    * co-purchase graph: score non-adjacent part pairs by
    * |N(a)∩N(c)| / |N(a)∪N(c)|. Common-neighbor counts come from the
    * oriented wedge join (same shape as triangles — one shuffle on the
    * wedge center), existing edges drop via a left-anti join, and the
    * union size is inclusion–exclusion on integer degrees, so the score
    * is an exact rational. At scale the wedge fan-out is bounded the
    * same way as triangle counting: orient by (degree, id) so no center
    * explodes. Top-20 by (jacc, a, c) via TakeOrderedAndProject. */
  /** Common-neighbor pair frame (a, c, cn) for a < c over the
    * undirected support-2 co-purchase graph — the wedge join (und ⋈
    * und on the shared endpoint) that link prediction AND the local-
    * bridges audit both need. A SESSION ARTIFACT since round 11 (the
    * centroidPred pattern): both consumers re-ran the wedge shuffle
    * per evaluation (link_jaccard 8 → 6, local_bridges 8 → 6 jobs,
    * A/B'd). */
  private val wedgeCn = Artifact("wedge_common_neighbors") { (s, d) =>
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    und.select(col("x").as("a"), col("y").as("b"))
      .join(und.select(col("x").as("b"), col("y").as("c")), Seq("b"))
      .filter(col("a") < col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("cn"))
      .persist()
  }

  private val linkJaccard: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy("x").agg(count(lit(1)).as("deg"))
    val cn = wedgeCn(s, d)
    cn.join(e.select(col("x").as("a"), col("y").as("c")),
        Seq("a", "c"), "left_anti")
      .join(deg.select(col("x").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("x").as("c"), col("deg").as("dc")), Seq("c"))
      .select(col("a"), col("c"), col("cn"),
        r6(col("cn").cast("double") / (col("da") + col("dc") - col("cn")))
          .as("jacc"))
      .orderBy(col("jacc").desc, col("a"), col("c"))
      .limit(20)
  }

  /** Connected components of the support-2 co-purchase graph (the
    * "product families" view): shares the adaptive union-find /
    * min-label implementation with the dedup cluster path
    * (DedupOps.connectedComponents — driver union-find below the
    * broadcast-sized edge threshold, distributed pointer-jumping loop
    * above). Components are labeled by their minimum part key; the
    * oracle replays the same fixpoint as a recursive min-label CTE.
    * A session artifact shared with q_graph_modularity, like the dedup
    * cluster labels. */
  private val productFamilies = Artifact("product_families") { (s, d) =>
    DedupOps.connectedComponents(s,
      copurchaseEdges(s, d).select(col("x").as("a"), col("y").as("b")))
  }

  private val components: Q = (s, d) =>
    productFamilies(s, d)
      .select(col("doc_id").as("part"), col("cluster_rep").as("component"))
      .orderBy("part")

  private val LpaRounds = 3

  /** Synchronous label propagation (3 fixed Pregel-style supersteps)
    * over the co-purchase graph — community detection FINER than
    * connected components (q_graph_components finds one giant blob on
    * this graph; LPA splits it along dense neighborhoods). Each round
    * every node adopts the most frequent label among its neighbors,
    * ties broken by the SMALLER label — the synchronous+min-label
    * variant is fully deterministic on both engines (classic async LPA
    * is visit-order-dependent and could never oracle-match). Cost
    * shape per round = edges ⋈ labels on the neighbor key (ONE
    * shuffle), a (node,label) hash count, and a per-node argmax window
    * (partitioned by node, never global) — linear in edges, the
    * pagerank discipline; labels are localCheckpointed per round so
    * the 3-round lineage never re-expands (the kcore/HITS lesson).
    * Output = the community census after round 3. */
  /** Labels after `rounds` LPA supersteps — per-round localCheckpoint
    * keeps the per-iteration frame a flat LogicalRDD scan regardless of
    * round count (IterativeLineageSpec pins this). */
  private[graft] def lpaLabels(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.select(col("x").as("v"), col("y").as("u"))
      .union(e.select(col("y").as("v"), col("x").as("u")))
    var lbl = und.select("v").distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      val cnt = und
        .join(lbl.select(col("v").as("u"), col("lbl")), "u")
        .groupBy("v", "lbl").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("v")
        .orderBy(col("c").desc, col("lbl").asc)
      // LAZY checkpoint (round 10): each round's frame is referenced
      // exactly once (next round's join, or the final census), so the
      // materialization can ride the consuming job instead of paying an
      // eager job per round (A/B'd 15 → 11 jobs at unchanged wall; the
      // plan is still a flat LogicalRDD scan — IterativeLineageSpec).
      // kcore keeps its EAGER form: its per-round frame feeds two
      // parallel consumer stages, which would compute a lazy
      // checkpoint's partitions twice concurrently.
      // Round-12 A/B (VERDICT r11 item 4, frontier batching): lazy
      // checkpoints every 2nd round only (and none on the final round)
      // measured EXACTLY the same 12 jobs and flat wall — the lazy
      // boundary already rides the consuming job, so the job count is
      // the AQE stage fan of the per-round shuffles, which batching
      // does not change. Reverted to the boundary-per-round form: same
      // cost, and the per-round flat LogicalRDD scan keeps plan depth
      // bounded at any round count (IterativeLineageSpec pins it).
      lbl = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("v", "lbl")
        .localCheckpoint(false)
    }
    lbl
  }

  private val lpa: Q = (s, d) =>
    lpaLabels(s, d, LpaRounds)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
      .orderBy("community")

  /** Modularity decomposition of the component partition of the
    * co-purchase graph: per community c, Q_c = e_c/m − (d_c/2m)² — the
    * Newman-Girvan quality each community contributes (for a
    * connected-component partition every edge is intra, so ΣQ_c is the
    * partition's upper-bound modularity any refinement is measured
    * against). Exact integer censuses (edge count, degree sums) with
    * one pinned double expression per community row; community labels
    * come from the cached distributed components, so this adds two hash
    * aggregates and two label joins — no new iteration. */
  private val modularity: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val comp = productFamilies(s, d)
      .select(col("doc_id").as("v"), col("cluster_rep").as("component"))
    val intra = e
      .join(comp.select(col("v").as("x"), col("component").as("cx")),
        Seq("x"))
      .join(comp.select(col("v").as("y"), col("component").as("cy")),
        Seq("y"))
      .filter(col("cx") === col("cy"))
      .groupBy(col("cx").as("component"))
      .agg(count(lit(1)).as("intra_edges"))
    // n_nodes straight off the cached component labels; deg_sum needs
    // NO degree aggregate at all (round 11): for a component partition
    // every edge endpoint lands in the edge's own component, so the
    // component's degree sum is exactly 2 × its intra edge count —
    // the same every-edge-is-intra identity the round-10 two_m fold
    // used, applied one level earlier. This deletes the node-degree
    // union-aggregate and the deg ⋈ comp shuffle from the plan
    // (13 → 11 jobs, identical output values; A/B'd + oracle-checked
    // round 11).
    val nNodes = comp.groupBy("component")
      .agg(count(lit(1)).as("n_nodes"))
    // AQE stays ON here (A/B round 9: the scope cut jobs but ran
    // slower) — the component-label joins rely on AQE's runtime
    // broadcast conversion, and a static broadcast hint would pin a
    // shape that breaks when |nodes| outgrows the threshold at scale.
    // m needs no extra aggregate (round 10): Σ deg_sum over the
    // component census = 2m exactly (long arithmetic) via a window
    // over the |components|-bounded census.
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    nNodes.join(intra, Seq("component"))
      .withColumn("deg_sum", lit(2L) * col("intra_edges"))
      .withColumn("two_m", sum(col("deg_sum")).over(wAll))
      .withColumn("m", expr("two_m div 2"))
      .withColumn("contribution",
        r6(col("intra_edges").cast("double") / col("m") -
          (col("deg_sum") / (lit(2.0) * col("m"))) *
          (col("deg_sum") / (lit(2.0) * col("m")))))
      .select(col("component"), col("n_nodes"), col("deg_sum"),
        col("intra_edges"), col("contribution"))
      .orderBy("component")
  }

  /** Degree distribution of the support-2 co-purchase graph (degree →
    * node count) — the graph-shape profile that decides orientation and
    * salting strategy for the wedge joins. Two bounded hash aggregates
    * over the cached undirected edge list; exact integers only. */
  private val degreeDist: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    e.select(col("x").as("v"))
      .union(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** Degree assortativity of the co-purchase graph — the Pearson
    * correlation between the degrees at the two ends of every edge
    * (both orientations, the standard symmetrization): positive ⇒ hubs
    * link hubs (celebrity-product clusters), negative ⇒ hub-and-spoke.
    * This single number decides whether degree-based partitioning will
    * produce balanced wedge joins. Moments accumulate as DOUBLE sums of
    * integer-valued terms — exact (and order-independent) while every
    * partial stays under 2^53, which holds far past this data's scale,
    * and immune to the silent LONG wraparound that count·Σdxdy products
    * hit at ~1e9 edges with hub degrees (ADVICE r3); the oracle's
    * HUGEINT moments equal the same doubles in that range. ONE division
    * at the end. Two joins against the |V|-sized degree table — linear
    * in edges. */
  // noAqeCheckpoint scope (1-row output): the degree join + moment agg
  // is a statically-shaped wedge pipeline; the fleet AQE A/B measured
  // it 1.18 → 0.78 s (every exchange was its own QueryStage job)
  private val assortativity: Q = (s, d) => noAqeCheckpoint(s) {
    val e = copurchaseEdges(s, d).select("x", "y")
    val deg = e.select(col("x").as("v"))
      .union(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val pairs = e
      .join(deg.select(col("v").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("deg").as("dy")), Seq("y"))
      .select(col("dx"), col("dy"))
    val sym = pairs.unionAll(
      pairs.select(col("dy").as("dx"), col("dx").as("dy")))
    val n = count(lit(1)).cast("double")
    val sx = sum(col("dx").cast("double"))
    val sy = sum(col("dy").cast("double"))
    val sxy = sum(col("dx").cast("double") * col("dy"))
    val sxx = sum(col("dx").cast("double") * col("dx"))
    val syy = sum(col("dy").cast("double") * col("dy"))
    sym.agg(count(lit(1)).as("n_ends"),
      r6((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
        .as("assortativity"))
  }

  private val BfsHops = 4

  /** Bounded multi-hop reachability (BFS hop distance ≤ 4) from the
    * minimum-id part in the support-2 co-purchase graph — the
    * "blast-radius" query behind recall campaigns and contamination
    * tracing. Implemented as Bellman–Ford-style relaxation: each round
    * is one join (frontier ⋈ edges) + one min-aggregate, so k hops cost
    * k shuffles over the edge list and nothing is ever collected; after
    * k rounds every node whose true distance is ≤ k carries exactly
    * that distance (a path of ≤ k edges witnesses it, and no shorter
    * one exists by induction), which is precisely the depth-bounded
    * recursive-CTE semantics the oracle replays. Lineage depth is
    * bounded by the hop constant, so no checkpointing is needed. */
  private val reach: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    // Layered expansion with a per-round node collapse and ONE final
    // min-aggregate. Two traps shape this: (a) folding a
    // dist-union-step frame through the loop references each round
    // twice (join + union) and re-executes round 1's join 2^k times by
    // round k — as layers, round j's join re-runs only once per later
    // layer (k²/2 cheap joins total); (b) an un-deduped frontier counts
    // WALKS, not nodes — its rows multiply by the mean degree every hop
    // — so each layer collapses to distinct nodes before expanding
    // again. Frontiers are then node-bounded and AQE broadcasts them;
    // at larger graphs each layer would be checkpointed like the CC
    // loop's rounds.
    val seed = und.agg(min(col("x")).as("part"))
      .select(col("part"), lit(0L).as("hops"))
    noAqeCheckpoint(s) {
      bfsLayers(und, seed, Nil, BfsHops).reduce(_ union _)
        .groupBy("part").agg(min("hops").as("hops"))
    }.orderBy("part")
  }

  /** The layered BFS expansion reach/closeness share: hop k's frontier
    * joins edges against hop k−1's and collapses to distinct nodes. The
    * per-hop frame is deliberately UNmaterialized — each layer is
    * referenced once by the next and once by the final union, so the
    * plan grows by a CONSTANT node increment per hop (k²/2 cheap joins
    * total, never the 2^k re-expansion a fold-through-union would pay)
    * and the whole expansion executes as ONE job under the AQE-off
    * scope. IterativeLineageSpec pins the constant increment. */
  private[graft] def bfsLayers(und: DataFrame, seed: DataFrame,
      extraKey: Seq[org.apache.spark.sql.Column], hops: Int)
      : List[DataFrame] = {
    var frontier = seed
    var layers = List(seed)
    for (_ <- 1 to hops) {
      frontier = und.join(frontier, col("x") === col("part"))
        .groupBy(extraKey :+ col("y").as("part"): _*)
        .agg((min(col("hops")) + 1).as("hops"))
      layers ::= frontier
    }
    layers
  }

  /** Local bridges (Granovetter weak ties) — edges whose endpoints
    * share NO common neighbor (span > 2), i.e. the only short path
    * between their two neighborhoods. These are the edges community
    * detection must not cut and the "weak ties" that carry novel
    * information across clusters; in catalog terms, the co-purchases
    * that connect otherwise-disjoint product communities (the inverse
    * view of q_graph_triangles, which counts the CLOSED wedges — a
    * local bridge is an edge in zero triangles). Shape: the wedge join
    * (und ⋈ und on the shared endpoint — the triangles/link_jaccard
    * exchange) builds the has-common-neighbor pair set; edges
    * left-anti-join it; the top-20 by endpoint degree sum surfaces the
    * most load-bearing weak ties. All integers, rank cut on exact
    * degree sums with id tie-breaks. */
  private val localBridges: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy("x").agg(count(lit(1)).as("deg"))
    // the has-common-neighbor pair set IS the shared wedge artifact's
    // key set (groupBy(a, c) already dedupes — round 11)
    val withCn = wedgeCn(s, d).select(col("a"), col("c"))
    e.join(withCn, col("x") === col("a") && col("y") === col("c"),
        "left_anti")
      .join(deg.select(col("x"), col("deg").as("deg_x")), Seq("x"))
      .join(deg.select(col("x").as("y"), col("deg").as("deg_y")), Seq("y"))
      .select(col("x"), col("y"), col("deg_x"), col("deg_y"))
      .orderBy((col("deg_x") + col("deg_y")).desc, col("x"), col("y"))
      .limit(20)
  }

  /** Landmark closeness centrality (3 landmarks, 4-hop horizon) on the
    * support-2 co-purchase graph — the distance-based centrality the
    * family lacked (pagerank/HITS rank by flow, degree by volume;
    * closeness ranks by PROXIMITY — "which catalog part reaches the
    * rest of the catalog fastest"). Exact all-pairs closeness is
    * O(V·E); the standard scale answer is landmark sampling (here the
    * 3 smallest node ids — deterministic), each landmark one
    * multi-source BFS lane in the SAME layered expansion as
    * q_graph_reach (frontier keyed by (landmark, node): k hops = k
    * joins over edges, per-layer node collapse, nothing collected).
    * Output derives entirely from the exact per-hop censuses n1..n4:
    * within-horizon closeness (n_reached / Σdist) and harmonic
    * centrality (Σ 1/d — the form that handles disconnection), both
    * computed from integers in one shared formula text. */
  private val closeness: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val lms = und.select(col("x").as("lm")).distinct()
      .orderBy("lm").limit(3)
    val seed = lms.select(col("lm"), col("lm").as("part"),
      lit(0L).as("hops"))
    noAqeCheckpoint(s) {
      bfsLayers(und, seed, Seq(col("lm")), BfsHops).reduce(_ union _)
        .groupBy("lm", "part").agg(min("hops").as("hops"))
        .groupBy("lm")
        .agg(count(when(col("hops") === 1, 1)).as("n1"),
          count(when(col("hops") === 2, 1)).as("n2"),
          count(when(col("hops") === 3, 1)).as("n3"),
          count(when(col("hops") === 4, 1)).as("n4"))
        .select(col("lm"),
          expr("n1 + n2 + n3 + n4").as("n_reached"),
          expr("n1 + 2 * n2 + 3 * n3 + 4 * n4").as("sum_dist"),
          r6(expr("CAST(n1 + n2 + n3 + n4 AS DOUBLE)" +
            " / (n1 + 2 * n2 + 3 * n3 + 4 * n4)")).as("closeness"),
          r6(expr("n1 / 1.0 + n2 / 2.0 + n3 / 3.0 + n4 / 4.0"))
            .as("harmonic"))
    }.orderBy("lm")
  }

  /** Bounded k-core peeling (k=2, 3 rounds) on the support-2
    * co-purchase graph: each round drops nodes with degree < 2 and the
    * edges touching them, exactly the iterative-peel a Pregel k-core
    * compiles to — one degree aggregate + two semi joins per round, all
    * keyed on node id, nothing collected. Fixed rounds (the BFS-reach
    * precedent) keep the plan static and the oracle replayable as
    * chained CTEs; survivors carry their round-3 residual degree so an
    * unconverged graph is visible in the output rather than silently
    * wrong.
    *
    * Each round eager-localCheckpoints the surviving edge list — THE
    * iterative-algorithm pattern (see DedupOps.connectedComponents):
    * without it the `und → keep(und) → semi-join` self-reference
    * triples the lineage per round (3³ copies of the co-purchase
    * build; measured 33 s at sf0.1 vs ~1 s checkpointed). The
    * materialization runs during plan construction, the same accepted
    * caveat as the k-means centroid collects. */
  /** Surviving undirected edges after `rounds` peel rounds — flat
    * LogicalRDD per round via the per-round localCheckpoint
    * (IterativeLineageSpec pins this). */
  private[graft] def kcoreSurvivors(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val e0 = copurchaseEdges(s, d).select("x", "y")
    var und = e0.union(e0.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = und.groupBy("x").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select(col("x").as("v"))
      // AQE stays ON here (round-11 A/B: the noAqeCheckpoint scope cut
      // 13 → 10 jobs, but the peel's semi joins run against the
      // EDGE-scale und frame — without AQE's runtime broadcast of the
      // shrinking keep set they fall back to sort-merge, the lpa
      // lesson, which loses at 100 TB; the BFS noAqe precedent applies
      // to node-bounded frontiers, not edge-scale rounds)
      // Round-12 A/B (VERDICT r11 item 4, frontier batching): two peel
      // rounds per eager checkpoint measured 13 → 12 jobs — but a
      // batched round references its unmaterialized predecessor TWICE
      // (keep build + semi-join left side), so round k's edge-scale
      // aggregate+semi-joins execute twice inside round k+1's job.
      // −1 job for 2× edge-scale recompute loses at 100 TB; reverted
      // (the same adjudication as the noAqe scope above).
      und = und
        .join(keep, col("x") === col("v"), "left_semi")
        .join(keep.select(col("v").as("v2")), col("y") === col("v2"),
          "left_semi")
        .localCheckpoint()
    }
    und
  }

  private val kcore: Q = (s, d) =>
    kcoreSurvivors(s, d, 3)
      .groupBy("x").agg(count(lit(1)).as("deg"))
      .select(col("x").as("part"), col("deg"))
      .orderBy("part")

  /** HITS hubs & authorities (2 iterations) on the DIRECTED bipartite
    * customer→part purchase graph — the query-independent "important
    * customers / flagship parts" ranking PageRank's undirected walk
    * blurs. Same shuffle shape as pagerank (edges ⋈ scores → groupBy
    * other side, one shuffle per half-iteration, nothing collected);
    * directed edges come FROM the shared bipartite cache (its 'c'-src
    * rows are exactly the original orientation). Scores are carried as
    * LONG MICROS end to end (the q_embed_pq integer-distance
    * discipline): raw sums are exact long arithmetic, each L1
    * normalization is ONE double division floored back to micros — so
    * iteration k+1 starts from identical integers in both engines and
    * no float-sum ordering ever matters. Top-20 per role via
    * TakeOrderedAndProject. */
  /** Authority/hub score frames after `iters` HITS iterations plus the
    * persisted intermediates to release — each half-iteration's frame is
    * a Project over an InMemoryRelation (flat regardless of iteration
    * count; IterativeLineageSpec pins it). Callers materialize inside
    * their conf scope (construction runs the per-half total aggregates
    * eagerly) and unpersist the returned pins when done. */
  private[graft] def hitsScores(s: SparkSession, d: String, iters: Int)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val e = biEdges(s, d).filter(col("src").startsWith("c"))
      .select(col("src").as("c"), col("dst").as("p"))
    // Each half-iteration materializes via persist + the L1-total
    // aggregate as the materializing ACTION (round 9, VERDICT r8 item
    // 4): `raw` is referenced twice (total + normalize) and feeds the
    // next round's join, so an unmaterialized chain re-expands the edge
    // join once per later reference — measured 21 s vs ~1 s at sf0.1.
    // The round-8 form paid TWO jobs per half-iteration (localCheckpoint
    // rewrite + total collect); folding the materialization into the
    // total's own job halves that — the first action over the persisted
    // frame both populates the cache and returns the sum. Frames are
    // node-bounded (|customers| / |parts| rows), so the cache is cheap;
    // intermediates are unpersisted after the final frame materializes.
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def norm(raw0: DataFrame, key: String, in: String, out: String) = {
      val raw = raw0.persist()
      pinned += raw
      // the L1 total is ONE long over the just-materialized frame —
      // a bounded driver collect (Dist-caveat pattern) instead of a
      // crossJoin(broadcast(...)): each of the 4 normalizations drops
      // its broadcast-exchange QueryStage job and the downstream plans
      // carry a literal, not a join. sum over an EMPTY frame is NULL:
      // any divisor keeps the select-over-empty-frame empty, matching
      // the old crossJoin(broadcast(tot)) NULL-propagation
      val tot = Option(raw.agg(sum(col(in))).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(1L)
      raw.select(col(key),
        floor(col(in).cast("double") / lit(tot) * 1000000L + 0.5)
          .as(out))
    }
    // Iteration 1's authority update is algebraically a degree count:
    // every hub starts at the UNIFORM 1000000, so Σ_{c∈N(p)} h(c) =
    // 1000000 · |N(p)| — one aggregate pass over the edges with no
    // distinct-customers shuffle, no broadcast, no join (the r9 probe
    // priced the literal e ⋈ broadcast(distinct c) form at 0.83 s of
    // the key's 2.1 s). The long arithmetic is bit-identical to the
    // joined form, so the oracle's replay (which keeps the textbook
    // uniform-init join) still hash-matches.
    var auth = norm(e.groupBy("p")
      .agg((count(lit(1)) * 1000000L).as("ar")), "p", "ar", "a")
    var hub = norm(e.join(broadcast(auth), "p")
      .groupBy("c").agg(sum("a").as("hr")), "c", "hr", "h")
    for (_ <- 2 to iters) {
      auth = norm(e.join(broadcast(hub), "c")
        .groupBy("p").agg(sum("h").as("ar")), "p", "ar", "a")
      hub = norm(e.join(broadcast(auth), "p")
        .groupBy("c").agg(sum("a").as("hr")), "c", "hr", "h")
    }
    (auth, hub, pinned.toSeq)
  }

  private val hits: Q = (s, d) => {
    // noAqeCheckpoint scope + EXPLICIT broadcast hints on the
    // node-bounded score side: a bare AQE-off wrap planned sort-merge
    // joins (3.9-4.8 s cold vs 3.3) because only AQE's runtime
    // conversion made them broadcast; with the hint the static planner
    // keeps BHJ and the checkpoint queries stop fanning into
    // per-QueryStage jobs.
    var pins: Seq[DataFrame] = Nil
    val out = noAqeCheckpoint(s) {
      val (auth, hub, pinned) = hitsScores(s, d, 2)
      pins = pinned
      auth.orderBy(col("a").desc, col("p")).limit(20)
        .select(lit("authority").as("role"), col("p").as("node"),
          (col("a") / lit(1000000.0)).as("score"))
        .unionAll(hub.orderBy(col("h").desc, col("c")).limit(20)
          .select(lit("hub").as("role"), col("c").as("node"),
            (col("h") / lit(1000000.0)).as("score")))
    }.orderBy(col("role"), col("score").desc, col("node"))
    // the final frame is checkpointed (lineage-free); release the
    // half-iteration caches so the key leaves no executor-memory residue
    pins.foreach(_.unpersist(false))
    out
  }

  /** Local clustering coefficient per node of the support-2 co-purchase
    * graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the per-node
    * refinement of the global triangle census (how clique-like each
    * part's neighborhood is; the feature behind "bought-together
    * bundles"). Per-node triangle counts reuse the oriented wedge join
    * (each triangle surfaces each of its three corners exactly once),
    * so the plan is the triangles plan + two hash aggregates + one
    * |V|-sized join; degree-1 nodes get lcc = 0 by definition. Exact
    * integers until the single rounded division. */
  private val clustering: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy(col("x").as("part")).agg(count(lit(1)).as("deg"))
    val tri = e.select(col("x").as("a"), col("y").as("b"))
      .join(e.select(col("x").as("b2"), col("y").as("c")),
        col("b") === col("b2"))
      .join(e.select(col("x").as("a3"), col("y").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val tcount = tri.select(col("a").as("part"))
      .unionAll(tri.select(col("b").as("part")))
      .unionAll(tri.select(col("c").as("part")))
      .groupBy("part").agg(count(lit(1)).as("tri"))
    deg.join(tcount, Seq("part"), "left")
      .na.fill(0L, Seq("tri"))
      .select(col("part"), col("deg"), col("tri"),
        r6(when(col("deg") >= 2,
            lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0))).as("lcc"))
      .orderBy("part")
  }

  /** Resource-allocation link-prediction index over the co-purchase
    * graph — the degree-weighted upgrade of q_graph_link_jaccard: a
    * candidate pair (a,c) scores Σ over common neighbors b of 1/deg(b),
    * so wedges through PROMISCUOUS hubs contribute less than wedges
    * through selective nodes (the Zhou-Lü-Zhang index; Adamic-Adar's
    * 1/log cousin with exactly computable weights). Each wedge's weight
    * is the INTEGER 1000000 div deg(b) — exact in any partition order,
    * engine-identical (1/log would hit libm divergence). Same oriented
    * wedge join + anti-join-on-existing-edges shape as link_jaccard;
    * top-20 by (score, a, c) via TakeOrderedAndProject. */
  private val raIndex: Q = (s, d) => {
    val e = copurchaseEdges(s, d).select("x", "y")
    val und = e.union(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy("x").agg(count(lit(1)).as("deg"))
    val cn = und.select(col("x").as("a"), col("y").as("b"))
      .join(und.select(col("x").as("b"), col("y").as("c")), Seq("b"))
      .filter(col("a") < col("c"))
      .join(deg.select(col("x").as("b"), col("deg").as("db")), Seq("b"))
      .groupBy("a", "c")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000L div db")).as("ra_micro"))
    cn.join(e.select(col("x").as("a"), col("y").as("c")),
        Seq("a", "c"), "left_anti")
      .orderBy(col("ra_micro").desc, col("a"), col("c"))
      .limit(20)
  }

  private val prIterSql: String => String = prev =>
    s"""SELECT dst AS node,
               floor((0.15 + 0.85 * sum(pr / deg)) * 1000000 + 0.5)
                 / 1000000.0 AS pr
        FROM e JOIN $prev ON e.src = $prev.node GROUP BY dst"""

  val declared: Seq[Query] = Seq(
    Query("q_graph_ra_index", raIndex,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg
                 FROM und GROUP BY x),
         cn AS (SELECT u1.x AS a, u2.y AS c, count(*) AS cn,
                       CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_micro
                FROM und u1
                JOIN und u2 ON u1.y = u2.x AND u1.x < u2.y
                JOIN deg d ON d.x = u1.y
                GROUP BY 1, 2)
         SELECT a, c, cn, ra_micro FROM cn
         WHERE NOT EXISTS (SELECT 1 FROM e
                           WHERE e.x = cn.a AND e.y = cn.c)
         ORDER BY ra_micro DESC, a, c LIMIT 20"""),
    Query("q_graph_hits", hits,
      """WITH ed AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                           'p' || CAST(l_partkey AS VARCHAR) AS p
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM ed),
         ar1 AS (SELECT p, CAST(sum(h) AS BIGINT) AS ar
                 FROM ed JOIN h0 USING (c) GROUP BY p),
         a1 AS (SELECT p, CAST(floor(CAST(ar AS DOUBLE)
                    / (SELECT CAST(sum(ar) AS BIGINT) FROM ar1)
                    * 1000000 + 0.5) AS BIGINT) AS a FROM ar1),
         hr1 AS (SELECT c, CAST(sum(a) AS BIGINT) AS hr
                 FROM ed JOIN a1 USING (p) GROUP BY c),
         h1 AS (SELECT c, CAST(floor(CAST(hr AS DOUBLE)
                    / (SELECT CAST(sum(hr) AS BIGINT) FROM hr1)
                    * 1000000 + 0.5) AS BIGINT) AS h FROM hr1),
         ar2 AS (SELECT p, CAST(sum(h) AS BIGINT) AS ar
                 FROM ed JOIN h1 USING (c) GROUP BY p),
         a2 AS (SELECT p, CAST(floor(CAST(ar AS DOUBLE)
                    / (SELECT CAST(sum(ar) AS BIGINT) FROM ar2)
                    * 1000000 + 0.5) AS BIGINT) AS a FROM ar2),
         hr2 AS (SELECT c, CAST(sum(a) AS BIGINT) AS hr
                 FROM ed JOIN a2 USING (p) GROUP BY c),
         h2 AS (SELECT c, CAST(floor(CAST(hr AS DOUBLE)
                    / (SELECT CAST(sum(hr) AS BIGINT) FROM hr2)
                    * 1000000 + 0.5) AS BIGINT) AS h FROM hr2)
         SELECT role, node, score FROM (
           (SELECT 'authority' AS role, p AS node,
                   a / 1000000.0 AS score
            FROM a2 ORDER BY a DESC, p LIMIT 20)
           UNION ALL
           (SELECT 'hub' AS role, c AS node, h / 1000000.0 AS score
            FROM h2 ORDER BY h DESC, c LIMIT 20))
         ORDER BY role, score DESC, node""", cap = 11),
    Query("q_graph_clustering", clustering,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         deg AS (SELECT x AS part, CAST(count(*) AS BIGINT) AS deg
                 FROM und GROUP BY x),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
                 FROM e e1
                 JOIN e e2 ON e1.y = e2.x
                 JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
         tc AS (SELECT part, CAST(count(*) AS BIGINT) AS tri
                FROM (SELECT a AS part FROM tri
                      UNION ALL SELECT b AS part FROM tri
                      UNION ALL SELECT c AS part FROM tri) t
                GROUP BY part)
         SELECT deg.part, deg.deg, CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
                floor((CASE WHEN deg.deg >= 2
                            THEN 2.0 * coalesce(tc.tri, 0)
                                 / (deg.deg * (deg.deg - 1))
                            ELSE 0.0 END) * 1000000 + 0.5)
                  / 1000000.0 AS lcc
         FROM deg LEFT JOIN tc ON deg.part = tc.part
         ORDER BY deg.part"""),
    Query("q_graph_kcore", kcore,
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         u0 AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         k1 AS (SELECT x AS v FROM u0 GROUP BY x HAVING count(*) >= 2),
         u1 AS (SELECT u.x, u.y FROM u0 u
                JOIN k1 a ON u.x = a.v JOIN k1 b ON u.y = b.v),
         k2 AS (SELECT x AS v FROM u1 GROUP BY x HAVING count(*) >= 2),
         u2 AS (SELECT u.x, u.y FROM u1 u
                JOIN k2 a ON u.x = a.v JOIN k2 b ON u.y = b.v),
         k3 AS (SELECT x AS v FROM u2 GROUP BY x HAVING count(*) >= 2),
         u3 AS (SELECT u.x, u.y FROM u2 u
                JOIN k3 a ON u.x = a.v JOIN k3 b ON u.y = b.v)
         SELECT x AS part, CAST(count(*) AS BIGINT) AS deg
         FROM u3 GROUP BY x ORDER BY part"""),
    Query("q_graph_assortativity", assortativity,
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
                 FROM (SELECT x AS v FROM e
                       UNION ALL SELECT y AS v FROM e) t
                 GROUP BY v),
         p AS (SELECT dx.deg AS dx, dy.deg AS dy
               FROM e JOIN deg dx ON e.x = dx.v
                      JOIN deg dy ON e.y = dy.v),
         sym AS (SELECT dx, dy FROM p
                 UNION ALL SELECT dy AS dx, dx AS dy FROM p)
         SELECT CAST(count(*) AS BIGINT) AS n_ends,
                floor(((CAST(count(*) AS DOUBLE) * CAST(sum(dx * dy) AS DOUBLE)
                         - CAST(sum(dx) AS DOUBLE) * CAST(sum(dy) AS DOUBLE)) /
                       (sqrt(CAST(count(*) AS DOUBLE)
                            * CAST(sum(dx * dx) AS DOUBLE)
                          - CAST(sum(dx) AS DOUBLE) * CAST(sum(dx) AS DOUBLE)) *
                        sqrt(CAST(count(*) AS DOUBLE)
                            * CAST(sum(dy * dy) AS DOUBLE)
                          - CAST(sum(dy) AS DOUBLE) * CAST(sum(dy) AS DOUBLE))))
                  * 1000000 + 0.5) / 1000000.0 AS assortativity
         FROM sym"""),
    // zero-triangle edges via NOT EXISTS over the wedge join; rank by
    // exact degree sums
    Query("q_graph_local_bridges", localBridges,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg
                 FROM und GROUP BY x)
         SELECT e.x, e.y, dx.deg AS deg_x, dy.deg AS deg_y
         FROM e JOIN deg dx ON dx.x = e.x
                JOIN deg dy ON dy.x = e.y
         WHERE NOT EXISTS (
           SELECT 1 FROM und u1 JOIN und u2 ON u1.y = u2.x
           WHERE u1.x = e.x AND u2.y = e.y)
         ORDER BY dx.deg + dy.deg DESC, e.x, e.y LIMIT 20""", cap = 8),
    // reach's recursive BFS, one lane per landmark; centrality forms
    // are pure integer-census arithmetic in shared text
    Query("q_graph_closeness", closeness,
      """WITH RECURSIVE op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         lms AS (SELECT DISTINCT x AS lm FROM und ORDER BY lm LIMIT 3),
         reach(lm, v, dd) AS (
           SELECT lm, lm, CAST(0 AS BIGINT) FROM lms
           UNION
           SELECT r.lm, u.y, r.dd + 1 FROM reach r JOIN und u ON u.x = r.v
           WHERE r.dd < 4),
         md AS (SELECT lm, v, min(dd) AS hops FROM reach GROUP BY lm, v),
         cnt AS (SELECT lm,
                        CAST(count(*) FILTER (hops = 1) AS BIGINT) AS n1,
                        CAST(count(*) FILTER (hops = 2) AS BIGINT) AS n2,
                        CAST(count(*) FILTER (hops = 3) AS BIGINT) AS n3,
                        CAST(count(*) FILTER (hops = 4) AS BIGINT) AS n4
                 FROM md GROUP BY lm)
         SELECT lm, n1 + n2 + n3 + n4 AS n_reached,
                n1 + 2 * n2 + 3 * n3 + 4 * n4 AS sum_dist,
                floor((CAST(n1 + n2 + n3 + n4 AS DOUBLE)
                       / (n1 + 2 * n2 + 3 * n3 + 4 * n4))
                      * 1000000 + 0.5) / 1000000.0 AS closeness,
                floor((n1 / 1.0 + n2 / 2.0 + n3 / 3.0 + n4 / 4.0)
                      * 1000000 + 0.5) / 1000000.0 AS harmonic
         FROM cnt ORDER BY lm""", cap = 9),
    Query("q_graph_reach", reach,
      """WITH RECURSIVE op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         seed AS (SELECT min(x) AS v FROM und),
         reach(v, d) AS (
           SELECT v, CAST(0 AS BIGINT) FROM seed
           UNION
           SELECT u.y, r.d + 1 FROM reach r JOIN und u ON u.x = r.v
           WHERE r.d < 4)
         SELECT v AS part, min(d) AS hops
         FROM reach GROUP BY v ORDER BY part""", cap = 9),
    Query("q_graph_degree_dist", degreeDist,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e),
         deg AS (SELECT v, count(*) AS degree FROM und GROUP BY v)
         SELECT degree, count(*) AS n_nodes
         FROM deg GROUP BY degree ORDER BY degree"""),
    Query("q_graph_modularity", modularity,
      """WITH RECURSIVE op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x AS a, y AS b FROM e
                 UNION ALL SELECT y AS a, x AS b FROM e),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
         comp AS (SELECT src AS v, least(src, min(dst)) AS component
                  FROM reach GROUP BY src),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
                 FROM (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
                 GROUP BY v),
         ds AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
                       CAST(sum(deg) AS BIGINT) AS deg_sum
                FROM deg JOIN comp USING (v) GROUP BY component),
         intra AS (SELECT cx.component,
                          CAST(count(*) AS BIGINT) AS intra_edges
                   FROM e JOIN comp cx ON e.x = cx.v
                          JOIN comp cy ON e.y = cy.v
                   WHERE cx.component = cy.component
                   GROUP BY cx.component)
         SELECT ds.component, n_nodes, deg_sum, intra_edges,
                floor((CAST(intra_edges AS DOUBLE) / m
                       - (deg_sum / (2.0 * m)) * (deg_sum / (2.0 * m)))
                  * 1000000 + 0.5) / 1000000.0 AS contribution
         FROM ds JOIN intra USING (component), m
         ORDER BY component""", cap = 13)
      .allowGlobalWindow("|components| census"),
    // Three synchronous min-label supersteps as chained CTEs (the
    // markov piIter pattern) — argmax by (count DESC, label ASC)
    // row_number, exactly the Spark window.
    Query("q_graph_lpa", lpa, {
      def round(prev: String, r: Int): String =
        s"""l$r AS (SELECT v, lbl FROM (
               SELECT u.v AS v, l.lbl AS lbl,
                      row_number() OVER (PARTITION BY u.v
                        ORDER BY count(*) DESC, l.lbl) AS rn
               FROM und u JOIN $prev l ON l.v = u.u
               GROUP BY u.v, l.lbl) t
             WHERE rn = 1)"""
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                      FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x AS v, y AS u FROM e
                 UNION ALL SELECT y AS v, x AS u FROM e),
         l0 AS (SELECT DISTINCT v, v AS lbl FROM und),
         ${(1 to 3).map(r => round(s"l${r - 1}", r)).mkString(",\n")}
         SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         FROM l3 GROUP BY lbl ORDER BY community"""
    }, cap = 14),
    Query("q_graph_components", components,
      """WITH RECURSIVE op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x AS a, y AS b FROM e
                 UNION ALL SELECT y AS a, x AS b FROM e),
         reach(src, dst) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst)
         SELECT src AS part, least(src, min(dst)) AS component
         FROM reach GROUP BY src ORDER BY part"""),
    Query("q_graph_link_jaccard", linkJaccard,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         deg AS (SELECT x, count(*) AS deg FROM und GROUP BY x),
         cn AS (SELECT u1.x AS a, u2.y AS c, count(*) AS cn
                FROM und u1 JOIN und u2 ON u1.y = u2.x AND u1.x < u2.y
                GROUP BY 1, 2),
         cand AS (SELECT a, c, cn FROM cn
                  WHERE NOT EXISTS (SELECT 1 FROM e
                                    WHERE e.x = cn.a AND e.y = cn.c))
         SELECT a, c, cn,
                floor((CAST(cn AS DOUBLE) / (da.deg + dc.deg - cn))
                  * 1000000 + 0.5) / 1000000.0 AS jacc
         FROM cand
         JOIN deg da ON da.x = cand.a
         JOIN deg dc ON dc.x = cand.c
         ORDER BY jacc DESC, a, c LIMIT 20""", cap = 8),
    Query("q_graph_pagerank", pagerank,
      s"""WITH ed AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                           'p' || CAST(l_partkey AS VARCHAR) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         bi AS (SELECT src, dst FROM ed
                UNION ALL SELECT dst, src FROM ed),
         deg AS (SELECT src, count(*) AS deg FROM bi GROUP BY src),
         e AS (SELECT bi.src, bi.dst, deg.deg FROM bi JOIN deg USING (src)),
         r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
         r1 AS (${prIterSql("r0")}),
         r2 AS (${prIterSql("r1")})
         SELECT node, pr FROM r2 ORDER BY pr DESC, node LIMIT 50""", cap = 7),
    Query("q_basket_rules", basketRules,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         n AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
         isup AS (SELECT pk, count(*) AS isup FROM op GROUP BY pk),
         pairs AS (SELECT a.pk AS x, b.pk AS y, count(*) AS sup
                   FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2 HAVING count(*) >= 2),
         directed AS (SELECT x, y, sup FROM pairs
                      UNION ALL SELECT y, x, sup FROM pairs)
         SELECT x, y, sup,
                (sup * n_orders) / (sx.isup * sy.isup) AS lift
         FROM directed
         JOIN isup sx ON sx.pk = directed.x
         JOIN isup sy ON sy.pk = directed.y
         CROSS JOIN n
         ORDER BY lift DESC, x, y LIMIT 20""", cap = 9),
    Query("q_graph_triangles", triangles,
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS x, b.pk AS y
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT e1.x AS a, e1.y AS b, e2.y AS c
         FROM e e1
         JOIN e e2 ON e1.y = e2.x
         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
         ORDER BY a, b, c"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
