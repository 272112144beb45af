package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The `session` and `graph-dedup` workloads: a cold pass over a key
  * sample, then warm passes over the same keys in the same order. Every key is built through
  * SparkEntry.queries and its whole result written as parquet, so every
  * output column is computed. */
object QueryPasses {

  /** Pack name -> its keys. Used for membership only; keys run through
    * SparkEntry.queries. */
  lazy val packs: Seq[(String, Set[String])] = {
    import graft.operators._
    Seq(
      "RelationalOps" -> RelationalOps.queries.keySet,
      "TextOps" -> TextOps.queries.keySet,
      "StatsOps" -> StatsOps.queries.keySet,
      "EventOps" -> EventOps.queries.keySet,
      "VectorOps" -> VectorOps.queries.keySet,
      "MultimodalOps" -> MultimodalOps.queries.keySet,
      "ScalarOps" -> ScalarOps.queries.keySet,
      "FunctionOps" -> FunctionOps.queries.keySet,
      "GraphOps" -> GraphOps.queries.keySet,
      "DedupOps" -> DedupOps.queries.keySet)
  }

  /** Strata of the key sample and keys drawn from each: for `session` one
    * key from each large single-pass pack and one from the three small
    * ones together (20 keys between them), for `graph-dedup` three from
    * each iterative pack. */
  val strata: Map[String, Seq[(Seq[String], Int)]] = Map(
    "session" -> (Seq("RelationalOps", "TextOps", "StatsOps", "EventOps",
      "VectorOps").map(p => Seq(p) -> 1) :+
      (Seq("MultimodalOps", "ScalarOps", "FunctionOps") -> 1)),
    "graph-dedup" -> Seq(Seq("GraphOps") -> 3, Seq("DedupOps") -> 3))

  /** Nominal seconds of one warm pass: `--seconds` buys this many. */
  val passSeconds: Map[String, Int] = Map("session" -> 4, "graph-dedup" -> 4)

  /** Reference (cold, warm) cost per key in ms, from `key_costs.tsv`. */
  def costs(path: String): Map[String, (Double, Double)] =
    Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toDouble, a(2).toDouble))
      .toMap

  /** Relative distance a sample's reference cold total, warm total and
    * median warm cost may have from the typical sample's. */
  val balance = 0.05

  /** Seed of the key sample. The sample is the same for every run and
    * every commit; `--seed` only sets the order its keys run in. Samples
    * drawn per seed differed in cost by more than the run-to-run noise,
    * so a seed change read as a performance change. */
  val sampleSeed = 20201

  /** Pack-stratified sample in the order `seed` gives. A stratum's keys
    * sorted by reference cost are cut into `n` runs of consecutive keys and
    * one key is drawn from each run; draws are repeated until the sample's
    * reference costs are within `balance` of the median sample's, so the
    * sample is a typical one rather than whatever the first draw gave. */
  def sample(workload: String, seed: Long,
      cost: Map[String, (Double, Double)]): Seq[(String, String)] = {
    val fallback = (Main.median(cost.values.map(_._1).toSeq),
      Main.median(cost.values.map(_._2).toSeq))
    val runs = strata(workload).flatMap { case (ps, n) =>
      val keys = packs.filter(p => ps.contains(p._1)).flatMap(_._2)
        .sortBy(k => (cost.getOrElse(k, fallback), k))
      (0 until n).map(i => keys.slice(i * keys.size / n,
        (i + 1) * keys.size / n))
    }
    def draw(rnd: scala.util.Random): Seq[(String, String)] =
      runs.map { r =>
        val k = r(rnd.nextInt(r.size))
        packs.find(_._2(k)).get._1 -> k
      }
    def figures(s: Seq[(String, String)]): Seq[Double] = {
      val c = s.map(k => cost.getOrElse(k._2, fallback))
      Seq(c.map(_._1).sum, c.map(_._2).sum, Main.median(c.map(_._2)))
    }
    val rnd = new scala.util.Random(sampleSeed)
    val typical = {
      val fs = (1 to 201).map(_ => figures(draw(rnd)))
      fs.head.indices.map(i => Main.median(fs.map(_(i))))
    }
    def balanced(s: Seq[(String, String)]) = figures(s).zip(typical)
      .forall { case (f, t) => math.abs(f - t) <= balance * t }
    val drawn = Iterator.continually(draw(rnd)).take(100000)
      .find(balanced).getOrElse(draw(rnd))
    new scala.util.Random(seed).shuffle(drawn)
  }

  final case class KeyRun(pack: String, key: String, wall: Span,
      build: Span, action: Span)

  final case class Pass(runs: Seq[KeyRun], start: Double, end: Double) {
    def seconds: Double = (end - start) / 1000.0
  }

  def run(spark: SparkSession, o: Opts,
      tracer: Option[Tracer]): Map[String, Any] = {
    val dir = o("data")
    val keys = sample(o("workload"), o("seed").toLong, costs(o("costs")))
    val queries = graft.SparkEntry.queries
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    var attempted = 0

    def runKey(pass: Int, pack: String, key: String,
        dest: Path): Option[KeyRun] = {
      attempted += 1
      val group = s"pass$pass:$key"
      try {
        val ((b, a), w) = Trace.span(0L, group, "key", key) { kid =>
          val (df, b) = Trace.span(kid, group, "operators", s"build $key",
            spark)(_ => queries(key)(spark, dir))
          val (_, a) = Trace.span(kid, group, "action", s"write $key",
            spark)(_ => df.write.mode("overwrite").parquet(dest.toString))
          (b, a)
        }
        Some(KeyRun(pack, key, w, b, a))
      } catch {
        case t: Throwable =>
          failures(s"pass$pass:$key") = s"${t.getClass.getName}: ${t.getMessage}"
          None
      }
    }

    def pass(p: Int, dest: Path): Pass = {
      val t0 = Clock.nowMs
      val runs = keys.flatMap { case (pack, key) =>
        runKey(p, pack, key, dest.resolve(key))
      }
      Pass(runs, t0, Clock.nowMs)
    }

    val cg0 = tracer.map(_.codegen)
    val coldDir = o.out.resolve("cold")
    val cold = pass(0, coldDir)
    val cg1 = tracer.map(_.codegen)
    val cacheEntries = graft.Caches.totalEntries
    val storageMb = tracer.map(_.storageMb).getOrElse(0.0)

    val warm = ArrayBuffer.empty[Pass]
    var prevDir: Option[Path] = None
    while (warm.size < Main.warmPasses(o, passSeconds(o("workload")))) {
      val d = o.out.resolve(s"warm${warm.size + 1}")
      warm += pass(warm.size + 1, d)
      prevDir.foreach(Main.deleteTree)
      prevDir = Some(d)
    }

    val warmMs: Map[String, Seq[Double]] = warm.toSeq.flatMap(_.runs)
      .groupBy(_.key).map { case (k, rs) => k -> rs.map(_.wall.dur) }
    val coldMs = cold.runs.map(r => r.key -> r.wall.dur).toMap
    val keyMedians = keys.flatMap { case (_, k) => warmMs.get(k) }
      .map(Main.median)
    val oracle = graft.SparkEntry.oracleSql

    val base = Map[String, Any](
      "workload" -> o("workload"),
      "keys" -> keys.map { case (pack, k) =>
        Map("key" -> k, "pack" -> pack, "cold_ms" -> coldMs.get(k),
          "warm_ms" -> warmMs.getOrElse(k, Nil),
          "oracle" -> oracle.get(k))
      },
      "cold_dir" -> coldDir.toString,
      "warm_dir" -> prevDir.map(_.toString),
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures,
      "cold_pass_s" -> cold.seconds,
      "warm_passes_s" -> warm.map(_.seconds),
      "query_p50_ms" -> Main.median(keyMedians))

    tracer match {
      case None => base
      case Some(tr) =>
        tr.drain()
        val w1 = warm.head.runs
        def groups(rs: Seq[KeyRun]) = rs.flatMap(r => Seq(r.build, r.action))
          .map(s => s"pb-${s.id}" -> s).toMap
        val w1Groups = groups(w1)
        val buildGroups = w1.map(r => s"pb-${r.build.id}").toSet
        val figs = tr.layerFigures(w1Groups.keySet, warm.head.start,
          warm.head.end)
        val jobSpans = tr.jobSpans(groups(cold.runs ++ warm.flatMap(_.runs)))
        val w1Ids = w1Groups.values.map(_.id).toSet
        val w1Spans = w1.flatMap(r => Seq(r.wall, r.build, r.action)) ++
          jobSpans.filter(j => w1Ids(j.parent))
        val self = tr.selfTimes(w1Spans)
        // Jobs of one action can run side by side, so the job layer's time
        // is the part of its parent the jobs cover, not the sum of theirs.
        def covered(s: Span) = s.dur - self(s.id)
        val reconcileErr = w1.map { r =>
          val sum = self(r.wall.id) +
            Seq(r.build, r.action).map(s => self(s.id) + covered(s)).sum
          math.abs(sum - r.wall.dur) / math.max(r.wall.dur, 1e-9) * 100
        }.maxOption.getOrElse(0.0)
        def selfOf(layer: String) =
          w1Spans.filter(_.layer == layer).map(s => self(s.id)).sum
        val buildJobs = tr.jobsL.jobs.values().asScala
          .count(j => buildGroups(j.group))
        val packMs = packs.map { case (p, _) =>
          s"operators.$p.warm_ms" -> w1.filter(_.pack == p).map(_.wall.dur).sum
        }
        Trace.save(o.out.resolve("spans.jsonl"), jobSpans)
        base ++ Map("layers" -> (figs ++ packMs ++ Map(
          "operators.build_ms" -> w1.map(_.build.dur).sum,
          "operators.build_jobs" -> buildJobs.toDouble,
          "codegen.compile_ms" -> (cg1.get._1 - cg0.get._1),
          "codegen.classes" -> (cg1.get._2 - cg0.get._2).toDouble,
          "caches.entries" -> cacheEntries.toDouble,
          "caches.storage_mb" -> storageMb,
          "caches.first_use_ms" -> keys.flatMap { case (_, k) =>
            for (c <- coldMs.get(k); w <- warmMs.get(k)) yield c - Main.median(w)
          }.sum,
          "trace.self_key_ms" -> selfOf("key"),
          "trace.self_build_ms" -> selfOf("operators"),
          "trace.self_action_ms" -> selfOf("action"),
          "trace.self_job_ms" ->
            w1.flatMap(r => Seq(r.build, r.action)).map(covered).sum,
          "trace.reconcile_err_pct" -> reconcileErr,
          "trace.spans" -> Trace.spans.size.toDouble)))
    }
  }
}
