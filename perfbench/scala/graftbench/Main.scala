package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options, `--name value` pairs. */
final case class Opts(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def out: Path = Paths.get(apply("out"))
}

/** Benchmark harness. Drives the engine only through its public entry
  * points (SparkEntry, Tables.configure, Pipeline, the Sinks traits,
  * SourceFactory, Caches.totalEntries) in one fresh JVM per run.
  *
  * It sets up a session, prints READY (the runner times set-up from
  * process start to that line), runs one workload and writes
  * `result.json` (and `spans.jsonl` when traced) into `--out`. */
object Main {

  def session(o: Opts): SparkSession = {
    val cpus = o("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", o("scratch"))
      .config("spark.sql.warehouse.dir", s"${o("scratch")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
  }

  /** Warm passes (or rounds) per run: one per `passSeconds` of
    * `--seconds`, at least one. A count rather than a deadline, so every
    * run of a workload does the same work. */
  def warmPasses(o: Opts, passSeconds: Int): Int =
    math.max(1, o.int("seconds") / passSeconds)

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val spark = session(o)
    println("READY")
    System.out.flush()
    val code = try {
      Files.createDirectories(o.out)
      Trace.on = o("trace") == "1"
      val tracer = if (Trace.on) Some(new Tracer(spark)) else None
      val result = o("workload") match {
        case "session" | "graph-dedup" => QueryPasses.run(spark, o, tracer)
        case "pipeline" => PipelineRun.run(spark, o, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Json.save(o.out.resolve("result.json"),
        result ++ Map("peak_rss_mb" -> peakRssMb, "retained_mb" -> retainedMb))
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    }
    spark.stop()
    sys.exit(code)
  }

  /** High-water resident set of this JVM, from the kernel's accounting. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Memory the session still holds once the workload is done: heap in
    * use after a full collection plus non-heap (generated code, classes).
    * Unlike the resident set it does not depend on when the collector
    * chose to grow the heap. */
  def retainedMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) /
      1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
    finally w.close()
  }
}
