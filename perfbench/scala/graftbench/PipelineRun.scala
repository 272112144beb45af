package graftbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.sources.{ParquetReplaySource, Sinks, SourceFactory}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

case class BenchEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class BenchDoc(doc_id: Long, ts: Timestamp, text: String)

/** One sink write as seen by the wrapping writer. */
final case class SinkWrite(sink: String, start: Double, end: Double,
    rows: Long, bytes: Long, parent: Long, group: String)

object SinkStats {
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[SinkWrite]()
  def add(w: SinkWrite): Unit = writes.add(w)
}

/** File-backed IndexWriter that times each bulk write. */
class TimedIndexWriter(dir: String, sink: String) extends Sinks.IndexWriter {
  private val inner = new Sinks.FileIndexWriter(dir)
  def writeBulk(batchId: Long, partitionId: Int,
      lines: Iterator[String]): Unit = {
    val parent = Trace.sinkParent
    val group = Trace.sinkGroup
    val t0 = Clock.nowMs
    var n = 0L
    inner.writeBulk(batchId, partitionId, lines.map { l => n += 1; l })
    val bytes = Files.size(Paths.get(dir, s"bulk-$batchId-$partitionId.jsonl"))
    SinkStats.add(SinkWrite(sink, t0, Clock.nowMs, n, bytes, parent, group))
  }
}

/** File-backed TableWriter: one JSON object per row, timed per write. */
class TimedTableWriter(dir: String, sink: String) extends Sinks.TableWriter {
  def writeRows(table: String, partitionId: Int, rows: Iterator[Row]): Unit = {
    val parent = Trace.sinkParent
    val group = Trace.sinkGroup
    val t0 = Clock.nowMs
    val p = Paths.get(dir, s"$table-$partitionId.jsonl")
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    var n = 0L
    try rows.foreach { r => w.write(r.json); w.newLine(); n += 1 }
    finally w.close()
    SinkStats.add(SinkWrite(sink, t0, Clock.nowMs, n, Files.size(p), parent,
      group))
  }
}

/** Event source that emits `ts` as TIMESTAMP, fed from a MemoryStream. */
class MemoryEventSource(@transient df: DataFrame) extends SourceFactory {
  def stream(spark: SparkSession): DataFrame = df
}

/** The `pipeline` workload: rounds of two batch publishes and three
  * closed-loop streams, each stream fed one micro-batch at a time from
  * this thread. Round 0 is the cold round, the warm rounds follow.
  * Every round also replays the
  * events table through the shipped ParquetReplaySource, timed apart. */
object PipelineRun {

  /** Stream inputs, made from the seed by the runner (perfbench/inputs.py):
    * the events in event-time order and the documents with their arrival
    * times, each row tagged with its micro-batch. */
  final case class Inputs(events: Seq[Seq[BenchEvent]], docs: Seq[Seq[BenchDoc]])

  /** Tab-separated rows, column 0 the micro-batch; a backslash escapes
    * the character after it, `\n` and `\t` standing for newline and tab. */
  private def rows(path: Path): Seq[(Int, Array[String])] =
    Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1).map(unescape)
      f(0).toInt -> f.drop(1)
    }

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        b += (s.charAt(i + 1) match { case 'n' => '\n'; case 't' => '\t'; case c => c })
        i += 2
      } else {
        b += s.charAt(i)
        i += 1
      }
    }
    b.toString
  }

  private def batches[T](rs: Seq[(Int, Array[String])])(
      f: Array[String] => T): Seq[Seq[T]] =
    rs.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(r => f(r._2)))

  def inputs(dir: Path): Inputs = Inputs(
    batches(rows(dir.resolve("events.tsv")))(f => BenchEvent(f(0).toLong,
      toTs(f(1).toLong), f(2).toLong, f(3), f(4).toDouble, f(5))),
    batches(rows(dir.resolve("docs.tsv")))(f =>
      BenchDoc(f(0).toLong, toTs(f(1).toLong), f(2))))

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Nominal seconds of one warm round: `--seconds` buys this many. */
  val roundSeconds = 4

  final case class Op(name: String, span: Span)
  final case class StreamRun(name: String, query: StreamingQuery,
      batches: Seq[Span], rows: Long)
  final case class Round(ops: Seq[Op], streams: Seq[StreamRun],
      start: Double, end: Double, replay: Span) {
    def seconds: Double = (end - start) / 1000.0
    def opMs: Seq[Double] = ops.map(_.span.dur) ++
      streams.flatMap(_.batches.map(_.dur))
  }

  def run(spark: SparkSession, o: Opts,
      tracer: Option[Tracer]): Map[String, Any] = {
    val dir = o("data")
    val in = inputs(Paths.get(o("inputs")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    var attempted = 0
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def attempt[T](name: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch {
        case t: Throwable =>
          failures(name) = s"${t.getClass.getName}: ${t.getMessage}"
          None
      }
    }

    def publish(round: Int, name: String)(f: => Unit): Option[Op] =
      attempt(s"round$round:$name") {
        val (_, s) = Trace.span(0L, s"r$round:$name", "pipeline", name,
          spark) { id =>
          Trace.sinkParent = id
          Trace.sinkGroup = s"r$round:$name"
          f
        }
        Op(name, s)
      }

    /** Feed `batches` one at a time; each offer waits for its commit. */
    def feed[T](round: Int, name: String, q: StreamingQuery,
        ms: MemoryStream[T], batches: Seq[Seq[T]]): StreamRun = {
      val spans = batches.zipWithIndex.flatMap { case (b, i) =>
        attempt(s"round$round:$name:$i") {
          Trace.span(0L, s"r$round:$name:$i", "microbatch", s"$name $i") {
            id =>
            Trace.sinkParent = id
            Trace.sinkGroup = s"r$round:$name:$i"
            ms.addData(b)
            q.processAllAvailable()
          }._2
        }
      }
      q.stop()
      StreamRun(name, q, spans, batches.map(_.size.toLong).sum)
    }

    def round(r: Int): Round = {
      val out = o.out.resolve(s"round$r")
      val ckpt = Paths.get(o("scratch"), s"ckpt-$r")
      val t0 = Clock.nowMs
      val ops = Seq(
        publish(r, "suggest") {
          Pipeline.publishSuggestions(spark, dir,
            new TimedIndexWriter(out.resolve("suggest_batch").toString, "suggest"))
        },
        publish(r, "curate") {
          Pipeline.publishCurated(spark, dir, Map.empty,
            new TimedTableWriter(out.resolve("curated").toString, "curate"))
        }).flatten

      val evMs = MemoryStream[BenchEvent]
      val evQ = Pipeline.eventPipeline(spark, new MemoryEventSource(evMs.toDF()),
        new TimedIndexWriter(out.resolve("events").toString, "events"),
        ckpt.resolve("events").toString)
      val evRun = feed(r, "events", evQ, evMs, in.events)

      val sugMs = MemoryStream[BenchDoc]
      val sugQ = Pipeline.suggestionPipeline(spark, sugMs.toDF(),
        new TimedIndexWriter(out.resolve("suggest_live").toString, "suggest_live"),
        ckpt.resolve("suggest").toString)
      val sugRun = feed(r, "suggest_live", sugQ, sugMs, in.docs)

      val curMs = MemoryStream[BenchDoc]
      val curQ = Pipeline.curationPipeline(spark, curMs.toDF(), Map.empty,
        new TimedTableWriter(out.resolve("admitted").toString, "admitted"),
        ckpt.resolve("curate").toString)
      val curRun = feed(r, "curate_live", curQ, curMs, in.docs)
      val t1 = Clock.nowMs

      // The shipped replay source, kept apart from every timed figure.
      val (_, replay) = Trace.span(0L, s"r$r:replay", "replay", "replay") { _ =>
        attempt(s"round$r:replay") {
          val q = Pipeline.eventPipeline(spark, new ParquetReplaySource(dir),
            new TimedIndexWriter(out.resolve("replay").toString, "replay"),
            ckpt.resolve("replay").toString)
          try q.processAllAvailable() finally q.stop()
        }
      }
      Round(ops, Seq(evRun, sugRun, curRun), t0, t1, replay)
    }

    val cg0 = tracer.map(_.codegen)
    val cold = round(0)
    val cg1 = tracer.map(_.codegen)
    val cacheEntries = graft.Caches.totalEntries
    val storageMb = tracer.map(_.storageMb).getOrElse(0.0)
    val warm = ArrayBuffer.empty[Round]
    while (warm.size < Main.warmPasses(o, roundSeconds))
      warm += round(warm.size + 1)

    val base = Map[String, Any](
      "workload" -> "pipeline",
      "rounds" -> (cold +: warm.toSeq).zipWithIndex.map { case (r, i) =>
        Map("dir" -> o.out.resolve(s"round$i").toString,
          "wall_s" -> r.seconds, "replay_ms" -> r.replay.dur)
      },
      "events_fed" -> in.events.map(_.size).sum,
      "docs_fed" -> in.docs.map(_.size).sum,
      "oracle" -> Map(
        "q_pipeline_curate" -> graft.SparkEntry.oracleSql("q_pipeline_curate"),
        "q_text_quality" -> graft.SparkEntry.oracleSql("q_text_quality")),
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures,
      "cold_pass_s" -> cold.seconds,
      "warm_passes_s" -> warm.map(_.seconds),
      "query_p50_ms" -> Main.median(warm.toSeq.flatMap(_.opMs)))

    tracer match {
      case None => base
      case Some(tr) =>
        tr.drain()
        val Round(ops, streams, lo, hi, _) = warm.head
        val opGroups = ops.map(op => s"pb-${op.span.id}" -> op.span).toMap
        val runIds = streams.map(_.query.runId.toString).toSet
        val figs = tr.layerFigures(opGroups.keySet ++ runIds, lo, hi)
        val writes = SinkStats.writes.asScala.toSeq
          .filter(w => w.start >= lo && w.end <= hi)
        val progress = streams.flatMap(_.query.recentProgress)
          .filter(_.numInputRows > 0)
        def dur(k: String) = progress.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        val lastState = streams.flatMap(s =>
          Option(s.query.lastProgress).toSeq.flatMap(_.stateOperators))
        val batches = streams.flatMap(_.batches.map(_.dur))
        def rate(names: Set[String]) = {
          val ss = streams.filter(s => names(s.name))
          ss.map(_.rows).sum / math.max(1e-9,
            ss.map(s => s.batches.map(_.dur).sum).sum / 1000.0)
        }
        // sink writes as spans under their publish or micro-batch
        writes.foreach(w => Trace.record(Span(Trace.newId(), w.parent,
          w.group, "sinks", s"write ${w.sink}", w.start, w.end)))
        val jobSpans = tr.jobSpans(opGroups)
        Trace.save(o.out.resolve("spans.jsonl"), jobSpans)
        base ++ Map("layers" -> (figs ++ Map(
          "pipeline.suggest_ms" ->
            ops.filter(_.name == "suggest").map(_.span.dur).sum,
          "pipeline.curate_ms" ->
            ops.filter(_.name == "curate").map(_.span.dur).sum,
          "pipeline.publish_s" -> ops.map(_.span.dur).sum / 1000.0,
          "sinks.write_ms" -> writes.map(w => w.end - w.start).sum,
          "sinks.rows" -> writes.map(_.rows).sum.toDouble,
          "sinks.bytes" -> writes.map(_.bytes).sum.toDouble,
          "streaming.batches" -> progress.size.toDouble,
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.plan_ms" -> dur("queryPlanning"),
          "streaming.commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
          "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
          "streaming.state_mb" ->
            lastState.map(_.memoryUsedBytes).sum / 1048576.0,
          "stream.events_per_s" -> rate(Set("events")),
          "stream.docs_per_s" -> rate(Set("suggest_live", "curate_live")),
          "stream.batch_p50_ms" -> Main.median(batches),
          "codegen.compile_ms" -> (cg1.get._1 - cg0.get._1),
          "codegen.classes" -> (cg1.get._2 - cg0.get._2).toDouble,
          "caches.entries" -> cacheEntries.toDouble,
          "caches.storage_mb" -> storageMb,
          "caches.first_use_ms" -> (cold.seconds - warm.head.seconds) * 1000.0,
          "trace.spans" -> Trace.spans.size.toDouble)))
    }
  }
}
