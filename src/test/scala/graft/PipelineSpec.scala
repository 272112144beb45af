package graft

import java.nio.file.Files
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {

  test("suggestion index publishes valid bulk-index lines") {
    val dir = Files.createTempDirectory("graft-bulk").toString
    Pipeline.publishSuggestions(spark, sfDir, new Sinks.FileIndexWriter(dir))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".jsonl"))
    assert(files.nonEmpty)
    val lines = files.flatMap(f =>
      Files.readAllLines(f.toPath).asScala)
    // bulk format: action line then doc line, pairwise
    assert(lines.length % 2 === 0)
    val actions = lines.grouped(2).map(_.head).toSeq
    assert(actions.forall(_.startsWith("""{"index":{"_index":"suggestions"""")))
    val docs = lines.grouped(2).map(_.last).toSeq
    assert(docs.forall(l => l.contains("\"token\"") && l.contains("\"cnt\"")))
    // 31-token vocabulary → 31 documents total
    assert(docs.length === 31)
  }

  test("jdbc option plumbing: conf reaches the writer options verbatim") {
    val opts = Sinks.jdbcOptions("jdbc:postgresql://db:5432/graft",
      "suggestions", Some("etl"), Some("secret"), batchSize = 500,
      isolationLevel = "NONE")
    assert(opts("url") === "jdbc:postgresql://db:5432/graft")
    assert(opts("dbtable") === "suggestions")
    assert(opts("batchsize") === "500")
    assert(opts("isolationLevel") === "NONE")
    assert(opts("user") === "etl")
    assert(opts("password") === "secret")
    // no credentials → no empty-string credential keys leak into options
    val anon = Sinks.jdbcOptions("jdbc:postgresql://db/g", "t")
    assert(!anon.contains("user") && !anon.contains("password"))
  }

  test("curation pipeline delivers curated docs to the table boundary") {
    val dir = Files.createTempDirectory("graft-curated").toString
    Pipeline.publishCurated(spark, sfDir, Map.empty,
      new Sinks.FileTableWriter(dir))
    val rows = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("curated_docs-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .filter(_.nonEmpty)
    val expected = Pipeline.curateCorpus(spark, sfDir).count()
    assert(expected > 0)
    assert(rows.length.toLong === expected)
    // every delivered row carries the 4 declared columns
    assert(rows.forall(_.split(",").length === 4))
  }

  test("jdbc sink round-trips through embedded Derby (production branch)") {
    // Derby ships on the Spark classpath (metastore dependency), so the
    // config-gated PRODUCTION branch — df.write.jdbc with executor-side
    // connections — gets a real executed test, not just option assembly.
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby")
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    import org.apache.spark.sql.functions.col
    val df = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("int").as("k"),
        col("n_name").as("name"))
    Sinks.writeRelational(df, "nation_sink",
      Map("url" -> url, "driver" -> driver), fallback = null)
    val back = spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "nation_sink",
        "driver" -> driver))
      .load()
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val expected = df.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back === expected && back.size === 25)
  }

  test("relational dispatch: no url in conf routes to the offline writer") {
    val dir = Files.createTempDirectory("graft-table").toString
    val df = spark.range(3).toDF("id")
    Sinks.writeRelational(df, "t_ids", Map.empty,
      new Sinks.FileTableWriter(dir))
    val rows = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("t_ids-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(rows.toSet === Set("0", "1", "2"))
  }

  test("streaming event pipeline delivers idempotent per-batch bulk files") {
    val dir = Files.createTempDirectory("graft-stream-bulk").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val src = new graft.sources.SourceFactory {
      def stream(s: org.apache.spark.sql.SparkSession) = ms.toDF()
    }
    val q = Pipeline.eventPipeline(spark, src,
      new Sinks.FileIndexWriter(dir), ckpt)
    try {
      ms.addData(Ev(1, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"),
        1, "click", 2.0, "{}"))
      q.processAllAvailable()
      val lines = new java.io.File(dir).listFiles().toSeq
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
      assert(lines.exists(_.contains(""""event_type":"click"""")))
      assert(lines.exists(_.contains(""""_index":"event_aggs"""")))
    } finally q.stop()
  }

  test("streaming suggestion index converges to the batch build") {
    val dir = Files.createTempDirectory("graft-suggest-out").toString
    val ckpt = Files.createTempDirectory("graft-suggest-ckpt").toString
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[Doc]
    val q = Pipeline.suggestionPipeline(spark, ms.toDF(),
      new Sinks.FileIndexWriter(dir), ckpt, k = 2)
    try {
      // two batches: 'apple' overtakes 'ant' only after the second
      ms.addData(
        Doc(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
          "ant ant apple bee"),
        Doc(2, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"),
          "bee bat"))
      q.processAllAvailable()
      ms.addData(
        Doc(3, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"),
          "apple apple bee"))
      q.processAllAvailable()
      def latestTop(prefix: String): Seq[String] = {
        val lines = new java.io.File(dir).listFiles().toSeq
          .sortBy(_.getName)
          .flatMap(f => Files.readAllLines(f.toPath).asScala)
        // last delivery of each sug_id wins (idempotent upsert contract)
        val byId = scala.collection.mutable.LinkedHashMap[String, String]()
        lines.grouped(2).foreach { case Seq(meta, doc) =>
          val id = meta.split("\"_id\":\"")(1).split("\"")(0)
          byId(id) = doc
        }
        byId.toSeq.filter(_._1.startsWith(prefix + "|")).sortBy(_._1)
          .map(_._2.split("\"token\":\"")(1).split("\"")(0))
      }
      // cumulative counts: apple=3, ant=2 | bee=3, bat=1
      assert(latestTop("a") == Seq("apple", "ant"))
      assert(latestTop("b") == Seq("bee", "bat"))
      // and the stream's final index equals the batch build on the
      // union corpus (same counts for the a/b prefixes)
      val batch = Seq("ant ant apple bee", "bee bat", "apple apple bee")
        .toDF("text")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(substring(col("token"), 1, 1).as("prefix"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(batch.contains(("a", "apple", 3L)))
      assert(batch.contains(("a", "ant", 2L)))
    } finally q.stop()
  }

  test("streaming curation pipeline lands only admitted docs at the relational boundary") {
    val dir = Files.createTempDirectory("graft-curate-out").toString
    val ckpt = Files.createTempDirectory("graft-curate-ckpt").toString
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[Doc]
    val good = (1 to 30).map(i => s"tok$i").mkString(" ")
    val q = Pipeline.curationPipeline(spark, ms.toDF(), Map.empty,
      new Sinks.FileTableWriter(dir), ckpt)
    try {
      ms.addData(
        Doc(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), good),
        Doc(2, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), good),
        Doc(3, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"),
          "the the the the"))
      q.processAllAvailable()
      val files = new java.io.File(dir).listFiles().toSeq
      val admitted = files
        .filter(_.getName.startsWith("admitted_docs-"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
        .filter(_.nonEmpty)
        .map(_.split(",")(0).toLong).toSet
      assert(admitted === Set(1L),
        s"only the first quality doc passes the gate and the dedup " +
          s"store; dir had ${files.map(_.getName)}")
    } finally q.stop()
  }

  test("event pipeline over the parquet replay source matches the batch windowed aggregate") {
    val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val dir = Files.createTempDirectory("graft-replay-out").toString
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    val q = Pipeline.eventPipeline(spark,
      new graft.sources.ParquetReplaySource(sf01),
      new Sinks.FileIndexWriter(dir), ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty, s"replay failed: ${q.exception}")
    // update mode: the last delivery of each (hour, event_type) wins
    val docs = new java.io.File(dir).listFiles().toSeq
      .sortBy(_.getName.split("-")(1).toLong)
      .flatMap(f => Files.readAllLines(f.toPath).asScala.grouped(2).map(_.last))
    import spark.implicits._
    val streamed = spark.read.json(docs.toDS())
      .collect().map(r => r.getAs[String]("agg_id") ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("total"))).toMap
    val batch = Tables.events(spark, sf01)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(concat_ws("|", col("w.start").cast("string"),
        col("event_type")).as("agg_id"), col("cnt"), col("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (id, (cnt, total)) =>
      val (sCnt, sTotal) = streamed(id)
      assert(sCnt === cnt, s"$id count")
      assert(math.abs(sTotal - total) <= 1e-9 * math.max(1.0, math.abs(total)),
        s"$id total $sTotal vs $total")
    }
  }
}
