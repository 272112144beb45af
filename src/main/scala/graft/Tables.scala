package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared schemas + loaders for the driver testdata
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * Design notes (SURVEY.md §1):
  *  - Schemas are declared, never inferred, so plans are stable across scale
  *    factors and the parquet footer read is skipped on the hot path.
  *  - `events.ts` has been generated as both TIMESTAMP(NANOS) (rounds 1-4)
  *    and TIMESTAMP(MICROS) (round 5 regen) — the unit is SNIFFED from the
  *    footer per (session, dir) (eventsTsUnit), never assumed. NANOS needs
  *    `spark.sql.legacy.parquet.nanosAsLong=true` and a `ts div 1000`
  *    µs truncation (matching DuckDB, the correctness oracle); MICROS reads
  *    natively as TIMESTAMP_NTZ. Either way callers get the same contract:
  *    `ts` (NTZ µs) + `ts_ns` (long ns). See SURVEY.md §1.4.
  *  - ms timestamps (l_shipdate, o_orderdate) are TIMESTAMP_NTZ in Spark 4
  *    and naive TIMESTAMP in DuckDB; both sessions run pinned-UTC so the
  *    wall-clock values agree.
  *
  * At 100 TB these would be partitioned/bucketed table reads; the loaders
  * keep all filtering/projection declarative so Catalyst pushes predicates
  * and prunes columns into the parquet scan regardless of layout.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  /** ts declared as LongType: raw ns-since-epoch (requires nanosAsLong).
    * Used when the parquet footer says TIMESTAMP(NANOS). */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** ts declared as TIMESTAMP_NTZ: used when the parquet footer says
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — the unit the driver's
    * generator switched to at round 5 (see BASELINE.md postmortem). */
  val eventsMicrosSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema)

  /** Session settings every entry point must apply. Safe to call repeatedly. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.functions.GraftFunctions.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    spark
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Sniff the parquet logical type of `ts` from the footer of the
    * events.parquet file, read on the driver and converted by Spark's
    * own ParquetToSparkSchemaConverter under the session conf: with
    * nanosAsLong=true a TIMESTAMP(NANOS) column converts to LongType;
    * TIMESTAMP(MICROS, NTZ) converts to TimestampNTZType. This is the
    * type schema inference would report,
    * without the inference job `spark.read.parquet(p).schema` runs. The
    * round-5 testdata regeneration silently flipped NANOS→MICROS and a
    * hardcoded `div 1000` collapsed a month of events into 43 minutes of
    * 1970 — hence unit detection instead of a declared assumption. An
    * artifact, so the sniff is one footer read per (session, dir)
    * although events() is called hundreds of times per bench run. */
  val eventsTsUnit = Artifact("events_ts_unit") { (spark, dir) =>
    configure(spark)
    val p = s"$dir/events.parquet"
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p),
      spark.sessionState.newHadoopConf()))
    val footer =
      try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(footer)
      .fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)                              => "ns"
      case Some(TimestampNTZType) | Some(TimestampType) => "us"
      case other => sys.error(
        s"events.ts at $p has unsupported parquet footer type $other " +
          "(expected TIMESTAMP(NANOS)->long or TIMESTAMP(MICROS)->ntz); " +
          "update Tables.eventsTsUnit for the new testdata layout")
    }
  }

  /** Events with a stable two-column time contract regardless of the
    * on-disk unit: `ts` = TIMESTAMP_NTZ at µs precision (floor from ns,
    * matching DuckDB's truncation), `ts_ns` = ns-since-epoch long for
    * exact integer time arithmetic (window frames, gaps, day/hour
    * bucketing). µs→ns is ×1000 and lossless, so every integer-arithmetic
    * consumer is unit-agnostic. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    configure(spark)
    val path = s"$sfDir/events.parquet"
    eventsTsUnit(spark, sfDir) match {
      case "ns" =>
        spark.read.schema(eventsRawSchema).parquet(path)
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case _ =>
        // session tz is pinned UTC, so NTZ→TZ cast is epoch-identity and
        // unix_micros gives the naive wall-clock µs the generator wrote
        spark.read.schema(eventsMicrosSchema).parquet(path)
          .withColumn("ts_ns",
            expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  }
}
