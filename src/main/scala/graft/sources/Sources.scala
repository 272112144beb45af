package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Source abstraction for the ingest edge of the pipeline
  * (SURVEY.md §2.1, §3.5: the reference ingests from a message bus).
  *
  * No broker is reachable from this image, so the production source is an
  * interface with offline-testable implementations: tests use MemoryStream
  * directly (see streaming specs), demos use the rate source, and batch
  * replay reads the parquet events table. A real message-bus connector
  * (e.g. a pulsar/kafka `spark.readStream.format(...)`) drops in as
  * another SourceFactory without touching pipeline code.
  */
trait SourceFactory extends Serializable {
  /** A streaming DataFrame with the events schema:
    * (event_id long, ts timestamp, user_id long, event_type string,
    *  value double, props string). */
  def stream(spark: SparkSession): DataFrame
}

/** Synthetic load via Spark's rate source — deterministic shape, real
  * streaming micro-batches. rowsPerSecond scales load tests. */
class RateSourceFactory(rowsPerSecond: Int = 100) extends SourceFactory {
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 1000).as("user_id"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
            lit("error")),
          (col("value") % 5 + 1).cast("int")).as("event_type"),
        (col("value") % 500).cast("double").as("value"),
        concat(lit("{\"k\": "), col("value") % 100, lit("}")).as("props"))
}

/** Batch replay of the static events table through the same schema —
  * lets every streaming transform be smoke-run in batch mode. `ts` is
  * TIMESTAMP (not the batch tables' TIMESTAMP_NTZ): event-time
  * watermarks accept only TIMESTAMP. */
class ParquetReplaySource(sfDir: String) extends SourceFactory {
  def stream(spark: SparkSession): DataFrame = {
    // files-based streaming read over the same parquet the batch path
    // uses, with the same footer-sniffed ts-unit handling as Tables.events
    graft.Tables.configure(spark)
    // a file stream source watches a directory, and events.parquet is
    // one file: watch the data dir, filtered down to that file
    def read(schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    graft.Tables.eventsTsUnit(spark, sfDir) match {
      case "ns" =>
        read(graft.Tables.eventsRawSchema)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // session tz is pinned UTC, so the NTZ→TZ cast keeps the epoch
        read(graft.Tables.eventsMicrosSchema)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}

/** Corrupt-tolerant JSON ingest — the write-audit-publish guard at the
  * pipeline's edge: PERMISSIVE parsing with an explicit
  * `_corrupt_record` column splits each batch into a clean frame (the
  * declared events schema, corrupt column dropped) and a quarantine
  * frame carrying the raw offending line — malformed bus messages land
  * in a dead-letter table instead of either poisoning the pipeline
  * (FAILFAST) or silently vanishing (DROPMALFORMED). The returned
  * frames share ONE parse pass; a count on the quarantine side is the
  * DQ-gate input (graft q_quality_dq_gate pattern).
  *
  * Two contract notes (ADVICE r6): (1) the shared parse is backed by a
  * cache the CALLER must release — use `audited(...)(f)`, which scopes
  * the cache to the closure and unpersists on the way out, or call
  * `readAudited` and unpersist the returned handle yourself; (2)
  * PERMISSIVE quarantines only lines that are not valid JSON — a
  * structurally valid line MISSING required fields parses to a
  * null-filled row in the clean frame, so schema-incomplete lines must
  * be caught by the downstream DQ gate (e.g. a null-required-column
  * check), not by this splitter. */
object JsonIngest {
  import org.apache.spark.sql.types._

  /** events schema + the corrupt-record capture column. */
  private val auditedSchema = StructType(
    graft.Tables.eventsMicrosSchema.fields :+
      StructField("_corrupt_record", StringType))

  /** One audited parse: the clean/quarantine split plus the `release`
    * hook that unpersists the shared parse cache (ADVICE r6 — nothing
    * released it before). */
  final case class AuditedBatch(clean: DataFrame, quarantine: DataFrame,
      release: () => Unit)

  /** (clean events, quarantined raw lines, cache release hook). */
  def readAudited(spark: SparkSession, path: String): AuditedBatch = {
    val raw = spark.read
      .schema(auditedSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // Spark parses lazily per column: cache so the clean/quarantine
      // split reads one materialization, and because a filter on ONLY
      // the corrupt column over a fresh scan is unsupported (Spark
      // raises UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
      .cache()
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    AuditedBatch(clean, quarantine, () => { raw.unpersist(); () })
  }

  /** Cache-scoped form: runs `f` over the (clean, quarantine) pair and
    * unpersists the shared parse cache before returning — the
    * both-counts-then-release shape a DQ gate actually needs. */
  def audited[T](spark: SparkSession, path: String)(
      f: (DataFrame, DataFrame) => T): T = {
    val b = readAudited(spark, path)
    try f(b.clean, b.quarantine)
    finally b.release()
  }
}
