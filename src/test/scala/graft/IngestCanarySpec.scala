package graft

import org.apache.spark.sql.functions._

/** Ingest canary (VERDICT r5 item 2): the round-5 testdata regeneration
  * silently flipped `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS)
  * and the then-hardcoded `div 1000` collapsed the 2024-01 event month into
  * ~43 minutes of 1970 — 37 registry keys hash-missed with no pointed
  * error. This spec fails LOUDLY, naming the detected parquet unit, if a
  * future regen moves the data out of its engineered window again.
  */
class IngestCanarySpec extends SparkSpec {

  test("events.ts lands in 2024-01 for every shipped SF (unit-sniffed read)") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val unit = Tables.eventsTsUnit(spark, dir)
      val r = Tables.events(spark, dir)
        .agg(min("ts").as("lo"), max("ts").as("hi")).head
      val (lo, hi) =
        (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
      val span = java.time.Duration.between(lo, hi)
      assert(lo.getYear == 2024 && hi.getYear == 2024 && span.toDays >= 7,
        s"$sf: events.ts range [$lo, $hi] (span ${span.toHours}h) is outside " +
          s"the engineered 2024-01 month; parquet ts unit detected = '$unit'. " +
          "The driver likely regenerated testdata with a new timestamp " +
          "logical type — teach Tables.eventsTsUnit the new layout.")
    }
  }

  test("row counts per SF match the engineered scale (regen drift alarm)") {
    // Last-observed counts (2026-08-13 regen; FIXTURES.md/BASELINE.md).
    // A future regen that changes SCALE must fail here with a pointed
    // message, not surface as a spread of bench/hash anomalies.
    val expected = Map(
      "sf0.001" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 150L,
        "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L,
        "lineitem" -> 6000L, "documents" -> 500L, "embeddings" -> 500L),
      "sf0.01" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
        "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
        "lineitem" -> 60000L, "documents" -> 500L, "embeddings" -> 500L),
      "sf0.1" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 15000L,
        "supplier" -> 1000L, "part" -> 20000L, "orders" -> 150000L,
        "lineitem" -> 600000L, "documents" -> 5000L, "embeddings" -> 2000L))
    val eventsExpected =
      Map("sf0.001" -> 1000L, "sf0.01" -> 10000L, "sf0.1" -> 100000L)
    for ((sf, tables) <- expected; (t, n) <- tables) {
      val got = Tables.load(spark, s"/root/testdata/$sf", t).count()
      assert(got == n, s"$sf/$t: $got rows, engineered scale was $n — " +
        "testdata regenerated at a different scale; re-profile FIXTURES.md")
    }
    for ((sf, n) <- eventsExpected) {
      val got = Tables.events(spark, s"/root/testdata/$sf").count()
      assert(got == n, s"$sf/events: $got rows, engineered scale was $n")
    }
  }

  test("every declared schema column exists in the parquet footer") {
    // Declared-schema reads NULL-fill columns missing from the file —
    // a regen that renames or drops a column would surface as a spread
    // of null-driven hash misses, not a pointed error. Sniff each
    // footer (schema-inference read, no data scan) and demand every
    // declared field is physically present.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      val declared = Tables.load(spark, s"/root/testdata/$sf", t)
        .schema.fieldNames.toSet
      val inFooter = spark.read
        .parquet(s"/root/testdata/$sf/$t.parquet").schema.fieldNames.toSet
      val missing = declared -- inFooter
      assert(missing.isEmpty,
        s"$sf/$t: declared column(s) $missing absent from the parquet " +
          s"footer (footer has $inFooter) — the generator changed the " +
          "table layout; update Tables schemas before trusting any " +
          "hash results")
    }
  }

  test("ts_ns is exact ns and consistent with ts at µs precision") {
    val ev = Tables.events(spark, sfDir)
      .select(col("ts_ns"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("diff", col("ts_ns") - col("us") * 1000L)
    // ns source: diff = sub-µs remainder in [0, 1000); µs source: exactly 0
    val bad = ev.filter(col("diff") < 0 || col("diff") >= 1000).count()
    assert(bad == 0L, s"$bad rows where ts_ns disagrees with ts beyond µs truncation")
  }
}
