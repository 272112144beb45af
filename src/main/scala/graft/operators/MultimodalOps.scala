package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (north-star): treat image/audio/video
  * payloads as opaque BINARY columns with typed metadata.
  *
  * No binary testdata ships with the image, so the oracle-checked query
  * materializes a binary column from documents.text (utf-8 bytes — the
  * bytes, lengths, and hashes are identical in both engines) and derives
  * deterministic "decoded" metadata from it. The actual decode/featurize
  * plumbing (schema, partitioning, batch shape, pluggable codec) lives in
  * graft.multimodal.Multimodal with a deterministic fake decoder —
  * real codecs drop in behind the same trait.
  */
object MultimodalOps {
  /** Session-lifetime cache of the 64-byte block inventory
    * (doc_id, bsig, blen) — the shared artifact behind
    * q_multimodal_chunk_dedup / q_multimodal_block_jaccard /
    * q_multimodal_storage_audit. Round 7 built the explode
    * independently per key (3 corpus scans + 3 block explodes per
    * bench pass); the index-artifact rationale is the same as the
    * simhash fingerprint and k-means centroid caches: one build,
    * every consumer starts from the persisted frame. One row per
    * (asset, 64-byte block) with the block's md5 signature and true
    * length (last blocks are partial). Linear — one corpus scan, one
    * explode; the persist is the materialization barrier every consumer
    * reuses. */
  private val blockFrame = Artifact("block_inventory") { (s, d) =>
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, (length(text) - 1) div 64)")).as("blk"))
      .select(col("doc_id"),
        md5(expr("substring(text, blk * 64 + 1, 64)")).as("bsig"),
        least(lit(64), length(col("text")) - col("blk") * 64).as("blen"))
      .persist()
  }

  /** Binary ingestion + metadata extraction: cast text → BINARY, derive
    * byte length, fake-decoded dimensions, and a content signature. All
    * byte-level, so DuckDB's encode() view of the same parquet matches. */
  private val multimodalFeatures: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("asset", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("asset")).as("n_bytes"),
        (length(col("asset")) % 64 + 16).as("width"),
        (length(col("asset")) % 48 + 12).as("height"),
        // channels matches Multimodal.FakeDecoder (single-channel fake);
        // width/height formulas mirror FakeDecoder.decode — keep in sync
        lit(1).as("channels"),
        md5(col("text")).as("sig"))
      .orderBy("doc_id")

  /** Fixed-size block-level dedup over the opaque asset bytes — the
    * storage-dedup primitive for media columns (complementing
    * q_text_chunk_dedup's content-defined chunking): split each asset
    * into 64-byte blocks, fingerprint each block, inventory the blocks
    * shared across assets. Linear (explode → hash-agg on the block
    * signature); at 100 TB the signature groupBy is the only shuffle and
    * blocks dedup-compress media storage exactly like a CAS store. The
    * asset here is the utf-8 text bytes (ASCII ⟹ chars == bytes, so
    * DuckDB's VARCHAR substring sees identical blocks). */
  private val multimodalChunkDedup: Q = (s, d) =>
    blockFrame(s, d)
      .groupBy("bsig")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("n_assets"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_assets") > 1)
      .orderBy("bsig")

  /** Asset↔asset near-dup by block-fingerprint Jaccard — the CAS-store
    * similarity view over q_multimodal_chunk_dedup's inventory: two
    * assets are near-dups when ≥50% of their distinct 64-byte block
    * signatures coincide. Pairs are generated THROUGH the inverted block
    * index (join on bsig — cost Σ per-block k², bounded by block
    * cardinality, never |assets|²; a hot-block cap or minhash-banding
    * composes if a constant block ever dominates). All Jaccard inputs
    * are exact integers, so the double division is bit-identical
    * cross-engine with no rounding step. */
  private val multimodalBlockJaccard: Q = (s, d) => {
    // pin the distinct (doc, bsig) index once (round 10): it feeds BOTH
    // self-join sides and the per-doc size census — unpinned, the
    // distinct shuffle over the cached block inventory ran three times
    // (12 → 8 jobs). Eager checkpoint: the two join sides consume it in
    // parallel stages, the kcore caveat.
    val blocks = blockFrame(s, d)
      .select("doc_id", "bsig")
      .distinct()
      .localCheckpoint()
    val nb = blocks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    blocks.select(col("doc_id").as("a"), col("bsig"))
      .join(blocks.select(col("doc_id").as("b"), col("bsig")), Seq("bsig"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(nb.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(nb.select(col("doc_id").as("b"), col("n").as("nbb")), Seq("b"))
      .withColumn("jacc",
        col("inter") / (col("na") + col("nbb") - col("inter")))
      .filter(col("jacc") >= 0.5)
      .select("a", "b", "jacc")
      .orderBy("a", "b")
  }

  /** CAS-store sizing report — the dedup-savings answer storage
    * engineering actually asks for: how many bytes does block-level
    * dedup save across the asset corpus? One block explode (same shape
    * as q_multimodal_chunk_dedup), a distinct-signature census carrying
    * each block's true length (last blocks are partial), and two 1-row
    * aggregates cross-joined into the report. Exact integers up to the
    * single r6 ratio. */
  private val multimodalStorageAudit: Q = (s, d) => {
    val blocks = blockFrame(s, d).select("bsig", "blen")
    val tot = Tables.documents(s, d).filter(length(col("text")) > 0)
      .agg(count(lit(1)).as("n_assets"),
        sum(length(col("text"))).as("bytes_total"))
    // n_blocks folds into the signature census (Σ occurrences = total
    // block count, exact longs) — the old separate count re-scanned the
    // block inventory and paid one more crossJoin (round 10, 8 → 6)
    val un = blocks.groupBy("bsig")
      .agg(min(col("blen")).as("blen"), count(lit(1)).as("occ"))
      .agg(count(lit(1)).as("n_unique_blocks"),
        sum(col("blen")).as("bytes_unique"),
        sum(col("occ")).as("n_blocks"))
    tot.crossJoin(un)
      .select(col("n_assets"), col("n_blocks"), col("n_unique_blocks"),
        col("bytes_total"), col("bytes_unique"),
        graft.Par.r6(col("bytes_total").cast("double") /
          col("bytes_unique")).as("dedup_ratio"))
  }

  /** Oracle-checked registry face of Multimodal.sampleFrames: every 4th
    * 64-byte frame of each asset, with a per-frame content signature —
    * the video-frame-sampling shape (decode stays behind the Decoder
    * trait; the sampling itself is pure column ops in codegen, linear in
    * payload bytes, no shuffle until the final sort). */
  private val multimodalFrameSample: Q = (s, d) => {
    val assets = Tables.documents(s, d)
      .withColumn("asset", col("text").cast("binary"))
    graft.multimodal.Multimodal.sampleFrames(assets, "asset", 64, 4)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        md5(col("frame")).as("frame_sig"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Perceptual average-hash (aHash) bucketing — the image-near-dup
    * fingerprint, run over the deterministic fake-decode contract (the
    * first 64 "pixels" = byte values of the payload, the FakeDecoder
    * scaling law without the /256): bit_i = pixel_i above the asset's
    * own 64-pixel mean, compared EXACTLY as p_i·64 > Σp (integer cross
    * multiply — no float mean), bits assembled in pixel order into a
    * 64-char fingerprint. Identical-looking assets (the corpus's
    * engineered near-dups) collide; the bucket census is the dedup
    * work-list. Linear: 64 rows per asset, two hash aggregates, no
    * pairwise scan — at 100 TB the buckets feed the same banded-verify
    * machinery as simhash. */
  private val multimodalPhash: Q = (s, d) =>
    // The 64-char '0'/'1' fingerprint string is re-expanded from the
    // shared packed halves (bit i of 64 sits at h1>>(32-i) for i ≤ 32,
    // h2>>(64-i) above) — 64 integer shift-mask ops per asset instead
    // of re-running the explode → sum → re-join bit build the hamming
    // sibling already cached. Output is byte-identical to the round-7
    // direct build (same bits, same order).
    packedFingerprints(s, d)
      .select(col("doc_id"), expr(
        "array_join(transform(sequence(1, 64), i -> CASE WHEN i <= 32" +
          " THEN CAST(shiftright(h1, 32 - i) & 1 AS STRING)" +
          " ELSE CAST(shiftright(h2, 64 - i) & 1 AS STRING) END), '')")
        .as("ahash"))
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("rep_doc"))
      .filter(col("n_assets") >= 2)
      .orderBy("ahash")

  /** Downsample/resize over opaque asset bytes — the "make a thumbnail"
    * step of a multimodal pipeline, on the same stand-in payload as the
    * aHash (first 64 bytes = an 8×8 grayscale tile): 2×2 average-pool
    * to 4×4, pooled value = floor of the 4-byte sum div 4 — pure
    * integer arithmetic, engine-identical. Long-form output (doc_id,
    * cell, pooled) for doc_id < 30 bounds the oracle compare; the plan
    * is corpus-shaped (explode 64 positions → one (doc, cell) hash
    * aggregate — linear, shuffle on doc_id only). A real decoder slots
    * in via multimodal.Multimodal's Decoder the same way. */
  private val multimodalResize: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 30 && length(col("text")) >= 64)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, 63)")).as("i"))
      .select(col("doc_id"),
        expr("CAST((i div 8) div 2 * 4 + (i % 8) div 2 AS BIGINT)")
          .as("cell"),
        ascii(expr("substring(text, i + 1, 1)")).as("v"))
      .groupBy("doc_id", "cell")
      .agg(expr("sum(v) div 4").as("pooled"))
      .orderBy("doc_id", "cell")

  /** Scene-cut detection over opaque video-like assets — the
    * frame-sequence segmentation step a video curation pipeline runs
    * before per-scene sampling (q_multimodal_frame_sample picks WITHIN
    * what this key delimits): consecutive 64-byte frames are compared
    * byte-wise and a pair with more than 59/64 positions changed is a
    * cut (the corpus's frame-to-frame diff distribution spans 44..64
    * with median 60, so the threshold genuinely separates — an
    * all-cuts or no-cuts census would be a dead operator). Per-asset
    * census: pairs, cuts, mean diff ratio. Shape: one frame explode
    * (linear in payload bytes), lag over the per-asset window
    * (partitioned — no global window), zip_with byte compare in
    * codegen; exact integer diffs, and df/64.0 is a power-of-two
    * division so even the mean is exact cross-engine. A real decoder
    * slots in via multimodal.Multimodal's Decoder trait unchanged. */
  private val multimodalSceneCut: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // Frame build is ONE linear pass per asset: a \G-anchored regex
    // split chops the payload into 64-char frames in a single string
    // walk ((?s) so payload newlines stay in-frame; the trailing
    // partial frame is sliced off), vs the round-7 build that
    // evaluated 64 substring(text, f*64+i, 1) calls per frame — each
    // O(position) on UTF8String, O(L²) character touches per asset,
    // BENCH_r07's slowest key at 9.4 s driver-side. The per-pair
    // compare then walks two 64-char frames, not the whole payload.
    val fr = Tables.documents(s, d)
      .filter(length(col("text")) >= 128)
      .select(col("doc_id"),
        posexplode(slice(
          split(col("text"), "(?s)(?<=\\G.{64})"), lit(1),
          expr("CAST(length(text) div 64 AS INT)"))))
      .toDF("doc_id", "f", "fstr")
    val w = Window.partitionBy("doc_id").orderBy("f")
    fr.withColumn("prev", lag(col("fstr"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("df", expr(
        "aggregate(zip_with(split(prev, ''), split(fstr, ''), (x, y) -> " +
          "CASE WHEN x <> y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("df") > 59, 1L).otherwise(0L)).as("n_cuts"),
        graft.Par.r6(expr("avg(df / 64.0)")).as("avg_diff_ratio"))
      .orderBy("doc_id")
  }

  /** Hamming-radius near-dup pairs over the perceptual hash — the
    * operator q_multimodal_phash stops short of: exact-equal aHash
    * buckets catch identical-looking assets, but a re-encoded or
    * slightly-edited image lands a few BITS away, and finding those at
    * scale needs the banded hamming join (the simhash band trick on
    * the image fingerprint): 4 bands × 16 bits — any pair within
    * hamming ≤ 8 of 64 shares at least one exact band (pigeonhole:
    * 8 errors cannot cover 4 bands with ≥1 each... they can; the
    * 4-band/≤8 combination is a RECALL-biased heuristic, not a
    * guarantee — pairs with all 4 bands hit are missed with
    * probability that the spec-pinned candidate census makes visible,
    * exactly like q_dedup_minhash's banding). Candidates from the
    * band-bucket equi-join (5929 of 124 750 possible pairs at sf0.01 —
    * the pruning IS the scale story), then exact 64-position hamming
    * verification ≤ 8. Integer end to end. */
  /** Packed aHash fingerprints (doc_id, h1, h2, b0..b3, barr): two
    * 32-bit BIGINT halves + four 16-bit band ints (exact integer sums
    * of shifted flags), so hamming verification is TWO codegen ops —
    * bit_count(xor) per half — instead of 64 per-position substring
    * compares (the first cut ran 34 s at sf0.1; this shape runs ~3 s).
    *
    * The explode → aggregate → re-join build below is DELIBERATE,
    * not an oversight: a pure-projection build (transform(sequence)
    * + per-column array folds, "zero shuffle") measured 43 s at
    * sf0.1 — CollapseProject inlines the shared varr/st
    * subexpressions into every packed column's lambda, and Spark
    * performs no common-subexpression elimination INSIDE
    * higher-order functions, so the per-asset pixel sum re-evaluates
    * per element per column (~6×64×64 substring calls per row). The
    * aggregate's Exchange is the materialization barrier that keeps
    * each pixel read evaluated once — and since round 8 the persisted
    * frame itself is the barrier both phash keys share. */
  private val packedFingerprints = Artifact("packed_fingerprints") { (s, d) =>
    val px = Tables.documents(s, d).filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, 64)")).as("i"))
      .select(col("doc_id"), col("i"),
        ascii(expr("substring(text, i, 1)")).as("v"))
    val tot = px.groupBy("doc_id").agg(sum(col("v")).as("st"))
    px.join(tot, "doc_id")
      .select(col("doc_id"), col("i"),
        when(col("v") * 64 > col("st"), 1L).otherwise(0L).as("b"))
      .groupBy("doc_id")
      .agg(
        sum(expr("CASE WHEN i <= 32 THEN shiftleft(b, 32 - i)" +
          " ELSE 0 END")).as("h1"),
        sum(expr("CASE WHEN i > 32 THEN shiftleft(b, 64 - i)" +
          " ELSE 0 END")).as("h2"),
        sum(expr("CASE WHEN i <= 16 THEN shiftleft(b, 16 - i)" +
          " ELSE 0 END")).as("b0"),
        sum(expr("CASE WHEN i > 16 AND i <= 32 THEN" +
          " shiftleft(b, 32 - i) ELSE 0 END")).as("b1"),
        sum(expr("CASE WHEN i > 32 AND i <= 48 THEN" +
          " shiftleft(b, 48 - i) ELSE 0 END")).as("b2"),
        sum(expr("CASE WHEN i > 48 THEN shiftleft(b, 64 - i)" +
          " ELSE 0 END")).as("b3"))
      .withColumn("barr", array(col("b0"), col("b1"), col("b2"),
        col("b3")))
      .persist()
  }

  private val multimodalPhashHamming: Q = (s, d) => {
    // Candidates from the band-bucket equi-join over the shared packed
    // frame; pair emission is first-collision (a pair joins only
    // through its LOWEST matching band — the dedupEmbedLsh no-distinct
    // trick), so no wide-row distinct.
    val packed = packedFingerprints(s, d)
    val band = packed.select(col("doc_id"), col("h1"), col("h2"),
        col("barr"), posexplode(col("barr")))
      .withColumnRenamed("pos", "bi").withColumnRenamed("col", "bb")
    band.select(col("doc_id").as("da"), col("h1").as("ah1"),
        col("h2").as("ah2"), col("barr").as("aarr"), col("bi"),
        col("bb"))
      .join(band.select(col("doc_id").as("db"), col("h1").as("bh1"),
        col("h2").as("bh2"), col("barr").as("brr"), col("bi"),
        col("bb")), Seq("bi", "bb"))
      .filter(col("da") < col("db"))
      // first collision: no EARLIER band may also match
      .filter(expr("!exists(zip_with(slice(aarr, 1, bi)," +
        " slice(brr, 1, bi), (x, y) -> x = y), z -> z)"))
      .withColumn("hd", expr("CAST(bit_count(ah1 ^ bh1)" +
        " + bit_count(ah2 ^ bh2) AS INT)"))
      .filter(col("hd") <= 8)
      .select("da", "db", "hd")
      .orderBy("da", "db")
  }

  val declared: Seq[Query] = Seq(
    // phash's bit build → packed 32-bit halves + 16-bit band ints →
    // band-bucket candidates (DISTINCT here ≡ the engine's
    // first-collision emission: same pair set) → bit_count(xor)
    // hamming ≤ 8
    Query("q_multimodal_phash_hamming", multimodalPhashHamming,
      """WITH px AS (
           SELECT doc_id, i,
                  ascii(substring(text, CAST(i AS INTEGER), 1)) AS v
           FROM documents,
                (SELECT unnest(generate_series(1, 64)) AS i) s
           WHERE length(text) >= 64),
         tot AS (SELECT doc_id, sum(v) AS st FROM px GROUP BY doc_id),
         bits AS (SELECT px.doc_id, i,
                         CAST(CASE WHEN v * 64 > st THEN 1 ELSE 0 END
                           AS BIGINT) AS b
                  FROM px JOIN tot USING (doc_id)),
         packed AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN i <= 32 THEN b << (32 - i)
                    ELSE 0 END) AS BIGINT) AS h1,
                  CAST(sum(CASE WHEN i > 32 THEN b << (64 - i)
                    ELSE 0 END) AS BIGINT) AS h2,
                  CAST(sum(CASE WHEN i <= 16 THEN b << (16 - i)
                    ELSE 0 END) AS BIGINT) AS b0,
                  CAST(sum(CASE WHEN i > 16 AND i <= 32 THEN
                    b << (32 - i) ELSE 0 END) AS BIGINT) AS b1,
                  CAST(sum(CASE WHEN i > 32 AND i <= 48 THEN
                    b << (48 - i) ELSE 0 END) AS BIGINT) AS b2,
                  CAST(sum(CASE WHEN i > 48 THEN b << (64 - i)
                    ELSE 0 END) AS BIGINT) AS b3
           FROM bits GROUP BY doc_id),
         band AS (SELECT doc_id, h1, h2, bi,
                         CASE bi WHEN 0 THEN b0 WHEN 1 THEN b1
                                 WHEN 2 THEN b2 ELSE b3 END AS bb
                  FROM packed,
                       (SELECT unnest(generate_series(0, 3)) AS bi) s),
         cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                         a.h1 AS ah1, a.h2 AS ah2,
                         b.h1 AS bh1, b.h2 AS bh2
                  FROM band a JOIN band b ON a.bi = b.bi AND a.bb = b.bb
                                         AND a.doc_id < b.doc_id),
         ham AS (SELECT da, db,
                        CAST(bit_count(xor(ah1, bh1))
                             + bit_count(xor(ah2, bh2)) AS INTEGER)
                          AS hd
                 FROM cand)
         SELECT da, db, hd FROM ham WHERE hd <= 8 ORDER BY da, db""", cap = 5),
    // same consecutive-frame comparisons, indexed by the earlier frame
    // (Spark's lag indexes by the later one — the diff SET per asset is
    // identical and only the census is emitted)
    Query("q_multimodal_scene_cut", multimodalSceneCut,
      """WITH d AS (
           SELECT doc_id, text, length(text) // 64 AS nf
           FROM documents WHERE length(text) >= 128),
         fr AS (SELECT doc_id,
                       CAST(unnest(range(0, nf - 1)) AS INTEGER) AS f,
                       text
                FROM d),
         byt AS (SELECT doc_id, f,
                        CAST(unnest(range(1, 65)) AS INTEGER) AS i, text
                 FROM fr),
         ab AS (SELECT doc_id, f,
                       ascii(substring(text, f * 64 + i, 1)) AS a,
                       ascii(substring(text, (f + 1) * 64 + i, 1)) AS b
                FROM byt),
         diff AS (SELECT doc_id, f,
                         sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS df
                  FROM ab GROUP BY doc_id, f)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN df > 59 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cuts,
                floor((avg(df / 64.0)) * 1000000 + 0.5) / 1000000.0
                  AS avg_diff_ratio
         FROM diff GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_multimodal_resize", multimodalResize,
      """WITH px AS (
           SELECT doc_id, i,
                  (i // 8) // 2 * 4 + (i % 8) // 2 AS cell,
                  ascii(substring(text, i + 1, 1)) AS v
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) s
           WHERE doc_id < 30 AND length(text) >= 64)
         SELECT doc_id, cell, CAST(sum(v) // 4 AS BIGINT) AS pooled
         FROM px GROUP BY doc_id, cell
         ORDER BY doc_id, cell"""),
    Query("q_multimodal_phash", multimodalPhash,
      """WITH px AS (
           SELECT doc_id, i, ascii(substring(text, i, 1)) AS v
           FROM documents
           CROSS JOIN (SELECT CAST(unnest(generate_series(1, 64)) AS INT)
                         AS i)
           WHERE len(text) >= 64),
         tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS st
                 FROM px GROUP BY doc_id),
         bits AS (SELECT doc_id,
                         string_agg(CASE WHEN v * 64 > st THEN '1'
                                         ELSE '0' END, ''
                                    ORDER BY i) AS ahash
                  FROM px JOIN tot USING (doc_id) GROUP BY doc_id)
         SELECT ahash, CAST(count(*) AS BIGINT) AS n_assets,
                min(doc_id) AS rep_doc
         FROM bits GROUP BY ahash HAVING count(*) >= 2
         ORDER BY ahash"""),
    Query("q_multimodal_frame_sample", multimodalFrameSample,
      """WITH a AS (SELECT doc_id, text,
                           CAST(length(text) // 64 AS INT) AS n_frames
                    FROM documents WHERE length(text) >= 64),
         f AS (SELECT doc_id, n_frames, text,
                      CAST(unnest(range(0, n_frames, 4)) AS INT)
                        AS frame_idx
               FROM a)
         SELECT doc_id, n_frames, frame_idx,
                md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_sig
         FROM f ORDER BY doc_id, frame_idx"""),
    Query("q_multimodal_storage_audit", multimodalStorageAudit,
      """WITH blocks AS (
           SELECT md5(substring(text, blk * 64 + 1, 64)) AS bsig,
                  least(64, length(text) - blk * 64) AS blen
           FROM (SELECT doc_id, text,
                        unnest(generate_series(0,
                          (length(text) - 1) // 64)) AS blk
                 FROM documents WHERE length(text) > 0) t),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_assets,
                        CAST(sum(length(text)) AS BIGINT) AS bytes_total
                 FROM documents WHERE length(text) > 0),
         bl AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM blocks),
         un AS (SELECT CAST(count(*) AS BIGINT) AS n_unique_blocks,
                       CAST(sum(blen) AS BIGINT) AS bytes_unique
                FROM (SELECT bsig, min(blen) AS blen FROM blocks
                      GROUP BY bsig) u)
         SELECT n_assets, n_blocks, n_unique_blocks, bytes_total,
                bytes_unique,
                floor((CAST(bytes_total AS DOUBLE) / bytes_unique)
                  * 1000000 + 0.5) / 1000000.0 AS dedup_ratio
         FROM tot CROSS JOIN bl CROSS JOIN un""", cap = 6),
    Query("q_multimodal_block_jaccard", multimodalBlockJaccard,
      """WITH b AS (
           SELECT DISTINCT doc_id,
                  md5(substring(text, blk * 64 + 1, 64)) AS bsig
           FROM (SELECT doc_id, text,
                        unnest(generate_series(0,
                          (length(text) - 1) // 64)) AS blk
                 FROM documents WHERE length(text) > 0) t),
         nb AS (SELECT doc_id, count(*) AS n FROM b GROUP BY doc_id),
         pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                FROM b x JOIN b y ON x.bsig = y.bsig AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
         SELECT a, b, inter / (na.n + nbb.n - inter) AS jacc
         FROM pr
         JOIN nb na ON na.doc_id = pr.a
         JOIN nb nbb ON nbb.doc_id = pr.b
         WHERE inter / (na.n + nbb.n - inter) >= 0.5
         ORDER BY a, b""", cap = 10),
    Query("q_multimodal_chunk_dedup", multimodalChunkDedup,
      """SELECT bsig, count(*) AS occurrences,
                count(DISTINCT doc_id) AS n_assets,
                min(doc_id) AS first_doc
         FROM (SELECT doc_id,
                      md5(substring(text, blk * 64 + 1, 64)) AS bsig
               FROM (SELECT doc_id, text,
                            unnest(generate_series(0,
                              (length(text) - 1) // 64)) AS blk
                     FROM documents WHERE length(text) > 0) t) u
         GROUP BY bsig HAVING count(DISTINCT doc_id) > 1
         ORDER BY bsig"""),
    Query("q_multimodal_features", multimodalFeatures,
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER)
                  AS width,
                CAST(octet_length(encode(text)) % 48 + 12 AS INTEGER)
                  AS height,
                1 AS channels,
                md5(text) AS sig
         FROM documents ORDER BY doc_id"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
