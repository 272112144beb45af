package graft.operators

import graft.{Artifact, Tables}
import org.apache.spark.sql.functions._

/** Dictionary-encoded token-set bitmaps: each doc's distinct-token set
  * packed into ⌈|vocab|/64⌉ 64-bit words. Set intersection/union become
  * `bit_count(x & y)` folds — integer ops inside WholeStageCodegen —
  * instead of per-pair string-array hashing. Exact (not approximate): the
  * dictionary assigns every token a unique bit.
  *
  * Scale: the dictionary is |vocab| rows (bounded, broadcastable — at
  * 100 TB you'd build it offline like any vocab and bucket-join if it
  * outgrew broadcast). Dense alphabetical ids are assigned by global sort
  * + RDD zipWithIndex — the classic two-pass distributed rank (per-
  * partition counts, then per-partition contiguous offsets), NOT a global
  * single-partition window: a 1M-token vocab never serializes through one
  * task. The dictionary (and the bitmap frame built from it) is persisted
  * and reused across every query in the session that shares the same
  * (data dir, tokenizer), so multi-query runs (Verify, Bench, the three
  * dedup queries) build each dictionary exactly once. Word count scales
  * as vocab/64 — a 1M-token vocab is a 16 KB bitmap per doc, at which
  * point MinHash (q_dedup_minhash) takes over as the candidate generator
  * and this stays the verifier.
  */
object TokenBitmap {

  /** Word-bigram shingles as array<string> (SQL, engine-portable shape).
    * Used as a `tokens()` key; the actual evaluation goes through the
    * window-lead fast path below. */
  private[graft] val bigramExpr =
    """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
      |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
      |         (a, b) -> concat(a, ' ', b))""".stripMargin

  /** The tokenizers the registry builds token sets with: unigrams and
    * word bigrams (q_dedup_ngram). */
  private[graft] val unigrams = "split(text, ' ')"
  private val tokenizers = Seq(unigrams, bigramExpr)

  /** One row per (doc_id, distinct token), persisted per (session, dir,
    * tokenizer): the tokenizer expression can be genuinely expensive (the
    * bigram shingler is three interpreted higher-order lambdas per doc),
    * and every consumer — dictionary build, bitmap build, minhash
    * signatures — starts from this frame, so it is evaluated exactly once
    * per session. (A codegen'd posexplode+lead window formulation was
    * benchmarked for the bigram path and lost: at bench corpus sizes the
    * two extra shuffles' fixed overhead exceeds the lambda cost; at
    * 100 TB the same cached-once linear pass still holds.) */
  private[graft] val tokens = Artifact("tokens", tokenizers) {
    (s, d, tokensExpr: String) => Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(expr(tokensExpr))).as("tok"))
      .persist()
  }

  /** (tok, id) dictionary with dense deterministic alphabetical ids,
    * plus the derived bitmap word count. Built once per (session, dir,
    * tokenizer) and persisted; the one driver-side action (zipWithIndex's
    * offset pass + the sizing count on the persisted result) is paid once,
    * not per query build. */
  val vocab = Artifact("vocab", tokenizers) { (s, d, tokensExpr: String) =>
    // df.sort = globally range-partitioned sorted layout; zipWithIndex
    // numbers partitions in order → id = alphabetical rank, whatever
    // the partition boundaries were.
    val sorted = tokens(s, d, tokensExpr).select("tok").distinct()
      .sort("tok")
    val ids = sorted.rdd.zipWithIndex()
      .map { case (r, i) => (r.getString(0), i) }
    val vdf = s.createDataFrame(ids).toDF("tok", "id").persist()
    val n = vdf.count()
    (vdf, math.max(1L, (n + 63) / 64).toInt)
  }

  /** (doc_id, bm: array<bigint>, sz: int) — bitmap + distinct-token count.
    * `tokensExpr` is any SQL expression producing array<string> from `text`
    * (unigrams, or word-bigram shingles for q_dedup_ngram). Persisted
    * per (session, dir, tokenizer): the minhash verifier and the exact
    * near-dup baseline share one build. */
  val bitmaps = Artifact("bitmaps", tokenizers) { (s, d, tokensExpr: String) =>
    val (vdf, nWords) = vocab(s, d, tokensExpr)
    tokens(s, d, tokensExpr)
      .join(broadcast(vdf), Seq("tok"))
      .withColumn("w", expr("CAST(id div 64 AS INT)"))
      .withColumn("bit", expr("shiftleft(1L, CAST(id % 64 AS INT))"))
      .groupBy("doc_id", "w")
      .agg(expr("bit_or(bit)").as("bits"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("wm"))
      .withColumn("bm",
        expr(s"transform(sequence(0, ${nWords - 1}), i -> coalesce(wm[i], 0L))"))
      .withColumn("sz",
        expr("aggregate(bm, 0, (acc, x) -> acc + bit_count(x))"))
      .select("doc_id", "bm", "sz")
      .persist()
  }

  /** |A ∩ B| via the native fused-loop expression
    * (graft.functions.BitmapIntersectCount). */
  def intersectExpr(a: String, b: String): String =
    s"graft_bitmap_inter($a, $b)"
}
