package graft.operators

import graft.{Artifact, Query, Tables}
import graft.Query.Q
import graft.Par.{r2, r4, r6, sql => rsql}
import TokenBitmap.unigrams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text / search / LLM-pipeline operators (SURVEY.md §2.9 + the north-star
  * text-analysis set: language-ID, quality scoring, token counting, document
  * fingerprinting).
  *
  * Scale design: every operator is explode → hash-aggregate, keyed on token
  * or doc_id — linear work, map-side combinable, no O(n²) anywhere except
  * q_dedup_near whose brute-force form is deliberately the *exact* baseline
  * (the scalable MinHash-LSH variant is q_dedup_minhash in DedupOps; same
  * contract, banded candidate generation instead of all-pairs).
  */
object TextOps {
  private def toks(c: String = "text") = split(col(c), " ")

  /** Token frequency — the ETL hello-world; map-side partial agg makes the
    * shuffle 31 rows here and |vocab| rows at any scale. */
  private val wordcount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(toks()).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy("token")

  /** Top-5 terms per lang — term-frequency ranking (suggestion index). */
  private val tfTop: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
    Tables.documents(s, d)
      .select(col("lang"), explode(toks()).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  /** Word bigrams per doc via lead() over token position — no self-join. */
  private val ngram: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
      .withColumn("nxt", lead(col("token"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("bigram", concat_ws(" ", col("token"), col("nxt")))
      .select("doc_id", "pos", "bigram")
      .orderBy("doc_id", "pos")
  }

  /** Unicode NFC normalization (graft_nfc, a native codegen Expression
    * matching DuckDB's nfc_normalize) — the ingest-time canonicalization
    * that makes visually-identical text from different sources hash
    * together. The corpus is ASCII (NFC-invariant fast path), so each
    * row gets a deterministic decomposed suffix appended (e + combining
    * acute, A + combining ring) to prove real composition happens:
    * len_nfc comes back 2 code points shorter and the md5 is over the
    * composed form. Pure map-side projection. */
  private val textNfc: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("raw", concat(substring(col("text"), 1, 16),
        lit(" cafe\u0301 A\u030A")))
      .select(col("doc_id"),
        length(col("raw")).cast("bigint").as("len_raw"),
        length(expr("graft_nfc(raw)")).cast("bigint").as("len_nfc"),
        md5(expr("graft_nfc(raw)")).as("h"))
      .orderBy("doc_id")

  private val SpanLen = 8

  /** Exact repeated-span detection — the sliding-window form of
    * substring dedup for training corpora (find verbatim 8-token spans
    * shared across documents; the fixed-boundary complement is
    * q_text_chunk_dedup's content-defined chunks). Every token position
    * opens a span via 7 stacked lead() columns over one per-doc window —
    * a single token pass, no self-join, linear in corpus tokens; the
    * cross-doc aggregate shuffles on the span string (at 100 TB, on its
    * hash). Top-20 most-repeated cross-doc spans. */
  private val spanDedup: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until SpanLen).map(k =>
      lead(col("token"), k).over(w).as(s"t$k"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
      .select(Seq(col("doc_id"), col("pos"), col("token")) ++ leads: _*)
      .filter(col(s"t${SpanLen - 1}").isNotNull)
      .withColumn("span", concat_ws(" ",
        col("token") +: (1 until SpanLen).map(k => col(s"t$k")): _*))
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("span"))
      .limit(20)
  }

  /** Content-defined chunking — the block-level dedup primitive of
    * training-data pipelines: chunk boundaries are a pure function of
    * CONTENT (a token is a boundary when its md5 starts with hex '0',
    * expected chunk ≈ 16 tokens), so inserting text into a document only
    * re-chunks the neighborhood instead of shifting every block, and
    * identical passages in different documents yield identical chunk
    * fingerprints. Plan: posexplode → boundary flag → running sum per doc
    * (window) → per-chunk ordered fingerprint — linear, partitioned by
    * doc_id, no joins. Output: duplicated chunks across the corpus
    * (fingerprint, occurrence count, distinct docs), the direct input to
    * chunk-level dedup. */
  private val chunkDedup: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
      .withColumn("boundary",
        when(substring(md5(col("token")), 1, 1) === "0", 1L).otherwise(0L))
      .withColumn("chunk", sum(col("boundary")).over(w))
      .groupBy("doc_id", "chunk")
      .agg(expr(
        """md5(array_join(transform(array_sort(collect_list(struct(pos, token))),
          |x -> x.token), ' '))""".stripMargin).as("chunk_fp"),
        count(lit(1)).as("n_toks"))
    chunks.groupBy("chunk_fp")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("n_toks")).as("n_toks"))
      .filter(col("occurrences") >= 2)
      .orderBy("chunk_fp")
  }

  /** Autocomplete: top-10 tokens for prefix 's' by frequency — the
    * reference's suggestion serving query (BASELINE.json:6). */
  private val prefixSuggest: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(toks()).as("token"))
      .filter(col("token").startsWith("s"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(10)

  /** Suggestion-quality evaluation (MRR@10 / hit@1 / hit@10) — the
    * eval harness for the suggestion index the reference serves: build
    * the per-prefix top-10 from EVEN doc_ids (the "index" split), query
    * it with every (prefix, token) occurrence from ODD doc_ids (the
    * held-out traffic), score each query 1/rank of its true token.
    * Exactness: each query's contribution is weight·(2520/rank) — 2520
    * = lcm(1..10) makes every reciprocal an INTEGER, so the MRR
    * numerator sums exactly in any partition order and only the final
    * normalization divides. |vocab|-bounded index join, linear scan of
    * the query side. */
  private val suggestEval: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val idx = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(toks()).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("prefix", substring(col("token"), 1, 1))
    val w = Window.partitionBy("prefix")
      .orderBy(col("cnt").desc, col("token"))
    val top = idx.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("prefix"), col("token").as("sug"), col("rank"))
    val queries = docs.filter(col("doc_id") % 2 === 1)
      .select(explode(toks()).as("token"))
      .groupBy("token").agg(count(lit(1)).as("weight"))
      .withColumn("prefix", substring(col("token"), 1, 1))
    queries
      .join(top, queries("prefix") === top("prefix") &&
        queries("token") === top("sug"), "left")
      .agg(sum(col("weight")).as("n_queries"),
        coalesce(sum(when(col("rank") === 1, col("weight"))), lit(0L))
          .as("n_hit1"),
        coalesce(sum(when(col("rank").isNotNull, col("weight"))), lit(0L))
          .as("n_hit10"),
        coalesce(sum(when(col("rank").isNotNull,
          col("weight") * expr("CAST(2520 div rank AS BIGINT)"))),
          lit(0L)).as("mrr_num"))
      .select(col("n_queries"), col("n_hit1"), col("n_hit10"),
        r6(col("n_hit1").cast("double") / col("n_queries")).as("hit1"),
        r6(col("n_hit10").cast("double") / col("n_queries")).as("hit10"),
        r6(col("mrr_num").cast("double") /
          (lit(2520.0) * col("n_queries"))).as("mrr"))
  }

  private val fuzzyQueries = Seq("spakr", "qurey", "fst", "mrege", "joni")

  /** Edit-distance-tolerant autocomplete — the fuzzy half of the
    * suggestion serving surface (q_text_prefix_suggest is the exact
    * half): top-3 vocabulary tokens per misspelled query, ranked by
    * (distance, frequency). The query set broadcasts against the
    * frequency-aggregated vocabulary, so matching is |queries| × |vocab|
    * — vocab-linear, never corpus-quadratic; at real scale the vocabulary
    * side is the prebuilt suggestion index this library's pipeline
    * already materializes. */
  private val fuzzySuggest: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(toks()).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val qdf = s.createDataFrame(fuzzyQueries.map(Tuple1(_))).toDF("qs")
    val w = Window.partitionBy("qs")
      .orderBy(col("dist"), col("cnt").desc, col("token"))
    vocab.crossJoin(broadcast(qdf))
      .withColumn("dist", levenshtein(col("token"), col("qs")))
      .filter(col("dist") <= 2)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("qs", "rn", "token", "cnt", "dist")
      .orderBy("qs", "rn")
  }

  /** SymSpell spell correction — the 100 TB path for the fuzzy half of
    * the suggestion surface: q_text_fuzzy_suggest brute-forces
    * |queries|×|vocab| levenshtein calls, which dies when the query log
    * is corpus-sized; SymSpell precomputes DELETE-ONLY variants (depth
    * ≤2) of both sides and equi-joins on the variant string — ed(q,v)≤2
    * guarantees a shared delete variant, so the join is a complete
    * candidate generator and exact levenshtein runs only per candidate.
    * Variant expansion is ~len²/2 rows per token (bounded, shuffle on
    * the variant key); the final ranking law is identical to
    * fuzzy_suggest, and the ORACLE IS fuzzy_suggest's brute-force SQL —
    * a hash-match is a completeness proof for the candidate generator
    * (the q_dedup_prefix_filter pattern). */
  private val symspell: Q = (s, d) => {
    def del1(src: String): String =
      s"transform(sequence(0, length($src)), i -> CASE WHEN i = 0" +
        s" THEN $src ELSE substring($src, 1, i - 1)" +
        s" || substring($src, i + 1) END)"
    val vocab = Tables.documents(s, d)
      .select(explode(toks()).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val vv = vocab
      .withColumn("v1", explode(expr(del1("token"))))
      .withColumn("v", explode(expr(del1("v1"))))
      .select("token", "cnt", "v").distinct()
    val qdf = s.createDataFrame(fuzzyQueries.map(Tuple1(_))).toDF("qs")
    val qv = qdf
      .withColumn("v1", explode(expr(del1("qs"))))
      .withColumn("v", explode(expr(del1("v1"))))
      .select("qs", "v").distinct()
    val w = Window.partitionBy("qs")
      .orderBy(col("dist"), col("cnt").desc, col("token"))
    vv.join(broadcast(qv), Seq("v"))
      .select("qs", "token", "cnt").distinct()
      .withColumn("dist",
        levenshtein(col("token"), col("qs")).cast("int"))
      .filter(col("dist") <= 2)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("qs", "rn", "token", "cnt", "dist")
      .orderBy("qs", "rn")
  }

  /** Exact dedup by content hash, keep min doc_id per group. */
  private val dedupExact: Q = (s, d) => {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("fp", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Near-duplicate pairs: token-set Jaccard ≥ 0.8 — exact all-pairs
    * baseline with a size-ratio prefilter (J ≥ 0.8 ⟹ |A|,|B| within 1.25×).
    * Token sets are dictionary-encoded into packed 64-bit bitmap words
    * (TokenBitmap) so the per-pair intersection is a bit_count fold —
    * integer ops, bit-identical Jaccard across engines. O(n²) pairs by
    * design (the oracle-checkable ground truth); q_dedup_minhash is the
    * banded LSH path that scales. */
  /** Input-row ceiling for the two exact all-pairs baselines
    * (q_dedup_near, q_dedup_containment). Below it the deliberate
    * cartesian ground-truth plan runs (oracle-checkable, pair count
    * ≤ ceiling²/2 bitmap-ANDs); above it the key FLIPS to the
    * prefix-filtered plan with the identical declared output, so an
    * unnoticed corpus-size bump can never make either key silently
    * quadratic (VERDICT r7 item 3 — the DriverCcEdgeThreshold
    * pattern). The count probe reads the session-persisted bitmap
    * frame, so the guard costs one cached count, not a scan. Var (not
    * val) so the flip-boundary spec can pin both plans equal. */
  private[graft] var AllPairsRowCeiling = 50000L

  /** The exact ≥0.8 Jaccard pair set — a SESSION ARTIFACT since round
    * 11, like the verified-pair caches the LSH paths already hold: it
    * is the ground truth q_eval_minhash_recall audits against, and
    * both consumers re-ran the (ceiling-guarded) pair join per
    * evaluation (near 5 + recall 7 → 2 + 4 jobs, A/B'd). The cache key
    * CARRIES the ceiling, so the flip-boundary spec's ceiling override still
    * executes the banded plan instead of reading the sub-ceiling
    * cache. */
  private val nearPairsCached = Artifact("near_pairs", Seq(AllPairsRowCeiling)) {
    (s, d, ceiling: Long) => nearPairsBuild(s, d, ceiling).persist()
  }

  private def nearPairsBuild(s: SparkSession, d: String,
      ceiling: Long): DataFrame =
    if (TokenBitmap.bitmaps(s, d, unigrams).count() > ceiling)
      dedupPrefixFilter(s, d) // identical declared output, banded plan
    else dedupNearAllPairs(s, d)

  private[operators] def nearPairs(s: SparkSession, d: String): DataFrame =
    nearPairsCached(s, d, AllPairsRowCeiling)

  private val dedupNear: Q = (s, d) =>
    nearPairs(s, d).orderBy("a", "b")

  private val dedupNearAllPairs: Q = (s, d) => {
    val base = TokenBitmap.bitmaps(s, d, unigrams)
    val a = base.select(col("doc_id").as("a"), col("bm").as("ba"),
      col("sz").as("sa"))
    val b = base.select(col("doc_id").as("b"), col("bm").as("bb"),
      col("sz").as("sb"))
    // Jaccard test in the join condition, ordered after the cheap
    // guards (round 12) — same pushed-predicate inversion as the
    // prefix-filtered twin below: as a post-join filter it was
    // PREPENDED to the condition and the bitmap fold ran before the
    // id/size-band short-circuits on every enumerated pair.
    val interC = expr(TokenBitmap.intersectExpr("ba", "bb"))
    a.join(b, col("a") < col("b") &&
        col("sa") * 4 <= col("sb") * 5 && col("sb") * 4 <= col("sa") * 5 &&
        interC / (col("sa") + col("sb") - interC) >= 0.8)
      .withColumn("inter", expr(TokenBitmap.intersectExpr("ba", "bb")))
      .withColumn("jacc",
        col("inter") / (col("sa") + col("sb") - col("inter")))
      .select(col("a"), col("b"), r6(col("jacc")).as("jacc_r"))
      .orderBy("a", "b")
  }

  /** PPJoin-style prefix-filtered set-similarity self-join — the
    * candidate-pruned twin of q_dedup_near with the identical declared
    * output (unigram Jaccard ≥ 0.8 pairs within the 0.8 size-ratio
    * band). Tokens get a global (document-frequency asc, token) order;
    * for J(x,y) ≥ τ the first |x|−⌈τ|x|⌉+1 tokens of x and
    * |y|−⌈τ|y|⌉+1 of y under any shared total order must intersect
    * (pigeonhole on the τ·max(|x|,|y|) required overlap), so an
    * inverted index over PREFIX tokens only is a complete candidate
    * generator — and because the prefix keeps the rarest tokens, the
    * index fanout collapses relative to indexing every token. The
    * oracle is the exact all-pairs SQL: a green row proves the pruning
    * lost nothing. */
  private val dedupPrefixFilter: Q = (s, d) => {
    val tau = 0.8
    // Completeness needs ANY shared total token order; the vocab's
    // alphabetical ids are that order for free. The prefix check is a
    // packed bitmap: each doc's |x|−⌈τ|x|⌉+1 first tokens as set bits,
    // so "prefixes intersect" is a one-AND-per-word integer predicate
    // evaluated inside the join's codegen stage, and each pair is
    // enumerated exactly once (no postings fanout, no distinct).
    //
    // Why not the classic token-postings self-join here: this corpus
    // has a ~40-token vocabulary and 23 distinct tokens per doc, so the
    // prefix postings produce 45M candidate ROWS at sf0.1 (measured;
    // 3.6× the 12.5M size-ratio pairs) — prefix postings only pay off
    // on Zipfian vocabularies where prefixes are rare tokens. The
    // candidate SET is identical either way (pairs whose prefixes
    // intersect); at 100 TB with a real vocab, swap the enumeration to
    // the token-hash-partitioned postings join and keep this verify.
    val (vdf, nWords) = TokenBitmap.vocab(s, d, unigrams)
    val pm = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(toks()).as("ts"))
      .withColumn("pl",
        (size(col("ts")) - ceil(size(col("ts")) * tau) + 1).cast("int"))
      .select(col("doc_id"),
        explode(slice(array_sort(col("ts")), lit(1), col("pl"))).as("tok"))
      .join(broadcast(vdf), Seq("tok"))
      .withColumn("w", expr("CAST(id div 64 AS INT)"))
      .withColumn("bit", expr("shiftleft(1L, CAST(id % 64 AS INT))"))
      .groupBy("doc_id", "w").agg(expr("bit_or(bit)").as("bits"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("wm"))
      .withColumn("pm",
        expr(s"transform(sequence(0, ${nWords - 1}), i -> coalesce(wm[i], 0L))"))
      .select("doc_id", "pm")
    // pin the (bitmap ⋈ prefix-map) frame once (round 10): it feeds
    // both self-join sides, and unpinned the whole prefix-bitmap build
    // (explode + two groupBys) ran twice — once per side (11 → 8 jobs).
    // Eager: the two sides consume it in parallel stages.
    val base = TokenBitmap.bitmaps(s, d, unigrams).join(pm, Seq("doc_id"))
      .localCheckpoint()
    val a = base.select(col("doc_id").as("a"), col("bm").as("ba"),
      col("sz").as("sa"), col("pm").as("pa"))
    val b = broadcast(base.select(col("doc_id").as("b"), col("bm").as("bb"),
      col("sz").as("sb"), col("pm").as("pb")))
    // The Jaccard test lives IN the join condition, ORDERED LAST (round
    // 12): written as a post-join filter, PushPredicateThroughJoin
    // PREPENDS it to the condition, so the full-bitmap intersection ran
    // FIRST for every one of the ~n²/2 enumerated pairs and the cheap
    // id/size-band/prefix-AND guards never short-circuited it — the
    // exact inversion of what a prefix filter is for (And short-circuits
    // left-to-right in codegen; at 100 TB vocab the full-bitmap fold is
    // the wide one). The survivors' output jacc is recomputed in the
    // projection — same integer fold, same division, bit-identical.
    val interC = expr(TokenBitmap.intersectExpr("ba", "bb"))
    a.join(b, col("a") < col("b") &&
        col("sa") * 4 <= col("sb") * 5 && col("sb") * 4 <= col("sa") * 5 &&
        expr(TokenBitmap.intersectExpr("pa", "pb")) > 0 &&
        interC / (col("sa") + col("sb") - interC) >= 0.8)
      .withColumn("inter", expr(TokenBitmap.intersectExpr("ba", "bb")))
      .withColumn("jacc",
        col("inter") / (col("sa") + col("sb") - col("inter")))
      .select(col("a"), col("b"), r6(col("jacc")).as("jacc_r"))
      .orderBy("a", "b")
  }

  /** Exact phrase search through a positional inverted index — the
    * search-engine primitive a text-search ETL serves. Each phrase term
    * i keeps its postings (doc_id, position − i); shifting by the term
    * offset turns adjacency into a plain equi-join on (doc_id, anchor),
    * so an N-term phrase is N−1 hash joins over token-filtered postings
    * — never a scan of full text at query time. Postings are pruned to
    * the phrase's terms before any shuffle (predicate pushdown does the
    * rest), which is what makes the plan hold on a 100 TB corpus. */
  private val phraseTerms = Seq("hash", "join")
  private val phraseSearch: Q = (s, d) => {
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .toDF("doc_id", "p", "token")
    phraseTerms.zipWithIndex.map { case (t, i) =>
      pos.filter(col("token") === t)
        .select(col("doc_id"), (col("p") - i).as("anchor"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Boolean retrieval (AND / AND NOT) over the doc-level inverted
    * index: conjunction = inner joins of per-term doc lists, negation =
    * one anti join — all equi-joins on doc_id, each side pre-filtered
    * to a single term's postings. Result re-joins the doc dimension for
    * fielded output. */
  private val booleanSearch: Q = (s, d) => {
    val tokSet = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(toks())).as("token"))
    def docsWith(t: String) =
      tokSet.filter(col("token") === t).select("doc_id")
    docsWith("spark")
      .join(docsWith("vector"), Seq("doc_id"))
      .join(docsWith("dup"), Seq("doc_id"), "left_anti")
      .join(Tables.documents(s, d).select("doc_id", "lang", "source"),
        Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** Lexicon-scored sentiment per doc (pluggable lexicon; tokens outside
    * the lexicon score 0 so the mean is over all tokens). */
  private val sentiment: Q = (s, d) => {
    val lex = s.createDataFrame(sentimentLexicon)
      .toDF("token", "score")
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("token"))
      .join(broadcast(lex), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(r6(avg(coalesce(col("score"), lit(0.0)))).as("sentiment"))
      .orderBy("doc_id")
  }

  private val sentimentLexicon: Seq[(String, Double)] = Seq(
    "fast" -> 2.0, "big" -> 1.0, "merge" -> 1.0, "value" -> 1.0,
    "spark" -> 1.0, "slow" -> -2.0, "dup" -> -2.0, "filter" -> -1.0,
    "small" -> -1.0)

  /** n-gram/lexicon-vote language ID. The lexicon is the pluggable part —
    * real deployments load per-language stopword profiles; the voting,
    * argmax, and tie-breaking machinery is what's exercised here. */
  /** (doc_id, lang, pred_lang) — the prediction frame shared by
    * q_text_langid and its confusion-matrix eval (round 11: the eval
    * re-joined documents to recover the `lang` this frame already
    * carries — one documents scan+join saved, langid_eval 10 → 9
    * jobs). */
  private def langidPred(s: SparkSession, d: String): DataFrame = {
    val lex = s.createDataFrame(langLexicon).toDF("token", "lex_lang")
    val docs = Tables.documents(s, d)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("votes").desc, col("lex_lang"))
    val votes = docs
      .select(col("doc_id"), explode(toks()).as("token"))
      .join(broadcast(lex), Seq("token"))
      .groupBy("doc_id", "lex_lang")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lex_lang"))
    docs.select("doc_id", "lang")
      .join(votes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("lex_lang"), lit("und")).as("pred_lang"))
  }

  private val langid: Q = (s, d) =>
    langidPred(s, d)
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_correct"))
      .orderBy("doc_id")

  private val langLexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "data" -> "zh", "value" -> "zh",
    "line" -> "es", "order" -> "es", "group" -> "de", "window" -> "de",
    "query" -> "fr", "table" -> "fr")

  /** Heuristic quality score: token count, avg token length, stopword
    * ratio, duplicate-token ratio → weighted score. Pure column arithmetic
    * (higher-order array functions, no explode, no shuffle). */
  /** Token stats feeding the heuristic quality score — ONE definition
    * shared by q_text_quality and the curation pipeline
    * (DedupOps q_pipeline_curate), on both sides of the oracle boundary
    * (scoreSql / statsColsSql are the DuckDB mirror fragments). */
  private[graft] def withQualityStats(df: DataFrame): DataFrame = df
    .withColumn("toksArr", toks())
    .withColumn("n_tok", size(col("toksArr")))
    .withColumn("n_stop",
      size(expr("filter(toksArr, t -> t = 'the' OR t = 'a')")))
    .withColumn("n_uniq", size(array_distinct(col("toksArr"))))

  private[graft] def qualityScore =
    lit(0.3) * log(col("n_tok")) -
      lit(0.5) * (col("n_stop") / col("n_tok")) -
      lit(0.2) * (lit(1) - col("n_uniq") / col("n_tok").cast("double"))

  private[operators] val qualityStatsColsSql =
    """len(string_split(text, ' ')) AS n_tok,
       len(list_filter(string_split(text, ' '),
           t -> t = 'the' OR t = 'a')) AS n_stop,
       len(list_distinct(string_split(text, ' '))) AS n_uniq"""

  private[operators] val qualityScoreSql =
    """0.3 * ln(n_tok) - 0.5 * (n_stop / n_tok)
       - 0.2 * (1 - n_uniq / CAST(n_tok AS DOUBLE))"""

  private val quality: Q = (s, d) =>
    withQualityStats(Tables.documents(s, d))
      .select(
        col("doc_id"), col("n_tok"),
        r6((col("n_chars") - (col("n_tok") - 1)) / col("n_tok"))
          .as("avg_tok_len"),
        r6(col("n_stop") / col("n_tok")).as("stop_ratio"),
        r6(lit(1) - col("n_uniq") / col("n_tok").cast("double"))
          .as("dup_ratio"),
        r6(qualityScore).as("quality"))
      .orderBy("doc_id")

  /** Quality GATE with reasons — the filter report a curation pipeline
    * actually ships: each doc gets its first failing rule (too_short →
    * no_stopwords → repetitive) or 'keep', so corpus owners see WHY
    * volume was dropped, not just how much. Rule order is part of the
    * contract (a 10-token stopword-free doc reports too_short). Same
    * shared token stats as q_text_quality; pure projection + one
    * aggregate, no shuffle beyond the 4-row rollup. */
  private val qualityGate: Q = (s, d) =>
    withQualityStats(Tables.documents(s, d))
      .withColumn("gate",
        when(col("n_tok") < 20, "too_short")
          .when(col("n_stop") / col("n_tok") < 0.02, "no_stopwords")
          .when(lit(1) - col("n_uniq") / col("n_tok").cast("double") > 0.72,
            "repetitive")
          .otherwise("keep"))
      .groupBy("gate")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("gate")

  /** Token counting: whitespace tokens + regex word tokens + a BPE-ish
    * bounded-subword count ([a-z]{1,4} greedy chunks). */
  private val tokencount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks()).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_words"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("n_bpe"),
        length(col("text")).as("n_chars_check"))
      .orderBy("doc_id")

  /** Tokenizer fertility per language — the tokenizer-health audit a
    * multilingual pipeline runs before committing to a vocab: per lang,
    * BPE-ish subword tokens per whitespace word (fertility) and chars
    * per subword token, over the SAME three token definitions as
    * q_text_tokencount (one shared contract — the fertility table and
    * the per-doc counts cannot drift). High-fertility languages are the
    * ones a token budget silently under-serves. One hash aggregate of
    * exact integer counts; two rounded divisions per row. */
  private val fertility: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        sum(size(toks())).as("n_ws"),
        sum(size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")))
          .as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_ws"),
        col("n_bpe"),
        r6(col("n_bpe").cast("double") / col("n_ws")).as("fertility"),
        r6(col("n_chars").cast("double") / col("n_bpe"))
          .as("chars_per_token"))
      .orderBy("lang")

  /** Rolling-window document fingerprint: min-md5 over all 8-char shingles
    * (winnowing-style). Near-identical docs collide; linear work. */
  private val fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("sequence(1, greatest(length(text) - 7, 1))")).as("i"),
        col("text"))
      .select(col("doc_id"),
        md5(expr("substring(text, i, 8)")).as("sh"))
      .groupBy("doc_id")
      .agg(min(col("sh")).as("shingle_fp"))
      .orderBy("doc_id")

  /** Ranked keyword retrieval — the reference's search serving query:
    * TF-IDF scoring of a multi-term query over the corpus, top-20.
    * Corpus stats (df, N) come from aggregates joined back broadcast-style;
    * at scale df/N are precomputed index-build artifacts (exactly what the
    * suggestion/search index pipeline materializes). */
  private val searchTfidf: Q = (s, d) => {
    // score = Σ over the query's tokens of the SAME tf·idf weight the
    // shared index stores (df per token is corpus-global either way),
    // so this key is a filtered read of the session-built tfidfIndex
    // (round 10) — the old form re-ran the corpus explode + df + count
    // per evaluation (8 → 3 jobs, same per-term doubles)
    val queryTerms = Seq("spark", "query", "fast")
    tfidfIndex(s, d)
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id")
      .agg(r6(sum(col("w"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** BM25 ranked retrieval (k1=1.2, b=0.75) — the standard search-engine
    * scoring function, same corpus-stat shape as TF-IDF plus document
    * length normalization. Everything is closed-form double arithmetic on
    * integer counts, so scores are bit-identical cross-engine pre-round.
    *
    * SINGLE corpus pass: one explode → groupBy(doc_id) produces document
    * length AND one conditional tf column per query term together (round 1
    * scanned `documents` three times — tf, stats, docLen). The per-doc
    * frame is persisted (n_docs rows, 4 narrow columns — an index-build
    * artifact at any scale); corpus stats (n_docs, avgdl) and per-term df
    * are broadcast 1-row/|terms|-row aggregates OF that frame, not fresh
    * scans. */
  private val bm25Terms = Seq("spark", "query", "fast")

  /** BM25 oracle CTE chain ending in `bm25(doc_id, score)` — ONE
    * definition interpolated into both the q_text_search_bm25 oracle
    * and the RRF fusion oracle's lexical arm, so the two cannot
    * drift. */
  private val bm25CtesSql =
    """tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           WHERE tok IN ('spark', 'query', 'fast')
           GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                   FROM tf GROUP BY tok),
         stats AS (SELECT count(*) AS n_docs,
                          avg(len(string_split(text, ' '))) AS avgdl
                   FROM documents),
         dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                FROM documents),
         bm25 AS (
           SELECT tf.doc_id AS doc_id,
                  floor((sum(
                    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                    (tf * (1.2 + 1) /
                     (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))))
                    * 1000000 + 0.5) / 1000000.0 AS score
           FROM tf
           JOIN dfreq USING (tok)
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats
           GROUP BY tf.doc_id)"""

  /** (doc_id, dl, tf0..tfN) from ONE corpus pass, cached per (session,
    * dir): the frame feeds tf, df, and the score join without rescans,
    * and repeated builder invocations in one session reuse one persisted
    * copy instead of stacking orphaned cache entries. */
  private val bm25PerDoc = Artifact("bm25_per_doc") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        bm25Terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i")
        }: _*)
      .persist()
  }

  private val searchBm25: Q = (s, d) =>
    bm25Scored(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  /** The full BM25-scored frame (doc_id, score) pre-limit — extracted
    * (round 7) so the hybrid RRF fusion reuses the lexical arm
    * verbatim rather than re-deriving it. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val queryTerms = bm25Terms
    val k1 = 1.2
    val b = 0.75
    val perDoc = bm25PerDoc(s, d)
    // corpus stats from the RAW documents frame, not perDoc: a NULL-text
    // row survives count(*) but not the explode, and the oracle's stats
    // CTE counts it — the two sides must agree unconditionally
    val stats = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"), avg(size(toks())).as("avgdl"))
    // long form (doc_id, dl, tok, tf>0) via a 3-wide stack — no rescan
    val termArr = array(queryTerms.map(lit): _*)
    val tf = perDoc
      .select(col("doc_id"), col("dl"),
        posexplode(array((0 until queryTerms.size).map(i =>
          col(s"tf$i")): _*)).as(Seq("ti", "tf")))
      .filter(col("tf") > 0)
      .withColumn("tok", element_at(termArr, col("ti") + 1))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("tfn",
        col("tf") * lit(k1 + 1) /
          (col("tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(r6(sum(col("idf") * col("tfn"))).as("score"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, k=60) — how a
    * production search stack actually combines a lexical index with a
    * dense-vector index: each arm contributes 1/(60+rank) for the docs
    * in its top-20, absent docs contribute nothing, and the fused
    * top-10 is re-ranked on the sum. Rank-based fusion needs no score
    * calibration between arms, which is exactly why it scales — the
    * arms run independently (BM25 through the inverted index, cosine
    * through the ANN index at 100 TB; here the exact dense baseline)
    * and the fusion is a full-outer join of two k-row lists, driver-
    * trivial at any corpus size. The per-arm rank windows run over
    * 20-row TakeOrdered frontiers, which Catalyst bounds for the plan
    * lint; both RRF terms are fixed-order IEEE doubles
    * (1.0/(60+rank)), so the sum needs no rounding machinery. Query =
    * the fixed bm25Terms on the lexical arm and doc 0's embedding on
    * the dense arm (arms are pluggable by contract — fusion only sees
    * ranks). */
  private val searchRrf: Q = (s, d) => {
    val k = 60
    val lex = bm25Scored(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select("doc_id", "lex_rank")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val dense = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("sim_r", r6(expr("graft_dot(v, qv)")))
      .orderBy(col("sim_r").desc, col("vec_id")).limit(20)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("sim_r").desc, col("vec_id")))
          .cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("dense_rank")), lit(0.0)))
      .select("doc_id", "lex_rank", "dense_rank", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** Deterministic hash-Bernoulli keep-predicate — membership is a pure
    * function of the row key (first md5 hex digit of doc_id ∈ `digits`,
    * keep rate = |digits|/16), so re-runs, retries, and different cluster
    * layouts all select the same rows (df.sample's RNG does not survive
    * any of those). ONE definition shared by the sampling queries and the
    * curation pipeline, on both sides of the oracle boundary. */
  private[operators] def hashSampleKeep(digits: Seq[String]) =
    substring(md5(col("doc_id").cast("string")), 1, 1).isin(digits: _*)

  private[operators] def hashSampleSql(colRef: String,
      digits: Seq[String]): String =
    s"""substring(md5(CAST($colRef AS VARCHAR)), 1, 1)
        IN (${digits.map("'" + _ + "'").mkString(", ")})"""

  private[operators] val quarterDigits = Seq("0", "1", "2", "3")
  private[operators] val halfDigits =
    Seq("0", "1", "2", "3", "4", "5", "6", "7")

  /** "More-like-this" sparse similarity: doc→doc cosine over TF-IDF
    * weights computed THROUGH the inverted index (weights join on token,
    * never a doc×doc product) — the sparse complement to the dense
    * q_sim_cosine_topk. Candidate pairs are generated only where tokens
    * are shared, so the cost is Σ_tok df(tok)·|queries|, not |docs|²;
    * at 100 TB the standard refinements (drop idf≈0 terms, doc-id
    * blocking) compose with the same plan. Ranking uses the r6-ROUNDED
    * score (sub-ulp dot-product sum-order differences must not flip
    * ranks cross-engine) with doc_id as the unique tie-break. */
  /** The TF-IDF weight index (doc_id, tok, w), cached per (session,
    * dir) — round 10: the round-9 form localCheckpointed it per CALL,
    * so every evaluation re-paid the corpus explode + tf aggregate +
    * two broadcasts (~10 of the key's 16 jobs). The inverted index is
    * a session artifact exactly like the BM25 per-doc stats
    * (bm25PerDoc above): built once per session, reused by every
    * evaluation, dropped by Caches.invalidate(dir). */
  private val tfidfIndex = Artifact("tfidf_index") { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq =
      tf.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log(col("n_docs").cast("double") / col("df")))
          .as("w"))
      // per-doc L2 norm rides the index rows (round 10): a window
      // partitioned by doc_id — data-parallel at any scale — so the
      // cosine consumer reads both norms off the join sides instead
      // of re-aggregating + twice re-joining the index per query
      .withColumn("nrm", sqrt(sum(col("w") * col("w")).over(
        Window.partitionBy("doc_id").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))))
      .persist()
  }

  private val simSparseTopk: Q = (s, d) => {
    val w = tfidfIndex(s, d)
    // both norms ride the dot join's own sides (the index carries a
    // per-doc nrm column — round 10): constant per (q_doc, doc_id)
    // group, so max() reads them through the existing aggregate and
    // the two norm re-joins disappear (9 → 5 jobs)
    val q = w.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_doc"), col("tok"), col("w").as("wq"),
        col("nrm").as("nq"))
    val scored = q.join(w, Seq("tok"))
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy("q_doc", "doc_id")
      .agg(sum(col("wq") * col("w")).as("dot"),
        max(col("nq")).as("nq"), max(col("nrm")).as("nd"))
      .select(col("q_doc"), col("doc_id"),
        graft.Par.r6(col("dot") / (col("nq") * col("nd"))).as("score"))
    val rk = org.apache.spark.sql.expressions.Window.partitionBy("q_doc")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 3)
      .select("q_doc", "doc_id", "score")
      .orderBy(col("q_doc"), col("score").desc, col("doc_id"))
  }

  /** Deterministic per-stratum reservoir: the 10 "randomly" kept docs per
    * language are the 10 smallest md5(doc_id) — a pure function of the key
    * set, so the reservoir is identical across re-runs, retries, and any
    * cluster layout, and each newly ingested doc displaces at most one row
    * (a heap/RNG reservoir loses both properties). The window partitions
    * on lang (5 strata); at 100 TB prepend the cheap prefilter
    * `md5 < bound` (bound from a tiny per-stratum quantile probe) so the
    * rank only ever runs over ~k·strata candidate rows. */
  private val sampleReservoir: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    Tables.documents(s, d)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("doc_id", "lang", "rk")
      .orderBy("lang", "rk")
  }

  private val normStopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Token-normalization pipeline (the preprocessing step every training-
    * data pipeline runs before counting/hashing): lowercase → split →
    * stopword drop → light suffix strip (s/ed/ing), re-joined. Pure
    * per-row projection over codegen'd higher-order array functions — no
    * shuffle, no UDF; the stopword set is a literal in the plan (a real
    * lexicon would broadcast, q_text_langid's shape). The anchored
    * suffix regex matches at most once, so Spark's replace-all and
    * DuckDB's replace-first agree by construction. */
  private val textNormalize: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("norm", array_join(
        transform(
          filter(split(lower(col("text")), " "),
            t => !t.isInCollection(normStopwords)),
          t => regexp_replace(t, "(ing|ed|s)$", "")),
        " "))
      .select("doc_id", "norm")
      .orderBy("doc_id")

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis exponential
    * race, the A-ES algorithm): each doc draws u ∈ (0,1] from its own
    * md5 — decoded as an exact 60-bit integer, the KMV discipline, so
    * no float enters until one division — and the 10 kept docs are those
    * with the smallest exponential key -ln(u)/w, w = n_chars+1 (longer
    * docs proportionally likelier). Pure projection + TakeOrderedAnd-
    * Project: no shuffle beyond top-k merge at any scale, and the draw
    * is a function of the key so re-runs/retries/ingestion keep it
    * stable. The key is r8-rounded on BOTH sides (ln/pow may differ by
    * an ulp across engines) with doc_id as the unique tie-break. */
  private val sampleWeighted: Q = (s, d) => {
    val v = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    val u = (v + lit(1L)).cast("double") / lit(1152921504606846976.0) // 2^60
    Tables.documents(s, d)
      .withColumn("ekey", graft.Par.r8(-log(u) / (col("n_chars") + lit(1))))
      .select("doc_id", "n_chars", "ekey")
      .orderBy("ekey", "doc_id")
      .limit(10)
  }

  /** Token-budget accounting — the mixing planner's input table: how many
    * documents and TOKENS each (source domain × quality band) contributes,
    * and each cell's share of the corpus token budget. Bands reuse the ONE
    * shared quality-score definition (withQualityStats / qualityScore, the
    * same cut the curation gate applies at 0.95), so the budget table and
    * the gate cannot drift. One projection + one bounded hash aggregate
    * (|sources| × 3 cells) + a broadcast 1-row total — linear at any
    * scale, and the output is exactly what domain-weight tuning
    * (temperature / DSIR / domain caps) consumes. */
  private val tokenBudget: Q = (s, d) => {
    val banded = withQualityStats(Tables.documents(s, d))
      .withColumn("q", qualityScore)
      .withColumn("band",
        when(col("q") >= 0.95, "high")
          .when(col("q") >= 0.80, "mid")
          .otherwise("low"))
    val cells = banded.groupBy("source", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("tot_tokens"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("band"), col("n_docs"), col("n_tokens"),
        r6(col("n_tokens") / col("tot_tokens").cast("double")).as("share"))
      .orderBy("source", "band")
  }

  /** Mixing planner — turns the token-budget census into an executable
    * sampling plan: gate out the low-quality band (q < 0.80, the same
    * cut as q_text_token_budget's band edges), temperature-weight the
    * surviving per-source token pools at τ=0.7 (up-weights small
    * sources, the multilingual-mixing trick), aim a budget of half the
    * gated pool at those weights, cap repetition at 4 epochs per
    * source, and redistribute the capped deficit across the uncapped
    * sources' headroom in one extra broadcast pass. Weights go through
    * the floor(p^τ·1e12)-as-long trick so every sum is exact integer
    * arithmetic; the corpus is scanned once and every later frame is a
    * |sources|-row census (broadcast scalar joins, no global window). */
  private val pipelineMix: Q = (s, d) => {
    val cells = withQualityStats(Tables.documents(s, d))
      .withColumn("q", qualityScore)
      .filter(col("q") >= 0.80)
      .groupBy("source")
      .agg(sum(col("n_tok").cast("long")).as("avail"))
    // the three chained scalar censuses (corpus total, weight
    // normalizer, deficit/headroom) are all exact-long sums over the
    // SAME |sources|-bounded frame — windows replace the three
    // aggregate + crossJoin(broadcast) stages (round 10, 9 → 4 jobs)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val w1 = cells
      .withColumn("tot", sum(col("avail")).over(wAll))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("wt", floor(exp(lit(0.7) *
        log(col("avail").cast("double") / col("tot"))) * 1e12).cast("long"))
    val t2 = w1
      .withColumn("z", sum(col("wt")).over(wAll))
      .withColumn("target",
        floor(col("budget").cast("double") * col("wt") / col("z"))
          .cast("long"))
      .withColumn("cap", col("avail") * 4)
      .withColumn("planned1", least(col("target"), col("cap")))
      .withColumn("headroom", col("cap") - least(col("target"), col("cap")))
    t2
      .withColumn("deficit",
        sum(col("target") - col("planned1")).over(wAll))
      .withColumn("hsum", sum(col("headroom")).over(wAll))
      .withColumn("planned", col("planned1") +
        when(col("hsum") > 0,
          least(floor(col("deficit").cast("double") * col("headroom") /
            col("hsum")).cast("long"), col("headroom")))
          .otherwise(0L))
      .select(col("source"), col("avail").as("avail_tokens"),
        r6(col("wt") / col("z").cast("double")).as("mix_share"),
        col("target").as("target_tokens"),
        col("planned").as("planned_tokens"),
        r4(col("planned") / col("avail").cast("double")).as("epochs"))
      .orderBy("source")
  }

  /** Corpus snapshot diff — the change audit between two dataset
    * versions: which documents were added, removed, modified (content
    * hash changed), or untouched, with doc and char volumes per status.
    * Snapshots here are deterministic md5-digit slices of the one
    * documents table (old = digit ∈ 0-b, new = digit ∈ 4-f, overlap
    * "edited" when a second digit hits 0 — the offline stand-in for two
    * real snapshot reads); the operator itself is the scale shape that
    * matters: a full-outer equi-join on doc_id with an md5 content
    * compare — at 100 TB both snapshots are id-partitioned, so the diff
    * is co-partitioned and shuffle-free, and the status census is a
    * 4-row aggregate. */
  /** Per-column PROFILE drift between snapshot slices — the schema-
    * level companion to q_text_dataset_diff (which diffs rows) and
    * q_stats_psi/q_text_vocab_drift (which diff one distribution):
    * before accepting a new snapshot, compare every column's null
    * count, distinct count, and value range against the previous one
    * and flag shifts — the cheap gate that catches an upstream loader
    * silently nulling a field or collapsing an enum. Slices are the
    * dataset_diff md5-digit snapshots (same convention, so the two
    * audits describe the same pair). One wide aggregate per slice (the
    * q_data_profile shape — a single pass each at any scale), a
    * |columns|-row join, integer counts to the one r6 shift ratio. */
  private val schemaDrift: Q = (s, d) => {
    def digit(n: Int) = substring(md5(col("doc_id").cast("string")), n, 1)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def profile(df: DataFrame, tag: String) = {
      val aggs = count(lit(1)).as(s"n_$tag") +: cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L))
            .as(s"${c}_nulls_$tag"),
          countDistinct(col(c)).as(s"${c}_distinct_$tag"),
          min(col(c)).cast("string").as(s"${c}_min_$tag"),
          max(col(c)).cast("string").as(s"${c}_max_$tag"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      cols.map { c =>
        wide.select(lit(c).as("column"), col(s"n_$tag"),
          col(s"${c}_nulls_$tag").as(s"nulls_$tag"),
          col(s"${c}_distinct_$tag").as(s"distinct_$tag"),
          col(s"${c}_min_$tag").as(s"min_$tag"),
          col(s"${c}_max_$tag").as(s"max_$tag"))
      }.reduce(_.unionAll(_))
    }
    val base = Tables.documents(s, d)
    val a = profile(base.filter(digit(1).isin("0", "1", "2", "3", "4",
      "5", "6", "7", "8", "9", "a", "b")), "a")
    val b = profile(base.filter(digit(1).isin("4", "5", "6", "7", "8",
      "9", "a", "b", "c", "d", "e", "f")), "b")
    a.join(b, Seq("column"))
      .withColumn("distinct_shift_r",
        r6(abs(col("distinct_b") - col("distinct_a")).cast("double")
          / col("distinct_a")))
      .withColumn("range_changed",
        col("min_a") =!= col("min_b") || col("max_a") =!= col("max_b"))
      .withColumn("drift",
        col("distinct_shift_r") > 0.2 ||
          (col("nulls_b").cast("double") / col("n_b")
            - col("nulls_a").cast("double") / col("n_a")) > 0.01)
      .select("column", "n_a", "n_b", "nulls_a", "nulls_b",
        "distinct_a", "distinct_b", "distinct_shift_r",
        "range_changed", "drift")
      .orderBy("column")
  }

  private val datasetDiff: Q = (s, d) => {
    def digit(n: Int) = substring(md5(col("doc_id").cast("string")), n, 1)
    val base = Tables.documents(s, d)
    val old = base
      .filter(digit(1).isin("0", "1", "2", "3", "4", "5", "6",
        "7", "8", "9", "a", "b"))
      .select(col("doc_id").as("old_id"),
        when(digit(2) === "0", md5(concat(lit("edit:"), col("text"))))
          .otherwise(md5(col("text"))).as("old_hash"),
        col("n_chars").as("old_chars"))
    val neu = base
      .filter(digit(1).isin("4", "5", "6", "7", "8", "9", "a", "b",
        "c", "d", "e", "f"))
      .select(col("doc_id").as("new_id"), md5(col("text")).as("new_hash"),
        col("n_chars").as("new_chars"))
    old.join(neu, col("old_id") === col("new_id"), "full_outer")
      .withColumn("status",
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "modified")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("new_chars"), col("old_chars"))).as("n_chars"))
      .orderBy("status")
  }

  /** Vocabulary drift between corpus snapshots — the text twin of the
    * numeric PSI audit (q_stats_psi) over the SAME md5-digit snapshot
    * slices as q_text_dataset_diff: vocab sizes, out-of-vocabulary and
    * lost-token counts, OOV rate, and total-variation distance between
    * the two token distributions. The drift detector a tokenizer/model
    * owner runs before accepting a new corpus version (a vocab shift
    * silently degrades a frozen tokenizer). Plan: two explode →
    * hash-aggregate token counts (|vocab| rows), one full-outer join on
    * token, broadcast 1-row totals — linear in corpus tokens, bounded by
    * vocabulary everywhere after the first aggregate. TV distance sums
    * |vocab| doubles — r6 at the boundary per the parity discipline. */
  private val vocabDrift: Q = (s, d) => {
    def digit1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    def toksOf(digits: Seq[String]) = Tables.documents(s, d)
      .filter(digit1.isin(digits: _*))
      .select(explode(toks()).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val oldDigits = Seq("0", "1", "2", "3", "4", "5", "6",
      "7", "8", "9", "a", "b")
    val newDigits = Seq("4", "5", "6", "7", "8", "9", "a", "b",
      "c", "d", "e", "f")
    val oldT = toksOf(oldDigits).select(col("tok"), col("n").as("n_old"))
    val newT = toksOf(newDigits).select(col("tok"), col("n").as("n_new"))
    val joined = oldT.join(newT, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    joined.crossJoin(broadcast(totals))
      .agg(
        count(when(col("n_old") > 0, 1)).as("n_vocab_old"),
        count(when(col("n_new") > 0, 1)).as("n_vocab_new"),
        count(when(col("n_old") === 0 && col("n_new") > 0, 1)).as("n_oov"),
        count(when(col("n_new") === 0 && col("n_old") > 0, 1)).as("n_lost"),
        r6(sum(abs(col("n_new") / col("tot_new").cast("double")
          - col("n_old") / col("tot_old").cast("double"))) / 2).as("tv_drift_r"))
      .select(col("n_vocab_old"), col("n_vocab_new"), col("n_oov"),
        col("n_lost"),
        r6(col("n_oov") / col("n_vocab_new").cast("double")).as("oov_rate_r"),
        col("tv_drift_r"))
  }

  /** Epoch-deterministic GLOBAL training order + shard layout — the last
    * step of a curation pipeline before the trainer reads: every doc gets
    * its position in a full-corpus shuffle (order key = md5 of an
    * epoch-salted doc_id, so epoch 1 is a different but equally
    * deterministic permutation) and a round-robin shard assignment, so
    * any worker can locate example k of shard s without coordination and
    * re-runs/ingestion retries reproduce the byte-identical order.
    * The global rank comes from Dist.withRankAndCount (range shuffle +
    * per-partition counts + broadcast offsets) — never a single-partition
    * row_number window, so the plan survives 100 TB. */
  private val sampleGlobalShuffle: Q = (s, d) => {
    val df = Tables.documents(s, d).withColumn("okey",
      md5(concat(lit("epoch0:"), col("doc_id").cast("string"))))
    Dist.withRankAndCount(df, "pos", "__n", Seq.empty,
        Seq(col("okey"), col("doc_id")))
      .select(col("doc_id"), col("pos"),
        ((col("pos") - 1) % 8).cast("int").as("shard"),
        expr("(pos - 1) div 8").as("shard_pos"))
      .orderBy("pos")
  }

  /** ~25% deterministic sample. */
  private val sampleHash: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(hashSampleKeep(quarterDigits))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Stratified hash sampling: per-class rates (rebalancing — keep all of
    * the rare classes, thin the dominant one). Same determinism story and
    * same hash-digit predicate as q_sample_hash. */
  private val sampleStratified: Q = (s, d) =>
    // en is ~half the corpus: keep 25%; keep all other languages
    Tables.documents(s, d)
      .filter((col("lang") === "en" && hashSampleKeep(quarterDigits)) ||
        col("lang") =!= "en")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Per-domain frequency cap (C4/RefinedWeb-style): keep at most 15
    * docs per source so no domain dominates the training mix — the
    * count-based complement to q_sample_stratified's rate thinning.
    * Which 15 survive is decided by a deterministic hash order
    * (md5(doc_id), doc_id tie-break), so the sample is stable across
    * re-runs, retries, and cluster layouts. One window partitioned on
    * source (the natural per-domain key — thousands of partitions at
    * corpus scale, no global sort); the rank short-circuits via
    * WindowGroupLimit pushdown. */
  private val sampleDomainCap: Q = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 15)
      .select("doc_id", "source", "rn")
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split — the dataset-assignment
    * primitive: the first md5 hex digit of the row key partitions the
    * hash space 12/2/2 (75% train, 12.5% val, 12.5% test). Assignment is
    * a pure function of doc_id, so it is stable across re-runs, retries,
    * cluster layouts, AND incremental ingestion (new docs never move old
    * docs between splits — the property random splits lose). Output is
    * the per-(split, lang) census plus the resulting fractions. */
  private val sampleSplit: Q = (s, d) => {
    val digit = substring(md5(col("doc_id").cast("string")), 1, 1)
    val split = when(digit.isin("c", "d"), "val")
      .when(digit.isin("e", "f"), "test")
      .otherwise("train")
    // total = sum over the census itself (a bounded few-row frame), so
    // the corpus is scanned exactly once; the global window runs on
    // |splits×langs| rows, never on data
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(s, d)
      .withColumn("split", split)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("frac",
        r6(col("n") / sum(col("n")).over(w).cast("double")))
      .orderBy("split", "lang")
  }

  /** Unigram-LM perplexity proxy — the language-model quality filter of
    * LLM data pipelines (the KenLM-scoring shape, with the corpus itself
    * as the LM): per-doc mean negative log-probability of its tokens
    * under the corpus unigram distribution. High values flag gibberish /
    * rare-token soup; low values flag boilerplate. Plan: ONE token pass
    * builds the |vocab|-row model (broadcast — vocabularies are bounded;
    * at 100 TB the LM is trained offline and broadcast the same way),
    * then scoring is a broadcast join + per-doc mean with no extra
    * shuffle of the corpus. */
  private val perplexity: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("tok"))
    // total as a window over the |vocab|-row LM census, carried through
    // the broadcast join (round 10) — the old separate aggregate +
    // crossJoin re-ran the census and paid a broadcast QueryStage job
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val vocabLm = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(wAll).cast("double"))
    tok.join(broadcast(vocabLm), Seq("tok"))
      .withColumn("nll", -log(col("cnt") / col("total")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), r6(avg(col("nll"))).as("ppl_proxy"))
      .orderBy("doc_id")
  }

  /** Interpolated bigram-LM perplexity — the step from the unigram
    * proxy (q_text_perplexity) to a real left-to-right LM quality
    * filter (the KenLM-filter shape): per bigram occurrence,
    * p = λ·c(ab)/c(a) + (1−λ)·c(b)/N with λ=0.7 — interpolation, not
    * backoff, so p is one fixed-shape IEEE expression both engines
    * evaluate on identical integer counts. Bigrams are built IN-ROW
    * (transform over the token array — no window, no extra shuffle);
    * the LM tables are corpus aggregates broadcast back; each
    * occurrence's −ln p is floored to micros and the per-doc mean is a
    * LONG sum to one division — partition-order-independent, the
    * gradient-micros discipline. High ppl_bi = improbable token
    * transitions = boilerplate/gibberish the unigram filter misses. */
  private val perplexityBigram: Q = (s, d) => {
    // TWO corpus passes instead of four (round 12, guide §2.2): the
    // round-11 shape re-ran the bigram explode for the LM table and the
    // scoring join (bg referenced twice) AND the unigram census for the
    // a-side total and the b-side broadcast (uni referenced twice).
    // Per-doc bigram census: one (doc_id, a, b) shuffle; every
    // occurrence-level term below is count-weighted exact arithmetic
    // over it (nm is already a floored LONG per (a,b), so Σ k·nm is
    // bit-identical to the per-occurrence Σ nm — no float-order surface)
    val docBi = Tables.documents(s, d)
      .select(col("doc_id"), toks().as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS a, t[i+1] AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("k"))
      .localCheckpoint()
    // |vocab|-bounded census feeding the total AND the b side; left
    // lazy — a localCheckpoint here cost one more job and measured no
    // faster (sf0.1, local[4]: 1.86 s vs 1.68 s warm median)
    val uni = Tables.documents(s, d)
      .select(explode(toks()).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // total as a window over the |vocab|-row census, carried on the
    // a-side broadcast (round 10) — the old tot aggregate + crossJoin
    // re-ran the unigram census and paid a broadcast QueryStage job
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val uniT = uni
      .withColumn("total", sum(col("c")).over(wAll).cast("double"))
    val bi = docBi.groupBy("a", "b").agg(sum(col("k")).as("cab"))
    docBi.join(broadcast(bi), Seq("a", "b"))
      .join(broadcast(uniT.select(col("tok").as("a"), col("c").as("ca"),
        col("total"))), Seq("a"))
      .join(broadcast(uni.select(col("tok").as("b"), col("c").as("cb"))),
        Seq("b"))
      .withColumn("nm", floor(-log(
        lit(0.7) * (col("cab").cast("double") / col("ca")) +
          lit(0.3) * (col("cb").cast("double") / col("total")))
        * 1000000 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("nm")).as("nm_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("nm_sum") / (col("n_bigrams") * lit(1000000.0)))
          .as("ppl_bi"))
      .orderBy("doc_id")
  }

  /** Sequence packing — the context-window packing step of LLM training
    * pipelines: documents are laid out in deterministic doc_id order and
    * assigned to fixed-size token bins by their START offset in the
    * concatenated stream. The global running offset is a DISTRIBUTED
    * prefix sum (the one pattern a naive global window gets wrong at
    * scale): range-partition by doc_id → per-partition window cumsum in
    * parallel → per-partition totals (one bounded row each) collected
    * and turned into broadcast offsets. No single-partition window
    * anywhere; the corpus is scanned once (localCheckpoint pins the
    * partition layout between the offsets pass and the scoring pass). */
  private val textPack: Q = (s, d) => {
    // This key's hand-rolled two-pass prefix sum was generalized into
    // Dist (its scaladoc credits this key); round 10 points it at the
    // shared helper so its construction actions run inside Dist's
    // noAqe scope (the checkpoint + offsets collect stop fanning into
    // per-QueryStage jobs: 11 → 7). start = inclusive cum − n_tok,
    // exact longs — identical arithmetic to the inlined form.
    val binTokens = 2048L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(toks()).cast("long").as("n_tok"))
    graft.operators.Dist.withPrefixSumsLong(docs,
        Seq("cum" -> col("n_tok")), Seq(col("doc_id")), numParts = 8)
      .withColumn("start", col("cum") - col("n_tok"))
      .withColumn("bin", expr(s"start div $binTokens"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
      .orderBy("bin")
  }

  /** PMI collocations — pointwise mutual information over adjacent token
    * pairs: ln(p(ab) / (p(a)·p(b))), the classic keyphrase/collocation
    * extractor. The unigram and bigram models are |vocab|- and
    * |vocab|²-bounded aggregates (broadcast); the corpus contributes one
    * token pass + one lead() window per doc partition. Top-k by rounded
    * PMI with lexicographic tie-break keeps the frontier deterministic. */
  private val pmiCollocations: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
    val uni = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    // t1 rides the |vocab|-row unigram table into its broadcast join as
    // a global window (round 10) — that frame is genuinely
    // vocab-bounded. t2 is NOT windowed over the bigram frame (ADVICE
    // r10): the bigram census is a distinct-adjacent-PAIR frame that
    // grows with the corpus (|vocab|² is a ceiling, not a bound, at
    // 100 TB), so a partition-less window would serialize it to one
    // task — the round-10 fold traded a 3.7 s single-task serialization
    // for 2 jobs. Instead the first-position margin collapses the
    // census to a |vocab|-row table, t2 rides it as a vocab-bounded
    // global window, and a broadcast join fans it back out (jobs 8 →
    // 10, warm 5.3 → 1.2 s, A/B'd round 11 against the crossJoin-
    // broadcast-agg [9 jobs, 3.7 s] and eager-checkpoint [10 jobs,
    // 1.6 s] variants)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val uniT = uni
      .withColumn("t1", sum(col("cnt")).over(wAll).cast("double"))
    val big = tok.withColumn("nxt", lead(col("token"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("token").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("cab"))
    // first-position margin collapses to a |vocab|-row table; t2 rides
    // IT as a vocab-bounded global window and broadcast-joins back
    val t2T = big.groupBy("a").agg(sum(col("cab")).as("ma"))
      .withColumn("t2", sum(col("ma")).over(wAll).cast("double"))
      .select(col("a"), col("t2"))
    big
      .join(broadcast(t2T), Seq("a"))
      .join(broadcast(uniT.select(col("token").as("a"),
        col("cnt").as("ca"), col("t1"))), Seq("a"))
      .join(broadcast(uni.select(col("token").as("b"), col("cnt").as("cb"))),
        Seq("b"))
      .filter(col("cab") >= 5)
      .withColumn("pmi", r6(log((col("cab") / col("t2")) /
        ((col("ca") / col("t1")) * (col("cb") / col("t1"))))))
      .select("a", "b", "cab", "pmi")
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(15)
  }

  /** Benchmark membership for decontamination: 1/16 of docs by first md5
    * hex digit — the same deterministic hash-Bernoulli primitive as the
    * sampling queries, standing in for a real eval-set manifest. */
  private[operators] val benchDigits = Seq("0")

  /** Benchmark decontamination — the training-data hygiene operator:
    * flag every candidate document that shares a word-trigram shingle
    * with the benchmark (eval) set, so eval material can be excluded
    * from training. Shingles via lead() over token position (no
    * self-join); the benchmark's distinct-shingle set is broadcast —
    * eval sets are small by construction (thousands of docs), so at
    * 100 TB the candidate side streams once past a ~MB broadcast set,
    * no shuffle of the corpus. Real pipelines use 8–13-gram shingles;
    * trigrams here because the synthetic corpus' 31-token vocabulary
    * makes longer shingles vacuously unique. */
  private val decontaminate: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
      .withColumn("n1", lead(col("token"), 1).over(w))
      .withColumn("n2", lead(col("token"), 2).over(w))
      .filter(col("n2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("token"), col("n1"), col("n2")).as("sh"))
    val benchSet = sh.filter(hashSampleKeep(benchDigits))
      .select("sh").distinct()
    val hits = sh.filter(!hashSampleKeep(benchDigits))
      .join(broadcast(benchSet), "sh")
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_hits"))
    Tables.documents(s, d)
      .filter(!hashSampleKeep(benchDigits))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** PII masking — email / URL / phone patterns replaced with typed
    * placeholders. The PII-shaped strings are SYNTHESIZED from row keys
    * (the corpus is synthetic and contains none), so the masking regexes
    * do real work and the oracle pins their semantics; the patterns stay
    * in the Java∩RE2 common subset so Spark and DuckDB agree. Pure
    * per-row projection — codegen'd, no shuffle, linear at any scale. */
  private val piiMask: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("concat('u', cast(doc_id AS string), " +
          "'@mail.example said call 555-', " +
          "lpad(cast(doc_id % 10000 AS string), 4, '0'), " +
          "' or visit https://h', cast(doc_id % 7 AS string), " +
          "'.example/p ', substring(text, 1, 40))").as("raw"))
      .withColumn("masked",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"),
              "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
            "https?://[^ ]+", "<URL>"),
          "\\b555-[0-9]{4}\\b", "<PHONE>"))
      .select("doc_id", "raw", "masked")
      .orderBy("doc_id")

  /** Gopher-style repetition scoring — the training-data quality rules
    * that catch boilerplate/spam: per-doc duplicate-token ratio
    * (1 − |distinct|/|tokens|) and the fraction of tokens covered by the
    * single most frequent bigram, plus an integer keep flag at the
    * thresholds (0.55, 0.10) the corpus distribution motivates (median
    * dup 0.54, p90 bigram-frac 0.13). Plan: one posexplode + lead per
    * doc partition for bigrams, one scalar pass for token counts — both
    * linear, shuffled on doc_id only. The keep comparison runs on the
    * raw doubles (identical IEEE values cross-engine); only the
    * *reported* ratios are parity-rounded. */
  private val repetition: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val maxBigram = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
      .withColumn("nxt", lead(col("token"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"),
        concat_ws(" ", col("token"), col("nxt")).as("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("maxbc"))
    val dup = lit(1.0) - col("n_uniq").cast("double") / col("n_tok")
    val frac = col("maxbc") * lit(2.0) / col("n_tok")
    Tables.documents(s, d)
      .select(col("doc_id"), size(toks()).cast("long").as("n_tok"),
        size(array_distinct(toks())).cast("long").as("n_uniq"))
      .join(maxBigram, Seq("doc_id"), "left")
      .na.fill(0L, Seq("maxbc"))
      .select(col("doc_id"), col("n_tok"),
        r6(dup).as("dup_ratio"),
        r6(frac).as("top_bigram_frac"),
        when(dup <= 0.55 && frac <= 0.10, 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  /** Per-doc top-3 TF-IDF keyword extraction (the tagging/labeling
    * primitive, distinct from q_text_search_tfidf's query-side ranking):
    * full tf ⋈ broadcast df/N → idf weights, then a doc-partitioned
    * row_number window takes 3 keywords per doc. Weights are exact
    * doubles from integer counts (tf·ln(N/df)), so the rank tie-break
    * (weight desc, token) is cross-engine stable pre-rounding. */
  private val keywords: Q = (s, d) => {
    // the TF-IDF weights here were built inline with the exact same
    // formula as simSparseTopk's index — round 10 points both at the
    // shared session artifact (tfidfIndex): the key's own
    // cost is the per-doc top-3 window, not a corpus re-derivation
    // (9 → 4 jobs, same weights by construction)
    val wt = tfidfIndex(s, d)
    val rk = Window.partitionBy("doc_id").orderBy(col("w").desc, col("tok"))
    wt.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), r6(col("w")).as("score"))
      .orderBy("doc_id", "rk")
  }

  /** Per-doc subsumption profile via directional token-set containment
    * (|A∩B| / |A| — the near-dup signal Jaccard misses when a short doc
    * is swallowed by a longer one). All arithmetic is INTEGER
    * (inter·10 ≥ |A|·9 ⟺ containment ≥ 0.9), so there is no float
    * parity surface. The pair join carries the one valid one-sided
    * prefilter (|B| ≥ 0.9·|A|) plus a min-size floor (|A| ≥ 5 — tiny
    * sets are trivially contained); pairs use the dictionary-bitmap
    * intersect like q_dedup_near. This brute-force form is the exact
    * baseline; the linear scale path is rare-token prefix filtering
    * (index each doc under its lowest-df token only), same shape as the
    * MinHash banding beside it. */
  private val dedupContainment: Q = (s, d) => {
    val n = TokenBitmap.bitmaps(s, d, unigrams).count() // cached frame — cheap
    // supersets of a: either the exact all-pairs scan (≤ ceiling) or
    // the prefix-filtered candidate join (above it — the flip the
    // AllPairsRowCeiling scaladoc describes); outputs are identical
    // (flip-boundary spec) because prefix filtering is a complete
    // candidate generator for containment ≥ 0.9
    val sup = if (n > AllPairsRowCeiling) containmentSupersBanded(s, d)
      else containmentSupersAllPairs(s, d)
    TokenBitmap.bitmaps(s, d, unigrams)
      .select(col("doc_id"), col("sz").cast("long").as("n_distinct"))
      .join(sup.select(col("a").as("doc_id"), col("n_super")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_super"))
      .select(col("doc_id"), col("n_distinct"), col("n_super"),
        when(col("n_super") > 0, 1).otherwise(0).as("subsumed"))
      .orderBy("doc_id")
  }

  /** The exact all-pairs superset scan q_dedup_containment runs below
    * the ceiling: every (a, b) with |A| ≥ 5, |B| ≥ 0.9|A| gets one
    * bitmap-AND verify. */
  private def containmentSupersAllPairs(s: SparkSession, d: String)
      : DataFrame = {
    val base = TokenBitmap.bitmaps(s, d, unigrams)
    val a = base.select(col("doc_id").as("a"), col("bm").as("ba"),
      col("sz").as("sa"))
    val b = base.select(col("doc_id").as("b"), col("bm").as("bb"),
      col("sz").as("sb"))
    // bitmap verify in the join condition, ordered after the cheap
    // guards (round 12) — as a post-join filter it was PREPENDED to the
    // BNLJ condition (PushPredicateThroughJoin) and the bitmap fold ran
    // before the id/size short-circuits on every enumerated pair
    val interC = expr(TokenBitmap.intersectExpr("ba", "bb"))
    a.join(b, col("a") =!= col("b") &&
        col("sa") >= 5 && col("sb") * 10 >= col("sa") * 9 &&
        interC * 10 >= col("sa") * 9)
      .groupBy(col("a")).agg(count(lit(1)).as("n_super"))
  }

  /** The prefix-filtered superset scan the ceiling guard flips to:
    * containment(A→B) ≥ 0.9 needs |A∩B| ≥ ⌈0.9|A|⌉, so under ANY
    * shared total token order the first |A| − ⌈0.9|A|⌉ + 1 tokens of A
    * must intersect B (pigeonhole — one-sided, so A's PREFIX joins B's
    * FULL postings, unlike the symmetric Jaccard prefix filter).
    * ⌈0.9·sz⌉ is computed as (9·sz + 9) div 10 in exact integers — a
    * float ceil(sz · 0.9) rounds 9·sz/10 UP at exact multiples
    * (0.9·10 = 9.000…002 in binary), shrinking the prefix below the
    * completeness bound. Candidates then take the identical bitmap
    * verify as the all-pairs plan, so the outputs coincide exactly. */
  private def containmentSupersBanded(s: SparkSession, d: String)
      : DataFrame = {
    val pre = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(toks()).as("ts"))
      .withColumn("sz", size(col("ts")))
      .filter(col("sz") >= 5)
      .withColumn("pl",
        (col("sz") - expr("(9 * sz + 9) div 10") + 1).cast("int"))
      .select(col("doc_id").as("a"),
        explode(slice(array_sort(col("ts")), lit(1), col("pl"))).as("tok"))
    val full = Tables.documents(s, d)
      .select(col("doc_id").as("b"),
        explode(array_distinct(toks())).as("tok"))
    val base = TokenBitmap.bitmaps(s, d, unigrams)
    pre.join(full, Seq("tok"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
      .join(base.select(col("doc_id").as("a"), col("bm").as("ba"),
        col("sz").as("sa")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("bm").as("bb"),
        col("sz").as("sb")), Seq("b"))
      .filter(col("sb") * 10 >= col("sa") * 9)
      .withColumn("inter", expr(TokenBitmap.intersectExpr("ba", "bb")))
      .filter(col("inter") * 10 >= col("sa") * 9)
      .groupBy(col("a")).agg(count(lit(1)).as("n_super"))
  }

  /** Language-ID quality harness: confusion matrix of predicted vs
    * declared language with per-cell share of the actual-language row —
    * the evaluation loop a lexicon/model upgrade ships with (diagonal
    * share = per-language recall). Composes the langid plan with one
    * broadcast-scale join and two bounded aggregates. */
  private val langidEval: Q = (s, d) => {
    val conf = langidPred(s, d)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    // the per-language marginals derive exactly from the
    // |langs|²-bounded confusion census — driver fold (the kappa
    // pattern; round 9: the self-join + marginal aggregate were ~4 jobs
    // for ≤36 cells). Exact longs to one r6 division per cell.
    val cells = conf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tot = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    import s.implicits._
    cells.toSeq.sortBy(c => (c._1, c._2))
      .map { case (lang, pred, n) =>
        (lang, pred, n, graft.Par.r6d(n.toDouble / tot(lang))) }
      .toDF("lang", "pred_lang", "n", "share")
      .orderBy("lang", "pred_lang")
  }

  /** BPE merge-pair counting — the statistic the first byte-pair-encoding
    * merge maximizes (tokenizer induction): adjacent character-pair
    * counts over the corpus, computed on the DISTINCT word vocabulary
    * weighted by word frequency. The pair explosion therefore costs
    * O(|vocab| × word_len), not O(corpus tokens) — the reduction real
    * BPE trainers rely on, and the part that matters at 100 TB (the
    * corpus is touched once for the frequency census; every later merge
    * iteration would rerun only the vocab-sized pass). Counts are exact
    * integers; top-20 by (cnt DESC, pair) is fully tie-broken. */
  private val bpePairs: Q = (s, d) => {
    val wf = Tables.documents(s, d)
      .select(explode(toks()).as("w"))
      .filter(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** Iterative BPE tokenizer TRAINING — q_text_bpe_pairs counts one
    * round of pair statistics; this runs the actual merge loop (5
    * rounds): count adjacent-symbol pairs weighted by word frequency,
    * adopt the (cnt DESC, pair) argmax as a merge rule, rewrite the
    * symbol sequences, repeat. The industrial scale shape: training
    * runs entirely on the |unique words| CENSUS (corpus scanned once;
    * at 100 TB the census is vocabulary-bounded), each round's winner
    * broadcasts back. Symbol sequences are DOUBLE-space-delimited
    * strings with single-space ends, so one leftmost-non-overlapping
    * replace() of ' x  y ' with ' xy ' merges every non-overlapping
    * occurrence and keeps the delimiter invariant (a single-space
    * encoding loses the shared delimiter and silently skips alternate
    * occurrences — verified against the reference fold in the spec).
    * The census and each winner localCheckpoint (the markov-P lesson:
    * round r's plan would otherwise re-derive all prior rounds). */
  /** Session-lifetime cache of the trained BPE artifact (merge-rule
    * frames + final symbol state) — the trained-tokenizer sibling of
    * the classifier / k-means / PQ caches: one 5-round merge loop per
    * (session, dir), shared by q_text_bpe_train and q_text_bpe_encode
    * (round 9: the two keys were the registry's top job count, 24 each,
    * re-running the identical loop). */
  private val bpeTrained = Artifact("bpe_trained")(bpeTrainedBuild)

  private def bpeTrainedBuild(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame) = {
    val pairsOf = "CASE WHEN size(split(trim(sym), '  ')) < 2" +
      " THEN array() ELSE transform(" +
      "sequence(1, size(split(trim(sym), '  ')) - 1)," +
      " i -> concat(element_at(split(trim(sym), '  '), i), ' '," +
      " element_at(split(trim(sym), '  '), i + 1))) END"
    var state = Tables.documents(s, d)
      .select(explode(toks()).as("w"))
      .filter(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(concat(lit(" "),
        expr("array_join(split(w, ''), '  ')"), lit(" ")).as("sym"),
        col("f"))
      .localCheckpoint()
    val merges = (1 to 5).map { round =>
      val best = state
        .select(col("f"), explode(expr(pairsOf)).as("pr"))
        .groupBy("pr").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr")).limit(1)
        .select(lit(round.toLong).as("round"),
          col("pr").as("merge_rule"), col("cnt"))
        .localCheckpoint()
      val next = state.crossJoin(broadcast(best.select(col("merge_rule"))))
        .select(expr("replace(sym, ' ' || replace(merge_rule, ' ', '  ')" +
          " || ' ', ' ' || replace(merge_rule, ' ', '') || ' ')").as("sym"),
          col("f"))
        .localCheckpoint()
      // the replaced state is read by nothing kept: release it now
      graft.Caches.release(state)
      state = next
      best
    }
    (merges, state)
  }

  private val bpeTrain: Q = (s, d) =>
    bpeTrained(s, d)._1.reduce(_ unionAll _).orderBy("round")

  /** BPE ENCODE — the serving half of the trainer: after the 5 learned
    * merges are applied, the census's symbol sequences ARE the
    * tokenized corpus; this emits the resulting subword vocabulary
    * ranked by corpus frequency (subword, n_words it appears in, total
    * occurrences). Same census-bounded frames as the trainer; the
    * oracle replays the merge rounds and explodes the final state. */
  private val bpeEncode: Q = (s, d) =>
    bpeTrained(s, d)._2
      .select(col("sym"), col("f"),
        explode(expr("split(trim(sym), '  ')")).as("subword"))
      .groupBy("subword")
      .agg(countDistinct(col("sym")).as("n_words"),
        sum(col("f")).as("occurrences"))
      .orderBy(col("occurrences").desc, col("subword"))
      .limit(20)

  /** Temperature-based language mixing (the multilingual sampling rule:
    * q_i ∝ p_i^α with α=0.7) — flattens the language distribution so
    * low-resource languages are upsampled without drowning the head.
    * p^α is computed as exp(α·ln p) IDENTICALLY on both engines (ln/exp
    * libm parity is already load-bearing for perplexity/entropy), then
    * FLOORED TO AN INTEGER weight at 1e12 scale — integer weight sums
    * are order-independent, so the normalization is exact cross-engine
    * where a float Σwᵢ would depend on add order. |langs|-row census;
    * the corpus is scanned once. */
  private val sampleTemperature: Q = (s, d) => {
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum(col("n")).over(w).cast("double"))
      .withColumn("wt",
        floor(exp(lit(0.7) * log(col("p"))) * 1e12).cast("long"))
      .withColumn("z", sum(col("wt")).over(w))
      .select(col("lang"), col("n"), r6(col("p")).as("p_raw"),
        r6(col("wt").cast("double") / col("z")).as("p_temp"),
        r2(lit(1000.0) * col("wt") / col("z")).as("expected_docs"))
      .orderBy("lang")
  }

  /** DSIR-style data selection (importance resampling): score every doc
    * by how much more likely its hashed-unigram features are under a
    * TARGET domain (sources src0..src3, the high-quality stand-in) than
    * under the raw corpus — the classic pick-webtext-that-looks-like-
    * wikipedia selector. Features are 2-hex-digit md5 buckets (the same
    * hashing trick as q_text_feature_hash); the per-bucket
    * log-likelihood ratio with +1 smoothing is a ≤256-row broadcast
    * table (ln/exp libm parity is already load-bearing for
    * perplexity/entropy); each doc's score sums its tokens' bucket LLRs
    * under the usual r6 discipline. Top-50 docs by score = the batch
    * you'd promote into the training mix. Scale shape: one map-side
    * token explode, one bounded bucket aggregate, one broadcast join
    * back — the corpus shuffles once, by doc_id, for the final sum. */
  /** Per-doc DSIR importance score for EVERY document (doc_id, source,
    * n_tok, score_r) — extracted so q_sample_dsir (top-50 ranking) and
    * q_sample_ess (weight-quality audit) share ONE chain (the stlFrame
    * rule). A SESSION ARTIFACT since round 11 (the centroidPred
    * pattern): both consumers re-ran the token explode + LLR broadcast
    * + doc aggregate per evaluation (dsir 7 + ess 6 → 1 + 2 jobs,
    * A/B'd). */
  private val dsirScores = Artifact("dsir_scores") { (s, d) =>
    dsirScoresUncached(s, d).persist()
  }

  private def dsirScoresUncached(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(toks()).as("tok"))
      .withColumn("b", hex2(md5(col("tok"))))
    val isTgt = col("source").isin("src0", "src1", "src2", "src3")
    val bucket = tok.groupBy("b").agg(
      count(lit(1)).as("rcnt"),
      count(when(isTgt, 1)).as("tcnt"))
    val totals = bucket.agg(sum("rcnt").as("rtot"), sum("tcnt").as("ttot"))
    val llr = bucket.crossJoin(broadcast(totals))
      .select(col("b"), r6(
        log((col("tcnt") + 1).cast("double")
          / (col("ttot") + 256).cast("double"))
        - log((col("rcnt") + 1).cast("double")
          / (col("rtot") + 256).cast("double"))).as("llr_r"))
    tok.join(broadcast(llr), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tok"), r6(sum(col("llr_r"))).as("score_r"))
  }

  private val sampleDsir: Q = (s, d) =>
    dsirScores(s, d)
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(50)

  /** Effective sample size of the DSIR importance weights — the audit
    * that prices what importance weighting actually costs: ESS =
    * (Σw)²/Σw² is the equivalent number of EQUALLY-weighted documents,
    * and ESS/n near 0 means a handful of documents dominate the
    * resampled corpus (the silent failure mode of importance
    * sampling). Scores are clipped to ±20 before exponentiation (the
    * standard variance-bounding clip; n_clipped is emitted so the clip
    * is priced, not hidden), each weight is pinned to EXACT integer
    * micros, and both moment sums accumulate as DECIMAL/HUGEINT — the
    * ESS is one double division of two exact integers. One hash
    * aggregate over the shared per-doc score chain. */
  private val sampleEss: Q = (s, d) => {
    dsirScores(s, d)
      .withColumn("w_m", expr(
        "CAST(floor(exp(least(greatest(score_r, -20.0), 20.0))" +
          " * 1000000 + 0.5) AS BIGINT)"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(abs(col("score_r")) > 20.0, 1L).otherwise(0L))
          .as("n_clipped"),
        sum(expr("CAST(w_m AS DECIMAL(38,0))")).as("sw"),
        sum(expr("CAST(w_m AS DECIMAL(19,0)) * CAST(w_m AS DECIMAL(19,0))"))
          .as("sww"))
      .withColumn("ess_r", r6(expr(
        "CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE)")))
      .select(col("n_docs"), col("n_clipped"), col("ess_r"),
        r6(col("ess_r") / col("n_docs")).as("ess_frac_r"),
        (col("ess_r") / col("n_docs") < 0.1).as("degenerate"))
  }

  /** 2-hex-digit md5 decode (exact 0..255 integer, both engines) — the
    * bucket assigner for the hashing-trick features and the count-min
    * sketch below. */
  private[graft] def hex2(c: Column): Column =
    conv(substring(c, 31, 2), 16, 10).cast("long")
  private[graft] def hex2Sql(e: String): String =
    s"((CAST(strpos('0123456789abcdef', substring($e, 31, 1)) AS BIGINT)" +
      s" - 1) * 16 + (CAST(strpos('0123456789abcdef', substring($e, 32, 1))" +
      s" AS BIGINT) - 1))"

  /** Count-min sketch with oracle-pinned estimates: 4 seeded md5 hash
    * rows × 32 buckets build the 128-cell sketch in ONE corpus pass
    * (map-side combinable hash agg — the sketch is mergeable, which is
    * the whole point at 100 TB: per-partition sketches union by cell
    * add). The top-10 exact heavy hitters are then probed: est = min
    * over rows of their cell counts. Every number is an exact integer,
    * so unlike HLL the ESTIMATE itself hash-matches DuckDB, and the
    * CMS guarantee est ≥ exact is spec-asserted. */
  private val countMin: Q = (s, d) => {
    // One corpus pass builds the |vocab|-bounded frequency census (the
    // evalCmsError rule, round 8): the 4 seeded buckets depend only on
    // the token string, so cell counts are Σ freq over the census —
    // 4·|vocab| md5 calls, not 4·|stream|; the census checkpoint is
    // vocab-bounded and shared by the cells and the top-10 probe. The
    // sketch stays mergeable: at 100 TB the census itself is the
    // map-side-combinable hash agg, and per-partition sketches union
    // by cell add exactly as before.
    val tf = Tables.documents(s, d).select(explode(toks()).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    def bucket(r: Int): Column =
      hex2(md5(concat(lit(s"$r:"), col("tok")))) % 32
    val rbs = (0 until 4).map(r =>
      struct(lit(r).as("r"), bucket(r).as("b")))
    val cells = tf.select(col("exact"), explode(array(rbs: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("exact")).as("c"))
    val top = tf.orderBy(col("exact").desc, col("tok")).limit(10)
    top.select(col("tok"), col("exact"),
        explode(array(rbs: _*)).as("rb"))
      .select(col("tok"), col("exact"), col("rb.r").as("r"),
        col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("tok", "exact").agg(min(col("c")).as("est"))
      .orderBy(col("exact").desc, col("tok"))
  }

  /** Hashing-trick feature extraction: tokens → 64 fixed buckets by md5
    * (no vocabulary to build, ship, or version — THE property that makes
    * feature hashing the streaming/100 TB-safe vectorizer), per-doc
    * bucket counts as the sparse feature vector in long form. Pure
    * projection + one (doc_id, bucket)-keyed hash agg; the doc_id < 50
    * filter only bounds the oracle output, the plan is corpus-shaped. */
  private val featureHash: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(toks()).as("tok"))
      .withColumn("bucket", hex2(md5(col("tok"))) % 64)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")

  /** Distributed full-batch logistic regression — a trained quality
    * classifier (the fastText-filter shape: CCNet/GPT-3-style corpora
    * replace hand rules with a learned linear filter). Features are the
    * 16-bucket hashing trick (hex2 md5, the q_text_feature_hash
    * assigner) + a bias bucket; the label is the shared quality-gate
    * predicate, so the classifier learns to imitate the gate from
    * token counts alone — and the final pass reports how well (train
    * accuracy), the eval-harness discipline.
    *
    * This is the 100 TB TRAINING shape, which is the point: one GD
    * step = one map-side-combinable aggregate. The per-doc logit is an
    * EXACT long dot product (weights live as integer micros, features
    * are integer counts); the per-(doc,bucket) gradient term is floored
    * to micros and summed as longs, so the full-batch gradient is
    * partition-order-independent — partial aggregation at any
    * parallelism yields the bit-identical update. σ is computed from
    * identical micros-derived doubles and r6-pinned (round-then-replay)
    * before the residual. Each step's 17-row weight vector
    * materializes to a LocalRelation (the kmeansCentroids bounded-
    * artifact rule); 2 steps are part of the declared semantics (the
    * pagerank discipline), replayed by the oracle as chained CTEs. */
  /** The classifier's training label: the quality-gate keep predicate
    * as 0/1 (shared with the spec's majority-baseline check). */
  private[graft] def qualityLabel(s: SparkSession, d: String): DataFrame =
    withQualityStats(Tables.documents(s, d))
      .select(col("doc_id"),
        when(col("n_tok") >= 20 &&
            col("n_stop") / col("n_tok") >= 0.02 &&
            lit(1) - col("n_uniq") / col("n_tok").cast("double") <= 0.72,
          1L).otherwise(0L).as("y"))

  /** The trained classifier's state: the checkpointed (doc, bucket, x,
    * y) feature frame, the 17-entry micros weight map after 2 GD
    * steps, and a scorer producing (doc_id, y, z_micros, p_r, r) under
    * any weight map — shared by the classifier key and its calibration
    * audit (q_eval_ece). */
  private[graft] final case class QclfState(f: DataFrame,
      w: Map[Long, Long], wDf: Map[Long, Long] => DataFrame,
      residuals: Map[Long, Long] => DataFrame,
      scored: DataFrame)

  /** Trained-classifier state cached per (session, dir) — the same
    * session-index-artifact rationale as bm25/simhash/kmeans: six keys
    * (classifier, auroc, pr_auc, ece, mcnemar, lift_gains) consume ONE
    * deterministic training run; without the cache each re-paid the two
    * GD passes (~1.1 s each at sf0.1). Training is fully deterministic
    * (integer-micros gradients), so caching cannot change any output. */
  private[graft] val qclfTrain = Artifact("quality_classifier")(qclfTrainUncached)

  private def qclfTrainUncached(s: SparkSession, d: String): QclfState = {
    val nb = 16
    val docs = Tables.documents(s, d)
    val fx = docs
      .select(col("doc_id"), explode(toks()).as("tok"))
      .withColumn("b", hex2(md5(col("tok"))) % nb)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("x"))
      .unionAll(docs.select(col("doc_id"), lit(nb.toLong).as("b"),
        lit(1L).as("x")))
    val lab = qualityLabel(s, d)
    // one reusable (doc, bucket, x, y) frame: eager-checkpointed so the
    // 2 gradient passes + eval pass don't re-run the explode each time
    val f = fx.join(lab, Seq("doc_id")).localCheckpoint()
    val n = docs.count()
    import scala.jdk.CollectionConverters._
    def wDf(w: Map[Long, Long]) =
      s.createDataFrame(
        w.toSeq.sortBy(_._1).map { case (b, wm) =>
          org.apache.spark.sql.Row(b, wm) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("wm",
            org.apache.spark.sql.types.LongType))))
    def residuals(w: Map[Long, Long]) =
      f.join(broadcast(wDf(w)), Seq("b"))
        .groupBy("doc_id", "y")
        .agg(sum(col("wm") * col("x")).as("z_micros"))
        .withColumn("p_r", r6(lit(1.0) /
          (lit(1.0) + exp(-(col("z_micros") / lit(1000000.0))))))
        .withColumn("r", col("y") - col("p_r"))
    var w: Map[Long, Long] = (0L to nb.toLong).map(_ -> 0L).toMap
    for (_ <- 1 to 2) {
      val grad = f.join(residuals(w).select("doc_id", "r"), Seq("doc_id"))
        .withColumn("gm",
          floor(col("r") * col("x") * 1000000 + 0.5).cast("long"))
        .groupBy("b").agg(sum(col("gm")).as("grad_micros"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = w.map { case (b, wm) =>
        b -> (wm + math.floor(
          0.1 * grad.getOrElse(b, 0L) / n + 0.5).toLong)
      }
    }
    // the FINAL scored frame (doc_id, y, z_micros, p_r, r) is itself a
    // session artifact (round 10): nine eval keys consumed
    // residuals(st.w), each re-paying the broadcast join + groupBy
    // over f per evaluation — one persisted copy serves them all
    QclfState(f, w, wDf, residuals, residuals(w).persist())
  }

  /** McNemar's paired test between the rule gate and the trained
    * classifier — the missing eval that treats the registry's two
    * quality filters as what they are: two classifiers judged on the
    * SAME documents (accuracy alone — q_text_quality_classifier's
    * 0.838 — cannot say whether the 16% disagreement is SYMMETRIC
    * noise or a systematic bias; McNemar's off-diagonal test can, and
    * paired design is the only statistically sound way to compare
    * classifiers sharing a test set). b = gate-keep/clf-drop, c =
    * gate-drop/clf-keep; χ² = (b−c)²/(b+c) vs the pinned χ²₀.₉₅,₁
    * critical value on the r6-PINNED statistic (srm discipline). One
    * aggregate over the shared trained-state residual frame — the
    * same z3 chain as the classifier/ECE oracles, so none can drift. */
  private val evalMcnemar: Q = (s, d) => {
    val st = qclfTrain(s, d)
    st.scored
      .agg(
        count(when(col("y") === 1 && col("z_micros") >= 0, 1))
          .as("n_agree_keep"),
        count(when(col("y") === 0 && col("z_micros") < 0, 1))
          .as("n_agree_drop"),
        count(when(col("y") === 1 && col("z_micros") < 0, 1)).as("n_b"),
        count(when(col("y") === 0 && col("z_micros") >= 0, 1)).as("n_c"))
      // zero-discordant guard (ADVICE r7): perfect gate/classifier
      // agreement means b + c = 0 — by convention no evidence of
      // asymmetry (χ² = 0, asymmetric = false), never NULL/NULL
      .withColumn("chi2_r", when(col("n_b") + col("n_c") === 0, lit(0.0))
        .otherwise(r6(expr(
          "CAST((n_b - n_c) * (n_b - n_c) AS DOUBLE) / (n_b + n_c)"))))
      .select(col("n_agree_keep"), col("n_agree_drop"), col("n_b"),
        col("n_c"), col("chi2_r"),
        (col("chi2_r") > 3.8414588206941245).as("asymmetric"))
  }

  private val qualityClassifier: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val eval = st.scored
      .agg(sum(when((col("z_micros") >= 0L).cast("int").cast("long")
          === col("y"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n_docs"))
      .withColumn("acc_r",
        r6(col("n_correct").cast("double") / col("n_docs")))
    st.wDf(st.w)
      .select(col("b").as("bucket"), col("wm").as("w_micros"),
        (col("wm") / lit(1000000.0)).as("w"))
      .crossJoin(broadcast(eval))
      .orderBy("bucket")
  }

  /** Expected calibration error of the trained quality classifier —
    * the audit that decides whether its probabilities can DRIVE a
    * pipeline (threshold selection, importance weights) or only rank:
    * docs bin by predicted p (10 fixed bins), and each bin compares
    * mean confidence to realized keep-rate; ECE is the doc-weighted
    * mean gap. Per-bin confidence sums ride as exact micros longs
    * (p_r is r6 ⇒ its micros are exact integers — the round-then-
    * aggregate discipline), counts are integers to one division each,
    * and the |bins|-bounded ECE fold is sequential in bin order on
    * both engines. The training replay is the SAME chained-CTE chain
    * as the classifier oracle, so the two keys cannot drift. */
  private val evalEce: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val bins = st.scored
      .withColumn("bin", least(floor(col("p_r") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("p_r") * 1000000 + 0.5).cast("long")).as("conf_micros"),
        sum(col("y")).as("n_pos"))
      .withColumn("conf_r", r6(col("conf_micros") / (col("n") * lit(1000000.0))))
      .withColumn("acc_r", r6(col("n_pos").cast("double") / col("n")))
    // the ECE scalar as a bin-ORDERED full-frame window over the
    // 10-row census (round 10): a full-frame window aggregates in the
    // window's sort order, so the double summation order is the same
    // bin-ascending left fold the collect_list form pinned — minus
    // that form's aggregate + crossJoin(broadcast) stages
    val wb = Window.orderBy("bin").rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("gap_w",
        r6(abs(col("acc_r") - col("conf_r")) * col("n")))
      .withColumn("gap_sum", sum(col("gap_w")).over(wb))
      .withColumn("n_total", sum(col("n")).over(wb))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_r"),
        col("acc_r"), r6(col("gap_sum") / col("n_total")).as("ece_r"))
      .orderBy("bin")
  }

  /** ROC-AUC of the trained quality classifier — the threshold-free
    * ranking metric completing its eval family (accuracy in the key
    * itself, calibration in q_eval_ece, discrimination here). AUC is
    * computed EXACTLY via its rank-sum identity (AUC = (R₁ − n₁(n₁+1)/2)
    * / (n₁n₀), Mann-Whitney): logits are exact long micros, so the
    * per-value census + the distributed inclusive prefix sum
    * (Dist.withPrefixSumsLong — the q_stats_ks machinery, no
    * single-partition window) yield DOUBLED average ranks as exact
    * longs (2C(v) − cnt(v) + 1 handles ties as average rank), and the
    * whole statistic reduces to ONE division of exact longs. Ties get
    * the standard ½ credit automatically. */
  private val evalAuroc: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored.select(col("z_micros").as("v"), col("y"))
    val per = sc.groupBy("v").agg(
      sum(col("y")).as("n1"),
      sum(lit(1L) - col("y")).as("n0"))
    val cum = graft.operators.Dist.withPrefixSumsLong(per,
      Seq("c" -> (col("n1") + col("n0"))), Seq(col("v")))
    // totals fold into the SAME aggregate: the census columns n1/n0
    // ride through the Dist prefix pass, so Σn1/Σn0 here are identical
    // exact longs to a separate corpus aggregate — that separate
    // crossJoin(broadcast(tot)) was one more job and one more pass
    cum
      .select((col("n1") * (lit(2L) * col("c")
        - (col("n1") + col("n0")) + 1)).as("t"), col("n1"), col("n0"))
      .agg(sum(col("t")).as("r1d"), sum(col("n1")).as("n1t"),
        sum(col("n0")).as("n0t"))
      .select(col("n1t"), col("n0t"),
        r6((col("r1d") - col("n1t") * (col("n1t") + 1)).cast("double")
          / (lit(2L) * col("n1t") * col("n0t"))).as("auc"))
      .withColumn("gini_r", r6(lit(2.0) * col("auc") - 1))
  }

  /** Average precision (area under the precision-recall curve) of the
    * trained quality classifier — the ranking metric that matters when
    * positives are rare and ROC-AUC flatters (completing the eval
    * family: accuracy in the key, calibration in q_eval_ece,
    * threshold-free discrimination in q_eval_auroc, rare-positive
    * ranking here). Tie-aware block form: distinct score values sorted
    * DESCENDING are blocks; block v contributes ΔR·P = (n1_v/n_pos) ·
    * (cumPos_v/cumTot_v) — the step-interpolation sklearn's
    * average_precision uses. Every term is rounded to integer micros
    * with pure long arithmetic ((n1·cumPos·1e6 + cumTot div 2) div
    * cumTot — exact and identical on both engines, no float-sum order
    * dependence; products stay < 2⁶³ up to ~10⁸ docs, beyond which
    * this would move to DECIMAL), so the AP sum is an exact long and
    * the statistic is ONE division. The descending prefix counts ride
    * the same Dist range-shuffle + broadcast-offset machinery as
    * q_eval_auroc — never a single-partition window. */
  private val evalPrAuc: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored.select(col("z_micros").as("v"), col("y"))
    val per = sc.groupBy("v").agg(
      sum(col("y")).as("n1"),
      sum(lit(1L) - col("y")).as("n0"))
    val cum = graft.operators.Dist.withPrefixSumsLong(per,
      Seq("cum_tot" -> (col("n1") + col("n0")), "cum_pos" -> col("n1")),
      Seq(col("v").desc))
    // totals fold into the same aggregate (the auroc discipline): n1/n0
    // ride through the prefix pass, exact longs either way
    cum
      .select(expr("(n1 * cum_pos * 1000000L + cum_tot div 2) div cum_tot")
        .as("t"), col("n1"), col("n0"))
      .agg(sum(col("t")).as("ap_micros"), sum(col("n1")).as("n_pos"),
        sum(col("n0")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        r6(col("n_pos").cast("double") / (col("n_pos") + col("n_neg")))
          .as("prevalence_r"),
        r6(col("ap_micros") / (col("n_pos") * lit(1000000.0))).as("ap_r"))
  }

  /** Decile lift / cumulative-gains table of the trained quality
    * classifier — the campaign-planning view of the same ranking the
    * AUC keys score threshold-free: "if I can only afford the top k%,
    * what share of positives do I capture (gain) and how much better
    * than random is that slice (lift)?" Deciles are CEILING cuts of the
    * descending-score cumulative count ((cum·10 + N − 1) div N), so
    * tied-score blocks stay together and the cut is exact integer
    * arithmetic — no per-row ntile, no tie-break dependence. Both
    * cumulative passes ride the Dist range-shuffle prefix-sum machinery
    * (distinct-score census first, 10-row decile census second) — never
    * a single-partition window over rows. Gains/lifts are one pinned
    * division each over exact longs. */
  private val evalLift: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored.select(col("z_micros").as("v"), col("y"))
    val per = sc.groupBy("v")
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("n1b"))
    // grand totals ride the prefix pass's own offsets collect (round
    // 10, Dist.withPrefixSumsLongTotals): the old separate sc.agg +
    // crossJoin(broadcast) re-ran the residuals subtree and paid a
    // broadcast QueryStage job for two numbers the fold already knew
    val (cum, tots) = graft.operators.Dist.withPrefixSumsLongTotals(per,
      Seq("cum_tot" -> col("nb"), "pos_tot" -> col("n1b")),
      Seq(col("v").desc))
    val (nt, npos) = (tots("cum_tot"), tots("pos_tot"))
    val dec = cum
      .withColumn("decile",
        expr(s"(cum_tot * 10 + ${nt}L - 1) div ${nt}L"))
      .groupBy("decile")
      .agg(sum(col("nb")).as("n"), sum(col("n1b")).as("n_pos"),
        max(lit(nt)).as("nt"), max(lit(npos)).as("npos"))
    // the decile census is ≤10 rows BY CONSTRUCTION (a constant, not a
    // data-bounded count), so its prefix sum is a declared
    // bounded-census window (the |days|/|hours| calendar discipline) —
    // exact long sums, identical to the Dist form it replaces, minus
    // that form's range shuffle + checkpoint + offset collect (round 9:
    // this key was 21 jobs)
    val wdec = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    dec
      .withColumn("cum_n", sum(col("n")).over(wdec))
      .withColumn("cum_pos", sum(col("n_pos")).over(wdec))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        r6(col("cum_pos").cast("double") / col("npos")).as("gain_r"),
        r6((col("cum_pos").cast("double") / col("cum_n"))
          / (col("npos").cast("double") / col("nt"))).as("lift_r"))
      .orderBy("decile")
  }

  /** KS score separation of the trained quality classifier — the
    * credit-scoring industry's headline number: the maximum vertical
    * gap between the positive and negative score CDFs, i.e. the single
    * best cut point and how much separation it buys (AUC integrates
    * ranking quality; KS locates the operating point). Same
    * distinct-score census + Dist ascending prefix counts as the AUC
    * keys; each CDF gap is r6-PINNED before the max so the argmax is a
    * decision on pinned values (ties → lowest score); the two-sample
    * KS p-value reuses the q_stats_ks approximation text. */
  private val evalKs: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored.select(col("z_micros").as("v"), col("y"))
    val per = sc.groupBy("v").agg(
      sum(col("y")).as("n1"), sum(lit(1L) - col("y")).as("n0"))
    // totals from the prefix pass's own offsets collect (round 10) —
    // see evalLift; the old sc.agg + crossJoin(broadcast) re-ran the
    // residuals subtree for two numbers the fold already knew
    val (cum, tots) = graft.operators.Dist.withPrefixSumsLongTotals(per,
      Seq("c1" -> col("n1"), "c0" -> col("n0")), Seq(col("v")))
    val dd = cum
      .withColumn("n_pos", lit(tots("c1")))
      .withColumn("n_neg", lit(tots("c0")))
      .withColumn("d_r", r6(abs(col("c1").cast("double") / col("n_pos")
        - col("c0").cast("double") / col("n_neg"))))
    // argmax in ONE aggregate: lexicographic max(struct(d_r, -v)) is
    // exactly "max pinned gap, ties -> lowest score" (the ADVICE-r7
    // argmax discipline) — the previous max-then-broadcast-then-filter
    // re-ran the whole prefix chain per reference (round 9: 15 jobs)
    dd.agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        max(struct(col("d_r"), (-col("v")).as("negv"))).as("b"))
      .select(col("n_pos"), col("n_neg"), col("b.d_r").as("ks_r"),
        (-col("b.negv")).as("at_z_micros"))
      .withColumn("p_r", r6(expr(
        "least(2.0 * exp(-2.0 * ks_r * ks_r" +
          " * CAST(n_pos * n_neg AS DOUBLE) / (n_pos + n_neg))," +
          " CAST(1.0 AS DOUBLE))")))
      .select(col("n_pos"), col("n_neg"), col("ks_r"),
        col("at_z_micros"), col("p_r"),
        (col("p_r") < 0.05).as("separable"))
  }

  /** Calibration slope + intercept (calibration-in-the-large) of the
    * trained quality classifier — the recalibration-audit pair to
    * q_eval_ece: ECE bins and averages (local miscalibration), the
    * linear-probability fit of y on p̂ reads the GLOBAL shape — slope 1
    * and intercept 0 is perfect calibration, slope < 1 is the
    * overconfidence signature that tells you to temperature-scale
    * before thresholding. The predicted probability is already on the
    * r6 grid, so p-micros are EXACT longs and every OLS moment is
    * exact integer arithmetic (the square sum as DECIMAL — it passes
    * 2⁶³ around 10⁹ docs); slope and intercept are each ONE pinned
    * division of exact moments. One hash aggregate over the shared
    * cached scorer — linear, windowless. */
  private val evalCalibSlope: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored
      .select(expr("CAST(floor(p_r * 1000000 + 0.5) AS BIGINT)").as("pm"),
        col("y"))
    sc.agg(count(lit(1)).as("n"), sum(col("pm")).as("sp"),
        sum(expr("CAST(pm AS DECIMAL(19,0)) * CAST(pm AS DECIMAL(19,0))"))
          .as("spp"),
        sum(col("pm") * col("y")).as("spy"), sum(col("y")).as("sy"))
      .withColumn("slope_r", r6(expr(
        "CAST(n * spy - sp * sy AS DOUBLE)" +
          " / CAST(n * spp - CAST(sp AS DECIMAL(19,0)) * sp AS DOUBLE)" +
          " * 1000000.0")))
      .withColumn("intercept_r", r6(expr(
        "(CAST(sy AS DOUBLE) - slope_r * (CAST(sp AS DOUBLE)" +
          " / 1000000.0)) / n")))
      .select(col("n"), col("sy").as("n_pos"), col("slope_r"),
        col("intercept_r"),
        (abs(col("slope_r") - 1.0) < 0.25 &&
          abs(col("intercept_r")) < 0.1).as("well_calibrated"))
  }

  /** Per-slice accuracy audit of the trained quality classifier — the
    * model-ops question the aggregate metrics hide: a model can be
    * fine on average and broken on one (lang, source) slice, which is
    * exactly the slice that ships the damage. Prediction = sign of the
    * integer logit (z ≥ 0 ⟺ p̂ ≥ 0.5 — an exact integer decision, no
    * float compare); per-slice and overall accuracies are pinned
    * divisions of exact counts; each slice's z-score against the
    * overall rate replays from the PINNED accuracies under the normal
    * approximation, flagged at −1.96 (one-sided: only UNDERperformance
    * pages anyone). One join of the cached scorer to the doc
    * dimensions + one slice census — linear, windowless. */
  private val evalSliceAudit: Q = (s, d) => {
    val st = qclfTrain(s, d)
    val sc = st.scored.select(col("doc_id"), col("y"),
      (col("z_micros") >= 0L).cast("long").as("yhat"))
    val per = sc.join(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === col("yhat"), 1L).otherwise(0L))
          .as("n_correct"))
    // corpus totals as windows over the |lang×source|-bounded census
    // (round 10): exact long sums, minus the broadcast QueryStage job
    // + census re-read
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("ct", sum(col("n_correct")).over(wAll))
      .withColumn("acc_all_r", r6(col("ct").cast("double") / col("nt")))
      .withColumn("acc_r", r6(col("n_correct").cast("double") / col("n")))
      .withColumn("z_r", r6(expr(
        "(acc_r - acc_all_r) / sqrt(acc_all_r * (1.0 - acc_all_r) / n)")))
      .select(col("lang"), col("source"), col("n"), col("n_correct"),
        col("acc_r"), col("acc_all_r"), col("z_r"),
        (col("z_r") < -1.9599639845400545).as("underperforms"))
      .orderBy("lang", "source")
  }

  /** Oracle CTE chain replaying dsirScores (ends in `scores` =
    * doc_id, source, n_tok, score_r) — shared by q_sample_dsir and
    * q_sample_ess. */
  private val dsirCtesSql =
    s"""tk AS (SELECT doc_id, source,
                      unnest(string_split(text, ' ')) AS tok
               FROM documents),
         tb AS (SELECT doc_id, source, ${hex2Sql("md5(tok)")} AS b
                FROM tk),
         bc AS (SELECT b, count(*) AS rcnt,
                       count(*) FILTER (WHERE source IN
                         ('src0', 'src1', 'src2', 'src3')) AS tcnt
                FROM tb GROUP BY b),
         tt AS (SELECT CAST(sum(rcnt) AS BIGINT) AS rtot,
                       CAST(sum(tcnt) AS BIGINT) AS ttot FROM bc),
         lr AS (SELECT b,
                       floor((ln((tcnt + 1) / CAST(ttot + 256 AS DOUBLE))
                            - ln((rcnt + 1) / CAST(rtot + 256 AS DOUBLE)))
                         * 1000000 + 0.5) / 1000000.0 AS llr_r
                FROM bc, tt),
         scores AS (
           SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok,
                  floor(sum(llr_r) * 1000000 + 0.5) / 1000000.0 AS score_r
           FROM tb JOIN lr USING (b)
           GROUP BY doc_id, source)"""

  /** Oracle CTE chain replaying qclfTrain verbatim — features, label,
    * two GD steps (w1, w2) and the final logit pass (z3). ONE
    * definition shared by the classifier and ECE oracles. */
  private val qclfCtesSql =
    s"""fx AS (
           SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x FROM (
             SELECT doc_id, ${hex2Sql("md5(tok)")} % 16 AS b
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents) t) u
           GROUP BY doc_id, b
           UNION ALL
           SELECT doc_id, CAST(16 AS BIGINT), CAST(1 AS BIGINT)
           FROM documents),
         lab AS (
           SELECT doc_id,
                  CASE WHEN n_tok >= 20 AND n_stop / n_tok >= 0.02
                        AND 1 - n_uniq / CAST(n_tok AS DOUBLE) <= 0.72
                  THEN 1 ELSE 0 END AS y
           FROM (SELECT doc_id, $qualityStatsColsSql FROM documents) q),
         f AS (SELECT fx.doc_id AS doc_id, b, x, y
               FROM fx JOIN lab USING (doc_id)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         spine AS (SELECT CAST(unnest(generate_series(0, 16)) AS BIGINT)
                     AS b),
         r1 AS (SELECT doc_id,
                       y - floor((1.0 / (1.0 + exp(-(CAST(0 AS BIGINT)
                             / 1000000.0)))) * 1000000 + 0.5)
                           / 1000000.0 AS r
                FROM lab),
         g1 AS (SELECT b, CAST(sum(CAST(floor(r * x * 1000000 + 0.5)
                    AS BIGINT)) AS BIGINT) AS gm
                FROM f JOIN r1 USING (doc_id) GROUP BY b),
         w1 AS (SELECT spine.b AS b,
                       CAST(floor(0.1 * coalesce(gm, 0) / n + 0.5)
                         AS BIGINT) AS wm
                FROM spine LEFT JOIN g1 USING (b) CROSS JOIN nn),
         z2 AS (SELECT f.doc_id AS doc_id, y,
                       CAST(sum(wm * x) AS BIGINT) AS z_micros
                FROM f JOIN w1 USING (b) GROUP BY f.doc_id, y),
         r2 AS (SELECT doc_id,
                       y - floor((1.0 / (1.0 + exp(-(z_micros
                             / 1000000.0)))) * 1000000 + 0.5)
                           / 1000000.0 AS r
                FROM z2),
         g2 AS (SELECT b, CAST(sum(CAST(floor(r * x * 1000000 + 0.5)
                    AS BIGINT)) AS BIGINT) AS gm
                FROM f JOIN r2 USING (doc_id) GROUP BY b),
         w2 AS (SELECT w1.b AS b,
                       w1.wm + CAST(floor(0.1 * coalesce(gm, 0) / n + 0.5)
                         AS BIGINT) AS wm
                FROM w1 LEFT JOIN g2 USING (b) CROSS JOIN nn),
         z3 AS (SELECT f.doc_id AS doc_id, y,
                       CAST(sum(wm * x) AS BIGINT) AS z_micros
                FROM f JOIN w2 USING (b) GROUP BY f.doc_id, y)"""

  /** Rendezvous (highest-random-weight) sharding — the consistent data-
    * placement primitive: every doc goes to the shard whose
    * md5(shard:doc) weight is lexicographically largest. THE property
    * (proved by the output itself): when shard 7 is removed, ONLY its
    * docs move — every other doc's argmax among the survivors is
    * unchanged by construction, so reshards touch 1/n of the data where
    * mod-hashing reshuffles nearly everything. Long-form explode +
    * max_by, one doc_id-keyed aggregate; weights are hex strings
    * compared byte-wise — no decode, exact cross-engine. */
  private val shardRendezvous: Q = (s, d) => {
    def assign(n: Int) =
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr(s"sequence(0, ${n - 1})")).as("sh"))
        .withColumn("w", md5(concat(col("sh").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
        .groupBy("doc_id")
        .agg(max_by(col("sh"), col("w")).cast("long").as(s"shard$n"))
    assign(8).join(assign(7), Seq("doc_id"))
      .groupBy("shard8")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard7") =!= col("shard8"), 1L).otherwise(0L))
          .as("n_moved_on_reshard"))
      .orderBy("shard8")
  }

  /** Character-level Shannon entropy per doc — the gibberish/encoded-
    * blob detector that complements the token-level quality rules
    * (random bytes score HIGH, repeated filler scores LOW; natural text
    * sits in a tight band). Chars via regexp_extract_all('.') — Java
    * and RE2 agree on '.' here because the corpus is newline-free
    * (profiled). Counts are exact integers to the per-term division;
    * the ~|charset|-term ln sum follows the same r6-at-the-boundary
    * discipline as q_stats_entropy/psi. Explode → two hash aggs keyed
    * by doc_id — linear, shuffle on doc_id only. */
  private val charEntropy: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '.', 0)")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy("doc_id")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        r6(-sum((col("c") / col("n")) *
          log(col("c") / col("n")))).as("entropy"))
      .orderBy("doc_id")

  /** RAG chunking with overlap — the retrieval-prep splitter: fixed
    * 32-token chunks on a 24-token stride (8-token overlap keeps
    * boundary answers findable; production uses 2048/256 — the plan is
    * size-agnostic). Chunk starts come from sequence(start, stop,
    * step) per doc — pure projection + explode, no shuffle at all
    * until the output sort, and each chunk row carries (start, len,
    * first/last token) rather than materialized text so downstream
    * embedding jobs read the token slice lazily. */
  private val ragChunks: Q = (s, d) => {
    val (chunk, stride) = (32, 24)
    Tables.documents(s, d)
      .select(col("doc_id"), toks().as("w"))
      .withColumn("n_tok", size(col("w")).cast("long"))
      .withColumn("start",
        explode(expr(s"sequence(0, n_tok - 1, $stride)")))
      .withColumn("len",
        least(lit(chunk.toLong), col("n_tok") - col("start")))
      .select(col("doc_id"), (col("start") / stride).cast("long")
          .as("chunk_idx"),
        col("start").cast("long").as("start"), col("len"),
        expr("element_at(w, CAST(start + 1 AS INT))").as("first_tok"),
        expr("element_at(w, CAST(start + len AS INT))").as("last_tok"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Class-balanced downsampling — every language capped to the
    * MINORITY class count (the third rebalancing shape beside
    * q_sample_stratified's fixed rates and q_sample_domain_cap's fixed
    * cap: here the cap is data-derived). Which docs survive is the
    * deterministic (md5(doc_id), doc_id) hash order, so the balanced
    * set is stable under re-runs and incremental ingest; the census
    * that derives the cap is a bounded frame broadcast back. Window
    * partitioned by lang — thousands of partitions at scale, rank
    * short-circuits via WindowGroupLimit only when the cap is a
    * literal, so the explicit filter is the general form. */
  private val sampleBalanced: Q = (s, d) => {
    val target = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n")).agg(min(col("n")).as("cap"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(target))
      .filter(col("rn") <= col("cap"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit of the token frequency distribution — the corpus-
    * health audit (natural language sits near slope −1; synthetic or
    * templated text departs hard, as this corpus's slope shows): OLS of
    * ln(freq) on ln(rank) over the top-100 ranks. The top-100 frontier
    * comes from a distributed top-k (orderBy+limit compiles to
    * TakeOrderedAndProject — per-partition heaps, no global sort or
    * single-partition window over the vocab census); the rank over the
    * resulting ≤100-row frame and the moment sums then run in ONE pinned
    * partition, which also fixes the double-accumulation order so the
    * OLS division is replay-stable (ADVICE r3). */
  private val tokZipf: Q = (s, d) => {
    val ranked = Tables.documents(s, d)
      .select(explode(toks()).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok"))
      .limit(100)
      .coalesce(1)
      // census window over the ≤100-row top-k frontier only
      .withColumn("rank", row_number().over(
        Window.orderBy(col("f").desc, col("tok"))).cast("long"))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    ranked.agg(count(lit(1)).as("n_ranks"),
      r6((count(lit(1)) * sum(col("x") * col("y")) -
          sum(col("x")) * sum(col("y"))) /
        (count(lit(1)) * sum(col("x") * col("x")) -
          sum(col("x")) * sum(col("x")))).as("slope"),
      r6((sum(col("y")) * sum(col("x") * col("x")) -
          sum(col("x")) * sum(col("x") * col("y"))) /
        (count(lit(1)) * sum(col("x") * col("x")) -
          sum(col("x")) * sum(col("x")))).as("intercept"))
  }

  /** Corpus-driven stopword discovery: tokens present in > 60 % of
    * documents, with their document frequency and share — the artifact
    * builder that feeds curated stopword lists (the quality/normalize
    * ops consume such lists as broadcast lexicons). Distinct (doc,
    * token) explode → |vocab|-bounded df census → 1-row doc count
    * broadcast back; the share threshold compares identical doubles in
    * both engines (exact integer df / exact integer n_docs). */
  private val stopwordDiscover: Q = (s, d) => {
    val df = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(nd))
      .filter(col("df").cast("double") / col("n_docs") > 0.6)
      .select(col("token"), col("df"),
        r6(col("df").cast("double") / col("n_docs")).as("df_share"))
      .orderBy(col("df_share").desc, col("token"))
  }

  /** Type-token ratio (lexical diversity) per document — the classic
    * vocabulary-richness quality signal (templated/generated text shows
    * abnormally low TTR; the synthetic corpus's 31-token vocabulary
    * makes that visible). One explode + one hash aggregate keyed on
    * doc_id; the distinct count is per-group exact (partial aggregation
    * applies — no global distinct). Exact integers to one r6 division. */
  private val ttr: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks()).as("tok"))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_types"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_types"), col("n_tokens"),
        r6(col("n_types").cast("double") / col("n_tokens")).as("ttr"))
      .orderBy("doc_id")

  /** Readability scoring per document — the curation feature that
    * separates "simple English" from "dense jargon" tiers when packing
    * a pretraining mix. This corpus has NO sentence punctuation
    * (checked: zero '.' anywhere), so the sentence-based indices
    * (Flesch, FK grade) are undefined; FORCAST is the standard formula
    * built for exactly that situation (unpunctuated technical text:
    * grade = 20 − 150·(monosyllabic share)/10, only syllable censuses
    * needed). Syllables ≈ vowel-group runs ([aeiouy]+ — the langid
    * heuristic family); every count is an exact integer from one
    * regexp projection (no shuffle beyond the output sort), ratios
    * r6-pinned. Both engines run the same greedy regex on the same
    * strings, so the integer censuses are identical by construction. */
  private val readability: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks()).as("n_words"),
        size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
          .as("n_syll"),
        expr("size(filter(split(text, ' '), w -> " +
          "size(regexp_extract_all(w, '[aeiouy]+', 0)) = 1))")
          .as("n_mono"))
      .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_mono"),
        r6(col("n_syll").cast("double") / col("n_words"))
          .as("syll_per_word"),
        r6(lit(20.0) - expr(
          "15.0 * (CAST(n_mono AS DOUBLE) / n_words)"))
          .as("forcast_grade"))
      .orderBy("doc_id")

  // Dunning LLR closed form over the bigram contingency table — ONE
  // formula text for both engines (granger discipline). k11=cab,
  // k12=ra−k11, k21=cb2−k11, k22=n−ra−cb2+k11; zero cells contribute
  // exactly 0 (the CASE guard, not an epsilon hack).
  private def llrTerm(k: String, den: String): String =
    s"CASE WHEN $k > 0 THEN $k * ln((CAST($k AS DOUBLE) * n) / ($den))" +
      s" ELSE 0.0 END"
  private val llrFrag: String = "2.0 * ((" +
    llrTerm("k11", "CAST(ra AS DOUBLE) * cb2") + ") + (" +
    llrTerm("k12", "CAST(ra AS DOUBLE) * (n - cb2)") + ") + (" +
    llrTerm("k21", "CAST(n - ra AS DOUBLE) * cb2") + ") + (" +
    llrTerm("k22", "CAST(n - ra AS DOUBLE) * (n - cb2)") + "))"

  /** Collocation extraction by Dunning's log-likelihood ratio — the
    * significance-aware sibling of q_text_pmi (PMI over-ranks rare
    * pairs: a 5-count bigram of two 5-count words maxes PMI; LLR
    * instead asks how UNLIKELY the co-occurrence count is under
    * independence, so high-volume collocations surface — the standard
    * choice for tokenizer-merge candidates and phrase mining). Same
    * bigram census as PMI (lead over per-doc windows, one hash
    * aggregate); the 2×2 margins come from the bigram table itself
    * (row = first-position count, col = second-position count), every
    * cell an exact integer, one shared closed-form text with CASE-
    * guarded zero cells, r6-pinned before the top-20 rank cut. */
  private val llrCollocations: Q = (s, d) => {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks()))
      .withColumnRenamed("col", "token")
    val big = tok.withColumn("nxt", lead(col("token"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("token").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("k11"))
    // The GLOBAL total n is not windowed over the bigram frame (ADVICE
    // r10): the bigram census is a distinct-adjacent-pair frame that
    // grows with the corpus (|vocab|² is a ceiling, not a bound, at
    // 100 TB), so a partition-less window would serialize it to one
    // task — the round-10 fold traded that hazard for 3 jobs. (jobs 4
    // → 7, warm 1.2 → 0.95 s, A/B'd round 11 against crossJoin-
    // broadcast-agg [7 jobs, 1.9 s] and eager-checkpoint [8, 1.0 s])
    val wB = Window.partitionBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // the row margin collapses to a |vocab|-row table; the global total
    // n rides IT as a vocab-bounded global window (a declared lint
    // allowance) and one broadcast join delivers both ra and n to every
    // bigram row.
    // cb2 stays a PARTITIONED window (parallel — partitionBy("b")): the
    // double-margin broadcast variant cost one more job (8 vs 7) and
    // +0.6 s warm, A/B'd round 11.
    val raT = big.groupBy("a").agg(sum(col("k11")).as("ra"))
      .withColumn("n", sum(col("ra")).over(wAll))
    big
      .withColumn("cb2", sum(col("k11")).over(wB))
      .join(broadcast(raT), Seq("a"))
      .withColumn("k12", col("ra") - col("k11"))
      .withColumn("k21", col("cb2") - col("k11"))
      .withColumn("k22", col("n") - col("ra") - col("cb2") + col("k11"))
      .filter(col("k11") >= 5)
      .withColumn("llr", r6(expr(llrFrag)))
      .select("a", "b", "k11", "llr")
      .orderBy(col("llr").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Count-min sketch error audit — the calibration-harness entry for
    * q_text_count_min (the standing rule: every sketch in the registry
    * ships its own measured error — KMV, LSH, MinHash, IVF, PQ, JL all
    * do; CMS was the one sketch without). Rebuilds the SAME 4×32 md5
    * sketch, then compares est vs exact for EVERY distinct token (the
    * full-vocab census is |vocab|-bounded — exactly why this audit is
    * cheap at any corpus size) and reports: how many estimates are
    * exact, the worst and mean overestimate, and how many fall within
    * the 2N/w deterministic-style bound. CMS never underestimates —
    * the audit would expose a broken hash row as est < exact. */
  private val evalCmsError: Q = (s, d) => {
    // The md5 row-buckets depend only on the TOKEN STRING, so they are
    // computed on the |vocab|-bounded frequency census, never per
    // occurrence (the BPE vocab-sized-pass rule): 4·|vocab| md5 calls
    // instead of 4·|stream| (round 7 hashed every occurrence twice —
    // ~2M md5 evaluations at sf0.1, the whole cost of the key), and
    // the corpus is scanned exactly once for the census, which is
    // pinned as a bounded LocalRelation-sized checkpoint so the three
    // consumers (cells, estimates, stream total) don't re-scan.
    val tf = Tables.documents(s, d).select(explode(toks()).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    def bucket(r: Int): Column =
      hex2(md5(concat(lit(s"$r:"), col("tok")))) % 32
    val rbs = (0 until 4).map(r =>
      struct(lit(r).as("r"), bucket(r).as("b")))
    val cells = tf.select(col("exact"), explode(array(rbs: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("exact")).as("c"))
    val est = tf
      .select(col("tok"), col("exact"), explode(array(rbs: _*)).as("rb"))
      .select(col("tok"), col("exact"), col("rb.r").as("r"),
        col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("tok", "exact").agg(min(col("c")).as("est"))
    // stream total as a window over the |vocab|-bounded estimate frame
    // (round 10): est has exactly one row per token, so Σ exact there
    // equals the census total — drops the crossJoin + broadcast job
    est
      .withColumn("n_stream", sum(col("exact")).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("n_stream")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("est") === col("exact"), 1)).as("n_exact"),
        max(col("est") - col("exact")).as("max_err"),
        r6(expr("avg(CAST(est - exact AS DOUBLE))")).as("avg_err"),
        count(when(col("est") - col("exact") <=
          expr("(2 * n_stream) div 32"), 1)).as("n_within_bound"))
      .orderBy("n_stream")
  }

  private def lexValues(lex: Seq[(String, Any)]): String =
    lex.map { case (t, v) => s"('$t', $v)" }.mkString(", ")

  /** Shared oracle fragment: language-ID per doc — referenced
    * standalone and composed by the q_eval_langid confusion matrix. */
  private val langidSql =
    s"""WITH votes AS (
         SELECT doc_id, lex_lang, count(*) AS v
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents) t
         JOIN (VALUES ${lexValues(langLexicon.map { case (t, l) => (t, s"'$l'") })})
           AS lex(tok, lex_lang) ON t.token = lex.tok
         GROUP BY doc_id, lex_lang),
       best AS (
         SELECT doc_id, lex_lang FROM (
           SELECT doc_id, lex_lang,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY v DESC, lex_lang) AS rn
           FROM votes) WHERE rn = 1)
       SELECT d.doc_id, coalesce(b.lex_lang, 'und') AS pred_lang,
              coalesce(b.lex_lang, 'und') = d.lang AS is_correct
       FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       ORDER BY d.doc_id"""

  /** Shared CTE chain for the BPE oracles: word-frequency census →
    * double-space symbol encoding → five merge rounds (r1..r5, with
    * per-round argmax CTEs r1b..r5b) — the same replace() arithmetic
    * the Spark trainer runs. */
  private val bpeOracleCtes: String = {
    def round(prev: String, r: Int): String =
      s"""r${r}p AS (
           SELECT pr, CAST(sum(f) AS BIGINT) AS cnt FROM (
             SELECT f, unnest(list_transform(
                 generate_series(1,
                   len(string_split(trim(sym), '  ')) - 1),
                 i -> string_split(trim(sym), '  ')[i] || ' ' ||
                      string_split(trim(sym), '  ')[i + 1])) AS pr
             FROM $prev) t
           GROUP BY pr),
         r${r}b AS (SELECT CAST($r AS BIGINT) AS round,
                           pr AS merge_rule, cnt
                    FROM r${r}p ORDER BY cnt DESC, pr LIMIT 1),
         r$r AS (SELECT replace(sym,
                   ' ' || replace(merge_rule, ' ', '  ') || ' ',
                   ' ' || replace(merge_rule, ' ', '') || ' ') AS sym, f
                 FROM $prev CROSS JOIN r${r}b)"""
    s"""WITH wf AS (
         SELECT w, CAST(count(*) AS BIGINT) AS f
         FROM (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents) t
         WHERE len(w) > 1 GROUP BY w),
       r0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ')
                       || ' ' AS sym, f
              FROM wf),
       ${(1 to 5).map(r => round(s"r${r - 1}", r)).mkString(",\n")}"""
  }

  /** Exact near-duplicate pairs (Jaccard >= 0.8): the q_dedup_near oracle
    * and the ground truth of DedupOps' q_eval_minhash_recall oracle. */
  private[operators] val dedupNearSql =
    """WITH tok AS (
           SELECT doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
           FROM tok x JOIN tok y ON x.tok = y.tok AND x.doc_id < y.doc_id
           GROUP BY x.doc_id, y.doc_id)
         SELECT a, b,
                floor((i / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000.0
                  AS jacc_r
         FROM inter
         JOIN sz sa ON sa.doc_id = a
         JOIN sz sb ON sb.doc_id = b
         WHERE i / (sa.n + sb.n - i) >= 0.8
           AND sa.n * 4 <= sb.n * 5 AND sb.n * 4 <= sa.n * 5
         ORDER BY a, b"""

  val declared: Seq[Query] = Seq(
    // count_min's 4×32 sketch rebuilt verbatim, audited over the full
    // |vocab| census; integer error arithmetic end to end
    Query("q_eval_cms_error", evalCmsError,
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         rb AS (SELECT tok, r,
                       ${hex2Sql("md5(CAST(r AS VARCHAR) || ':' || tok)")}
                         % 32 AS b
                FROM tok CROSS JOIN
                  (SELECT unnest(generate_series(0, 3)) AS r) rs),
         cells AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
                   FROM rb GROUP BY r, b),
         ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
                FROM tok GROUP BY tok),
         probes AS (SELECT tok, exact, r,
                           ${hex2Sql("md5(CAST(r AS VARCHAR) || ':' || tok)")}
                             % 32 AS b
                    FROM ex CROSS JOIN
                      (SELECT unnest(generate_series(0, 3)) AS r) rs),
         est AS (SELECT p.tok, p.exact, CAST(min(c.c) AS BIGINT) AS est
                 FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
                 GROUP BY p.tok, p.exact),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_stream FROM tok)
         SELECT n_stream, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(count(*) FILTER (est = exact) AS BIGINT) AS n_exact,
                CAST(max(est - exact) AS BIGINT) AS max_err,
                floor((avg(CAST(est - exact AS DOUBLE)))
                      * 1000000 + 0.5) / 1000000.0 AS avg_err,
                CAST(count(*) FILTER (est - exact <=
                  (2 * n_stream) // 32) AS BIGINT) AS n_within_bound
         FROM est CROSS JOIN ns GROUP BY n_stream ORDER BY n_stream""",
      cap = 9)
      .allowGlobalWindow("|vocab| estimate census"),
    // PMI's bigram census; margins from the bigram table; the shared
    // llrFrag closed form; rank on the pinned llr
    Query("q_text_llr", llrCollocations,
      s"""WITH tokp AS (
           SELECT doc_id,
                  CAST(unnest(generate_series(1,
                    len(string_split(text, ' ')))) - 1 AS INTEGER) AS pos,
                  unnest(string_split(text, ' ')) AS token
           FROM documents),
         seq AS (SELECT token AS a,
                        lead(token, 1) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS b
                 FROM tokp),
         big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS k11 FROM seq
                 WHERE b IS NOT NULL GROUP BY a, b),
         rm AS (SELECT a, CAST(sum(k11) AS BIGINT) AS ra
                FROM big GROUP BY a),
         cm AS (SELECT b, CAST(sum(k11) AS BIGINT) AS cb2
                FROM big GROUP BY b),
         nt AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM big),
         cells AS (
           SELECT big.a, big.b, k11, ra, cb2, n,
                  ra - k11 AS k12, cb2 - k11 AS k21,
                  n - ra - cb2 + k11 AS k22
           FROM big JOIN rm ON big.a = rm.a
                    JOIN cm ON big.b = cm.b
                    CROSS JOIN nt
           WHERE k11 >= 5)
         SELECT a, b, k11,
                floor(($llrFrag) * 1000000 + 0.5) / 1000000.0 AS llr
         FROM cells
         ORDER BY llr DESC, a, b LIMIT 20""", cap = 9)
      .allowGlobalWindow("|vocab| row-margin census"),
    // size() is INT in Spark, len() BIGINT in DuckDB → CAST AS INTEGER
    // (the tokencount convention); formula text shared thereafter
    Query("q_text_readability", readability,
      """WITH c AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS INTEGER)
                    AS n_words,
                  CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                    AS INTEGER) AS n_syll,
                  CAST(len(list_filter(string_split(text, ' '),
                       w -> len(regexp_extract_all(w, '[aeiouy]+')) = 1))
                    AS INTEGER) AS n_mono
           FROM documents)
         SELECT doc_id, n_words, n_syll, n_mono,
                floor((CAST(n_syll AS DOUBLE) / n_words)
                      * 1000000 + 0.5) / 1000000.0 AS syll_per_word,
                floor((20.0 - 15.0 * (CAST(n_mono AS DOUBLE) / n_words))
                      * 1000000 + 0.5) / 1000000.0 AS forcast_grade
         FROM c ORDER BY doc_id"""),
    Query("q_text_stopword_discover", stopwordDiscover,
      """WITH docs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents),
         df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
             SELECT DISTINCT doc_id,
                    unnest(string_split(text, ' ')) AS token
             FROM documents) t
           GROUP BY token)
         SELECT token, df,
                floor((CAST(df AS DOUBLE) / n_docs) * 1000000 + 0.5)
                  / 1000000.0 AS df_share
         FROM df CROSS JOIN docs
         WHERE CAST(df AS DOUBLE) / n_docs > 0.6
         ORDER BY df_share DESC, token"""),
    Query("q_text_tok_zipf", tokZipf,
      """WITH f AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS f
           FROM (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY tok),
         rk AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, tok)
                    AS DOUBLE)) AS x,
                  ln(CAST(f AS DOUBLE)) AS y,
                  row_number() OVER (ORDER BY f DESC, tok) AS rank
           FROM f QUALIFY rank <= 100)
         SELECT CAST(count(*) AS BIGINT) AS n_ranks,
                floor(((count(*) * sum(x * y) - sum(x) * sum(y)) /
                       (count(*) * sum(x * x) - sum(x) * sum(x)))
                  * 1000000 + 0.5) / 1000000.0 AS slope,
                floor(((sum(y) * sum(x * x) - sum(x) * sum(x * y)) /
                       (count(*) * sum(x * x) - sum(x) * sum(x)))
                  * 1000000 + 0.5) / 1000000.0 AS intercept
         FROM rk"""),
    Query("q_sample_balanced", sampleBalanced,
      """WITH cap AS (
           SELECT CAST(min(n) AS BIGINT) AS cap
           FROM (SELECT lang, count(*) AS n FROM documents
                 GROUP BY lang) c),
         rk AS (
           SELECT doc_id, lang,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    AS BIGINT) AS rn
           FROM documents)
         SELECT doc_id, lang, rn
         FROM rk CROSS JOIN cap WHERE rn <= cap
         ORDER BY doc_id"""),
    Query("q_text_char_entropy", charEntropy,
      """WITH ch AS (SELECT doc_id,
                            unnest(regexp_extract_all(text, '.')) AS ch
                     FROM documents),
         cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM ch GROUP BY doc_id, ch),
         cn AS (SELECT doc_id, c,
                       CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT)
                         AS n
                FROM cc)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
                CAST(count(*) AS BIGINT) AS n_distinct,
                floor((-sum((CAST(c AS DOUBLE) / n)
                  * ln(CAST(c AS DOUBLE) / n))) * 1000000 + 0.5)
                  / 1000000.0 AS entropy
         FROM cn GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_text_rag_chunks", ragChunks,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tok
                    FROM documents),
         s AS (SELECT doc_id, w, n_tok,
                      unnest(generate_series(0, n_tok - 1, 24)) AS start
               FROM t)
         SELECT doc_id, start // 24 AS chunk_idx, start,
                least(32, n_tok - start) AS len,
                w[CAST(start + 1 AS INTEGER)] AS first_tok,
                w[CAST(start + least(32, n_tok - start) AS INTEGER)]
                  AS last_tok
         FROM s ORDER BY doc_id, chunk_idx"""),
    Query("q_shard_rendezvous", shardRendezvous,
      """WITH a8 AS (
           SELECT doc_id, CAST(arg_max(sh, w) AS BIGINT) AS shard8
           FROM (SELECT doc_id, sh,
                        md5(CAST(sh AS VARCHAR) || ':' ||
                            CAST(doc_id AS VARCHAR)) AS w
                 FROM documents CROSS JOIN
                   (SELECT unnest(generate_series(0, 7)) AS sh) s) t
           GROUP BY doc_id),
         a7 AS (
           SELECT doc_id, CAST(arg_max(sh, w) AS BIGINT) AS shard7
           FROM (SELECT doc_id, sh,
                        md5(CAST(sh AS VARCHAR) || ':' ||
                            CAST(doc_id AS VARCHAR)) AS w
                 FROM documents CROSS JOIN
                   (SELECT unnest(generate_series(0, 6)) AS sh) s) t
           GROUP BY doc_id)
         SELECT shard8, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN shard7 <> shard8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved_on_reshard
         FROM a8 JOIN a7 USING (doc_id)
         GROUP BY shard8 ORDER BY shard8"""),
    Query("q_text_bpe_pairs", bpePairs,
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents),
         wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f
                FROM w0 WHERE length(w) > 1 GROUP BY w),
         i AS (SELECT w, f,
                      unnest(generate_series(1, length(w) - 1)) AS pos
               FROM wf)
         SELECT substr(w, CAST(pos AS INTEGER), 2) AS pair,
                CAST(sum(f) AS BIGINT) AS cnt
         FROM i GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""),
    Query("q_sample_temperature", sampleTemperature,
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY lang),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
         x AS (SELECT lang, n, CAST(n AS DOUBLE) / tot AS p,
                      CAST(floor(exp(0.7 * ln(CAST(n AS DOUBLE) / tot))
                        * 1e12) AS BIGINT) AS wt
               FROM c CROSS JOIN t),
         z AS (SELECT CAST(sum(wt) AS BIGINT) AS z FROM x)
         SELECT lang, n,
                floor(p * 1000000 + 0.5) / 1000000.0 AS p_raw,
                floor(CAST(wt AS DOUBLE) / z * 1000000 + 0.5) / 1000000.0
                  AS p_temp,
                floor(1000.0 * wt / z * 100 + 0.5) / 100.0
                  AS expected_docs
         FROM x CROSS JOIN z ORDER BY lang""")
      .allowGlobalWindow("|langs| census"),
    Query("q_sample_dsir", sampleDsir,
      s"""WITH $dsirCtesSql
         SELECT doc_id, source, n_tok, score_r FROM scores
         ORDER BY score_r DESC, doc_id LIMIT 50""", cap = 3),
    // clipped pinned micro-weights, HUGEINT moment sums, ESS = one
    // double division of two exact integers
    Query("q_sample_ess", sampleEss,
      s"""WITH $dsirCtesSql,
         wm AS (SELECT CAST(floor(exp(least(greatest(score_r, -20.0),
                    20.0)) * 1000000 + 0.5) AS BIGINT) AS w_m,
                  score_r
                FROM scores),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN abs(score_r) > 20.0 THEN 1
                                ELSE 0 END) AS BIGINT) AS n_clipped,
                       sum(CAST(w_m AS HUGEINT)) AS sw,
                       sum(CAST(w_m AS HUGEINT) * w_m) AS sww
                FROM wm),
         e1 AS (SELECT n_docs, n_clipped,
                       ${rsql("CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)" +
                         " / CAST(sww AS DOUBLE)", 1000000)} AS ess_r
                FROM ag)
         SELECT n_docs, n_clipped, ess_r,
                ${rsql("ess_r / n_docs", 1000000)} AS ess_frac_r,
                ess_r / n_docs < 0.1 AS degenerate
         FROM e1""", cap = 4),
    Query("q_text_count_min", countMin,
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         rb AS (SELECT tok, r,
                       ${hex2Sql("md5(CAST(r AS VARCHAR) || ':' || tok)")}
                         % 32 AS b
                FROM tok CROSS JOIN
                  (SELECT unnest(generate_series(0, 3)) AS r) rs),
         cells AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
                   FROM rb GROUP BY r, b),
         top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
                 FROM tok GROUP BY tok
                 ORDER BY exact DESC, tok LIMIT 10),
         probes AS (SELECT tok, exact, r,
                           ${hex2Sql("md5(CAST(r AS VARCHAR) || ':' || tok)")}
                             % 32 AS b
                    FROM top CROSS JOIN
                      (SELECT unnest(generate_series(0, 3)) AS r) rs)
         SELECT p.tok, p.exact, CAST(min(c.c) AS BIGINT) AS est
         FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
         GROUP BY p.tok, p.exact ORDER BY p.exact DESC, p.tok"""),
    Query("q_text_feature_hash", featureHash,
      s"""SELECT doc_id,
                ${hex2Sql("md5(tok)")} % 64 AS bucket,
                CAST(count(*) AS BIGINT) AS n
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents WHERE doc_id < 50) t
         GROUP BY doc_id, bucket ORDER BY doc_id, bucket"""),
    // Two full-batch GD steps replayed as chained CTEs: exact long
    // logits (micros weights × integer counts), σ r6-pinned before the
    // residual, per-term gradient micros summed as BIGINTs, and the
    // bucket spine LEFT-joins each gradient so absent buckets update by
    // exactly 0 on both engines. The training chain (qclfCtesSql) is
    // SHARED with q_eval_ece's oracle.
    Query("q_text_quality_classifier", qualityClassifier,
      s"""WITH $qclfCtesSql,
         ev AS (SELECT CAST(sum(CASE WHEN (CASE WHEN z_micros >= 0
                            THEN 1 ELSE 0 END) = y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM z3)
         SELECT b AS bucket, wm AS w_micros, wm / 1000000.0 AS w,
                n_correct, n_docs,
                floor((CAST(n_correct AS DOUBLE) / n_docs)
                  * 1000000 + 0.5) / 1000000.0 AS acc_r
         FROM w2 CROSS JOIN ev ORDER BY bucket""", cap = 6),
    // the shared z3 residual frame → 2×2 agreement census → pinned
    // (b−c)²/(b+c) vs the pinned χ² critical value (srm discipline)
    Query("q_eval_mcnemar", evalMcnemar,
      s"""WITH $qclfCtesSql,
         m AS (SELECT
                 CAST(count(*) FILTER (y = 1 AND z_micros >= 0)
                   AS BIGINT) AS n_agree_keep,
                 CAST(count(*) FILTER (y = 0 AND z_micros < 0)
                   AS BIGINT) AS n_agree_drop,
                 CAST(count(*) FILTER (y = 1 AND z_micros < 0)
                   AS BIGINT) AS n_b,
                 CAST(count(*) FILTER (y = 0 AND z_micros >= 0)
                   AS BIGINT) AS n_c
               FROM z3)
         SELECT n_agree_keep, n_agree_drop, n_b, n_c,
                CASE WHEN n_b + n_c = 0 THEN 0.0 ELSE
                  floor((CAST((n_b - n_c) * (n_b - n_c) AS DOUBLE)
                         / (n_b + n_c)) * 1000000 + 0.5) / 1000000.0
                END AS chi2_r,
                CASE WHEN n_b + n_c = 0 THEN false ELSE
                  floor((CAST((n_b - n_c) * (n_b - n_c) AS DOUBLE)
                         / (n_b + n_c)) * 1000000 + 0.5) / 1000000.0
                  > 3.8414588206941245
                END AS asymmetric
         FROM m""", cap = 4),
    // AUC via the exact rank-sum identity on the trained logits; the
    // doubled-rank census keeps every intermediate a BIGINT.
    Query("q_eval_auroc", evalAuroc,
      s"""WITH $qclfCtesSql,
         scv AS (SELECT z_micros AS v, y FROM z3),
         per AS (SELECT v, CAST(sum(y) AS BIGINT) AS n1,
                        CAST(sum(1 - y) AS BIGINT) AS n0
                 FROM scv GROUP BY v),
         c AS (SELECT v, n1, n0,
                      sum(n1 + n0) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS c
               FROM per),
         rsum AS (SELECT CAST(sum(n1 * (2 * c - (n1 + n0) + 1))
                    AS BIGINT) AS r1d FROM c),
         tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1t,
                        CAST(sum(1 - y) AS BIGINT) AS n0t
                 FROM scv),
         a AS (SELECT n1t, n0t,
                      floor((CAST(r1d - n1t * (n1t + 1) AS DOUBLE)
                             / (2 * n1t * n0t)) * 1000000 + 0.5)
                        / 1000000.0 AS auc
               FROM rsum CROSS JOIN tot)
         SELECT n1t, n0t, auc,
                floor((2.0 * auc - 1) * 1000000 + 0.5) / 1000000.0
                  AS gini_r
         FROM a""", cap = 6),
    // Tie-aware block AP: same z3 score chain, descending prefix
    // counts, per-block integer-micros term ((n1·cumPos·1e6 +
    // cumTot//2) // cumTot) — mirrors the Spark long `div` exactly.
    Query("q_eval_pr_auc", evalPrAuc,
      s"""WITH $qclfCtesSql,
         scv AS (SELECT z_micros AS v, y FROM z3),
         per AS (SELECT v, CAST(sum(y) AS BIGINT) AS n1,
                        CAST(sum(1 - y) AS BIGINT) AS n0
                 FROM scv GROUP BY v),
         c AS (SELECT v, n1, n0,
                      CAST(sum(n1 + n0) OVER (ORDER BY v DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_tot,
                      CAST(sum(n1) OVER (ORDER BY v DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_pos
               FROM per),
         apm AS (SELECT CAST(sum((n1 * cum_pos * 1000000 + cum_tot // 2)
                           // cum_tot) AS BIGINT) AS ap_micros FROM c),
         tot AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                        CAST(sum(1 - y) AS BIGINT) AS n_neg FROM scv)
         SELECT n_pos, n_neg,
                floor((CAST(n_pos AS DOUBLE) / (n_pos + n_neg)) * 1000000
                  + 0.5) / 1000000.0 AS prevalence_r,
                floor((ap_micros / (n_pos * 1000000.0)) * 1000000 + 0.5)
                  / 1000000.0 AS ap_r
         FROM apm CROSS JOIN tot""", cap = 6),
    // Integer-logit prediction, slice census joined to doc dims, z
    // replayed from the pinned accuracies.
    Query("q_eval_slice_audit", evalSliceAudit,
      s"""WITH $qclfCtesSql,
         sc AS (SELECT doc_id, y,
                       CASE WHEN z_micros >= 0 THEN 1 ELSE 0 END AS yhat
                FROM z3),
         per AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN y = yhat THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_correct
                 FROM sc JOIN documents USING (doc_id)
                 GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                        CAST(sum(n_correct) AS BIGINT) AS ct
                 FROM per),
         t2 AS (SELECT nt, ct, ${rsql("CAST(ct AS DOUBLE) / nt",
                  1000000)} AS acc_all_r FROM tot),
         a1 AS (SELECT lang, source, n, n_correct, acc_all_r,
                       ${rsql("CAST(n_correct AS DOUBLE) / n",
                         1000000)} AS acc_r
                FROM per CROSS JOIN t2),
         a2 AS (SELECT lang, source, n, n_correct, acc_r, acc_all_r,
                       ${rsql("(acc_r - acc_all_r)" +
                         " / sqrt(acc_all_r * (1.0 - acc_all_r) / n)",
                         1000000)} AS z_r
                FROM a1)
         SELECT lang, source, n, n_correct, acc_r, acc_all_r, z_r,
                z_r < -1.9599639845400545 AS underperforms
         FROM a2 ORDER BY lang, source""", cap = 6)
      .allowGlobalWindow("|lang x source| census"),
    // Exact p-micros OLS moments (HUGEINT here, DECIMAL in Spark —
    // same exact integers, same one double division), slope pinned
    // before the intercept uses it.
    Query("q_eval_calibration_slope", evalCalibSlope,
      s"""WITH $qclfCtesSql,
         sc AS (SELECT CAST(floor((1.0 / (1.0 + exp(-(z_micros
                    / 1000000.0)))) * 1000000 + 0.5) AS BIGINT) AS pm,
                  y
               FROM z3),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(pm) AS BIGINT) AS sp,
                       sum(CAST(pm AS HUGEINT) * pm) AS spp,
                       CAST(sum(pm * y) AS BIGINT) AS spy,
                       CAST(sum(y) AS BIGINT) AS sy
                FROM sc),
         s1 AS (SELECT n, sp, sy,
                       ${rsql("CAST(n * spy - sp * sy AS DOUBLE)" +
                         " / CAST(n * spp - CAST(sp AS HUGEINT) * sp" +
                         " AS DOUBLE) * 1000000.0", 1000000)} AS slope_r
                FROM ag),
         s2 AS (SELECT n, sy, slope_r,
                       ${rsql("(CAST(sy AS DOUBLE) - slope_r" +
                         " * (CAST(sp AS DOUBLE) / 1000000.0)) / n",
                         1000000)} AS intercept_r
                FROM s1)
         SELECT n, sy AS n_pos, slope_r, intercept_r,
                abs(slope_r - 1.0) < 0.25 AND abs(intercept_r) < 0.1
                  AS well_calibrated
         FROM s2""", cap = 4),
    // Ascending CDF prefix counts, pinned gap per distinct score, max
    // then lowest-score argmax on pinned values; q_stats_ks p text.
    Query("q_eval_ks_score", evalKs,
      s"""WITH $qclfCtesSql,
         scv AS (SELECT z_micros AS v, y FROM z3),
         per AS (SELECT v, CAST(sum(y) AS BIGINT) AS n1,
                        CAST(sum(1 - y) AS BIGINT) AS n0
                 FROM scv GROUP BY v),
         c AS (SELECT v,
                      CAST(sum(n1) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c1,
                      CAST(sum(n0) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c0
               FROM per),
         tot AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                        CAST(sum(1 - y) AS BIGINT) AS n_neg FROM scv),
         dd AS (SELECT v, n_pos, n_neg,
                       ${rsql("abs(CAST(c1 AS DOUBLE) / n_pos" +
                         " - CAST(c0 AS DOUBLE) / n_neg)", 1000000)}
                         AS d_r
                FROM c CROSS JOIN tot),
         mx AS (SELECT max(d_r) AS ks_r FROM dd),
         res AS (SELECT n_pos, n_neg, ks_r, min(v) AS at_z_micros
                 FROM dd CROSS JOIN mx WHERE d_r = ks_r
                 GROUP BY 1, 2, 3),
         pp AS (SELECT n_pos, n_neg, ks_r, at_z_micros,
                       ${rsql("least(2.0 * exp(-2.0 * ks_r * ks_r" +
                         " * CAST(n_pos * n_neg AS DOUBLE)" +
                         " / (n_pos + n_neg)), CAST(1.0 AS DOUBLE))",
                         1000000)} AS p_r
                FROM res)
         SELECT n_pos, n_neg, ks_r, at_z_micros, p_r,
                p_r < 0.05 AS separable
         FROM pp""", cap = 6),
    // Ceiling decile cuts of the descending cumulative count (tied
    // blocks stay together, exact integer arithmetic), then one pinned
    // division per gain/lift on the 10-row census.
    Query("q_eval_lift_gains", evalLift,
      s"""WITH $qclfCtesSql,
         scv AS (SELECT z_micros AS v, y FROM z3),
         per AS (SELECT v, CAST(count(*) AS BIGINT) AS nb,
                        CAST(sum(y) AS BIGINT) AS n1b
                 FROM scv GROUP BY v),
         c AS (SELECT v, nb, n1b,
                      CAST(sum(nb) OVER (ORDER BY v DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_tot
               FROM per),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nt,
                        CAST(sum(y) AS BIGINT) AS npos FROM scv),
         dec AS (SELECT CAST((cum_tot * 10 + nt - 1) // nt AS BIGINT)
                          AS decile,
                        CAST(sum(nb) AS BIGINT) AS n,
                        CAST(sum(n1b) AS BIGINT) AS n_pos,
                        max(nt) AS nt, max(npos) AS npos
                 FROM c CROSS JOIN tot GROUP BY 1),
         g AS (SELECT decile, n, n_pos, nt, npos,
                      CAST(sum(n) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_n,
                      CAST(sum(n_pos) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_pos
               FROM dec)
         SELECT decile, n, n_pos, cum_n, cum_pos,
                ${rsql("CAST(cum_pos AS DOUBLE) / npos", 1000000)}
                  AS gain_r,
                ${rsql("(CAST(cum_pos AS DOUBLE) / cum_n)" +
                  " / (CAST(npos AS DOUBLE) / nt)", 1000000)} AS lift_r
         FROM g ORDER BY decile""", cap = 8)
      .allowGlobalWindow("<= 10-row decile census"),
    // Calibration: same trained chain, probabilities binned ×10, per-
    // bin confidence as exact micros; the ECE fold is sequential in
    // bin order (list_reduce over the ordered list).
    Query("q_eval_ece", evalEce,
      s"""WITH $qclfCtesSql,
         p AS (SELECT doc_id, y,
                      floor((1.0 / (1.0 + exp(-(z_micros / 1000000.0))))
                        * 1000000 + 0.5) / 1000000.0 AS p_r
               FROM z3),
         bins AS (SELECT least(CAST(floor(p_r * 10) AS BIGINT),
                               CAST(9 AS BIGINT)) AS bin,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(CAST(floor(p_r * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS conf_micros,
                         CAST(sum(y) AS BIGINT) AS n_pos
                  FROM p GROUP BY bin),
         b2 AS (SELECT bin, n, n_pos,
                       floor((conf_micros / (n * 1000000.0))
                         * 1000000 + 0.5) / 1000000.0 AS conf_r,
                       floor((CAST(n_pos AS DOUBLE) / n)
                         * 1000000 + 0.5) / 1000000.0 AS acc_r
                FROM bins),
         g AS (SELECT bin, n, n_pos, conf_r, acc_r,
                      floor((abs(acc_r - conf_r) * n) * 1000000 + 0.5)
                        / 1000000.0 AS gap_w
               FROM b2),
         e AS (SELECT floor((list_reduce(list(gap_w ORDER BY bin),
                        (a, b) -> a + b)
                      / sum(n)) * 1000000 + 0.5) / 1000000.0 AS ece_r
               FROM g)
         SELECT bin, n, n_pos, conf_r, acc_r, ece_r
         FROM g CROSS JOIN e ORDER BY bin""", cap = 5)
      .allowGlobalWindow("10-bin calibration census"),
    Query("q_text_repetition", repetition,
      """WITH tk AS (
           SELECT doc_id,
                  CAST(unnest(generate_series(1,
                    len(string_split(text, ' ')))) - 1 AS INTEGER) AS pos,
                  unnest(string_split(text, ' ')) AS token
           FROM documents),
         bg AS (
           SELECT doc_id, token || ' ' || lead(token) OVER (
             PARTITION BY doc_id ORDER BY pos) AS bigram
           FROM tk),
         bc AS (
           SELECT doc_id, max(c) AS maxbc FROM (
             SELECT doc_id, bigram, count(*) AS c FROM bg
             WHERE bigram IS NOT NULL GROUP BY doc_id, bigram)
           GROUP BY doc_id),
         st AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS n_uniq
           FROM documents)
         SELECT st.doc_id, n_tok,
                floor((1.0 - CAST(n_uniq AS DOUBLE) / n_tok) * 1000000
                  + 0.5) / 1000000.0 AS dup_ratio,
                floor((coalesce(maxbc, 0) * 2.0 / n_tok) * 1000000
                  + 0.5) / 1000000.0 AS top_bigram_frac,
                CAST(CASE WHEN (1.0 - CAST(n_uniq AS DOUBLE) / n_tok)
                            <= 0.55
                           AND (coalesce(maxbc, 0) * 2.0 / n_tok) <= 0.10
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM st LEFT JOIN bc ON st.doc_id = bc.doc_id
         ORDER BY st.doc_id"""),
    Query("q_text_keywords", keywords,
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                   FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents),
         wt AS (
           SELECT doc_id, tf.tok,
                  tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
           FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n),
         rk AS (
           SELECT doc_id,
                  CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY w DESC, tok) AS INTEGER) AS rk,
                  tok, w
           FROM wt)
         SELECT doc_id, rk, tok,
                floor(w * 1000000 + 0.5) / 1000000.0 AS score
         FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""", cap = 4),
    Query("q_dedup_containment", dedupContainment,
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
           FROM tok x JOIN tok y ON x.tok = y.tok AND x.doc_id <> y.doc_id
           GROUP BY 1, 2),
         sup AS (
           SELECT a, count(*) AS n_super
           FROM pairs
           JOIN sz sa ON sa.doc_id = pairs.a
           JOIN sz sb ON sb.doc_id = pairs.b
           WHERE sa.n >= 5 AND sb.n * 10 >= sa.n * 9
             AND i * 10 >= sa.n * 9
           GROUP BY a)
         SELECT sz.doc_id, CAST(sz.n AS BIGINT) AS n_distinct,
                coalesce(n_super, 0) AS n_super,
                CAST(CASE WHEN coalesce(n_super, 0) > 0 THEN 1 ELSE 0 END
                  AS INTEGER) AS subsumed
         FROM sz LEFT JOIN sup ON sup.a = sz.doc_id
         ORDER BY sz.doc_id""")
      .allowUnboundedJoin(
        "all doc pairs, below AllPairsRowCeiling docs only; above it the " +
        "prefix-filtered equi join runs"),
    // One profile pass per md5-digit slice (q_data_profile shape), the
    // rounded shift ratio feeds the drift flag on both sides.
    Query("q_quality_schema_drift", schemaDrift, {
      val colsD = Seq("doc_id", "text", "lang", "source", "n_chars")
      def prof(tag: String) = colsD.map { c =>
        s"""SELECT '$c' AS "column",
               CAST(count(*) AS BIGINT) AS n_$tag,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS nulls_$tag,
               count(DISTINCT $c) AS distinct_$tag,
               CAST(min($c) AS VARCHAR) AS min_$tag,
               CAST(max($c) AS VARCHAR) AS max_$tag
            FROM s$tag"""
      }.mkString(" UNION ALL ")
      s"""WITH sa AS (SELECT * FROM documents
             WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
               ('0','1','2','3','4','5','6','7','8','9','a','b')),
         sb AS (SELECT * FROM documents
             WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
               ('4','5','6','7','8','9','a','b','c','d','e','f')),
         pa AS (${prof("a")}),
         pb AS (${prof("b")}),
         j AS (SELECT pa."column" AS "column", n_a, n_b, nulls_a,
                      nulls_b, distinct_a, distinct_b,
                      min_a, min_b, max_a, max_b,
                      floor((CAST(abs(distinct_b - distinct_a) AS DOUBLE)
                             / distinct_a) * 1000000 + 0.5) / 1000000.0
                        AS distinct_shift_r
               FROM pa JOIN pb ON pa."column" = pb."column")
         SELECT "column", n_a, n_b, nulls_a, nulls_b,
                distinct_a, distinct_b, distinct_shift_r,
                (min_a <> min_b OR max_a <> max_b) AS range_changed,
                (distinct_shift_r > 0.2 OR
                 (CAST(nulls_b AS DOUBLE) / n_b
                  - CAST(nulls_a AS DOUBLE) / n_a) > 0.01) AS drift
         FROM j ORDER BY "column""""
    }),
    Query("q_text_perplexity", perplexity,
      """WITH tok AS (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents),
            vc AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vc),
            sc AS (SELECT t.doc_id, -ln(vc.cnt / tot.total) AS nll
                   FROM tok t JOIN vc USING (tok) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tok,
                floor(avg(nll) * 1000000 + 0.5) / 1000000.0 AS ppl_proxy
         FROM sc GROUP BY doc_id ORDER BY doc_id""", cap = 7)
      .allowGlobalWindow("|vocab| LM census (total)"),
    // λ-interpolated bigram LM: in-row bigram enumeration (1-based list
    // indexing here vs 0-based arrays in the engine — same pairs),
    // −ln p floored to micros, BIGINT mean to one division.
    Query("q_text_perplexity_bigram", perplexityBigram,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
         bgx AS (SELECT doc_id,
                        unnest(generate_series(1, len(t) - 1)) AS i, t
                 FROM tk WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b FROM bgx),
         uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(string_split(text, ' ')) AS tok
                       FROM documents) u GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni),
         bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
                FROM bg GROUP BY a, b),
         sc AS (SELECT doc_id,
                       CAST(floor((-ln(
                         CAST(0.7 AS DOUBLE)
                           * (CAST(cab AS DOUBLE) / ca.c)
                         + CAST(0.3 AS DOUBLE)
                           * (CAST(cb.c AS DOUBLE) / total)))
                         * 1000000 + 0.5) AS BIGINT) AS nm
                FROM bg
                JOIN bi USING (a, b)
                JOIN uni ca ON bg.a = ca.tok
                JOIN uni cb ON bg.b = cb.tok
                CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                floor((CAST(sum(nm) AS DOUBLE) / (count(*) * 1000000.0))
                  * 1000000 + 0.5) / 1000000.0 AS ppl_bi
         FROM sc GROUP BY doc_id ORDER BY doc_id""", cap = 9)
      .allowGlobalWindow("|vocab| LM census (total)"),
    Query("q_text_pmi", pmiCollocations,
      """WITH tokp AS (
           SELECT doc_id,
                  CAST(unnest(generate_series(1,
                    len(string_split(text, ' ')))) - 1 AS INTEGER) AS pos,
                  unnest(string_split(text, ' ')) AS token
           FROM documents),
         uni AS (SELECT token, count(*) AS cnt FROM tokp GROUP BY token),
         t1 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t1 FROM uni),
         seq AS (SELECT token AS a,
                        lead(token, 1) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS b
                 FROM tokp),
         big AS (SELECT a, b, count(*) AS cab FROM seq
                 WHERE b IS NOT NULL GROUP BY a, b),
         t2 AS (SELECT CAST(sum(cab) AS DOUBLE) AS t2 FROM big)
         SELECT big.a, big.b, big.cab,
                floor((ln((cab / t2) / ((ua.cnt / t1) * (ub.cnt / t1))))
                      * 1000000 + 0.5) / 1000000.0 AS pmi
         FROM big JOIN uni ua ON big.a = ua.token
                  JOIN uni ub ON big.b = ub.token
                  CROSS JOIN t1 CROSS JOIN t2
         WHERE cab >= 5
         ORDER BY pmi DESC, a, b LIMIT 15""", cap = 12)
      .allowGlobalWindow("|vocab| unigram and margin censuses"),
    Query("q_text_pack", textPack,
      """WITH d AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tok
                    FROM documents),
            c AS (SELECT doc_id, n_tok,
                         CAST(sum(n_tok) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) - n_tok
                           AS start
                  FROM d)
         SELECT start // 2048 AS bin, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tok_sum
         FROM c GROUP BY bin ORDER BY bin""", cap = 8),
    Query("q_sample_split", sampleSplit,
      """WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS total
                    FROM documents),
            g AS (SELECT CASE
                           WHEN substring(md5(CAST(doc_id AS VARCHAR)),
                                1, 1) IN ('c', 'd') THEN 'val'
                           WHEN substring(md5(CAST(doc_id AS VARCHAR)),
                                1, 1) IN ('e', 'f') THEN 'test'
                           ELSE 'train' END AS split,
                         lang, count(*) AS n
                  FROM documents GROUP BY split, lang)
         SELECT split, lang, n,
                floor((n / total) * 1000000 + 0.5) / 1000000.0 AS frac
         FROM g, t ORDER BY split, lang""")
      .allowGlobalWindow("3-row split census"),
    Query("q_text_decontaminate", decontaminate,
      s"""WITH tok AS (
            SELECT doc_id,
                   CAST(unnest(generate_series(1,
                     len(string_split(text, ' ')))) - 1 AS INTEGER) AS pos,
                   unnest(string_split(text, ' ')) AS token
            FROM documents),
          tri AS (
            SELECT doc_id,
                   token || ' ' || lead(token, 1) OVER w
                         || ' ' || lead(token, 2) OVER w AS sh,
                   lead(token, 2) OVER w AS n2
            FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          sh AS (SELECT doc_id, sh FROM tri WHERE n2 IS NOT NULL),
          bset AS (SELECT DISTINCT sh FROM sh
                   WHERE ${hashSampleSql("doc_id", benchDigits)}),
          hits AS (SELECT s.doc_id, count(DISTINCT s.sh) AS n_hits
                   FROM sh s JOIN bset USING (sh)
                   WHERE NOT (${hashSampleSql("s.doc_id", benchDigits)})
                   GROUP BY s.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                 CAST(coalesce(h.n_hits, 0) > 0 AS INTEGER) AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE NOT (${hashSampleSql("d.doc_id", benchDigits)})
          ORDER BY doc_id"""),
    Query("q_text_pii_mask", piiMask,
      """SELECT doc_id, raw,
                regexp_replace(regexp_replace(regexp_replace(raw,
                  '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                  'https?://[^ ]+', '<URL>', 'g'),
                  '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS masked
         FROM (SELECT doc_id,
                      'u' || CAST(doc_id AS VARCHAR)
                          || '@mail.example said call 555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' or visit https://h'
                          || CAST(doc_id % 7 AS VARCHAR)
                          || '.example/p ' || substring(text, 1, 40) AS raw
               FROM documents) t
         ORDER BY doc_id"""),
    Query("q_sample_hash", sampleHash,
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         WHERE ${hashSampleSql("doc_id", quarterDigits)}
         ORDER BY doc_id"""),
    Query("q_text_token_budget", tokenBudget,
      s"""WITH s AS (SELECT source, $qualityStatsColsSql FROM documents),
          q AS (SELECT source, n_tok, ($qualityScoreSql) AS q FROM s),
          b AS (SELECT source,
                       CASE WHEN q >= 0.95 THEN 'high'
                            WHEN q >= 0.80 THEN 'mid'
                            ELSE 'low' END AS band,
                       n_tok
                FROM q),
          cells AS (SELECT source, band, count(*) AS n_docs,
                           CAST(sum(n_tok) AS BIGINT) AS n_tokens
                    FROM b GROUP BY source, band),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM cells)
          SELECT source, band, n_docs, n_tokens,
                 ${graft.Par.sql("n_tokens / CAST(tot AS DOUBLE)", 1000000)}
                   AS share
          FROM cells, t ORDER BY source, band"""),
    Query("q_pipeline_mix", pipelineMix,
      s"""WITH s AS (SELECT source, $qualityStatsColsSql FROM documents),
          q AS (SELECT source, n_tok, ($qualityScoreSql) AS q FROM s),
          g AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail
                FROM q WHERE q >= 0.80 GROUP BY source),
          t AS (SELECT CAST(sum(avail) AS BIGINT) AS tot,
                       CAST(sum(avail) AS BIGINT) // 2 AS budget FROM g),
          w AS (SELECT source, avail,
                       CAST(floor(exp(0.7 * ln(CAST(avail AS DOUBLE) / tot))
                         * 1e12) AS BIGINT) AS wt
                FROM g, t),
          z AS (SELECT CAST(sum(wt) AS BIGINT) AS z FROM w),
          t1 AS (SELECT source, avail, wt,
                        CAST(floor(CAST(budget AS DOUBLE) * wt / z)
                          AS BIGINT) AS target,
                        avail * 4 AS cap
                 FROM w, z, t),
          t2 AS (SELECT *, least(target, cap) AS planned1,
                        cap - least(target, cap) AS headroom FROM t1),
          dft AS (SELECT CAST(sum(target - planned1) AS BIGINT) AS deficit,
                         CAST(sum(headroom) AS BIGINT) AS hsum FROM t2),
          t3 AS (SELECT source, avail, wt, target,
                        planned1 + CASE WHEN hsum > 0 THEN
                            least(CAST(floor(CAST(deficit AS DOUBLE)
                              * headroom / hsum) AS BIGINT), headroom)
                          ELSE 0 END AS planned
                 FROM t2, dft)
          SELECT source, avail AS avail_tokens,
                 ${graft.Par.sql("wt / CAST(z AS DOUBLE)", 1000000)}
                   AS mix_share,
                 target AS target_tokens, planned AS planned_tokens,
                 ${graft.Par.sql("planned / CAST(avail AS DOUBLE)", 10000)}
                   AS epochs
          FROM t3, z ORDER BY source""", cap = 5)
      .allowGlobalWindow("|sources| census"),
    Query("q_text_dataset_diff", datasetDiff,
      """WITH oldsnap AS (
           SELECT doc_id AS old_id,
                  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)
                         = '0'
                       THEN md5('edit:' || text) ELSE md5(text)
                  END AS old_hash,
                  n_chars AS old_chars
           FROM documents
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
             ('0','1','2','3','4','5','6','7','8','9','a','b')),
         newsnap AS (
           SELECT doc_id AS new_id, md5(text) AS new_hash,
                  n_chars AS new_chars
           FROM documents
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
             ('4','5','6','7','8','9','a','b','c','d','e','f'))
         SELECT status, count(*) AS n_docs,
                CAST(sum(coalesce(new_chars, old_chars)) AS BIGINT)
                  AS n_chars
         FROM (SELECT CASE WHEN old_id IS NULL THEN 'added'
                           WHEN new_id IS NULL THEN 'removed'
                           WHEN old_hash <> new_hash THEN 'modified'
                           ELSE 'unchanged' END AS status,
                      new_chars, old_chars
               FROM oldsnap FULL OUTER JOIN newsnap ON old_id = new_id) t
         GROUP BY status ORDER BY status"""),
    Query("q_text_vocab_drift", vocabDrift,
      s"""WITH oldt AS (
            SELECT tok, count(*) AS n_old
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents
                  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                    ('0','1','2','3','4','5','6','7','8','9','a','b')) t
            GROUP BY tok),
          newt AS (
            SELECT tok, count(*) AS n_new
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents
                  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                    ('4','5','6','7','8','9','a','b','c','d','e','f')) t
            GROUP BY tok),
          j AS (SELECT coalesce(n_old, 0) AS n_old,
                       coalesce(n_new, 0) AS n_new
                FROM oldt o FULL OUTER JOIN newt n ON o.tok = n.tok),
          t AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old,
                       CAST(sum(n_new) AS BIGINT) AS tot_new FROM j)
          SELECT count(*) FILTER (WHERE n_old > 0) AS n_vocab_old,
                 count(*) FILTER (WHERE n_new > 0) AS n_vocab_new,
                 count(*) FILTER (WHERE n_old = 0 AND n_new > 0) AS n_oov,
                 count(*) FILTER (WHERE n_new = 0 AND n_old > 0) AS n_lost,
                 ${graft.Par.sql(
                   """count(*) FILTER (WHERE n_old = 0 AND n_new > 0)
                      / CAST(count(*) FILTER (WHERE n_new > 0) AS DOUBLE)""",
                   1000000)} AS oov_rate_r,
                 ${graft.Par.sql(
                   """sum(abs(n_new / CAST(tot_new AS DOUBLE)
                         - n_old / CAST(tot_old AS DOUBLE))) / 2""",
                   1000000)} AS tv_drift_r
          FROM j, t GROUP BY tot_old, tot_new"""),
    Query("q_sample_global_shuffle", sampleGlobalShuffle,
      """SELECT doc_id, pos,
                CAST((pos - 1) % 8 AS INT) AS shard,
                (pos - 1) // 8 AS shard_pos
         FROM (SELECT doc_id,
                      row_number() OVER (
                        ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                                 doc_id) AS pos
               FROM documents) t
         ORDER BY pos"""),
    Query("q_sample_domain_cap", sampleDomainCap,
      """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 15 ORDER BY doc_id"""),
    Query("q_sample_stratified", sampleStratified,
      s"""SELECT doc_id, lang FROM documents
         WHERE (lang = 'en' AND ${hashSampleSql("doc_id", quarterDigits)})
            OR lang != 'en'
         ORDER BY doc_id"""),
    Query("q_sim_sparse_topk", simSparseTopk,
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                   FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents),
         w AS (SELECT doc_id, tok,
                      tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
               FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
         nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
                 FROM w GROUP BY doc_id),
         dt AS (SELECT q.doc_id AS q_doc, d.doc_id AS doc_id,
                       sum(q.w * d.w) AS dot
                FROM w q JOIN w d ON q.tok = d.tok
                WHERE q.doc_id < 5 AND d.doc_id <> q.doc_id
                GROUP BY 1, 2),
         scored AS (SELECT q_doc, dt.doc_id,
                           floor((dot / (nq.nrm * nd.nrm)) * 1000000 + 0.5)
                             / 1000000.0 AS score
                    FROM dt
                    JOIN nrm nq ON nq.doc_id = dt.q_doc
                    JOIN nrm nd ON nd.doc_id = dt.doc_id)
         SELECT q_doc, doc_id, score FROM (
           SELECT *, row_number() OVER (PARTITION BY q_doc
             ORDER BY score DESC, doc_id) AS rk
           FROM scored) t
         WHERE rk <= 3 ORDER BY q_doc, score DESC, doc_id""", cap = 5),
    Query("q_sample_weighted", sampleWeighted,
      s"""WITH hx AS (SELECT doc_id, n_chars,
                 md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         k AS (SELECT doc_id, n_chars,
                 floor((-ln(CAST((${RelationalOps.hexValSql}) + 1 AS DOUBLE)
                            / 1152921504606846976.0)
                        / (n_chars + 1)) * 100000000 + 0.5)
                   / 100000000.0 AS ekey
               FROM hx)
         SELECT doc_id, n_chars, ekey FROM k
         ORDER BY ekey, doc_id LIMIT 10"""),
    Query("q_sample_reservoir", sampleReservoir,
      """SELECT doc_id, lang, rk FROM (
           SELECT doc_id, lang,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    AS INTEGER) AS rk
           FROM documents) t
         WHERE rk <= 10 ORDER BY lang, rk"""),
    Query("q_text_normalize", textNormalize,
      """SELECT doc_id,
                array_to_string(
                  list_transform(
                    list_filter(string_split(lower(text), ' '),
                      t -> t NOT IN ('the', 'a', 'an', 'and', 'or', 'of',
                                     'to', 'in', 'is', 'it')),
                    t -> regexp_replace(t, '(ing|ed|s)$', '')),
                  ' ') AS norm
         FROM documents ORDER BY doc_id"""),
    Query("q_text_bpe_train", bpeTrain,
      s"""$bpeOracleCtes
         SELECT round, merge_rule, cnt FROM (
           SELECT * FROM r1b UNION ALL SELECT * FROM r2b
           UNION ALL SELECT * FROM r3b UNION ALL SELECT * FROM r4b
           UNION ALL SELECT * FROM r5b) u
         ORDER BY round""", cap = 4),
    Query("q_text_bpe_encode", bpeEncode,
      s"""$bpeOracleCtes
         SELECT subword, CAST(count(DISTINCT sym) AS BIGINT) AS n_words,
                CAST(sum(f) AS BIGINT) AS occurrences
         FROM (SELECT sym, f,
                      unnest(string_split(trim(sym), '  ')) AS subword
               FROM r5) t
         GROUP BY subword
         ORDER BY occurrences DESC, subword LIMIT 20""", cap = 4),
    // q_text_symspell's oracle IS the brute-force form: a hash-match
    // proves the delete-variant candidate generator is complete.
    Query("q_text_symspell", symspell,
      s"""WITH v AS (
           SELECT tok AS token, count(*) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY tok),
         q AS (SELECT unnest([${fuzzyQueries.map("'" + _ + "'").mkString(", ")}])
                 AS qs),
         m AS (
           SELECT qs, token, cnt,
                  CAST(levenshtein(token, qs) AS INTEGER) AS dist
           FROM q JOIN v ON levenshtein(token, qs) <= 2)
         SELECT qs, CAST(rn AS BIGINT) AS rn, token, cnt, dist FROM (
           SELECT qs, token, cnt, dist,
                  row_number() OVER (PARTITION BY qs
                    ORDER BY dist, cnt DESC, token) AS rn
           FROM m) t
         WHERE rn <= 3 ORDER BY qs, rn"""),
    Query("q_text_fuzzy_suggest", fuzzySuggest,
      s"""WITH v AS (
           SELECT tok AS token, count(*) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           GROUP BY tok),
         q AS (SELECT unnest([${fuzzyQueries.map("'" + _ + "'").mkString(", ")}])
                 AS qs),
         m AS (
           SELECT qs, token, cnt,
                  CAST(levenshtein(token, qs) AS INTEGER) AS dist
           FROM q JOIN v ON levenshtein(token, qs) <= 2)
         SELECT qs, CAST(rn AS BIGINT) AS rn, token, cnt, dist FROM (
           SELECT qs, token, cnt, dist,
                  row_number() OVER (PARTITION BY qs
                    ORDER BY dist, cnt DESC, token) AS rn
           FROM m) t
         WHERE rn <= 3 ORDER BY qs, rn"""),
    Query("q_text_search_tfidf", searchTfidf,
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents) t
           WHERE tok IN ('spark', 'query', 'fast')
           GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                   FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id,
                floor((sum(tf * ln(CAST(n_docs AS DOUBLE) / df)))
                      * 1000000 + 0.5) / 1000000.0 AS score
         FROM tf JOIN dfreq USING (tok) CROSS JOIN n
         GROUP BY doc_id
         ORDER BY score DESC, doc_id LIMIT 20""", cap = 3),
    Query("q_text_search_bm25", searchBm25,
      s"""WITH $bm25CtesSql
         SELECT doc_id, score FROM bm25
         ORDER BY score DESC, doc_id LIMIT 20"""),
    // Both arms replayed verbatim (the bm25 CTE chain is SHARED with
    // q_text_search_bm25's oracle so the two cannot drift; the dense
    // arm is the q_sim_cosine_topk scoring), ranked with BIGINT
    // row_numbers, fused with CAST(1.0 AS DOUBLE)/(60+rank) fixed-order
    // terms (plain 1.0 is DECIMAL in the oracle engine — decimal
    // division would diverge).
    Query("q_search_rrf", searchRrf,
      s"""WITH $bm25CtesSql,
         lex AS (SELECT doc_id,
                        CAST(row_number() OVER
                          (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
                 FROM (SELECT doc_id, score FROM bm25
                       ORDER BY score DESC, doc_id LIMIT 20) t),
         qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         dense_scored AS (
           SELECT vec_id,
                  floor((list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(q AS DOUBLE[])))
                        * 1000000 + 0.5) / 1000000.0 AS sim_r
           FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
         dense AS (SELECT vec_id AS doc_id,
                          CAST(row_number() OVER
                            (ORDER BY sim_r DESC, vec_id) AS BIGINT)
                            AS dense_rank
                   FROM (SELECT vec_id, sim_r FROM dense_scored
                         ORDER BY sim_r DESC, vec_id LIMIT 20) t)
         SELECT coalesce(l.doc_id, de.doc_id) AS doc_id,
                l.lex_rank, de.dense_rank,
                coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank),
                         CAST(0.0 AS DOUBLE))
                  + coalesce(CAST(1.0 AS DOUBLE) / (60 + de.dense_rank),
                             CAST(0.0 AS DOUBLE)) AS rrf
         FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 10""")
      .allowUnboundedJoin("|vectors| x the one query vector (vec_id = 0)"),
    Query("q_text_wordcount", wordcount,
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY token ORDER BY token"""),
    Query("q_text_ttr", ttr,
      """SELECT doc_id,
                CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
                CAST(count(*) AS BIGINT) AS n_tokens,
                floor((CAST(count(DISTINCT tok) AS DOUBLE) / count(*))
                  * 1000000 + 0.5) / 1000000.0 AS ttr
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents) t
         GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_text_tf_top", tfTop,
      """SELECT lang, token, cnt, CAST(rn AS BIGINT) AS rn FROM (
           SELECT lang, token, count(*) AS cnt,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY count(*) DESC, token) AS rn
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           GROUP BY lang, token) t
         WHERE rn <= 5 ORDER BY lang, rn"""),
    Query("q_text_quality_gate", qualityGate,
      s"""WITH t AS (SELECT doc_id, n_chars, $qualityStatsColsSql
                     FROM documents)
         SELECT CASE WHEN n_tok < 20 THEN 'too_short'
                     WHEN n_stop / n_tok < 0.02 THEN 'no_stopwords'
                     WHEN 1 - n_uniq / CAST(n_tok AS DOUBLE) > 0.72
                       THEN 'repetitive'
                     ELSE 'keep' END AS gate,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM t GROUP BY gate ORDER BY gate"""),
    Query("q_text_nfc", textNfc,
      """SELECT doc_id, length(raw) AS len_raw,
                length(nfc_normalize(raw)) AS len_nfc,
                md5(nfc_normalize(raw)) AS h
         FROM (SELECT doc_id,
                      substr(text, 1, 16) || ' cafe' || chr(769)
                        || ' A' || chr(778) AS raw
               FROM documents)
         ORDER BY doc_id"""),
    Query("q_text_span_dedup", spanDedup,
      """WITH tk AS (SELECT doc_id,
                            CAST(unnest(generate_series(1,
                              len(string_split(text, ' ')))) - 1 AS INTEGER)
                              AS pos,
                            unnest(string_split(text, ' ')) AS token
                     FROM documents),
         sp AS (SELECT doc_id,
                       concat_ws(' ', token,
                         lead(token, 1) OVER w, lead(token, 2) OVER w,
                         lead(token, 3) OVER w, lead(token, 4) OVER w,
                         lead(token, 5) OVER w, lead(token, 6) OVER w,
                         lead(token, 7) OVER w) AS span,
                       lead(token, 7) OVER w AS t7
                FROM tk
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         FROM sp WHERE t7 IS NOT NULL
         GROUP BY span HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_occ DESC, span LIMIT 20"""),
    Query("q_text_ngram", ngram,
      """SELECT doc_id, pos, token || ' ' || nxt AS bigram FROM (
           SELECT doc_id, pos, token,
                  lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS nxt
           FROM (SELECT doc_id,
                        CAST(unnest(generate_series(1,
                          len(string_split(text, ' ')))) - 1 AS INTEGER)
                          AS pos,
                        unnest(string_split(text, ' ')) AS token
                 FROM documents) tk) t
         WHERE nxt IS NOT NULL ORDER BY doc_id, pos"""),
    Query("q_text_prefix_suggest", prefixSuggest,
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents)
         WHERE token LIKE 's%'
         GROUP BY token ORDER BY cnt DESC, token LIMIT 10"""),
    Query("q_dedup_exact", dedupExact,
      """SELECT doc_id, fp FROM (
           SELECT doc_id, md5(text) AS fp,
                  row_number() OVER (PARTITION BY md5(text)
                    ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY doc_id"""),
    Query("q_dedup_near", dedupNear, dedupNearSql)
      .allowUnboundedJoin("all doc pairs a < b (near_pairs): exact truth"),
    Query("q_dedup_prefix_filter", dedupPrefixFilter,
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         inter AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
           FROM tok x JOIN tok y ON x.tok = y.tok AND x.doc_id < y.doc_id
           GROUP BY x.doc_id, y.doc_id)
         SELECT a, b,
                floor((i / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000.0
                  AS jacc_r
         FROM inter
         JOIN sz sa ON sa.doc_id = a
         JOIN sz sb ON sb.doc_id = b
         WHERE i / (sa.n + sb.n - i) >= 0.8
           AND sa.n * 4 <= sb.n * 5 AND sb.n * 4 <= sa.n * 5
         ORDER BY a, b""", cap = 10)
      .allowUnboundedJoin(
        "all doc pairs a < b: the size band and prefix bitmap prune the " +
        "verify, not the n^2/2 enumeration"),
    Query("q_text_search_phrase", phraseSearch,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
                      FROM documents),
         pos AS (SELECT doc_id, unnest(ts) AS t,
                        unnest(range(len(ts))) AS p
                 FROM tok)
         SELECT a.doc_id, count(*) AS n_hits
         FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         WHERE a.t = 'hash' AND b.t = 'join'
         GROUP BY a.doc_id ORDER BY a.doc_id"""),
    Query("q_text_search_boolean", booleanSearch,
      """SELECT doc_id, lang, source FROM documents
         WHERE list_contains(string_split(text, ' '), 'spark')
           AND list_contains(string_split(text, ' '), 'vector')
           AND NOT list_contains(string_split(text, ' '), 'dup')
         ORDER BY doc_id"""),
    Query("q_text_sentiment", sentiment,
      s"""SELECT doc_id,
                floor((avg(coalesce(score, 0.0))) * 1000000 + 0.5)
                  / 1000000.0 AS sentiment
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents) t
         LEFT JOIN (VALUES ${lexValues(sentimentLexicon)})
           AS lex(tok, score) ON t.token = lex.tok
         GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_text_langid", langid, langidSql, cap = 9),
    Query("q_eval_langid", langidEval,
      s"""WITH pred AS ($langidSql),
         conf AS (
           SELECT d.lang, p.pred_lang, count(*) AS n
           FROM pred p JOIN documents d ON p.doc_id = d.doc_id
           GROUP BY d.lang, p.pred_lang),
         tot AS (SELECT lang, sum(n) AS t FROM conf GROUP BY lang)
         SELECT conf.lang, pred_lang, n,
                floor((CAST(n AS DOUBLE) / t) * 1000000 + 0.5) / 1000000.0
                  AS share
         FROM conf JOIN tot ON conf.lang = tot.lang
         ORDER BY conf.lang, pred_lang""", cap = 11),
    Query("q_text_quality", quality,
      s"""SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
                floor(((n_chars - (n_tok - 1)) / n_tok) * 1000000 + 0.5)
                  / 1000000.0 AS avg_tok_len,
                floor((n_stop / n_tok) * 1000000 + 0.5) / 1000000.0
                  AS stop_ratio,
                floor((1 - n_uniq / CAST(n_tok AS DOUBLE)) * 1000000 + 0.5)
                  / 1000000.0 AS dup_ratio,
                floor(($qualityScoreSql)
                      * 1000000 + 0.5) / 1000000.0 AS quality
         FROM (SELECT doc_id, n_chars, $qualityStatsColsSql
               FROM documents) t
         ORDER BY doc_id"""),
    Query("q_text_suggest_eval", suggestEval,
      """WITH idx AS (
           SELECT token, CAST(count(*) AS BIGINT) AS cnt,
                  substring(token, 1, 1) AS prefix
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE doc_id % 2 = 0)
           GROUP BY token),
         top AS (SELECT prefix, token AS sug,
                        CAST(row_number() OVER (
                          PARTITION BY prefix
                          ORDER BY cnt DESC, token) AS BIGINT) AS rank
                 FROM idx
                 QUALIFY rank <= 10),
         q AS (SELECT token, CAST(count(*) AS BIGINT) AS weight,
                      substring(token, 1, 1) AS prefix
               FROM (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents WHERE doc_id % 2 = 1)
               GROUP BY token),
         j AS (SELECT q.weight, top.rank
               FROM q LEFT JOIN top
                 ON q.prefix = top.prefix AND q.token = top.sug),
         a AS (SELECT CAST(sum(weight) AS BIGINT) AS n_queries,
                      CAST(coalesce(sum(CASE WHEN rank = 1
                        THEN weight END), 0) AS BIGINT) AS n_hit1,
                      CAST(coalesce(sum(CASE WHEN rank IS NOT NULL
                        THEN weight END), 0) AS BIGINT) AS n_hit10,
                      CAST(coalesce(sum(CASE WHEN rank IS NOT NULL
                        THEN weight * (2520 // rank) END), 0)
                        AS BIGINT) AS mrr_num
               FROM j)
         SELECT n_queries, n_hit1, n_hit10,
                floor((CAST(n_hit1 AS DOUBLE) / n_queries)
                  * 1000000 + 0.5) / 1000000.0 AS hit1,
                floor((CAST(n_hit10 AS DOUBLE) / n_queries)
                  * 1000000 + 0.5) / 1000000.0 AS hit10,
                floor((CAST(mrr_num AS DOUBLE) / (2520.0 * n_queries))
                  * 1000000 + 0.5) / 1000000.0 AS mrr
         FROM a"""),
    Query("q_text_fertility", fertility,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(text)) AS BIGINT) AS n_chars,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_ws,
                CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}', 0)))
                  AS BIGINT) AS n_bpe,
                floor((CAST(sum(len(regexp_extract_all(text,
                         '[a-z]{1,4}', 0))) AS DOUBLE)
                       / sum(len(string_split(text, ' '))))
                  * 1000000 + 0.5) / 1000000.0 AS fertility,
                floor((CAST(sum(len(text)) AS DOUBLE)
                       / sum(len(regexp_extract_all(text,
                           '[a-z]{1,4}', 0))))
                  * 1000000 + 0.5) / 1000000.0 AS chars_per_token
         FROM documents GROUP BY lang ORDER BY lang"""),
    Query("q_text_tokencount", tokencount,
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
                CAST(len(regexp_extract_all(text, '[a-z]+', 0)) AS INTEGER)
                  AS n_words,
                CAST(len(regexp_extract_all(text, '[a-z]{1,4}', 0))
                     AS INTEGER) AS n_bpe,
                CAST(length(text) AS INTEGER) AS n_chars_check
         FROM documents ORDER BY doc_id"""),
    Query("q_text_fingerprint", fingerprint,
      """SELECT doc_id, min(md5(substring(text, i, 8))) AS shingle_fp
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1,
                        greatest(length(text) - 7, 1))) AS i
               FROM documents) t
         GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_text_chunk_dedup", chunkDedup,
      """WITH tk AS (
           SELECT doc_id,
                  CAST(unnest(generate_series(1, len(string_split(text, ' '))))
                       - 1 AS INTEGER) AS pos,
                  unnest(string_split(text, ' ')) AS token
           FROM documents),
         fl AS (
           SELECT doc_id, pos, token,
                  CASE WHEN substring(md5(token), 1, 1) = '0'
                       THEN 1 ELSE 0 END AS boundary
           FROM tk),
         ch AS (
           SELECT doc_id, pos, token,
                  sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS chunk
           FROM fl),
         chunks AS (
           SELECT doc_id, chunk,
                  md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_fp,
                  count(*) AS n_toks
           FROM ch GROUP BY doc_id, chunk)
         SELECT chunk_fp, count(*) AS occurrences,
                count(DISTINCT doc_id) AS n_docs,
                max(n_toks) AS n_toks
         FROM chunks GROUP BY chunk_fp
         HAVING count(*) >= 2
         ORDER BY chunk_fp"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
