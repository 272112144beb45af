package graft.operators

import graft.{Query, Tables}
import graft.Query.Q
import graft.Par.{r2, r6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function surface: string / regex / date / math / array / json /
  * hash (SURVEY.md §2.8). All built-in `functions._` — codegen'd, no UDFs,
  * so every query stays inside WholeStageCodegen and the projections are
  * pure map-side work (zero shuffles except the final global sort).
  *
  * Oracle parity notes: DuckDB returns BIGINT where Spark returns INT for
  * length/year/levenshtein/etc — the oracle SQL casts to Spark's widths.
  */
object ScalarOps {
  /** lower/upper/trim/substring/concat/length/replace over part names. */
  private val strFuncs: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lo"),
        upper(col("p_brand")).as("up"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
        substring(col("p_name"), 1, 5).as("sub5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        length(col("p_name")).as("len"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("snake"))
      .orderBy("p_partkey")

  /** regexp_extract / regexp_replace / LIKE. POSIX-simple patterns only —
    * engine regex dialects agree on these. */
  private val strRegex: Q = (s, d) =>
    Tables.part(s, d)
      .filter(col("p_name").like("% %"))
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).cast("int")
          .as("brand_no"),
        regexp_replace(col("p_type"), "[AEIOU]", "").as("devoweled"),
        col("p_type").rlike("^(PROMO|ECONOMY)").as("is_cheap"))
      .orderBy("p_partkey")

  /** Edit distance — text-analysis primitive. */
  private val strLevenshtein: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        levenshtein(col("p_name"), col("p_type")).as("dist"),
        levenshtein(col("p_brand"), lit("Brand#1")).as("dist_ref"))
      .orderBy("p_partkey")

  /** Tokenize documents.text → one row per (token, position). Foundation of
    * the text pack; at scale this is a flatMap with no shuffle. */
  private val strSplitExplode: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "token")
      .select("doc_id", "pos", "token")
      .orderBy("doc_id", "pos")

  /** date_trunc / year / month / datediff / date_add over orders. */
  private val dateFuncs: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mth"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_add(col("o_orderdate"), 30).as("d30"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"))
      .orderBy("o_orderkey")

  /** round/abs/ceil/floor/ln/exp/power/mod over prices. */
  private val mathFuncs: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        r2(abs(-col("l_extendedprice"))).as("abs_price"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_quantity")).as("qty_floor"),
        r6(log(col("l_extendedprice"))).as("ln_price"),
        r6(exp(col("l_discount"))).as("exp_disc"),
        r2(pow(col("l_quantity"), 2)).as("qty_sq"),
        (col("l_orderkey") % 7).as("key_mod"))
      .orderBy("l_orderkey", "l_linenumber", "abs_price", "qty_ceil")

  /** array_sort / array_distinct / size / array_contains / slice on token
    * arrays. array_distinct alone is order-nondeterministic → always
    * wrapped in array_sort (matches DuckDB list_sort(list_distinct)).
    * Array-valued results are space-joined to strings so the driver's
    * comparator (which can't hash array columns) can check them. */
  private val arrayFuncs: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        array_join(array_sort(array_distinct(col("toks"))), " ").as("vocab"),
        array_contains(col("toks"), "the").as("has_the"),
        array_join(slice(col("toks"), 1, 3), " ").as("first3"))
      .orderBy("doc_id")

  /** JSON extraction from events.props ('{"k": <int>}') + aggregate by it.
    * The extracted key is nullable (malformed/missing props): NULLS LAST
    * matches DuckDB's ASC default, where Spark's default is NULLS FIRST. */
  private val jsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"), r6(avg(col("value"))).as("avg_value"))
      .orderBy(col("k").asc_nulls_last)

  /** md5 — THE cross-engine-stable row fingerprint (murmur hash() is not). */
  private val hashMd5: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        md5(concat_ws("|", col("lang"), col("source"))).as("meta_fp"))
      .orderBy("doc_id")

  val declared: Seq[Query] = Seq(
    Query("q_str_funcs", strFuncs,
      """SELECT p_partkey, lower(p_name) AS lo, upper(p_brand) AS up,
                trim('  ' || p_name || '  ') AS trimmed,
                substring(p_name, 1, 5) AS sub5,
                concat_ws('|', p_brand, p_type) AS joined,
                CAST(length(p_name) AS INTEGER) AS len,
                replace(p_name, ' ', '_') AS snake
         FROM part ORDER BY p_partkey"""),
    Query("q_str_regex", strRegex,
      """SELECT p_partkey,
                CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INTEGER)
                  AS brand_no,
                regexp_replace(p_type, '[AEIOU]', '', 'g') AS devoweled,
                regexp_matches(p_type, '^(PROMO|ECONOMY)') AS is_cheap
         FROM part WHERE p_name LIKE '% %' ORDER BY p_partkey"""),
    Query("q_str_levenshtein", strLevenshtein,
      """SELECT p_partkey,
                CAST(levenshtein(p_name, p_type) AS INTEGER) AS dist,
                CAST(levenshtein(p_brand, 'Brand#1') AS INTEGER) AS dist_ref
         FROM part ORDER BY p_partkey"""),
    Query("q_str_split_explode", strSplitExplode,
      """SELECT doc_id,
                CAST(unnest(generate_series(1, len(string_split(text, ' '))))
                     - 1 AS INTEGER) AS pos,
                unnest(string_split(text, ' ')) AS token
         FROM documents ORDER BY doc_id, pos"""),
    Query("q_date_funcs", dateFuncs,
      """SELECT o_orderkey,
                CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
                CAST(year(o_orderdate) AS INTEGER) AS yr,
                CAST(month(o_orderdate) AS INTEGER) AS mth,
                CAST(day(o_orderdate) AS INTEGER) AS dom,
                CAST(o_orderdate AS DATE) + 30 AS d30,
                CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
                     AS INTEGER) AS days_since
         FROM orders ORDER BY o_orderkey"""),
    Query("q_math_funcs", mathFuncs,
      """SELECT l_orderkey, l_linenumber,
                floor((abs(-l_extendedprice)) * 100 + 0.5) / 100.0
                  AS abs_price,
                CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
                CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
                floor((ln(l_extendedprice)) * 1000000 + 0.5) / 1000000.0
                  AS ln_price,
                floor((exp(l_discount)) * 1000000 + 0.5) / 1000000.0
                  AS exp_disc,
                floor((pow(l_quantity, 2)) * 100 + 0.5) / 100.0 AS qty_sq,
                l_orderkey % 7 AS key_mod
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, abs_price, qty_ceil"""),
    Query("q_array_funcs", arrayFuncs,
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
                array_to_string(list_sort(list_distinct(
                  string_split(text, ' '))), ' ') AS vocab,
                list_contains(string_split(text, ' '), 'the') AS has_the,
                array_to_string(list_slice(string_split(text, ' '), 1, 3),
                                ' ') AS first3
         FROM documents ORDER BY doc_id"""),
    Query("q_json_extract", jsonExtract,
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                count(*) AS cnt,
                floor((avg(value)) * 1000000 + 0.5) / 1000000.0 AS avg_value
         FROM events GROUP BY k ORDER BY k"""),
    Query("q_hash_md5", hashMd5,
      // concat_ws on both sides: null-skipping like Spark's, where '||'
      // would propagate NULL and diverge on nullable lang/source
      """SELECT doc_id, md5(text) AS fp,
                md5(concat_ws('|', lang, source)) AS meta_fp
         FROM documents ORDER BY doc_id"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
