package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.functions.Dec._
import graft.sources.Tables

/** Scalar function surface (SURVEY.md §2.1 category H).
  *
  * All expressions are `org.apache.spark.sql.functions._` built-ins —
  * fully codegen'd inside WholeStageCodegen, no UDFs. Oracle SQL sticks
  * to the dialect intersection (SURVEY §2.2 trap list): epoch arithmetic
  * instead of datediff, explicit casts where engines widen differently,
  * regex classes portable between Java and RE2-style engines.
  */
object Scalars {

  /** H1 `fn_string` — string function battery over part. */
  def fnString(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_brand")).as("brand_lower"),
        substring(col("p_name"), 1, 10).as("name_head"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), lit("a"), lit("@")).as("name_subst"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_first_word"))
      .orderBy(col("p_partkey"))

  /** H2 `fn_date` — date part extraction + truncation; month diffs via
    * pure integer arithmetic (portable across engines).
    */
  def fnDate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        ((lit(2000) - year(col("o_orderdate"))) * 12 - month(col("o_orderdate")))
          .cast("long").as("months_to_2000"))
      .orderBy(col("o_orderkey"))

  /** H3 `fn_math` — math battery; sqrt/ln stay double and are rounded
    * to 6 places (SURVEY §2.0.3).
    */
  def fnMath(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        outDec(col("p_retailprice"), 18, 2).as("price_dec"),
        abs(col("p_size") - 25).cast("long").as("size_dist"),
        ceil(col("p_retailprice")).cast("long").as("price_ceil"),
        floor(col("p_retailprice")).cast("long").as("price_floor"),
        round6(sqrt(col("p_retailprice"))).as("price_sqrt"),
        round6(log(col("p_retailprice"))).as("price_ln"),
        pmod(col("p_size"), lit(7)).cast("long").as("size_mod7"))
      .orderBy(col("p_partkey"))

  /** H4 `fn_case_null` — CASE/COALESCE/NULLIF banding, then aggregate
    * per band.
    */
  def fnCaseNull(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        when(col("o_totalprice") < 100000, "low")
          .when(col("o_totalprice") < 250000, "mid")
          .otherwise("high").as("price_band"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
          .otherwise("cold").as("urgency"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"),
        col("o_totalprice"))
      .groupBy(col("price_band"), col("urgency"), col("status_label"))
      .agg(count(lit(1)).as("n_orders"),
        outCentsWide(sum(cents2(col("o_totalprice")).cast("decimal(38,0)")), 2).as("total_price"))
      .orderBy(col("price_band"), col("urgency"), col("status_label"))

  /** `fn_bitwise` — bitwise operator battery over part keys (mask,
    * set-bits, xor, shifts) — the workhorse ops of hash partitioning and
    * bitmap encodings.
    */
  def fnBitwise(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        col("p_partkey").bitwiseAND(lit(255L)).as("key_and"),
        col("p_partkey").bitwiseOR(lit(4096L)).as("key_or"),
        col("p_partkey").bitwiseXOR(lit(1365L)).as("key_xor"),
        shiftleft(col("p_partkey"), 3).as("key_shl"),
        shiftright(col("p_partkey"), 2).as("key_shr"))
      .orderBy(col("p_partkey"))

  /** H5 `fn_json` — lazy JSON field extraction from the `props` payload
    * column (ETL-over-synced-JSON shape; SURVEY §1.1).
    */
  def fnJson(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"))

  /** `fn_variant` — Spark 4's VARIANT type as the semi-structured
    * path: `parse_json` once into the binary variant encoding, then
    * typed `variant_get` extraction. Same answers as fn_json (the
    * oracle is identical SQL) but at scale variant wins: the document
    * parses ONCE per row into a columnar-shreddable binary form,
    * instead of once per `get_json_object` path over the raw string.
    */
  def fnVariant(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"))

  /** H6 `fn_array` — array access over embeddings; the head-8 sum is an
    * explicit left-to-right chain of double adds so both engines
    * accumulate in identical order.
    */
  def fnArray(spark: SparkSession, sfDir: String): DataFrame = {
    val head8 = (1 to 8)
      .map(i => element_at(col("embedding"), i).cast("double"))
      .reduce(_ + _)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("n_dims"),
        round6(element_at(col("embedding"), 1).cast("double")).as("first_val"),
        round6(head8).as("head8_sum"))
      .orderBy(col("vec_id"))
  }

  /** `fn_url` — URL parsing and canonicalization: a deterministic URL
    * is synthesized per event (host sharded by user, event type in the
    * path, a tracking param and the item id in the query string), then
    * decomposed with Spark's native `parse_url` (HOST / PATH / a named
    * QUERY key) and rewritten to its canonical form (host + path, all
    * query/tracking params stripped) — the normalization step every
    * web-scale dedup and referrer-analytics pipeline runs before
    * grouping by URL.
    *
    * Scale shape: pure map-side codegen expression chain over one
    * scan, zero shuffles before the presentation sort. The oracle
    * recomputes the same decomposition with plain regexes — pinning
    * that parse_url's component semantics match the obvious grammar
    * on well-formed URLs.
    */
  def fnUrl(spark: SparkSession, sfDir: String): DataFrame = {
    val url = concat(lit("https://shop-"),
      pmod(col("user_id"), lit(3)).cast("string"),
      lit(".example.com/"), col("event_type"),
      lit("/page?utm_source=email&item="), col("event_id").cast("string"))
    Tables.events(spark, sfDir)
      .select(col("event_id"), url.as("url"))
      .select(col("event_id"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("url_path"),
        parse_url(col("url"), lit("QUERY"), lit("item")).as("item"),
        concat(parse_url(col("url"), lit("HOST")),
          parse_url(col("url"), lit("PATH"))).as("canon"))
      .orderBy(col("event_id"))
  }

  /** `fn_try` — the error-SAFE expression surface: `try_divide` nulls
    * on a zero denominator instead of raising (or inf-ing) and
    * `try_cast` nulls on an unparseable string — the ANSI-mode safety
    * valves a production pipeline uses so one malformed row degrades
    * to NULL instead of failing the job. The denominator `k − 50`
    * genuinely crosses zero and the cast input genuinely mixes
    * numeric and non-numeric strings, so both outcomes of each
    * function are exercised. Oracle maps try_divide to
    * `/ NULLIF(…, 0)` and try_cast to DuckDB's TRY_CAST — pinning
    * the null-not-error contract across engines. Pure map-side.
    */
  def fnTry(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast("long"))
      .select(col("event_id"), col("k"),
        // raw double division, NO round: IEEE a/b is bit-identical in
        // both engines, while round-6 of a power-of-two denominator
        // ratio lands on exact binary halves where the engines' double
        // rounding artifacts differ (measured: -1.0171875 -> .188/.187)
        expr("try_divide(value, CAST(k - 50 AS DOUBLE))").as("safe_ratio"),
        expr("try_cast(CASE WHEN k < 50 THEN CAST(k AS STRING) " +
          "ELSE event_type END AS BIGINT)").as("maybe_num"))
      .orderBy(col("event_id"))
  }

  /** `fn_date_arith` — the calendar-arithmetic battery fn_date leaves
    * out: quarter, month-end (last_day), month addition with
    * end-of-month clamping (add_months — BOTH engines clamp Jan 31 +
    * 1mo to Feb 29), fixed-day subtraction, days-in-month, and the
    * PORTABLE day-of-week (epoch-days mod 7, 0 = Thursday) — the
    * dow convention every engine disagrees on (Spark dayofweek is
    * 1=Sunday, DuckDB dayofweek is 0=Sunday, ISO dow is 1=Monday), so
    * the engine exposes the convention-free form and documents the
    * trap instead of gating on either vendor's choice.
    */
  def fnDateArith(spark: SparkSession, sfDir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        quarter(d).cast("long").as("qtr"),
        last_day(d).cast("timestamp").as("month_end"),
        add_months(d, 3).cast("timestamp").as("plus_3mo"),
        date_sub(d, 30).cast("timestamp").as("minus_30d"),
        dayofmonth(last_day(d)).cast("long").as("days_in_month"),
        pmod(datediff(d, lit("1970-01-01").cast("date")), lit(7))
          .cast("long").as("dow_epoch"))
      .orderBy(col("o_orderkey"))
  }

  val registry: Seq[Query] = Seq(
    Query("fn_date_arith", fnDateArith _, Some(
      """SELECT o_orderkey,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
        |    AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
        |    AS plus_3mo,
        |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 30 DAY AS TIMESTAMP)
        |    AS minus_30d,
        |  CAST(day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
        |    AS days_in_month,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) % 7 AS BIGINT) AS dow_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Query("fn_try", fnTry _, Some(
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(props->>'$.k' AS BIGINT) AS k
        |  FROM events)
        |SELECT event_id, k,
        |  value / NULLIF(CAST(k - 50 AS DOUBLE), 0) AS safe_ratio,
        |  TRY_CAST(CASE WHEN k < 50 THEN CAST(k AS VARCHAR)
        |           ELSE event_type END AS BIGINT) AS maybe_num
        |FROM e ORDER BY event_id""".stripMargin)),
    Query("fn_url", fnUrl _, Some(
      """WITH u AS (
        |  SELECT event_id,
        |    'https://shop-' || CAST(user_id % 3 AS VARCHAR) ||
        |    '.example.com/' || event_type ||
        |    '/page?utm_source=email&item=' || CAST(event_id AS VARCHAR) AS url
        |  FROM events)
        |SELECT event_id, url,
        |  regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS url_path,
        |  regexp_extract(url, 'item=([0-9]+)', 1) AS item,
        |  regexp_extract(url, 'https://([^/]+)/', 1) ||
        |    regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS canon
        |FROM u ORDER BY event_id""".stripMargin)),
    Query("fn_string", fnString _, Some(
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  LOWER(p_brand) AS brand_lower,
        |  SUBSTRING(p_name, 1, 10) AS name_head,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
        |  REPLACE(p_name, 'a', '@') AS name_subst,
        |  LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |  REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1) AS type_first_word
        |FROM part
        |ORDER BY p_partkey""".stripMargin)),
    Query("fn_date", fnDate _, Some(
      """SELECT o_orderkey, o_orderdate,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS o_day,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST((2000 - EXTRACT(YEAR FROM o_orderdate)) * 12 - EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS months_to_2000
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),
    Query("fn_math", fnMath _, Some(
      """SELECT p_partkey,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        |  CAST(ABS(p_size - 25) AS BIGINT) AS size_dist,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
        |  ROUND(LN(p_retailprice), 6) AS price_ln,
        |  CAST(p_size % 7 AS BIGINT) AS size_mod7
        |FROM part
        |ORDER BY p_partkey""".stripMargin)),
    Query("fn_case_null", fnCaseNull _, Some(
      """SELECT
        |  CASE WHEN o_totalprice < 100000 THEN 'low'
        |       WHEN o_totalprice < 250000 THEN 'mid'
        |       ELSE 'high' END AS price_band,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
        |       ELSE 'cold' END AS urgency,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY price_band, urgency, status_label
        |ORDER BY price_band, urgency, status_label""".stripMargin)),
    Query("fn_bitwise", fnBitwise _, Some(
      """SELECT p_partkey,
        |  CAST(p_partkey & 255 AS BIGINT) AS key_and,
        |  CAST(p_partkey | 4096 AS BIGINT) AS key_or,
        |  CAST(xor(p_partkey, 1365) AS BIGINT) AS key_xor,
        |  CAST(p_partkey << 3 AS BIGINT) AS key_shl,
        |  CAST(p_partkey >> 2 AS BIGINT) AS key_shr
        |FROM part
        |ORDER BY p_partkey""".stripMargin)),
    Query("fn_json", fnJson _, Some(
      """SELECT event_type, COUNT(*) AS n_events,
        |  MIN(CAST(props->>'$.k' AS BIGINT)) AS k_min,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS k_max,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Query("fn_variant", fnVariant _, Some(
      """SELECT event_type, COUNT(*) AS n_events,
        |  MIN(CAST(props->>'$.k' AS BIGINT)) AS k_min,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS k_max,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Query("fn_array", fnArray _, Some(
      """SELECT vec_id, label,
        |  CAST(LEN(embedding) AS BIGINT) AS n_dims,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
        |      + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
        |      + CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)
        |      + CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE), 6) AS head8_sum
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin))
  )
}
