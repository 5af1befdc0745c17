package graft

import java.nio.file.{Files, Paths}
import scala.util.Random

/** Differential SQL fuzzer: generates seeded random queries in the
  * Spark∩DuckDB shared SQL dialect, runs each through `spark.sql` over
  * the corpus views, and writes a Verify-compatible output directory
  * (result parquet per query + oracle_sql.json mapping each query name
  * to ITS OWN text) — so `tools/compare.py <sfDir> <outDir>` replays
  * the identical SQL in DuckDB and diffs row-by-row.
  *
  * The point: the 73 hand-written gated queries pin the operators we
  * chose; the fuzzer sweeps the combinational space AROUND them
  * (predicate × aggregate × grouping × join shapes) so a Catalyst
  * regression in, say, decimal widening or null-ordering shows up even
  * if no curated query happens to hit it. Determinism rules are the
  * same as SURVEY §2.0: decimal-in/double-out aggregates, every output
  * column ordered, BIGINT casts on counts.
  *
  * Usage: runMain graft.Fuzz <sfDir> <outDir> [n] [seed]
  */
object Fuzz {

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  /** One random conjunctive predicate over orders columns. */
  private def predicate(r: Random): String = {
    val preds = Seq.newBuilder[String]
    if (r.nextBoolean()) preds += s"o_orderstatus = '${pick(r, Seq("F", "O", "P"))}'"
    if (r.nextBoolean()) {
      val lo = 1000 + r.nextInt(100000)
      preds += s"o_totalprice BETWEEN $lo AND ${lo + 50000 + r.nextInt(150000)}"
    }
    if (r.nextBoolean()) {
      val prios = new Random(r.nextLong())
        .shuffle(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .take(1 + r.nextInt(3)).sorted
      preds += prios.map(p => s"'$p'").mkString("o_orderpriority IN (", ", ", ")")
    }
    if (r.nextBoolean())
      preds += s"o_orderdate >= TIMESTAMP '199${5 + r.nextInt(4)}-0${1 + r.nextInt(9)}-01'"
    if (r.nextBoolean()) preds += s"o_orderkey % ${2 + r.nextInt(9)} = ${r.nextInt(2)}"
    val ps = preds.result()
    if (ps.isEmpty) "o_orderkey IS NOT NULL" else ps.mkString(" AND ")
  }

  /** Decimal-disciplined aggregate expressions (alias included). */
  private def aggExprs(r: Random, prefix: String): Seq[String] = {
    val pool = Seq(
      s"CAST(CAST(SUM(CAST(${prefix}o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price",
      "MAX(o_orderkey) AS max_key",
      "MIN(o_orderkey) AS min_key",
      "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust",
      "MIN(o_orderpriority) AS min_prio")
    new Random(r.nextLong()).shuffle(pool).take(1 + r.nextInt(3))
  }

  /** Random predicate over documents columns (string fns territory). */
  private def docPredicate(r: Random): String = {
    val preds = Seq.newBuilder[String]
    if (r.nextBoolean())
      preds += new Random(r.nextLong()).shuffle(Seq("en", "de", "es", "fr", "zh"))
        .take(1 + r.nextInt(3)).sorted.map(l => s"'$l'")
        .mkString("lang IN (", ", ", ")")
    if (r.nextBoolean()) {
      val lo = 100 + r.nextInt(400)
      preds += s"n_chars BETWEEN $lo AND ${lo + 300 + r.nextInt(700)}"
    }
    if (r.nextBoolean())
      preds += s"text LIKE '%${pick(r, Seq("the", "data", "of the", "and"))}%'"
    val ps = preds.result()
    if (ps.isEmpty) "doc_id IS NOT NULL" else ps.mkString(" AND ")
  }

  /** Random predicate over events columns (the ts-dispatch territory:
    * `CAST(ts AS TIMESTAMP)` is the shared-dialect event time on BOTH
    * corpus eras — DuckDB reads ns or µs natively, Spark goes through
    * the Tables.tsUtc-equivalent cast).
    */
  private def eventPredicate(r: Random): String = {
    val preds = Seq.newBuilder[String]
    if (r.nextBoolean())
      preds += new Random(r.nextLong())
        .shuffle(Seq("click", "error", "purchase", "signup", "view"))
        .take(1 + r.nextInt(3)).sorted.map(t => s"'$t'")
        .mkString("event_type IN (", ", ", ")")
    if (r.nextBoolean()) {
      val d = 2 + r.nextInt(25)
      preds += s"CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-${f"$d%02d"} 00:00:00'"
    }
    if (r.nextBoolean()) preds += s"user_id % ${2 + r.nextInt(7)} = ${r.nextInt(2)}"
    if (r.nextBoolean()) {
      val lo = r.nextInt(500)
      preds += s"value BETWEEN $lo AND ${lo + 100 + r.nextInt(400)}"
    }
    val ps = preds.result()
    if (ps.isEmpty) "event_id IS NOT NULL" else ps.mkString(" AND ")
  }

  /** One random query in the shared dialect. */
  private[graft] def genQuery(r: Random): String = pick(r, Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 39, 40,
      19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
      36, 37, 38, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51, 52, 53, 54,
      55, 56, 57, 58, 59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69,
      70)) match {
    case 1 => // single-group aggregate
      val g = pick(r, Seq("o_orderstatus", "o_orderpriority"))
      s"""SELECT $g, COUNT(*) AS n, ${aggExprs(r, "").mkString(", ")}
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY $g ORDER BY $g""".stripMargin
    case 2 => // two-column grouping
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${aggExprs(r, "").mkString(", ")}
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin
    case 3 => // fact-fact join aggregate
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE ${predicate(r)}
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    case 4 => // filter + projection + deterministic top-k (o_orderkey unique)
      s"""SELECT o_orderkey, o_orderstatus, o_orderpriority,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         |FROM orders WHERE ${predicate(r)}
         |ORDER BY o_orderkey LIMIT ${20 + r.nextInt(80)}""".stripMargin
    case 5 => // aggregate + HAVING
      val g = pick(r, Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
      s"""SELECT $g, COUNT(*) AS n
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY $g HAVING COUNT(*) >= ${2 + r.nextInt(8)}
         |ORDER BY $g""".stripMargin
    case 6 => // ranking window + top-k per group
      val k = 1 + r.nextInt(5)
      s"""SELECT o_orderpriority, o_orderkey, rn FROM (
         |  SELECT o_orderpriority, o_orderkey,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |      ORDER BY o_orderkey ${pick(r, Seq("ASC", "DESC"))}) AS rn
         |  FROM orders WHERE ${predicate(r)}) t
         |WHERE rn <= $k
         |ORDER BY o_orderpriority, rn""".stripMargin
    case 7 => // correlated EXISTS semi-join
      s"""SELECT o_orderkey, o_orderpriority
         |FROM orders WHERE ${predicate(r)}
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_quantity > ${30 + r.nextInt(20)})
         |ORDER BY o_orderkey LIMIT ${20 + r.nextInt(80)}""".stripMargin
    case 8 => // documents: string functions + LIKE pushdown
      val g = pick(r, Seq("lang", "source"))
      s"""SELECT $g, COUNT(*) AS n,
         |  CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
         |  MIN(UPPER(SUBSTRING(text, 1, ${4 + r.nextInt(8)}))) AS head,
         |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
         |FROM documents WHERE ${docPredicate(r)}
         |GROUP BY $g ORDER BY $g""".stripMargin
    case 9 => // LEFT JOIN + stacked aggregation (q13's shape: outer-join
      // survivors with count 0, then a histogram of the counts)
      s"""SELECT c_count, COUNT(*) AS custdist FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |    AND ${predicate(r)}
         |  GROUP BY c_custkey) t
         |GROUP BY c_count
         |ORDER BY custdist DESC, c_count DESC""".stripMargin
    case 10 => // conditional count pair in one aggregate (q12's shape)
      val g = pick(r, Seq("o_orderstatus", "o_orderpriority"))
      val status = pick(r, Seq("F", "O", "P"))
      s"""SELECT $g,
         |  COUNT(CASE WHEN o_orderstatus = '$status' THEN 1 END) AS n_hit,
         |  COUNT(CASE WHEN o_orderstatus <> '$status' THEN 1 END) AS n_miss,
         |  COUNT(*) AS n
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY $g ORDER BY $g""".stripMargin
    case 11 => // scalar aggregate threshold (q22's shape) — multiply,
      // don't divide: exact decimal compare, no engine rounding flip
      s"""SELECT o_orderkey, o_orderstatus
         |FROM orders WHERE ${predicate(r)}
         |  AND CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
         |    > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
         |ORDER BY o_orderkey LIMIT ${20 + r.nextInt(80)}""".stripMargin
    case 12 => // correlated NOT EXISTS anti-join (case 7's complement)
      s"""SELECT o_orderkey, o_orderpriority
         |FROM orders WHERE ${predicate(r)}
         |  AND NOT EXISTS (SELECT 1 FROM lineitem
         |                  WHERE l_orderkey = o_orderkey
         |                    AND l_returnflag = '${pick(r, Seq("A", "N", "R"))}')
         |ORDER BY o_orderkey LIMIT ${20 + r.nextInt(80)}""".stripMargin
    case 13 => // md5 hash-band CASE split (pipeline_split's shape) — the
      // hex-prefix compare must agree byte-for-byte between engines
      val c1 = 2048 + r.nextInt(40000)
      val c2 = c1 + 1024 + r.nextInt(65535 - c1 - 1024)
      val key = pick(r, Seq("o_orderkey", "o_custkey"))
      s"""SELECT band, o_orderstatus, COUNT(*) AS n
         |FROM (
         |  SELECT o_orderstatus,
         |    CASE WHEN substr(md5(CAST($key AS STRING)), 1, 4) < '${f"$c1%04x"}' THEN 'lo'
         |         WHEN substr(md5(CAST($key AS STRING)), 1, 4) < '${f"$c2%04x"}' THEN 'mid'
         |         ELSE 'hi' END AS band
         |  FROM orders WHERE ${predicate(r)}) t
         |GROUP BY band, o_orderstatus
         |ORDER BY band, o_orderstatus""".stripMargin
    case 14 => // percent_rank cut (pipeline_quality_cut's shape) — the
      // rank arithmetic and tie handling must agree between engines
      val frac = Seq("0.1", "0.25", "0.5")(r.nextInt(3))
      val g = pick(r, Seq("lang", "source"))
      s"""SELECT $g, COUNT(*) AS n, MIN(n_chars) AS min_chars
         |FROM (
         |  SELECT $g, n_chars,
         |    PERCENT_RANK() OVER (PARTITION BY $g ORDER BY n_chars DESC) AS pr
         |  FROM documents WHERE ${docPredicate(r)}) t
         |WHERE pr <= $frac
         |GROUP BY $g ORDER BY $g""".stripMargin
    case 15 => // bit arithmetic (layout_zorder's territory): shifts,
      // masks, OR — both engines must agree bit-for-bit. `^` is
      // deliberately absent (DuckDB reads it as POWER, not XOR).
      val (sa, sb) = (r.nextInt(8), r.nextInt(8))
      val (ma, mb) = (1 + r.nextInt(255), 1 + r.nextInt(255))
      s"""SELECT o_orderstatus,
         |  CAST(SUM(((o_orderkey >> $sa) & $ma) | ((o_custkey >> $sb) & $mb)) AS BIGINT) AS bitsum,
         |  CAST(SUM((o_orderkey & $ma) * 256 + (o_custkey & $mb)) AS BIGINT) AS mixsum,
         |  COUNT(*) AS n
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    case 16 => // conditional-first-timestamp cascade (funnel_stages's
      // shape): per-key MIN per condition, then ordered-boolean counts —
      // null-propagation through the comparison must match engines
      val status = pick(r, Seq("F", "O", "P"))
      val prio = pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"))
      s"""SELECT COUNT(*) AS n_keys,
         |  CAST(SUM(CASE WHEN t_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |  CAST(SUM(CASE WHEN t_b > t_a THEN 1 ELSE 0 END) AS BIGINT) AS s2
         |FROM (
         |  SELECT o_custkey,
         |    MIN(CASE WHEN o_orderstatus = '$status' THEN o_orderdate END) AS t_a,
         |    MIN(CASE WHEN o_orderpriority = '$prio' THEN o_orderdate END) AS t_b
         |  FROM orders WHERE ${predicate(r)}
         |  GROUP BY o_custkey) t""".stripMargin
    case 17 => // two-window conditional diff classify (etl_snapshot_diff's
      // shape): both states from one scan, row-local I/U/D classification
      val y1 = 1992 + r.nextInt(3)
      val y2 = y1 + 2 + r.nextInt(2)
      s"""SELECT o_custkey,
         |  CASE WHEN n1 = 0 THEN 'I' WHEN n2 = 0 THEN 'D' ELSE 'U' END AS op,
         |  n1, n2
         |FROM (
         |  SELECT o_custkey,
         |    CAST(SUM(CASE WHEN o_orderdate >= DATE '$y1-01-01'
         |                   AND o_orderdate < DATE '${y1 + 1}-01-01'
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN o_orderdate >= DATE '$y2-01-01'
         |                   AND o_orderdate < DATE '${y2 + 1}-01-01'
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM orders GROUP BY o_custkey) t
         |WHERE (n1 > 0 OR n2 > 0) AND (n1 = 0 OR n2 = 0 OR n1 <> n2)
         |ORDER BY o_custkey""".stripMargin
    case 18 => // lag cascade consecutive-run filter (win_pattern's shape):
      // two LAGs sharing one (partition, order); null lag semantics at
      // partition starts must match engines
      val st = pick(r, Seq("F", "O", "P"))
      s"""SELECT o_custkey, o_orderkey, prev_key FROM (
         |  SELECT o_custkey, o_orderkey, o_orderstatus,
         |    LAG(o_orderstatus, 1) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS prev_status,
         |    LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS prev_key
         |  FROM orders WHERE ${predicate(r)}) t
         |WHERE o_orderstatus = '$st' AND prev_status = '$st'
         |ORDER BY o_custkey, o_orderkey""".stripMargin
    case 19 => // events time-bucket aggregate (stream_tumble's batch
      // shape on the ts-dispatch path): date_trunc granularity + typed
      // bucket boundaries must agree between engines on BOTH ts eras
      // outer CAST: DuckDB's date_trunc('day', ...) returns DATE while
      // Spark returns TIMESTAMP — the cast pins both to µs TIMESTAMP
      val gran = pick(r, Seq("hour", "day"))
      s"""SELECT CAST(date_trunc('$gran', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket,
         |  event_type, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events WHERE ${eventPredicate(r)}
         |GROUP BY bucket, event_type
         |ORDER BY bucket, event_type""".stripMargin
    case 20 => // per-user first-k event scan (win_topk_group's shape on
      // events): ROW_NUMBER over (ts, event_id) — µs timestamp ordering
      // and tie-breaks must agree between engines
      val k = 1 + r.nextInt(4)
      s"""SELECT user_id, event_id, event_type, rn FROM (
         |  SELECT user_id, event_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
         |  FROM events WHERE ${eventPredicate(r)}) t
         |WHERE rn <= $k
         |ORDER BY user_id, rn""".stripMargin
    case 21 => // dual-ordering window endpoints (ts_resample's OHLC
      // shape): first/last per bucket via asc+desc ROW_NUMBER with
      // (ts, event_id) tie-breaks — scan-order-independent endpoint
      // picks must agree between engines on the µs event time
      val gran = pick(r, Seq("hour", "day"))
      val bucket =
        s"CAST(date_trunc('$gran', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)"
      s"""SELECT user_id, bucket,
         |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
         |  MAX(value) AS high_v, MIN(value) AS low_v,
         |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
         |  COUNT(*) AS n
         |FROM (
         |  SELECT user_id, $bucket AS bucket, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, $bucket
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, $bucket
         |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
         |  FROM events WHERE ${eventPredicate(r)}) t
         |GROUP BY user_id, bucket
         |ORDER BY user_id, bucket""".stripMargin
    case 22 => // NOT-IN exclusion beside COUNT(DISTINCT) (tpch_q16's
      // shape): anti-join subquery + distinct aggregate over
      // multi-attribute groups; the exclusion set may be EMPTY at some
      // thresholds, which both engines must treat as "exclude nothing"
      val thresh = pick(r, Seq("0.0", "500.0", "1000.0"))
      val brand = s"Brand#${1 + r.nextInt(25)}"
      val sizes = (1 to 3).map(_ => 1 + r.nextInt(50)).distinct.mkString(", ")
      s"""SELECT p_brand, p_size,
         |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size IN ($sizes) AND p_brand <> '$brand'
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < $thresh)
         |GROUP BY p_brand, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin
    case 23 => // ROLLUP with GROUPING() disambiguation (agg_rollup's
      // shape): subtotal rows carry NULL group keys — GROUPING() and
      // the null-ordered sort must agree between engines
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
         |  COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin
    case 24 => // set operations between filtered projections: bag vs
      // set semantics of INTERSECT/EXCEPT (both DISTINCT by default in
      // both engines)
      val op = pick(r, Seq("INTERSECT", "EXCEPT", "UNION"))
      val hi = 1 + r.nextInt(9)
      s"""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         |$op
         |SELECT o_custkey FROM orders WHERE o_orderpriority = '$hi-${
           pick(r, Seq("URGENT", "HIGH", "MEDIUM", "LOW", "NOT SPECIFIED"))}'
         |ORDER BY o_custkey""".stripMargin
    case 25 => // date arithmetic: interval shifts, date_part extraction,
      // and a day-difference bucket — calendar math must agree to the µs
      val days = 1 + r.nextInt(90)
      s"""SELECT CAST(date_part('year', o_orderdate + INTERVAL '$days' DAY) AS BIGINT) AS y,
         |  CAST(date_part('month', o_orderdate + INTERVAL '$days' DAY) AS BIGINT) AS m,
         |  COUNT(*) AS n
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY y, m ORDER BY y, m""".stripMargin
    case 26 => // string-function chain on documents: upper/substr/
      // replace/length compose identically, incl. multi-space and
      // short-string edges
      val n = 3 + r.nextInt(8)
      s"""SELECT doc_id,
         |  UPPER(SUBSTR(text, 1, $n)) AS head,
         |  LENGTH(REPLACE(text, ' ', '')) AS squeezed_len,
         |  LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_spaces
         |FROM documents
         |WHERE LENGTH(text) >= $n AND lang IN ('en', 'fr', 'de')
         |ORDER BY doc_id""".stripMargin
    case 27 => // lag-pair transition matrix (analytics_markov's shape):
      // LAG feeding a grouped count, row-normalized by a window over
      // the AGGREGATE — null-lag drop and ROUND-6 probability division
      // must agree between engines
      s"""SELECT from_type, to_type, n_trans,
         |  ROUND(CAST(n_trans AS DOUBLE) /
         |    CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
         |FROM (
         |  SELECT from_type, event_type AS to_type, COUNT(*) AS n_trans
         |  FROM (
         |    SELECT event_type,
         |      LAG(event_type) OVER (PARTITION BY user_id
         |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
         |    FROM events WHERE ${eventPredicate(r)}) t
         |  WHERE from_type IS NOT NULL GROUP BY from_type, to_type) c
         |ORDER BY from_type, to_type""".stripMargin
    case 28 => // running-extreme sweep over an aggregate (the skyline
      // frontier's shape): MIN OVER a strictly-preceding ROWS frame on
      // a price-ordered per-price aggregate; NULL first-row frame and
      // strict-inequality survival must agree
      val (dim, key) = pick(r, Seq(("p_size", "p_retailprice"),
        ("p_retailprice", "p_size")))
      s"""SELECT k, v FROM (
         |  SELECT k, v, MIN(v) OVER (ORDER BY k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
         |  FROM (SELECT $key AS k, MIN($dim) AS v FROM part
         |        WHERE p_size BETWEEN ${1 + r.nextInt(10)} AND ${20 + r.nextInt(30)}
         |        GROUP BY $key) m) s
         |WHERE best IS NULL OR v < best
         |ORDER BY k""".stripMargin
    case 29 => // regression moment aggregates (agg_regression's shape):
      // regr_slope/intercept/r2 share the same definition in both
      // engines; merge-order noise must stay under the ROUND-6 grain.
      // The year regressor is RE-ANCHORED to the corpus epoch exactly
      // like agg_regression: an epoch-1970 x extrapolates the
      // intercept to year 0 and amplifies last-ulp moment noise ~2e4x
      // past the rounding grain (caught live: seed 555 q026 diverged
      // in the 6th decimal of a ~5e6 intercept)
      val (y, x, tbl, grp, pred) = pick(r, Seq(
        ("value", "CAST(user_id AS DOUBLE)", "events", "event_type",
          eventPredicate(r)),
        ("l_extendedprice", "CAST(l_quantity AS DOUBLE)", "lineitem",
          "l_returnflag", "l_linenumber >= 1"),
        ("o_totalprice",
          "CAST(date_part('year', o_orderdate) - 1995 AS DOUBLE)",
          "orders", "o_orderstatus", predicate(r))))
      s"""SELECT $grp,
         |  ROUND(regr_slope($y, $x), 6) AS slope,
         |  ROUND(regr_intercept($y, $x), 6) AS intercept,
         |  ROUND(regr_r2($y, $x), 6) AS r2,
         |  COUNT(*) AS n
         |FROM $tbl WHERE $pred
         |GROUP BY $grp ORDER BY $grp""".stripMargin
    case 30 => // gaps-and-islands key (ts_islands' shape): DATE minus
      // ROW_NUMBER as the island constant — date-integer arithmetic and
      // distinct-day windows must agree between engines
      // CAST the SUM: DuckDB promotes SUM(BIGINT) to HUGEINT, which the
      // driver's pandas hasher coerces to float64 (the r8 gate lesson —
      // the same cast the gated ts_islands oracle carries)
      s"""SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest,
         |  CAST(SUM(len) AS BIGINT) AS active_days
         |FROM (
         |  SELECT user_id, grp, COUNT(*) AS len FROM (
         |    SELECT user_id, day,
         |      day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
         |        AS INTEGER) AS grp
         |    FROM (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         |          FROM events WHERE ${eventPredicate(r)}) d) g
         |  GROUP BY user_id, grp) i
         |GROUP BY user_id ORDER BY user_id""".stripMargin
    case 31 => // interval-overlap join against a literal calendar
      // (join_interval's shape): half-open a.start < b.end AND
      // b.start < a.end with date+int arithmetic on the fact side
      val span = 10 + r.nextInt(40)
      val y1 = 1995 + r.nextInt(3); val y2 = y1 + 1 + r.nextInt(2)
      s"""SELECT campaign, COUNT(*) AS n_orders,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         |FROM (SELECT o_totalprice,
         |        CAST(o_orderdate AS DATE) AS o_start,
         |        CAST(o_orderdate AS DATE) + $span AS o_end
         |      FROM orders WHERE ${predicate(r)}) o
         |JOIN (VALUES ('c1', DATE '$y1-03-01', DATE '$y1-09-01'),
         |             ('c2', DATE '$y2-01-15', DATE '$y2-06-15'))
         |  c(campaign, c_start, c_end)
         |  ON o_start < c_end AND c_start < o_end
         |GROUP BY campaign ORDER BY campaign""".stripMargin
    case 32 => // NOT IN (subquery): three-valued-logic anti join
      // (join_anti_nullaware's shape) — the null-aware path must agree
      // with DuckDB's NOT IN on every threshold, including an EMPTY list
      val thresh = pick(r, Seq("-500", "0", "500", "3000"))
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nk, COUNT(*) AS n
         |FROM customer
         |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
         |                          WHERE s_acctbal < $thresh)
         |GROUP BY nk ORDER BY nk""".stripMargin
    case 33 => // GROUP BY ALL / ORDER BY ALL (agg_group_by_all's
      // shape): the inferred key set must match the explicit one
      val gs = new Random(r.nextLong())
        .shuffle(Seq("o_orderstatus", "o_orderpriority")).take(1 + r.nextInt(2))
      s"""SELECT ${gs.mkString(", ")}, COUNT(*) AS n,
         |  MAX(o_orderkey) AS max_key
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY ALL
         |ORDER BY ALL""".stripMargin
    case 34 => // INTERSECT ALL / EXCEPT ALL bag semantics
      // (set_bag_ops' min/max-surplus law) under a random filter
      val op = pick(r, Seq("INTERSECT ALL", "EXCEPT ALL"))
      val lo = 500 + r.nextInt(5000)
      s"""SELECT CAST(nk AS BIGINT) AS nk, COUNT(*) AS n FROM (
         |  SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > $lo
         |  $op
         |  SELECT s_nationkey FROM supplier) t
         |GROUP BY nk ORDER BY nk""".stripMargin
    case 35 => // native argmax (agg_argmax's shape): max_by/min_by —
      // DuckDB ships the same names; the key carries the unique
      // orderkey so tied prices select identically in both engines
      val f = pick(r, Seq("max_by", "min_by"))
      val g = pick(r, Seq("o_orderstatus", "o_orderpriority"))
      s"""SELECT $g,
         |  $f(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT) * 10000000000 + o_orderkey) AS picked,
         |  COUNT(*) AS n
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY $g ORDER BY $g""".stripMargin
    case 36 => // centered / trailing moving-average frames over a daily
      // rollup (ts_decompose / ts_rolling_stats shapes): windowed AVG
      // internals are engine-specific (segment trees vs streaming) —
      // ROUND-6 must hold on every frame geometry
      val pre = r.nextInt(5); val post = r.nextInt(5)
      s"""WITH daily AS (
         |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         |  FROM events WHERE ${eventPredicate(r)}
         |  GROUP BY 1)
         |SELECT CAST(day AS TIMESTAMP) AS day_ts, total,
         |  COUNT(*) OVER w AS n_window,
         |  ROUND(AVG(total) OVER w, 6) AS ma
         |FROM daily
         |WINDOW w AS (ORDER BY day
         |  ROWS BETWEEN $pre PRECEDING AND $post FOLLOWING)
         |ORDER BY day_ts""".stripMargin
    case 37 => // cumulative-weight percentile pick (agg_weighted_median's
      // shape): integer-cents weights, the exact k·cum >= p·W selection —
      // no division anywhere, so the picked element must agree exactly
      val p = pick(r, Seq(1, 2, 3)) // quartile numerator over 4
      val lp = s"l_quantity >= ${1 + r.nextInt(20)} AND " +
        s"l_orderkey % ${2 + r.nextInt(9)} = ${r.nextInt(2)}"
      s"""WITH bp AS (
         |  SELECT l_returnflag, l_extendedprice AS price,
         |    SUM(CAST(CAST(l_quantity AS DECIMAL(7,2)) * 100 AS BIGINT)) AS w
         |  FROM lineitem WHERE $lp
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT l_returnflag, price, w,
         |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(w) OVER (PARTITION BY l_returnflag) AS total_w
         |  FROM bp)
         |SELECT l_returnflag, CAST(MAX(total_w) AS BIGINT) AS total_w,
         |  MIN(price) AS picked
         |FROM c WHERE cum * 4 >= total_w * $p
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    case 38 => // gap-threshold burst sessionization (win_debounce's
      // shape): lag-gap break flags + running-sum burst keys — the
      // rank-1 head and suppressed counts must agree on every gap scale
      // shared-dialect gap test: timestamp difference vs INTERVAL — both
      // engines accept the quoted-count INTERVAL '<n>' MINUTE form
      // (epoch_us is DuckDB-only; unix_micros is Spark-only)
      val gapMin = pick(r, Seq(5, 15, 30, 60, 120))
      val et = pick(r, Seq("error", "click", "view", "purchase"))
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
         |  FROM events WHERE event_type = '$et'),
         |b AS (
         |  SELECT *, CASE WHEN LAG(tsu) OVER w IS NULL
         |      OR tsu - LAG(tsu) OVER w > INTERVAL '$gapMin' MINUTE
         |    THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |g AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
         |    ORDER BY tsu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
         |  FROM b)
         |SELECT user_id, COUNT(DISTINCT burst) AS n_bursts,
         |  COUNT(*) AS n_events,
         |  CAST(COUNT(*) - COUNT(DISTINCT burst) AS BIGINT) AS n_suppressed
         |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin
    case 39 => // NTILE bucket rollup (pipeline_curriculum's shape):
      // NTILE at a tie boundary is order-dependent BY SPEC, so the
      // ORDER BY carries the unique key — with it, bucket membership
      // and the per-bucket min/max must agree exactly
      val k = pick(r, Seq(3, 4, 5, 8))
      val dp = s"n_chars % ${2 + r.nextInt(5)} <= ${r.nextInt(2)}"
      s"""WITH t AS (
         |  SELECT lang, doc_id, n_chars,
         |    NTILE($k) OVER (PARTITION BY lang
         |      ORDER BY n_chars, doc_id) AS bucket
         |  FROM documents WHERE $dp)
         |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(MIN(n_chars) AS BIGINT) AS lo,
         |  CAST(MAX(n_chars) AS BIGINT) AS hi
         |FROM t GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
    case 40 => // two-level calendar index (analytics_seasonal_index's
      // shape): period aggregate, cross-joined scalar mean, ratio —
      // decimal sums exact through BOTH levels, one double division
      val per = pick(r, Seq("month", "quarter"))
      val fp = s"o_totalprice >= ${1000 + r.nextInt(50000)}"
      s"""WITH ym AS (
         |  SELECT year(o_orderdate) AS y, $per(o_orderdate) AS p,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
         |  FROM orders WHERE $fp GROUP BY 1, 2),
         |ov AS (
         |  SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_all FROM ym),
         |mo AS (
         |  SELECT p, COUNT(*) AS n_cells,
         |    CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_p
         |  FROM ym GROUP BY p)
         |SELECT CAST(p AS BIGINT) AS period, CAST(n_cells AS BIGINT)
         |    AS n_cells,
         |  ROUND(avg_p / avg_all, 6) AS idx
         |FROM mo, ov ORDER BY period""".stripMargin

    case 41 => // ROLLUP hierarchy (agg_rollup's shape): subtotal rows
      // via COALESCE on non-null group keys, counts BIGINT-cast,
      // decimal-in/double-out sums — sweeps the grouping-id widening
      // both engines implement differently under the hood
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
         |  COALESCE(o_orderpriority, 'ALL') AS prio,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${aggExprs(r, "").head}
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY st, prio""".stripMargin

    case 42 => // correlated [NOT] EXISTS against a predicated fact —
      // the semi/anti rewrite corner (Spark plans semi/anti joins,
      // DuckDB a mark join; results must agree exactly)
      val neg = if (r.nextBoolean()) "NOT " else ""
      s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_cust
         |FROM customer c
         |WHERE ${neg}EXISTS (
         |  SELECT 1 FROM orders o
         |  WHERE o.o_custkey = c.c_custkey AND ${predicate(r)})
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

    case 43 => // numeric RANGE frame (win_range_frame's shape): the
      // tie-inclusive value window — deterministic regardless of tie
      // order because RANGE frames include ALL peers; decimal sums
      // exact through the frame, one double cast out
      val width = (5 + r.nextInt(45)) * 1000
      val fp = s"o_orderkey % ${17 + r.nextInt(13)} = 0"
      s"""WITH p AS (
         |  SELECT o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
         |  FROM orders WHERE $fp)
         |SELECT o_orderkey,
         |  CAST(price AS DOUBLE) AS price,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS n_in_band,
         |  CAST(SUM(price) OVER w AS DOUBLE) AS band_sum
         |FROM p
         |WINDOW w AS (ORDER BY price
         |  RANGE BETWEEN $width PRECEDING AND CURRENT ROW)
         |ORDER BY o_orderkey""".stripMargin

    case 44 => // string-function battery over documents: upper/substr/
      // replace/length composed under MIN/MAX (deterministic under
      // ties) — sweeps collation/length-semantics drift; length is
      // BIGINT-cast (DuckDB BIGINT vs Spark INT)
      val needle = pick(r, Seq("the", "data", "and", "of"))
      val k = 1 + r.nextInt(5)
      val m = 4 + r.nextInt(12)
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(upper(substr(text, $k, $m))) AS min_pfx,
         |  MAX(lower(substr(source, 1, 6))) AS max_src,
         |  CAST(MAX(length(replace(text, '$needle', ''))) AS BIGINT)
         |    AS max_len_stripped
         |FROM documents WHERE ${docPredicate(r)}
         |GROUP BY lang ORDER BY lang""".stripMargin
    case 45 => // GROUPING SETS beyond ROLLUP (agg_groupingsets's shape):
      // an arbitrary random subset of the four sets over two keys —
      // subtotal rows carry NULL keys, GROUPING() flags and the
      // null-ordered sort must agree between engines
      val all = Seq("(o_orderstatus)", "(o_orderpriority)",
        "(o_orderstatus, o_orderpriority)", "()")
      val chosen = all.filter(_ => r.nextBoolean()) match {
        case Nil => Seq(all(r.nextInt(all.size)))
        case s   => s
      }
      // Spark rejects GROUPING(c) when c appears in NO grouping set
      // (DuckDB allows it) — the shared dialect needs both columns
      // grouped somewhere, so top up with the pair set if the random
      // subset missed one (found by seed 99)
      val sets =
        if (chosen.exists(_.contains("o_orderstatus")) &&
            chosen.exists(_.contains("o_orderpriority"))) chosen
        else chosen :+ "(o_orderstatus, o_orderpriority)"
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_s,
         |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
         |  COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY GROUPING SETS (${sets.mkString(", ")})
         |ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""".stripMargin
    case 46 => // LATERAL correlated aggregate (join_lateral's shape with
      // an agg body): one derived row per outer customer — COUNT over
      // an empty correlation is 0 and SUM is NULL in both engines, so
      // the outer filter keeps low-order customers visible
      val bal = 8000 + r.nextInt(2000)
      val status = pick(r, Seq("F", "O"))
      s"""SELECT c.c_custkey, t.n_orders,
         |  CAST(COALESCE(t.total, 0.0) AS DOUBLE) AS total
         |FROM customer c,
         |LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
         |         FROM orders o
         |         WHERE o.o_custkey = c.c_custkey
         |           AND o.o_orderstatus = '$status') t
         |WHERE c.c_acctbal > $bal
         |ORDER BY c.c_custkey""".stripMargin
    case 47 => // interval-arithmetic battery (fn_date_arith's territory):
      // month-add clamping (Jan 31 + 1 MONTH = end of Feb in both
      // engines), quarter/day extraction after the shift, and
      // last_day — all folded through a grouped aggregate; date
      // outputs ride as ISO strings (the gate bans DATE columns)
      val mths = 1 + r.nextInt(11)
      val days = 1 + r.nextInt(60)
      s"""SELECT
         |  CAST(date_part('year', o_orderdate + INTERVAL '$mths' MONTH) AS BIGINT) AS y,
         |  CAST(date_part('quarter', o_orderdate + INTERVAL '$mths' MONTH) AS BIGINT) AS q,
         |  COUNT(*) AS n,
         |  concat(MIN(o_orderdate + INTERVAL '$days' DAY), '') AS min_shifted,
         |  concat(MAX(last_day(o_orderdate)), '') AS max_eom
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY y, q ORDER BY y, q""".stripMargin
    case 48 => // FILTER-clause conditional aggregation (the SQL:2003
      // form of SUM(CASE WHEN ...)): per-aggregate predicates with an
      // empty-filter SUM staying NULL in both engines (COALESCE'd to a
      // sentinel so the gate hashes it deterministically)
      val v = 100 + r.nextInt(300)
      val (lo, hi) = { val a = r.nextInt(400); (a, a + 50 + r.nextInt(200)) }
      s"""SELECT event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(*) FILTER (WHERE value > $v) AS BIGINT) AS n_hi,
         |  CAST(COALESCE(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
         |      FILTER (WHERE value BETWEEN $lo AND $hi) AS DECIMAL(38,6)) AS DOUBLE),
         |    -1.0) AS DOUBLE) AS sum_mid,
         |  CAST(MIN(user_id) FILTER (WHERE user_id % ${2 + r.nextInt(7)} = 0)
         |    AS BIGINT) AS min_even_user
         |FROM events WHERE ${eventPredicate(r)}
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    case 49 => // FULL OUTER join of two per-key aggregates with
      // COALESCE'd keys — null-key arithmetic on both unmatched sides,
      // the reconciliation-report shape
      s"""WITH a AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_ord
         |           FROM orders WHERE ${predicate(r)} GROUP BY o_custkey),
         |b AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_ev
         |      FROM events WHERE ${eventPredicate(r)} GROUP BY user_id)
         |SELECT COALESCE(a.k, b.k) AS k,
         |  CAST(COALESCE(a.n_ord, 0) AS BIGINT) AS n_ord,
         |  CAST(COALESCE(b.n_ev, 0) AS BIGINT) AS n_ev,
         |  CAST(COALESCE(a.n_ord, 0) + COALESCE(b.n_ev, 0) AS BIGINT) AS total
         |FROM a FULL OUTER JOIN b ON a.k = b.k
         |ORDER BY k""".stripMargin
    case 50 => // TRY_CAST battery over integral strings derived from
      // n_chars (NEVER raw text or doubles: DuckDB TRY_CAST('3.5' AS
      // INTEGER) rounds where Spark yields NULL, and double→string
      // formatting thresholds differ — integral material is the
      // shared-dialect subset). Trailing junk → NULL, whitespace and
      // leading zeros → trimmed, '.25' suffixes parse as DOUBLE in both
      val sfx = pick(r, Seq(" ", "x", "-"))
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(COALESCE(TRY_CAST(concat(CAST(n_chars AS STRING), '$sfx')
         |    AS INTEGER), -1)) AS BIGINT) AS s_junk,
         |  CAST(SUM(COALESCE(TRY_CAST(concat('00', CAST(n_chars AS STRING))
         |    AS INTEGER), -1)) AS BIGINT) AS s_lz,
         |  CAST(SUM(CAST(TRY_CAST(concat(CAST(n_chars AS STRING), '.25')
         |    AS DOUBLE) * 4 AS BIGINT)) AS BIGINT) AS s_quarter
         |FROM documents WHERE ${docPredicate(r)}
         |GROUP BY lang ORDER BY lang""".stripMargin
    case 51 => // CTE chain: per-key window rank feeding a set-op against
      // a plain predicate scan — dedup-by-set-semantics after a top-k
      val k = 1 + r.nextInt(3)
      val v = 200000 + r.nextInt(300000)
      val op = pick(r, Seq("EXCEPT", "INTERSECT"))
      s"""WITH ranked AS (
         |  SELECT o_custkey, ROW_NUMBER() OVER (PARTITION BY o_custkey
         |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders WHERE ${predicate(r)}),
         |top AS (SELECT o_custkey FROM ranked WHERE rn <= $k),
         |big AS (SELECT o_custkey FROM orders WHERE o_totalprice > $v)
         |SELECT o_custkey FROM top $op SELECT o_custkey FROM big
         |ORDER BY o_custkey""".stripMargin
    case 52 => // GREATEST/LEAST/NULLIF integer battery (integer-only by
      // design: greatest over DECIMAL promotes differently across
      // engines — the catalogued trap). NULL-skipping GREATEST and
      // COUNT over NULLIF'd values must agree
      val m = 3 + r.nextInt(17)
      val (a, b, c) = (r.nextInt(m), r.nextInt(m), r.nextInt(m))
      s"""SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(GREATEST(o_orderkey % $m, $a)) AS BIGINT) AS s_hi,
         |  CAST(SUM(LEAST(o_orderkey % $m, $b)) AS BIGINT) AS s_lo,
         |  CAST(COUNT(NULLIF(o_orderkey % $m, $c)) AS BIGINT) AS n_nonc,
         |  CAST(SUM(COALESCE(NULLIF(o_orderkey % $m, $c), -1)) AS BIGINT)
         |    AS s_sentinel
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    case 53 => // correlated scalar subquery in the SELECT list (q17's
      // shape inverted): per-order lineitem aggregate inlined as a
      // column, COALESCE'd for orders with no qualifying lines —
      // exercises the scalar-subquery → left-outer decorrelation path
      val q = 20 + r.nextInt(30)
      s"""SELECT o_orderkey,
         |  CAST(COALESCE((SELECT COUNT(*) FROM lineitem
         |                 WHERE l_orderkey = o_orderkey
         |                   AND l_quantity > $q), 0) AS BIGINT) AS n_big,
         |  CAST(COALESCE((SELECT MAX(l_linenumber) FROM lineitem
         |                 WHERE l_orderkey = o_orderkey), -1) AS BIGINT)
         |    AS max_line
         |FROM orders WHERE ${predicate(r)}
         |ORDER BY o_orderkey LIMIT ${30 + r.nextInt(70)}""".stripMargin
    case 54 => // same-order line-pair self-join (linenumber inequality
      // — the within-group pair-mining shape): pair counts and the
      // quantity-product sum per returnflag pair, integer-only
      val m = 2 + r.nextInt(6)
      s"""SELECT a.l_returnflag AS f1, b.l_returnflag AS f2,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CAST(a.l_quantity AS BIGINT) * CAST(b.l_quantity AS BIGINT))
         |    AS BIGINT) AS s_qq
         |FROM lineitem a JOIN lineitem b
         |  ON a.l_orderkey = b.l_orderkey
         |  AND a.l_linenumber < b.l_linenumber
         |WHERE a.l_orderkey % $m = ${r.nextInt(m)}
         |GROUP BY a.l_returnflag, b.l_returnflag
         |ORDER BY f1, f2""".stripMargin
    case 55 => // ordered-set aggregates: PERCENTILE_CONT / PERCENTILE_DISC
      // WITHIN GROUP — the SQL:2008 inverse-distribution functions
      // (DuckDB aliases quantile_cont/disc). CONT interpolates doubles
      // (round-6 absorbs last-bit drift); DISC picks an exact input
      val p = pick(r, Seq("0.25", "0.5", "0.75", "0.9"))
      s"""SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(PERCENTILE_CONT($p) WITHIN GROUP (
         |    ORDER BY CAST(o_totalprice AS DOUBLE)), 6) AS p_cont,
         |  CAST(PERCENTILE_DISC($p) WITHIN GROUP (
         |    ORDER BY o_orderkey) AS BIGINT) AS p_disc
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    case 56 => // bitwise AGGREGATES (bit_and/bit_or/bit_xor — the
      // reduction complement to case 15's scalar bit arithmetic):
      // order- and associativity-insensitive, so safe across engines;
      // xor over a unique key is a set fingerprint
      val m1 = 8 + r.nextInt(56)
      val m2 = 8 + r.nextInt(56)
      s"""SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(BIT_AND(o_orderkey % $m1 + 1) AS BIGINT) AS b_and,
         |  CAST(BIT_OR(o_orderkey % $m2) AS BIGINT) AS b_or,
         |  CAST(BIT_XOR(o_orderkey) AS BIGINT) AS b_xor
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    case 57 => // mixed-grain UNION ALL recombination: two aggregates at
      // different grains relabeled into one spine, then an outer
      // aggregate over the union — type reconciliation across branches
      val v = 100 + r.nextInt(300)
      s"""WITH u AS (
         |  SELECT o_orderstatus AS k, 'status' AS grain,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM orders WHERE ${predicate(r)} GROUP BY o_orderstatus
         |  UNION ALL
         |  SELECT event_type AS k, 'event' AS grain,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events WHERE value > $v GROUP BY event_type)
         |SELECT grain, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(n) AS BIGINT) AS total,
         |  CAST(MAX(n) AS BIGINT) AS max_n, MIN(k) AS min_k
         |FROM u GROUP BY grain ORDER BY grain""".stripMargin
    case 58 => // ROWS frame with random bounds (case 43 covers RANGE):
      // k PRECEDING .. m FOLLOWING over a unique-ordered per-user spine
      // — short partitions exercise the frame-clamping edges
      val kp = r.nextInt(4)
      val mf = r.nextInt(4)
      s"""SELECT user_id, event_id,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
         |  CAST(MIN(event_id) OVER w AS BIGINT) AS lo_frame,
         |  ROUND(SUM(CAST(value AS DOUBLE)) OVER w, 6) AS s_frame
         |FROM events WHERE ${eventPredicate(r)}
         |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
         |  ROWS BETWEEN $kp PRECEDING AND $mf FOLLOWING)
         |ORDER BY user_id, event_id LIMIT ${50 + r.nextInt(100)}""".stripMargin
    case 59 => // explicit NULLS FIRST/LAST (the default DIVERGES:
      // Spark sorts NULLS FIRST asc, DuckDB NULLS LAST — explicit
      // placement is the shared dialect): NULLIF-planted nulls in
      // both the presentation sort and a window order
      val nf = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
      val m = 3 + r.nextInt(8)
      s"""SELECT o_orderstatus, k,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
         |    ORDER BY k ${pick(r, Seq("ASC", "DESC"))} $nf, o_orderkey)
         |    AS BIGINT) AS rn,
         |  CAST(o_orderkey AS BIGINT) AS o_orderkey
         |FROM (SELECT o_orderstatus, o_orderkey,
         |        NULLIF(o_orderkey % $m, ${r.nextInt(m)}) AS k
         |      FROM orders WHERE ${predicate(r)})
         |ORDER BY o_orderstatus, k ${pick(r, Seq("ASC", "DESC"))} $nf,
         |  o_orderkey LIMIT ${40 + r.nextInt(80)}""".stripMargin
    case 60 => // LIMIT + OFFSET pagination over a unique total order —
      // the page must be identical in both engines
      val page = 10 + r.nextInt(40)
      val off = r.nextInt(200)
      s"""SELECT o_orderkey, o_orderstatus,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         |FROM orders WHERE ${predicate(r)}
         |ORDER BY o_orderkey LIMIT $page OFFSET $off""".stripMargin
    case 61 => // GROUP BY computed expressions (calendar part + integer
      // price bucket), ORDER BY the aliases — alias resolution in
      // GROUP BY/ORDER BY plus date_part arithmetic on the spine
      val w = 20000 + r.nextInt(60000)
      val part = pick(r, Seq("month", "quarter", "year"))
      s"""SELECT CAST(date_part('$part', o_orderdate) AS BIGINT) AS cal,
         |  CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / $w) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY cal, bucket ORDER BY cal, bucket""".stripMargin
    case 62 => // JOIN ... USING with the join column in the output (the
      // coalesced-key path ON-joins don't exercise), dimension chain
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_qty
         |FROM (SELECT o_orderkey, o_orderpriority, o_custkey
         |      FROM orders WHERE ${predicate(r)}) o
         |JOIN (SELECT l_orderkey AS o_orderkey, l_quantity
         |      FROM lineitem WHERE l_linenumber <= ${1 + r.nextInt(6)}) l
         |USING (o_orderkey)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    case 63 => // conditional aggregate INSIDE a window (SUM(CASE) OVER):
      // the running-conditional-count shape, framed and unframed
      val t = pick(r, Seq("click", "purchase", "view"))
      s"""SELECT user_id, event_id,
         |  CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
         |    AS run_t,
         |  CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user
         |FROM events WHERE ${eventPredicate(r)}
         |ORDER BY user_id, event_id LIMIT ${50 + r.nextInt(100)}""".stripMargin
    case 64 => // CUME_DIST and exact-fraction RANK arithmetic (the
      // distribution-function pair percent_rank's case 14 skips)
      s"""SELECT o_orderstatus, o_orderkey,
         |  ROUND(CUME_DIST() OVER w, 6) AS cd,
         |  CAST(RANK() OVER w AS BIGINT) AS rnk
         |FROM orders WHERE ${predicate(r)}
         |WINDOW w AS (PARTITION BY o_orderstatus
         |  ORDER BY o_orderkey % ${5 + r.nextInt(20)}, o_orderkey)
         |ORDER BY o_orderstatus, o_orderkey LIMIT ${40 + r.nextInt(100)}""".stripMargin
    case 65 => // latest-per-key via NOT EXISTS a newer row (the
      // dedup-by-recency anti-join every CDC consumer writes)
      s"""SELECT user_id, CAST(event_id AS BIGINT) AS last_event,
         |  event_type
         |FROM events e1 WHERE ${eventPredicate(r)}
         |  AND NOT EXISTS (SELECT 1 FROM events e2
         |    WHERE e2.user_id = e1.user_id AND e2.event_id > e1.event_id)
         |ORDER BY user_id LIMIT ${40 + r.nextInt(100)}""".stripMargin
    case 66 => // LEAD/LAG with explicit offset and DEFAULT (the
      // null-edge form; defaults must fill identically at both ends)
      val off = 1 + r.nextInt(3)
      s"""SELECT user_id, event_id,
         |  CAST(LEAD(event_id, $off, -1) OVER w AS BIGINT) AS nxt,
         |  CAST(LAG(event_id, $off, -1) OVER w AS BIGINT) AS prv
         |FROM events WHERE ${eventPredicate(r)}
         |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         |ORDER BY user_id, event_id LIMIT ${50 + r.nextInt(100)}""".stripMargin
    case 67 => // HAVING comparing two aggregates with arithmetic (the
      // post-aggregation predicate algebra, integer-exact both sides)
      val m = 2 + r.nextInt(5)
      s"""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_custkey
         |HAVING COUNT(*) >= $m AND MAX(o_orderkey) > $m * MIN(o_orderkey)
         |ORDER BY o_custkey""".stripMargin
    case 68 => // three-level CTE chain, each level consuming the last
      // (aggregate → filter → re-aggregate — the staged-rollup shape)
      val t = 2 + r.nextInt(6)
      s"""WITH per_cust AS (
         |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM orders WHERE ${predicate(r)} GROUP BY o_custkey),
         |busy AS (SELECT o_custkey, n FROM per_cust WHERE n >= $t),
         |hist AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS n_cust
         |         FROM busy GROUP BY n)
         |SELECT n, n_cust FROM hist ORDER BY n""".stripMargin
    case 69 => // REVERSE / REPEAT / LPAD string battery over bounded
      // integral material (formatting-safe on both engines)
      val w = 6 + r.nextInt(8)
      s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(LPAD(CAST(o_orderkey AS STRING), $w, '0')) AS min_pad,
         |  MAX(REVERSE(CAST(o_orderkey % 1000 AS STRING))) AS max_rev,
         |  MIN(REPEAT(o_orderstatus, ${1 + r.nextInt(3)})) AS rep
         |FROM orders WHERE ${predicate(r)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    case 70 => // correlated scalar aggregate in WHERE: rows above their
      // own group's average (the per-entity benchmark filter).
      // INTEGER-EXACT cross-multiplication: `x > m*AVG(y)` is evaluated
      // as `x_cents*n > m*sum_cents` — Spark's AVG(DECIMAL) is exact
      // DECIMAL(p,s+4) while DuckDB's returns DOUBLE, so the direct
      // AVG comparison had a knife-edge divergence class (ADVICE r11);
      // cents×count stays well inside BIGINT (≤3e9) in both engines.
      s"""SELECT o_orderkey,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         |FROM orders o1 WHERE ${predicate(r)}
         |  AND CAST(o_totalprice * 100 AS BIGINT) * (
         |    SELECT COUNT(*) FROM orders o2
         |    WHERE o2.o_custkey = o1.o_custkey)
         |  > ${1 + r.nextInt(2)} * (
         |    SELECT CAST(SUM(CAST(o2.o_totalprice * 100 AS BIGINT)) AS BIGINT)
         |    FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
         |ORDER BY o_orderkey LIMIT ${40 + r.nextInt(100)}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 40
    val seed = if (args.length > 3) args(3).toLong else 7L
    val spark = GraftSession.start()
    Seq("orders", "lineitem", "documents", "customer", "events", "part",
        "supplier").foreach(t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t))
    new java.io.File(outDir).mkdirs()
    val r = new Random(seed)
    val queries = (1 to n).map(i => f"fuzz_q$i%03d" -> genQuery(r))
    queries.foreach { case (name, sql) =>
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = queries.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] wrote ${queries.size} queries to $outDir")
    spark.stop()
  }
}
