package graft.operators

import org.apache.spark.sql.SparkSession

/** The relational block (q01–q99) as executable Spark SQL TEXT — the
  * interface a user of the reference actually writes first, since AnDB's
  * entire user surface is SQL strings through its parser
  * (andb/sql/parser/lexer.py:11-131).
  *
  * One text per query: a query's text is its DuckDB oracle text unless
  * [[overrides]] holds a Spark spelling for it. The TPC-H twins q90 and
  * q94 thus keep the canonical correlated EXISTS / scalar-subquery
  * forms, and Spark's decorrelator plans them; q86's EXISTS battery
  * stays the oracle's, and its Spark text is the per-order aggregate.
  *
  * For 91 of the 99 queries this text IS the registered query:
  * [[Relational.defs]] runs it through
  * [[org.apache.spark.sql.graft.BoundSql]], which binds its table names
  * to the data directory. The other 8 keep a DataFrame plan in
  * [[Relational.defs]] (see its header for why), and their text is the
  * same query spelled in SQL. SqlParitySpec asserts, for every entry,
  * that the registered query and this text run over the catalog give
  * the same columns and rows.
  *
  * Usage: `BoundSql(spark, sfDir, "q25_tpch_q1")`, or
  * `Ddl.registerAll(spark, sfDir)` then
  * `spark.sql(RelationalSql.sql("q25_tpch_q1"))`.
  *
  * The strings parse through the SAME Catalyst front end as the DataFrame
  * API, so pushdown / pruning / join selection / codegen are identical —
  * SQL-vs-DataFrame is a syntax choice, not a performance one. q37's
  * text is the row_number window equivalent of the bounded-heap
  * GroupedTopK physical operator its DataFrame plan runs, which SQL
  * cannot name.
  */
object RelationalSql {

  /** Parameterized-statement surface — the reference lexer tokenizes
    * PARAMETER placeholders (andb/sql/parser/lexer.py:35) for its
    * prepared statements. Spark 4's parameterized `sql` is the native
    * seat: `:name` markers in the text, values bound at analysis time.
    * Binding is by VALUE (never string splicing), so the statement text
    * is reusable and injection-safe, and the analyzed plan is identical
    * to the literal form — SqlParitySpec asserts that equality. */
  def bind(spark: SparkSession, name: String,
      args: Map[String, Any]): org.apache.spark.sql.DataFrame =
    spark.sql(parameterized(name), args)

  /** Parameterized twins of representative relational queries: same
    * result as the literal `sql(...)` text when bound with
    * [[defaultArgs]]. */
  val parameterized: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_quantity < :max_qty AND l_shipdate >= :min_ship""".stripMargin,

    "q05_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT :lim OFFSET :off""".stripMargin,

    "q30_having_expr" ->
      """SELECT p_brand, count(*) AS n_parts, sum(p_retailprice) AS tot_price
        |FROM part GROUP BY p_brand
        |HAVING count(*) > :min_parts AND sum(p_retailprice) > :min_price""".stripMargin
  )

  /** Bindings under which each [[parameterized]] text must reproduce the
    * corresponding literal query in [[sql]] exactly. */
  val defaultArgs: Map[String, Map[String, Any]] = Map(
    "q01_scan_filter_project" -> Map(
      "max_qty" -> 10, "min_ship" -> java.time.Instant.parse("1998-01-01T00:00:00Z")),
    "q05_sort_limit" -> Map("lim" -> 100, "off" -> 10),
    "q30_having_expr" -> Map("min_parts" -> 50, "min_price" -> 40000)
  )

  /** [[sql]] with the q81 precondition made EXPLICIT: its twin reads the
    * frozen sketch export (so approx-sketch merge-order nondeterminism
    * cannot split the DataFrame/SQL compare), which exists only after
    * the DataFrame form ran in this process — or under a pinned
    * GRAFT_EXPORT_ROOT that has it. Run standalone the raw text would
    * die with a bare path-not-found; this accessor names the fix. */
  def sqlFor(name: String): String = {
    if (name == "q81_approx_quantiles"
        && !new java.io.File(graft.operators.OracleExport.QuantSketchPath).exists())
      throw new IllegalStateException(
        "q81_approx_quantiles SQL twin reads the frozen quantile-sketch export at "
          + graft.operators.OracleExport.QuantSketchPath
          + " which does not exist yet: run the DataFrame form "
          + "(SparkEntry.queries(\"q81_approx_quantiles\")) in this process first, "
          + "or set GRAFT_EXPORT_ROOT to an export root that already has it.")
    sql(name)
  }

  /** Spark texts for the queries whose oracle spelling Spark's dialect
    * does not parse or types differently (DuckDB-only functions, casts
    * and clauses), whose oracle checks the q33 sketch export, or whose
    * Spark text spells a cheaper plan than the oracle's equivalent.
    * SqlParitySpec asserts that no entry equals its oracle text. */
  private[graft] val overrides: Map[String, String] = Map(
    "q29_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT explode(split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 50)
        |GROUP BY word""".stripMargin,

    "q31_json" ->
      """SELECT CAST(get_json_object(props, '$.k') AS INT) AS k_val,
        |       count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q39_cube" ->
      """SELECT l_returnflag, l_linestatus, grouping_id() AS gid,
        |       count(*) AS n_rows,
        |       FLOOR(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // The decorrelated LATERAL: aggregate once, then LEFT JOIN (a region
    // with no customers keeps its NULL row).
    "q42_lateral" ->
      """SELECT r_name, max_bal
        |FROM region LEFT JOIN (
        |  SELECT n_regionkey, max(c_acctbal) AS max_bal
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey) m ON r_regionkey = n_regionkey""".stripMargin,

    "q43_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, grouping_id() AS gid,
        |       count(*) AS n_rows,
        |       FLOOR(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q33_approx_agg" ->
      """SELECT l_returnflag,
        |       approx_count_distinct(l_partkey) AS approx_parts,
        |       percentile_approx(l_extendedprice, 0.5, 1000) AS approx_median_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // stack() is a map-side generate; the oracle's UNION ALL would scan
    // part twice.
    "q40_unpivot" ->
      """SELECT p_partkey,
        |       stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice)
        |         AS (metric, value)
        |FROM part WHERE p_partkey <= 100""".stripMargin,

    "q35_window_range" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |             CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01') AS BIGINT) AS order_day,
        |             o_totalprice FROM orders)
        |SELECT o_custkey, o_orderkey, order_day,
        |       FLOOR(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY order_day
        |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS trailing_30d
        |FROM o""".stripMargin,

    "q36_datetime" ->
      """SELECT o_orderkey,
        |       date_trunc('month', o_orderdate) AS order_month,
        |       year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |       dayofweek(o_orderdate) AS dow,
        |       CAST(add_months(o_orderdate, 3) AS TIMESTAMP) AS due_date,
        |       datediff(TIMESTAMP '2002-01-01', o_orderdate) AS age_days
        |FROM orders WHERE year(o_orderdate) = 2000""".stripMargin,

    // Spark's parser accepts the window form directly; Catalyst would
    // rewrite the correlated-subquery spelling into the same aggregate —
    // the window text IS the efficient decorrelation (one exchange).
    "q44_corr_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       FLOOR(avg_cents + 0.5) / 100 AS cust_avg
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |             CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |                    OVER (PARTITION BY o_custkey) AS DOUBLE)
        |               / count(*) OVER (PARTITION BY o_custkey) AS avg_cents
        |      FROM orders)
        |WHERE o_totalprice * 100 > avg_cents * 1.5""".stripMargin,

    "q45_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       substring(p_name, 3, 5) AS sub,
        |       lpad(CAST(p_partkey AS STRING), 8, '0') AS padded,
        |       regexp_replace(p_name, 'e', '3') AS swapped,
        |       reverse(p_name) AS rev,
        |       split_part(p_name, ' ', 1) AS first_word,
        |       CAST(instr(p_name, 'i') AS BIGINT) AS pos_i,
        |       right(p_name, 3) AS last3,
        |       CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num
        |FROM part WHERE p_partkey < 1000""".stripMargin,

    "q46_string_agg" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |       count(DISTINCT c_mktsegment) AS n_segs,
        |       array_join(array_sort(collect_set(c_mktsegment)), ',') AS segs
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    // Each array expression inlined, so Catalyst keeps one projection
    // (a CTE column used several times stays a second project).
    "q51_array_funcs" ->
      """SELECT doc_id,
        |  CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT) AS n_toks,
        |  CAST(size(array_distinct(regexp_extract_all(text, '[a-z0-9]+', 0))) AS BIGINT)
        |    AS n_uniq,
        |  array_join(slice(array_sort(array_distinct(
        |    regexp_extract_all(text, '[a-z0-9]+', 0))), 1, 5), '|') AS first5,
        |  array_contains(regexp_extract_all(text, '[a-z0-9]+', 0), 'spark') AS has_spark,
        |  element_at(array_sort(array_distinct(
        |    regexp_extract_all(text, '[a-z0-9]+', 0))), 3) AS third_sorted,
        |  array_join(reverse(slice(regexp_extract_all(text, '[a-z0-9]+', 0), 1, 3)), '|')
        |    AS head3_rev
        |FROM documents""".stripMargin,

    "q55_map_funcs" ->
      """SELECT o_custkey,
        |       CAST(size(map_keys(m)) AS BIGINT) AS n_pri,
        |       coalesce(element_at(m, '1-URGENT'), 0L) AS n_urgent,
        |       coalesce(element_at(m, '5-LOW'), 0L) AS n_low,
        |       array_join(map_keys(m), ',') AS pris
        |FROM (SELECT o_custkey,
        |             map_from_entries(sort_array(collect_list(struct(o_orderpriority, n)))) AS m
        |      FROM (SELECT o_custkey, o_orderpriority, count(*) AS n
        |            FROM orders GROUP BY o_custkey, o_orderpriority)
        |      GROUP BY o_custkey)""".stripMargin,

    "q56_variant" ->
      """SELECT event_id,
        |       variant_get(parse_json(props), '$.k', 'long') AS k_int,
        |       variant_get(parse_json(props), '$.k', 'double') AS k_dbl,
        |       variant_get(parse_json(props), '$.k', 'string') AS k_str,
        |       variant_get(parse_json(props), '$.missing', 'long') AS k_missing,
        |       variant_get(parse_json(props), '$.k', 'long') % 2 = 0 AS k_even
        |FROM events WHERE event_id < 500""".stripMargin,

    "q58_percentile" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       percentile(l_quantity, array(0.25D, 0.5D, 0.75D))[0] AS q25,
        |       percentile(l_quantity, array(0.25D, 0.5D, 0.75D))[1] AS q50,
        |       percentile(l_quantity, array(0.25D, 0.5D, 0.75D))[2] AS q75,
        |       percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med_price_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // REPARTITION(user_id) under the first window: one exchange serves
    // both windows.
    "q60_window_distinct" ->
      """WITH e AS (
        |  SELECT /*+ REPARTITION(user_id) */ event_id, user_id, event_type,
        |         unix_micros(ts) AS ts_us
        |  FROM events),
        |m AS (
        |  SELECT event_id, user_id, ts_us,
        |         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                                      ORDER BY ts_us ASC, event_id ASC) = 1
        |              THEN 1L ELSE 0L END AS first_seen
        |  FROM e)
        |SELECT event_id, user_id, ts_us,
        |       sum(first_seen) OVER (PARTITION BY user_id
        |         ORDER BY ts_us ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS types_so_far
        |FROM m""".stripMargin,

    "q62_gaps_islands" ->
      """WITH e AS (
        |  SELECT /*+ REPARTITION(user_id) */ user_id, event_id,
        |         unix_micros(ts) div 3600000000 AS hr
        |  FROM events),
        |dedup AS (
        |  SELECT user_id, hr FROM (
        |    SELECT user_id, hr,
        |           row_number() OVER (PARTITION BY user_id, hr
        |                              ORDER BY event_id ASC) AS rn
        |    FROM e) WHERE rn = 1),
        |runs AS (
        |  SELECT user_id,
        |         hr - row_number() OVER (PARTITION BY user_id
        |                                 ORDER BY hr ASC) AS grp
        |  FROM dedup),
        |islands AS (
        |  SELECT user_id, grp, count(*) AS len
        |  FROM runs GROUP BY user_id, grp)
        |SELECT user_id, count(*) AS n_islands, max(len) AS longest_run,
        |       sum(len) AS active_hours
        |FROM islands GROUP BY user_id""".stripMargin,

    // Aggregate per customer first, then CROSS JOIN the broadcast
    // one-row divisor count (the oracle joins before it aggregates).
    "q64_division" ->
      """WITH np AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders)
        |SELECT /*+ BROADCAST(np) */ o_custkey, n_orders
        |FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_prio,
        |             count(1) AS n_orders
        |      FROM orders GROUP BY o_custkey) c
        |CROSS JOIN np
        |WHERE n_prio = np.np""".stripMargin,

    "q65_reorder_gap" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |                  unix_micros(o_orderdate) AS od_us
        |           FROM orders),
        |g AS (SELECT o_custkey,
        |        (od_us - lag(od_us) OVER (PARTITION BY o_custkey
        |           ORDER BY od_us ASC, o_orderkey ASC)) div 86400000000
        |          AS gap_days
        |      FROM o),
        |gg AS (SELECT * FROM g WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment, count(*) AS n_gaps,
        |       min(gap_days) AS min_gap_days,
        |       max(gap_days) AS max_gap_days,
        |       floor(CAST(sum(gap_days) AS DOUBLE) / count(*)
        |             * 1000000 + 0.5) / 1000000 AS avg_gap_days
        |FROM gg JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q66_argmax" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |       concat(lpad(CAST(unix_micros(o_orderdate) AS STRING), 20, '0'),
        |              lpad(CAST(o_orderkey AS STRING), 20, '0')) AS pack
        |       FROM orders)
        |SELECT o_custkey,
        |       max_by(o_orderkey, pack) AS last_orderkey,
        |       max_by(o_totalprice, pack) AS last_price,
        |       min_by(o_orderkey, pack) AS first_orderkey,
        |       count(*) AS n_orders
        |FROM o GROUP BY o_custkey""".stripMargin,

    "q67_window_exclude" ->
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN cnt_all > 1 THEN
        |         floor(CAST(sum_all - price AS DOUBLE) / (cnt_all - 1)
        |               * 1000000 + 0.5) / 1000000
        |       END AS loo_avg_price
        |FROM (SELECT o_orderkey, o_custkey,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |          OVER (PARTITION BY o_custkey) AS sum_all,
        |        count(*) OVER (PARTITION BY o_custkey) AS cnt_all
        |      FROM orders WHERE o_custkey < 300)""".stripMargin,

    "q68_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q69_regex" ->
      """SELECT p_partkey, p_name,
        |       p_name RLIKE 'a[a-z]*o' AS has_ao,
        |       CAST(regexp_count(p_name, '[aeiou]+') AS BIGINT) AS n_vowel_runs,
        |       regexp_substr(p_name, '[aeiou]{2}') AS first_vowel_pair,
        |       array_join(regexp_extract_all(p_name, '[a-z]*o[a-z]*', 0), ',')
        |         AS o_words,
        |       regexp_replace(p_name, 'o([a-z])', '0$1') AS masked,
        |       CAST(size(split(p_name, '[aeiou]+')) AS BIGINT) AS n_split
        |FROM part WHERE p_partkey < 1200""".stripMargin,

    "q70_sequence_hof" ->
      """SELECT p_partkey, n,
        |       aggregate(transform(arr, x -> x * x), CAST(0 AS BIGINT),
        |                 (a, x) -> a + x) AS sum_sq,
        |       CAST(size(filter(arr, x -> x % 7 = 0)) AS BIGINT) AS n_div7,
        |       element_at(arr, 1) + element_at(arr, -1) AS first_plus_last,
        |       forall(arr, x -> x > 0) AS all_pos
        |FROM (SELECT p_partkey, CAST(p_size AS BIGINT) AS n,
        |        sequence(CAST(1 AS BIGINT), CAST(p_size AS BIGINT)) AS arr
        |      FROM part WHERE p_partkey < 300)""".stripMargin,

    "q73_try_arith" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
        |       count(big) AS n_in_range,
        |       sum(CASE WHEN big IS NULL THEN 1L ELSE 0L END) AS n_overflow,
        |       sum(CASE WHEN dv IS NULL THEN 1L ELSE 0L END) AS n_div0,
        |       sum(CAST(FLOOR(dv * 1000000 + 0.5) AS BIGINT)) AS sum_dv_micro,
        |       count(bad_num) AS n_bad_cast_ok,
        |       max(pri) AS pri
        |FROM (SELECT o_orderpriority,
        |        try_multiply(o_orderkey, ${Long.MaxValue / 5000}L) AS big,
        |        try_divide(o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)) AS dv,
        |        try_cast(o_orderstatus AS BIGINT) AS bad_num,
        |        try_cast(split_part(o_orderpriority, '-', 1) AS BIGINT) AS pri
        |      FROM orders)
        |GROUP BY 1""".stripMargin,

    "q74_decimal_exact" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |       sum(cents) AS sum_cents,
        |       CAST(sum(CAST(cents AS DECIMAL(19,0)) * 1000000000L) AS STRING)
        |         AS wide_cents,
        |       CAST(sum(CAST(cents AS DECIMAL(19,0)) * (100L - dcents)) AS STRING)
        |         AS disc_units
        |FROM (SELECT l_returnflag,
        |        CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |        CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS dcents
        |      FROM lineitem)
        |GROUP BY 1""".stripMargin,

    // Spark SQL text has no UNION BY NAME — this text is the explicit
    // null-fill desugaring (the one unionByName(allowMissingColumns)
    // performs).
    "q75_union_by_name" ->
      """SELECT substring(uname, 1, 8) AS feed, count(*) AS n_rows,
        |       count(segment) AS n_with_segment, count(nk) AS n_with_nk,
        |       sum(bal_cents) AS total_bal_cents
        |FROM (SELECT c_name AS uname,
        |        CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
        |        c_mktsegment AS segment, CAST(NULL AS BIGINT) AS nk
        |      FROM customer
        |      UNION ALL
        |      SELECT s_name, CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT),
        |        CAST(NULL AS STRING), CAST(s_nationkey AS BIGINT)
        |      FROM supplier)
        |GROUP BY 1""".stripMargin,

    // A struct-array sort; the oracle's two-key window rank is its
    // DuckDB proof.
    "q76_struct_ops" ->
      """SELECT o_custkey,
        |       arr[0].cents AS top_cents, arr[0].o_orderkey AS top_okey,
        |       arr[1].cents AS second_cents, arr[1].o_orderkey AS second_okey,
        |       CAST(size(arr) AS BIGINT) AS n_orders
        |FROM (SELECT o_custkey,
        |        sort_array(collect_list(struct(cents, o_orderkey)), false) AS arr
        |      FROM (SELECT o_custkey,
        |              CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |              o_orderkey
        |            FROM orders)
        |      GROUP BY o_custkey)
        |WHERE size(arr) >= 2""".stripMargin,

    // No ORDER BY ALL: the result is a set, and a sort is a second
    // exchange.
    "q77_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
        |       count(1) AS n_rows, sum(l_quantity) AS sum_qty,
        |       FLOOR(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
        |FROM lineitem GROUP BY ALL""".stripMargin,

    "q78_distinct_on" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey,
        |       unix_micros(o_orderdate) AS last_order_us,
        |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS last_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin,

    // Spark's parser has no quantified comparisons — this text is the
    // decorrelated scalar-subquery rewrite (empty-set edges spelled
    // out).
    "q79_quantified_cmp" ->
      """SELECT p_brand, count(*) AS n_parts,
        |       sum(CASE WHEN mx IS NULL THEN 1L
        |                WHEN p_retailprice > mx THEN 1L ELSE 0L END) AS n_gt_all,
        |       sum(CASE WHEN mx IS NULL THEN 0L
        |                WHEN p_retailprice < mx THEN 1L ELSE 0L END) AS n_lt_any,
        |       sum(CASE WHEN mn IS NULL THEN 1L
        |                WHEN p_retailprice < mn THEN 1L ELSE 0L END) AS n_lt_all
        |FROM (SELECT p_brand, p_retailprice,
        |        (SELECT max(p_retailprice) FROM part
        |         WHERE p_brand = 'Brand#13' AND p_size >= 48) AS mx,
        |        (SELECT min(p_retailprice) FROM part
        |         WHERE p_brand = 'Brand#13' AND p_size >= 48) AS mn
        |      FROM part)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The broadcast-cutoff rewrite: a 10-row top-k gives the threshold;
    // the oracle's rank() window needs a global sort.
    "q80_fetch_ties" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
        |             CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_band
        |           FROM orders),
        |t AS (SELECT min(price_band) AS thr
        |      FROM (SELECT price_band FROM b ORDER BY price_band DESC LIMIT 10))
        |SELECT o_orderkey, o_custkey, price_band FROM b, t
        |WHERE price_band >= thr""".stripMargin,

    // The q37-class exception: the DataFrame form collects the 9
    // frozen sketch scalars and computes ranks in ONE conditional
    // aggregate; the SQL twin reads the SAME frozen export (so sketch
    // merge-order nondeterminism cannot split the pair) and expresses
    // the ranks as a grouped 9×n cross join. Same values, different
    // physical plan. The twin runs AFTER the DataFrame form in
    // SqlParitySpec, so the export partition for the corpus exists.
    "q81_approx_quantiles" ->
      s"""WITH a AS (
        |  SELECT accuracy, p, approx
        |  FROM parquet.`${graft.operators.OracleExport.QuantSketchPath}`
        |  WHERE corpus_key = (
        |    SELECT CAST(count(*) AS STRING) || '_' ||
        |           CAST(CAST(sum(l_orderkey) AS BIGINT) AS STRING) || '_' ||
        |           CAST(CAST(sum(l_partkey) AS BIGINT) AS STRING)
        |    FROM lineitem)),
        |samp AS (
        |  SELECT l_extendedprice AS v FROM lineitem
        |  ORDER BY md5(CAST(l_orderkey AS STRING) || '#' ||
        |               CAST(l_linenumber AS STRING))
        |  LIMIT ${graft.operators.Relational.QuantSampleK}),
        |sx AS (
        |  SELECT percentile(v, array(0.5D, 0.9D, 0.99D)) AS sex,
        |         CAST(count(*) AS BIGINT) AS sample_n
        |  FROM samp),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
        |j AS (
        |  SELECT a.accuracy, a.p, a.approx,
        |         element_at(sx.sex, CASE a.p WHEN 0.5D THEN 1
        |                            WHEN 0.9D THEN 2 ELSE 3 END) AS sample_exact,
        |         nn.n, sx.sample_n
        |  FROM a CROSS JOIN sx CROSS JOIN nn),
        |r AS (
        |  SELECT j.accuracy, j.p, j.approx, j.sample_exact, j.n, j.sample_n,
        |         CAST(sum(CASE WHEN l.l_extendedprice <= j.approx
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS rk
        |  FROM j CROSS JOIN lineitem l
        |  GROUP BY j.accuracy, j.p, j.approx, j.sample_exact, j.n, j.sample_n)
        |SELECT accuracy, p, approx, sample_exact,
        |       abs(approx - sample_exact) / sample_exact AS rel_err,
        |       rk, n, sample_n,
        |       abs(CAST(rk AS DOUBLE) - p * n)
        |         <= CAST(n AS DOUBLE) / accuracy + 1 AS within_bound
        |FROM r""".stripMargin,

    // The IN subquery as a LEFT SEMI of orders against the big-order
    // aggregate, before customer and the lineitem re-join.
    "q85_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       sum(l_quantity) AS sum_qty
        |FROM orders
        |  LEFT SEMI JOIN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |                  HAVING sum(l_quantity) > 300) big
        |    ON o_orderkey = big.l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    // The EXISTS / NOT EXISTS battery as one per-order aggregate:
    // n_supp >= 2 is EXISTS(other supplier), n_fault = 1 is NOT
    // EXISTS(other at-fault supplier). Two levels (dedupe (order,
    // supplier) with a has-R flag, then count) instead of two
    // count(DISTINCT)s, which would plan an Expand that doubles every
    // lineitem row through the exchange.
    "q86_tpch_q21" ->
      """WITH per_order AS (
        |  SELECT ok, count(1) AS n_supp, sum(has_r) AS n_fault
        |  FROM (SELECT l_orderkey AS ok, l_suppkey AS sk,
        |               max(CAST(l_returnflag = 'R' AS BIGINT)) AS has_r
        |        FROM lineitem GROUP BY l_orderkey, l_suppkey)
        |  GROUP BY ok)
        |SELECT /*+ BROADCAST(supplier) */ s_name, count(1) AS numwait
        |FROM (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R') l1
        |  JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') o
        |    ON l_orderkey = o_orderkey
        |  JOIN per_order ON l_orderkey = ok
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp >= 2 AND n_fault = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q97_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         FLOOR(sum(l_extendedprice * (1 - l_discount))
        |               * 100 + 0.5) / 100 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    // Each side's residue of the OR applied before the join (part: the
    // three brands at sizes 1-15; lineitem: quantities 1-30), part
    // broadcast, the exact OR after the join.
    "q98_tpch_q19" ->
      """SELECT /*+ BROADCAST(p) */ FLOOR(sum(rev) * 100 + 0.5) / 100 AS revenue
        |FROM (SELECT l_partkey, l_quantity, l_extendedprice * (1 - l_discount) AS rev
        |      FROM lineitem WHERE l_quantity >= 1 AND l_quantity <= 30) l
        |  JOIN (SELECT p_partkey, p_brand, p_size FROM part
        |        WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
        |          AND p_size >= 1 AND p_size <= 15) p
        |    ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size >= 1 AND p_size <= 5
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size >= 1 AND p_size <= 10
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#34' AND p_size >= 1 AND p_size <= 15
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,

    "q99_tpch_q20" ->
      """WITH pq AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(sq) AS tot FROM pq GROUP BY 1)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM pq
        |                    JOIN pt USING (l_partkey)
        |                    WHERE sq > tot * 0.3D)
        |ORDER BY s_suppkey""".stripMargin
  )

  /** Each relational query's SQL text: its DuckDB oracle text from
    * [[Relational.defs]], which Spark parses as-is, with [[overrides]]
    * laid over it. */
  val sql: Map[String, String] =
    Relational.defs.collect { case (n, _, Some(o)) => n -> o }.toMap ++ overrides
}
