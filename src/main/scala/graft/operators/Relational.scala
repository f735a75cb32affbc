package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BoundSql
import graft.{Cut, Tables}

/** The reference engine's relational surface, re-expressed Spark-first.
  *
  * Reference (wotchin/AnDB): logical operators in
  * andb/executor/operator/logical.py:210-361 (Projection, Selection, Join,
  * Group, Scan, Sort, DuplicateRemoval, Limit, Union/Intersect/Except),
  * physical operators in andb/executor/operator/physical/select.py:47-893
  * (Filter, TableScan/IndexScan, NestedLoopJoin/HashJoin/SortMergeJoin,
  * HashAggregation/SortAggregation, Sort, Limit), expression surface in
  * andb/sql/parser/lexer.py:11-131 (LIKE, IN, BETWEEN, CASE, CAST, ||,
  * window OVER/PARTITION BY, set ops, arithmetic incl. %).
  *
  * Design: a query is its Spark SQL text ([[RelationalSql.sql]]) bound
  * to the data directory by [[org.apache.spark.sql.graft.BoundSql]] — the
  * text parses through the same Catalyst front end as a DataFrame plan,
  * so pushdown, pruning, join selection, partial aggregation and
  * whole-stage codegen are the same either way. Where the oracle text
  * plans more work, the Spark text spells the cheaper shape (see
  * [[RelationalSql.overrides]]). Eight queries keep a DataFrame plan,
  * because the plan does something the text cannot:
  *   - q26/q27/q28/q38 run the Dml rewrites, and q33/q81 write the sketch
  *     export their oracle reads;
  *   - q37 runs the GroupedTopK operator, which SQL cannot name;
  *   - q97 cuts its shared aggregate (`graft.Cut`), so the final plan
  *     reads it back (`Scan ExistingRDD`) instead of scanning lineitem
  *     once per consumer: its text plans the scalar subquery over the
  *     aggregate apart, and a text has no lineage cut. (q99's two
  *     consumers share one exchange, which Spark reuses, so q99 runs
  *     from its text.)
  * No collect(), no UDFs, no RDDs. At 100 TB: fact-fact joins
  * hash-partition on join keys (AQE re-plans skew), fact-dim joins
  * broadcast, and every aggregate here is map-side-combinable.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** A query whose Spark form is its SQL text, bound to the data
    * directory; `oracle` is its DuckDB text. */
  private def bound(name: String, oracle: String): (String, Q, Option[String]) =
    (name, (s, d) => BoundSql(s, d, name), Some(oracle))

  /** name -> (query, oracle SQL for DuckDB on the same tables) */
  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- scan / filter / project -------------------------------------
    bound("q01_scan_filter_project",
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
              WHERE l_quantity < 10 AND l_shipdate >= TIMESTAMP '1998-01-01'"""),

    bound("q02_predicates",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
                AND c_acctbal BETWEEN 0 AND 5000
                AND c_name LIKE '%5%'
                AND NOT (c_nationkey = 3)
                AND c_name IS NOT NULL"""),

    // ---- aggregation --------------------------------------------------
    bound("q03_agg_group",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                     sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price,
                     min(l_discount) AS min_disc, max(l_tax) AS max_tax
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              HAVING count(*) > 100"""),

    bound("q04_agg_global",
      """SELECT count(*) AS n_rows, count(DISTINCT l_partkey) AS n_parts,
                     sum(l_quantity) AS sum_qty,
                     FLOOR(avg(l_discount) * 1000000 + 0.5) / 1000000 AS avg_disc,
                     min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
              FROM lineitem"""),

    // ---- sort / limit / offset / distinct -----------------------------
    bound("q05_sort_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100 OFFSET 10"""),

    bound("q06_distinct",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // ---- joins --------------------------------------------------------
    // Fact-fact equi-join: shuffle-partitioned on the join key; AQE picks
    // SMJ/SHJ and handles skew at scale.
    bound("q07_join_hash",
      """SELECT o_orderpriority, count(*) AS n_items,
                     sum(l_extendedprice * (1 - l_discount)) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority"""),

    // Fact-dim: dims broadcast explicitly — no shuffle of the fact side.
    bound("q08_join_broadcast",
      """SELECT /*+ BROADCAST(nation), BROADCAST(region) */
                     r_name, n_name, count(*) AS n_cust, sum(c_acctbal) AS total_bal
              FROM customer JOIN nation ON c_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name, n_name"""),

    bound("q09_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
                     FLOOR(coalesce(sum(o_totalprice), 0.0) * 100 + 0.5) / 100 AS spent
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey"""),

    bound("q10_join_right",
      """SELECT n_name, count(s_suppkey) AS n_supp
              FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
              GROUP BY n_name"""),

    bound("q11_join_full",
      """SELECT coalesce(c.nk, p.nk) AS nk,
                     coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
              FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) c
              FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
                         WHERE s_acctbal < 0 GROUP BY 1) p
              ON c.nk = p.nk"""),

    bound("q12_join_cross",
      "SELECT r_name, n_name FROM region CROSS JOIN nation"),

    bound("q13_join_semi",
      """SELECT c_custkey, c_name FROM customer
              WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"""),

    bound("q14_join_anti",
      """SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"""),

    // ---- set operations ----------------------------------------------
    bound("q15_union_all",
      """SELECT nk, count(*) AS n FROM (
                SELECT c_nationkey AS nk FROM customer
                UNION ALL SELECT s_nationkey AS nk FROM supplier)
              GROUP BY nk"""),

    bound("q16_union",
      """SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < -900
              UNION SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal < -900"""),

    bound("q17_intersect",
      """SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < -500
              INTERSECT SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal < -500"""),

    bound("q18_except",
      """SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < -500
              EXCEPT SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal < -500"""),

    // ---- expressions: CASE / CAST / || / % ----------------------------
    bound("q19_case_cast",
      """SELECT o_orderkey,
                     CASE WHEN o_totalprice >= 400000 THEN 'high'
                          WHEN o_totalprice >= 150000 THEN 'mid'
                          ELSE 'low' END AS bucket,
                     'O' || CAST(o_orderkey AS STRING) AS okey_str,
                     CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_price,
                     o_orderkey % 7 AS key_mod
              FROM orders"""),

    // ---- window functions ---------------------------------------------
    bound("q20_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER w AS rn, rank() OVER w AS rnk
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey ASC))
              WHERE rn <= 3"""),

    bound("q21_window_agg",
      """SELECT o_custkey, o_orderkey,
                     FLOOR(sum(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS run_spend,
                     lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
              FROM orders"""),

    // ---- CTE / subqueries ---------------------------------------------
    bound("q22_cte",
      """WITH cust_tot AS (
                SELECT o_custkey, sum(o_totalprice) AS total FROM orders GROUP BY o_custkey)
              SELECT c_mktsegment, count(*) AS n_cust,
                     FLOOR(avg(total) * 100 + 0.5) / 100 AS avg_spend
              FROM customer JOIN cust_tot ON c_custkey = o_custkey
              GROUP BY c_mktsegment"""),

    // Uncorrelated scalar subquery: the 1-row aggregate runs once, never
    // per outer row, and no graft code collects it.
    bound("q23_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders)"""),

    // ---- multi-way star join (TPC-H Q5 shape) -------------------------
    bound("q24_multijoin",
      """SELECT /*+ BROADCAST(nation), BROADCAST(region) */
                     n_name,
                     FLOOR(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
              FROM customer, orders, lineitem, supplier, nation, region
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY n_name"""),

    // ---- flagship aggregation (TPC-H Q1 shape) ------------------------
    bound("q25_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
                     sum(l_quantity) AS sum_qty,
                     sum(l_extendedprice) AS sum_base_price,
                     sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                     sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
                     avg(l_quantity) AS avg_qty,
                     avg(l_extendedprice) AS avg_price,
                     avg(l_discount) AS avg_disc,
                     count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2001-09-01'
              GROUP BY l_returnflag, l_linestatus"""),

    // ---- DML semantics as plan rewrites (see Dml.scala) ---------------
    ("q26_dml_insert",
      (s, d) => Dml.insert(Tables.region(s, d),
        Seq((5, "CYBER"), (6, "MOON")), s),
      Some("""SELECT r_regionkey, r_name FROM region
              UNION ALL SELECT * FROM (VALUES (5, 'CYBER'), (6, 'MOON')) t(r_regionkey, r_name)""")),

    ("q27_dml_delete",
      (s, d) => Dml.delete(Tables.nation(s, d), col("n_regionkey") === 2),
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IS DISTINCT FROM 2")),

    ("q28_dml_update",
      (s, d) => Dml.update(Tables.supplier(s, d), col("s_acctbal") < 0,
        Map("s_acctbal" -> (col("s_acctbal") * 1.1))),
      Some("""SELECT s_suppkey, s_name, s_nationkey,
                     CASE WHEN s_acctbal < 0 THEN s_acctbal * 1.1 ELSE s_acctbal END AS s_acctbal
              FROM supplier""")),

    // ---- table-function scan (FunctionScan analog) --------------------
    bound("q29_explode",
      """SELECT word, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS word
                FROM documents WHERE doc_id < 50)
              GROUP BY word"""),

    bound("q30_having_expr",
      """SELECT p_brand, count(*) AS n_parts, sum(p_retailprice) AS tot_price
              FROM part GROUP BY p_brand
              HAVING count(*) > 50 AND sum(p_retailprice) > 40000"""),

    // ---- semi-structured: JSON props on the events stream table -------
    bound("q31_json",
      """SELECT CAST(props->>'$.k' AS INTEGER) AS k_val, count(*) AS n,
                     sum("value") AS sum_value
              FROM events GROUP BY 1"""),

    // ---- rollup / grouping sets (subtotal hierarchies) -----------------
    // One pass computes all grouping levels; at scale this is a single
    // expand + hash-aggregate, not one job per level.
    bound("q32_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                     FLOOR(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
              FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    // ---- cube (full subtotal lattice + grouping id) --------------------
    // Like q32's ROLLUP but over every subset of the grouping keys; the
    // grouping_id bit vector disambiguates subtotal rows from real NULL
    // groups. One expand + hash-aggregate pass, same as rollup.
    bound("q39_cube",
      """SELECT l_returnflag, l_linestatus,
                     CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                     count(*) AS n_rows,
                     FLOOR(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // ---- grouping sets (explicit subtotal selection) -------------------
    // The general form q32/q39 are sugar for: exactly the requested
    // grouping combinations, nothing else — here each single-key margin
    // plus the grand total, skipping the full (flag, status) cross level.
    // Still ONE expand + hash-aggregate pass; the expand factor is the
    // number of requested sets (3), not 2^keys.
    bound("q43_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
                     CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                     count(*) AS n_rows,
                     FLOOR(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),

    // ---- pivot (long → wide conditional aggregation) -------------------
    // Explicit value list ⇒ single-pass hash aggregate, no extra job to
    // discover pivot values (which at 100 TB would be a full scan).
    bound("q34_pivot",
      """SELECT year(o_orderdate) AS order_year,
                     coalesce(FLOOR(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN o_totalprice END) * 100 + 0.5) / 100, 0.0) AS AUTOMOBILE,
                     coalesce(FLOOR(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN o_totalprice END) * 100 + 0.5) / 100, 0.0) AS BUILDING,
                     coalesce(FLOOR(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN o_totalprice END) * 100 + 0.5) / 100, 0.0) AS FURNITURE,
                     coalesce(FLOOR(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN o_totalprice END) * 100 + 0.5) / 100, 0.0) AS HOUSEHOLD,
                     coalesce(FLOOR(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN o_totalprice END) * 100 + 0.5) / 100, 0.0) AS MACHINERY
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY year(o_orderdate)"""),

    // ---- unpivot / melt (wide → long, the inverse of q34) --------------
    // stack() expands k columns into k rows per input row inside the
    // generate operator — map-side, no shuffle; the melt every feature
    // pipeline runs before per-metric aggregation.
    bound("q40_unpivot",
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
              FROM part WHERE p_partkey <= 100
              UNION ALL
              SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
              FROM part WHERE p_partkey <= 100"""),

    // ---- q41: recursive CTE ------------------------------------------
    // The text drives Spark 4's WITH RECURSIVE through the parser; the
    // oracle runs the same text on DuckDB's own recursion. A 12-row
    // recursion (the month spine) costs nothing; at scale
    // the spine side stays tiny and broadcast while the fact side does
    // the work.
    bound("q41_recursive_cte",
      """WITH RECURSIVE months(month_num) AS (
                SELECT 1 UNION ALL SELECT month_num + 1 FROM months WHERE month_num < 12)
              SELECT month_num, count(*) AS n_orders,
                     FLOOR(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
              FROM months JOIN orders
                ON month(o_orderdate) = month_num AND year(o_orderdate) = 2000
              GROUP BY month_num"""),

    // ---- q42: LATERAL correlated subquery ----------------------------
    // The per-outer-row subquery shape (DuckDB/Postgres LATERAL, Spark 4
    // LATERAL). The Spark text (RelationalSql) is the decorrelated
    // aggregate-then-LEFT-join — at scale ONE aggregate over the inner
    // table plus a broadcast join, never a subquery per row. LEFT join,
    // not inner: a scalar aggregate in a LATERAL returns exactly one row
    // per outer row — (r_name, NULL) for a region with no customers — so
    // the decorrelated form must keep unmatched outer rows.
    bound("q42_lateral",
      """SELECT r_name, t.max_bal FROM region,
              LATERAL (SELECT max(c_acctbal) AS max_bal
                       FROM customer JOIN nation ON c_nationkey = n_nationkey
                       WHERE n_regionkey = r_regionkey) t"""),

    // ---- RANGE-frame window (value-based sliding aggregate) ------------
    // 30-day trailing spend per customer: RANGE frames bound by VALUE
    // distance, not row count — the time-series form row frames miss.
    bound("q35_window_range",
      """WITH o AS (SELECT o_custkey, o_orderkey,
                           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS order_day,
                           o_totalprice FROM orders)
              SELECT o_custkey, o_orderkey, order_day,
                     FLOOR(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY order_day
                       RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS trailing_30d
              FROM o"""),

    // ---- datetime surface (trunc / extract / arithmetic) ---------------
    bound("q36_datetime",
      """SELECT o_orderkey,
                     CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                     year(o_orderdate) AS y, quarter(o_orderdate) AS q,
                     dayofweek(o_orderdate) + 1 AS dow,
                     o_orderdate + INTERVAL 3 MONTH AS due_date,
                     datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS age_days
              FROM orders WHERE year(o_orderdate) = 2000"""),

    // ---- grouped top-k via the custom physical operator ----------------
    // The k best rows per group through GroupedTopKExec (LogicalPlan +
    // Strategy + SparkPlan, bounded heap per group) — same semantics as
    // the row_number window form the oracle uses, without sorting whole
    // groups. See org/apache/spark/sql/graft/GroupedTopK.scala.
    ("q37_grouped_topk",
      (s, d) => {
        val joined = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          joined, Seq("c_mktsegment"),
          Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
      },
      Some("""SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY c_mktsegment
                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders JOIN customer ON o_custkey = c_custkey)
              WHERE rn <= 3""")),

    // ---- MERGE / upsert (lakehouse copy-on-write DML) ------------------
    ("q38_dml_merge",
      (s, d) => {
        val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val updates = base.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"))
          .union(base.filter(col("o_orderkey") % 1000 === 0)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              lit(42.0).as("o_totalprice")))
        Dml.merge(base, updates, "o_orderkey")
          .select(col("o_orderkey"),
            (floor(col("o_totalprice") * 100 + 0.5) / 100).as("total"))
      },
      Some("""WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
              updates AS (
                SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
                FROM base WHERE o_orderkey % 100 = 0
                UNION ALL
                SELECT o_orderkey + 10000000, 42.0 FROM base WHERE o_orderkey % 1000 = 0)
              SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
                     FLOOR(coalesce(u.o_totalprice, b.o_totalprice) * 100 + 0.5) / 100 AS total
              FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey""")),

    // ---- approximate aggregates (the 100 TB cardinality toolkit) -------
    // HLL++ distinct counts + quantile sketches: constant memory per
    // group, one pass, mergeable across partitions — the only viable
    // shape for interactive stats over 100 TB. Sketch INTERNALS are
    // engine-specific, but the sketches' CONTRACTS are not — so the
    // oracle is a bound check over the exported estimates: DuckDB
    // computes the exact per-group distinct count and the exact
    // 0.498/0.502 discrete quantiles, then emits each exported estimate
    // only if it sits inside the documented envelope (HLL rsd 0.05 →
    // ±3σ = 15 %; percentile_approx accuracy 1000 → rank error ≤ 0.001,
    // doubled for margin), a sentinel otherwise — estimates out of
    // contract hash-mismatch. Tighter accuracy asserts live in
    // UtilitySpec.
    ("q33_approx_agg",
      (s, d) => {
        val perGroup = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
               percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
                 .as("approx_median_price"))
        graft.operators.OracleExport.writeOnce(perGroup,
          graft.operators.OracleExport.SketchPath,
          graft.operators.OracleExport.lineKeyFor(Tables.lineitem(s, d), d))
        perGroup
      },
      Some(s"""WITH exp AS MATERIALIZED (
                 SELECT l_returnflag, approx_parts, approx_median_price
                 FROM ${graft.operators.OracleExport.readSql(
                        graft.operators.OracleExport.SketchPath)}
                 WHERE corpus_key = ${graft.operators.OracleExport.lineKeySql}),
               exact AS (
                 SELECT l_returnflag,
                        count(DISTINCT l_partkey) AS ed,
                        quantile_disc(l_extendedprice, 0.498) AS lo,
                        quantile_disc(l_extendedprice, 0.502) AS hi
                 FROM lineitem GROUP BY l_returnflag)
               SELECT x.l_returnflag,
                      CASE WHEN e.approx_parts
                             BETWEEN CAST(FLOOR(x.ed * 0.85) AS BIGINT)
                                 AND CAST(CEIL(x.ed * 1.15) AS BIGINT)
                           THEN e.approx_parts ELSE CAST(-1 AS BIGINT)
                      END AS approx_parts,
                      CASE WHEN e.approx_median_price BETWEEN x.lo AND x.hi
                           THEN e.approx_median_price ELSE -1.0
                      END AS approx_median_price
               FROM exact x JOIN exp e ON x.l_returnflag = e.l_returnflag""")),

    // ---- q44: correlated scalar subquery (per-group, decorrelated) -----
    // "Orders above 1.5× their customer's average" — the per-outer-group
    // correlated form (q23 is the global-scalar one). The textbook
    // decorrelation is aggregate + join-back = TWO exchanges of orders on
    // o_custkey; the window form computes the same per-customer average on
    // ONE exchange and never materializes a second orders scan. At 100 TB
    // that halves the shuffle bill of every "compare to my group's
    // aggregate" query.
    // Money discipline (r8, caught by the sf1.0 compare): the customer
    // average is computed from EXACT integer cents — per-row
    // floor(price·100 + 0.5) is engine-identical (no sum involved) and
    // the integer sum is associative, so avg_cents and every rounding
    // and comparison derived from it are order-free. A double avg
    // rounded after the fact flipped one cell at sf1.0 (sum-order ulp
    // straddling the .005 boundary at 1.5M dice rolls).
    bound("q44_corr_subquery",
      """SELECT o_orderkey, o_custkey, o_totalprice,
                     FLOOR((SELECT CAST(sum(CAST(FLOOR(o2.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                                   / count(*) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey) + 0.5) / 100 AS cust_avg
              FROM orders o
              WHERE o_totalprice * 100 >
                    (SELECT CAST(sum(CAST(FLOOR(o2.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                            / count(*) FROM orders o2
                     WHERE o2.o_custkey = o.o_custkey) * 1.5"""),

    // ---- q45: string-function surface -----------------------------------
    // The scalar string toolkit (reference expression surface: lexer.py
    // LIKE/|| plus the functions any SQL user reaches for next). All
    // map-side, all inside whole-stage codegen — the point of the row is
    // that none of these need a UDF.
    bound("q45_string_funcs",
      """SELECT p_partkey, upper(p_name) AS uname,
                     CAST(len(p_name) AS BIGINT) AS name_len,
                     substr(p_name, 3, 5) AS sub,
                     lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
                     regexp_replace(p_name, 'e', '3', 'g') AS swapped,
                     reverse(p_name) AS rev,
                     split_part(p_name, ' ', 1) AS first_word,
                     CAST(strpos(p_name, 'i') AS BIGINT) AS pos_i,
                     right(p_name, 3) AS last3,
                     CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num
              FROM part WHERE p_partkey < 1000"""),

    // ---- q46: grouped string aggregation (listagg / string_agg) --------
    // Order-sensitive aggregation into a scalar: collect_set is bounded
    // here by the segment domain (5 values), so the per-group state is
    // O(domain), not O(rows) — the only safe shape for collect at scale.
    // The deterministic sort + join makes the result engine-comparable.
    bound("q46_string_agg",
      """SELECT c_nationkey, count(*) AS n_cust,
                     CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segs,
                     string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
              FROM customer GROUP BY c_nationkey"""),

    // ---- q47: conditional / filtered / distinct aggregates --------------
    // FILTER-clause aggregates (one pass computes every conditional
    // variant — the alternative is one scan per condition), DISTINCT
    // aggregation, and boolean aggregation. sum(DISTINCT l_quantity) is
    // order-safe across engines because the distinct values are small
    // integers (exact in double under any summation order).
    bound("q47_cond_agg",
      """SELECT l_returnflag, count(*) AS n_rows,
                     count(*) FILTER (WHERE l_quantity < 10) AS n_cheap,
                     FLOOR(avg(l_extendedprice) FILTER (WHERE l_discount > 0.05) * 100 + 0.5) / 100 AS avg_hi_disc,
                     sum(DISTINCT l_quantity) AS sum_dq,
                     bool_or(l_quantity >= 49) AS has_big
              FROM lineitem GROUP BY l_returnflag"""),

    // ---- q48: three-valued-logic surface ---------------------------------
    // NULLIF / COALESCE / null-safe equality / GREATEST / LEAST — the
    // null-handling idioms (reference: IS [NOT] NULL, lexer.py:118). The
    // inputs carry no NULLs, so NULLIF manufactures them and the rest of
    // the row proves they flow through the three-valued operators the
    // same way on both engines. All map-side codegen'd expressions.
    bound("q48_null_semantics",
      """SELECT o_orderkey,
                     nullif(o_orderpriority, '1-URGENT') AS pri_or_null,
                     coalesce(nullif(o_orderpriority, '1-URGENT'), 'WAS-URGENT') AS pri_filled,
                     o_orderpriority IS NOT DISTINCT FROM '1-URGENT' AS is_urgent,
                     greatest(o_totalprice, 200000.0) AS floor_200k,
                     least(o_totalprice, 200000.0) AS cap_200k
              FROM orders"""),

    // ---- q49: window navigation functions --------------------------------
    // The full OVER-clause navigation surface (lead/lag/ntile/
    // percent_rank/cume_dist/first_value/last_value/nth_value) on one
    // totally-ordered window (o_orderdate, o_orderkey — the unique key
    // breaks date ties, so every engine sees the same order). All
    // navigation rides the SAME o_custkey exchange the ranking window
    // (q20) uses — adding functions to a window is free; adding windows
    // with different partitioning is another corpus shuffle.
    // percent_rank/cume_dist are rational (small-int divisions), so the
    // doubles are IEEE-identical cross-engine with no rounding grid.
    bound("q49_window_nav",
      """SELECT o_orderkey, o_custkey,
                     lead(o_totalprice, 1) OVER w AS next_price,
                     lag(o_totalprice, 2) OVER w AS lag2_price,
                     CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                     percent_rank() OVER w AS pr,
                     cume_dist() OVER w AS cd,
                     first_value(o_totalprice) OVER wf AS first_price,
                     last_value(o_totalprice) OVER wf AS last_price,
                     nth_value(o_totalprice, 2) OVER wf AS second_price
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                     wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),

    // ---- q50: statistical aggregates -------------------------------------
    // Dispersion/association surface: stddev/variance (sample + pop),
    // corr/covar, exact interpolated median. All are single-pass
    // map-side-combinable moment aggregates (Spark merges central
    // moments per partition — no second scan, no sort except median's
    // per-group gather). Moment merges associate differently per engine,
    // so order-sensitive floats land on the micro/cents grid (the q44
    // precedent); median interpolates whole-valued quantities — exact.
    bound("q50_stats_agg",
      """SELECT l_returnflag, count(*) AS n_rows,
                     FLOOR(stddev_samp(l_quantity) * 1000000 + 0.5) / 1000000 AS sd_qty,
                     FLOOR(var_samp(l_quantity) * 1000000 + 0.5) / 1000000 AS var_qty,
                     FLOOR(stddev_pop(l_quantity) * 1000000 + 0.5) / 1000000 AS sd_pop_qty,
                     FLOOR(corr(l_quantity, l_partkey) * 1000000 + 0.5) / 1000000 AS corr_qp,
                     FLOOR(covar_samp(l_quantity, l_partkey) * 100 + 0.5) / 100 AS covar_qp,
                     median(l_quantity) AS med_qty
              FROM lineitem GROUP BY l_returnflag"""),

    // ---- q51: array-function surface -------------------------------------
    // Collection types as first-class columns (the reference's vector is
    // its only collection; this is the general array toolkit). Arrays are
    // built, sorted, dedup'd, sliced and searched entirely map-side
    // inside codegen — the Spark text inlines each array expression, so
    // the row is one projection, one codegen span. Outputs collapse to
    // scalars (joined strings) so the cross-engine comparison is on exact
    // values, not engine-specific array renderings.
    bound("q51_array_funcs",
      """WITH m AS (SELECT doc_id,
                     regexp_extract_all(text, '[a-z0-9]+') AS toks,
                     list_sort(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS sorted
                   FROM documents)
              SELECT doc_id,
                     len(toks) AS n_toks,
                     len(list_distinct(toks)) AS n_uniq,
                     array_to_string(list_slice(sorted, 1, 5), '|') AS first5,
                     list_contains(toks, 'spark') AS has_spark,
                     sorted[3] AS third_sorted,
                     array_to_string(list_reverse(list_slice(toks, 1, 3)), '|') AS head3_rev
              FROM m"""),

    // ---- q52: correlated EXISTS / NOT EXISTS -----------------------------
    // EXISTS with a NON-EQUI correlated predicate (l_shipdate more than
    // 60 days after the order's own date) — not reducible to the plain
    // key-only semi-join of q13/q14. Spark plans the equi component
    // (orderkey) as the hash-join key and evaluates the date inequality
    // as a join residual, so the exchange is still key-partitioned —
    // never a cartesian. The NOT EXISTS leg is a left-anti on the same
    // key. Both inner scans are filtered BEFORE the join (pushed to
    // parquet), so at 100 TB the join sees only qualifying lines.
    bound("q52_exists",
      """SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders o
              WHERE EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey
                              AND l.l_quantity >= 48
                              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
                AND NOT EXISTS (SELECT 1 FROM lineitem l2
                                WHERE l2.l_orderkey = o.o_orderkey
                                  AND l2.l_discount > 0.09)"""),

    // ---- q53: INTERSECT ALL / EXCEPT ALL ---------------------------------
    // Multiset set operations — the bag semantics the reference's
    // INTERSECT/EXCEPT (logical.py:298-311) lack. Spark rewrites both to
    // aggregates over a union (count per side, replicate min/difference),
    // so the cost is ONE exchange on the row value — no join, no sort.
    // Tagged legs union into one result so both ops verify in one query.
    bound("q53_set_all",
      """SELECT l_suppkey, qty, 'both' AS tag FROM (
                SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
                WHERE l_shipdate >= timestamp '1995-01-01' AND l_shipdate < timestamp '1998-01-01'
                INTERSECT ALL
                SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
                WHERE l_shipdate >= timestamp '1998-01-01' AND l_shipdate < timestamp '2002-01-01')
              UNION ALL
              SELECT l_suppkey, qty, 'only_early' AS tag FROM (
                SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
                WHERE l_shipdate >= timestamp '1995-01-01' AND l_shipdate < timestamp '1998-01-01'
                EXCEPT ALL
                SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
                WHERE l_shipdate >= timestamp '1998-01-01' AND l_shipdate < timestamp '2002-01-01')"""),

    // ---- q54: math-function surface ---------------------------------------
    // The scalar math toolkit beyond q19's arithmetic (reference: arith
    // ops only, lexer.py:104-131). All map-side codegen. Cross-engine
    // float discipline: abs/sign/mod/ceil/floor/sqrt and x·x are
    // IEEE-exact (sqrt is correctly rounded by spec); ln/exp/sin are
    // libm-dependent in the last ulp, so they land on the micro grid
    // like every transcendental in this suite.
    bound("q54_math_funcs",
      """SELECT o_orderkey,
                     abs(o_totalprice - 150000.0) AS abs_dev,
                     CAST(sign(o_totalprice - 150000.0) AS BIGINT) AS sgn,
                     CAST(o_orderkey % 7 AS BIGINT) AS mod7,
                     CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS k_ceil,
                     CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS k_floor,
                     sqrt(o_totalprice) AS sq,
                     o_totalprice * o_totalprice AS sq2,
                     FLOOR(ln(o_totalprice) * 1000000 + 0.5) / 1000000 AS ln_p,
                     FLOOR(exp(o_totalprice / 500000.0) * 1000000 + 0.5) / 1000000 AS exp_p,
                     FLOOR(sin(o_totalprice / 100000.0) * 1000000 + 0.5) / 1000000 AS sin_p
              FROM orders"""),

    // ---- q55: map-type surface ---------------------------------------------
    // MapType as a first-class column: per-customer priority→count maps
    // built with map_from_entries over a sorted entry list (sorted so
    // map_keys iterates deterministically), probed with element_at, and
    // collapsed to scalars for the cross-engine compare (the oracle
    // computes the same values relationally — DuckDB's MAP calculus
    // differs, the VALUES must not). Entry lists are bounded by the
    // priority domain (5), so per-group state is O(domain) — the q46
    // rule that makes collect safe at scale.
    bound("q55_map_funcs",
      """SELECT o_custkey,
                     CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_pri,
                     count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
                     count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low,
                     string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS pris
              FROM orders GROUP BY o_custkey"""),

    // ---- q56: VARIANT semi-structured type --------------------------------
    // Spark 4's native VARIANT — the typed semi-structured path beyond
    // q31's schema-on-read from_json: parse once into the binary variant
    // encoding, then typed point extractions (variant_get) with cast
    // semantics per path — int/double/string views of the same field,
    // absent paths → NULL. At 100 TB this is the ingestion pattern for
    // heterogeneous event payloads: parse_json at write time, store
    // VARIANT, extract lazily — point lookups read the variant's
    // internal offsets, not a re-parse per field. All map-side codegen;
    // outputs are plain scalars so the oracle (DuckDB JSON operators)
    // compares on values, not engine encodings.
    bound("q56_variant",
      """SELECT event_id,
                     CAST(props->>'$.k' AS BIGINT) AS k_int,
                     CAST(props->>'$.k' AS DOUBLE) AS k_dbl,
                     props->>'$.k' AS k_str,
                     CAST(NULL AS BIGINT) AS k_missing,
                     CAST(props->>'$.k' AS BIGINT) % 2 = 0 AS k_even
              FROM events WHERE event_id < 500"""),

    // ---- q57: ORDER BY null placement ------------------------------------
    // NULLS FIRST / NULLS LAST on both sort directions. The driver's
    // compare sorts rows before hashing, so ordering semantics are made
    // OBSERVABLE through LIMIT: which 60 rows survive depends entirely
    // on where the manufactured NULLs sort. Spark defaults (asc→nulls
    // first, desc→nulls last) differ from engines like Postgres (nulls
    // high), so both placements are written EXPLICITLY on both sides.
    // TakeOrdered top-k — per-partition heaps, no global sort.
    bound("q57_null_ordering",
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri_n, o_totalprice
              FROM orders
              ORDER BY pri_n DESC NULLS FIRST, o_totalprice ASC NULLS LAST, o_orderkey ASC
              LIMIT 60"""),

    // ---- q58: exact percentiles (continuous + discrete) ------------------
    // Quantile probabilities are DYADIC (0.25/0.5/0.75) on integer-valued
    // doubles, so the standard interpolation lower + (upper-lower)*frac has
    // every intermediate exactly representable in binary64 — bit-identical
    // across engines with NO grid. percentile_disc follows the SQL-standard
    // "first value with cume_dist >= p" on both engines. Exact percentile
    // is a per-group sort — at 100 TB the groups here are the 3-value
    // l_returnflag domain, so each group's sort is one reducer's work;
    // for high-cardinality groups the approx_percentile path (q33) is the
    // scale rung.
    bound("q58_percentile",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
                     quantile_cont(l_quantity, 0.25) AS q25,
                     quantile_cont(l_quantity, 0.5)  AS q50,
                     quantile_cont(l_quantity, 0.75) AS q75,
                     quantile_disc(l_extendedprice, 0.5) AS med_price_disc
              FROM lineitem GROUP BY l_returnflag"""),

    // ---- q59: fixed-width histogram ---------------------------------------
    // width_bucket semantics written as explicit floor arithmetic so both
    // engines run the IDENTICAL operation sequence (multiply THEN divide —
    // the [[graft-float-discipline]] op-order rule; a boundary value rounds
    // the same way on both sides because the expression is the same).
    // Entirely map-side + a 12-key aggregate: the 100 TB plan is one scan
    // with partial aggregation, nothing else.
    bound("q59_histogram",
      """SELECT CAST(GREATEST(1, LEAST(12, CAST(FLOOR(o_totalprice * 12 / 600000) + 1 AS INT))) AS INT) AS bucket,
                     CAST(count(*) AS BIGINT) AS cnt,
                     FLOOR(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
              FROM orders GROUP BY 1"""),

    // ---- q60: running COUNT(DISTINCT) over a window -----------------------
    // Neither Spark nor DuckDB supports DISTINCT aggregates in window
    // frames; the standard rewrite marks each (user, event_type)'s FIRST
    // occurrence with row_number()=1, then running-sums the marks per user.
    // The Spark text's REPARTITION(user_id) hint, placed under the first
    // window, makes ONE exchange serve BOTH windows: HashPartitioning
    // (user_id) satisfies the (user_id, event_type) window's
    // ClusteredDistribution (a user's rows are all co-located), so the
    // second window adds only a local sort — without it Spark plans two
    // exchanges (plan-gated in PlanShapeSpec). Integer-only math.
    bound("q60_window_distinct",
      """WITH e AS (
                SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us
                FROM events),
              m AS (
                SELECT event_id, user_id, ts_us,
                       CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                                    ORDER BY ts_us ASC, event_id ASC) = 1
                            THEN 1 ELSE 0 END AS first_seen
                FROM e)
              SELECT event_id, user_id, ts_us,
                     CAST(sum(first_seen) OVER (PARTITION BY user_id
                       ORDER BY ts_us ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS types_so_far
              FROM m"""),

    // ---- q61: SCD Type-2 merge (versioned dimension history) -------------
    // The Kimball slowly-changing-dimension pattern q38's MERGE can't
    // express: an update doesn't overwrite the row, it CLOSES the old
    // version (valid_to = batch time) and OPENS a new one — the
    // dimension keeps full history, and an as-of join (s03's machinery)
    // can reconstruct any past state. Over immutable parquet this is the
    // natural form: one left join marks affected keys, one union appends
    // the new versions, and the write is an append of closed+opened rows
    // — no in-place mutation anywhere. Updates here are the
    // deterministic custkey % 17 slice with a +100 balance change
    // (cents-valued doubles + integer — exact).
    bound("q61_scd2",
      """WITH cur AS (SELECT c_custkey, c_acctbal FROM customer),
              upd AS (SELECT c_custkey, c_acctbal + 100 AS c_acctbal
                      FROM cur WHERE c_custkey % 17 = 0)
              SELECT c.c_custkey, c.c_acctbal,
                     CAST(0 AS BIGINT) AS valid_from_us,
                     CASE WHEN u.c_custkey IS NOT NULL
                          THEN CAST(1700000000000000 AS BIGINT) END AS valid_to_us,
                     u.c_custkey IS NULL AS is_current
              FROM cur c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
              UNION ALL
              SELECT c_custkey, c_acctbal,
                     CAST(1700000000000000 AS BIGINT) AS valid_from_us,
                     CAST(NULL AS BIGINT) AS valid_to_us,
                     true AS is_current
              FROM upd"""),

    // ---- q62: gaps-and-islands (activity-run detection) ------------------
    // The classic islands rewrite: within each user's DISTINCT active
    // hours, hour − row_number() is constant across a consecutive run, so
    // one subtraction turns runs into group keys — no self-join, no
    // iteration. Integer-only math (hour = us div 3600000000). One
    // exchange serves the whole plan (the q60 discipline):
    // repartition(user_id) co-locates a user's rows, the dedup window on
    // (user_id, hr), the position window on user_id, and BOTH aggregates
    // — keyed (user_id, grp) then user_id — all satisfy their clustering
    // from that single HashPartitioning, so everything after the shuffle
    // is sort/agg-local (plan-gated). At 100 TB: distinct-hours ≪ events
    // per user, runs ≪ hours — each step strictly shrinks within the
    // same partitioning.
    bound("q62_gaps_islands",
      """WITH e AS (
                SELECT DISTINCT user_id, epoch_us(ts::TIMESTAMP) // 3600000000 AS hr
                FROM events),
              runs AS (
                SELECT user_id,
                       hr - row_number() OVER (PARTITION BY user_id
                                               ORDER BY hr ASC) AS grp
                FROM e),
              islands AS (
                SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
                FROM runs GROUP BY user_id, grp)
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
                     max(len) AS longest_run,
                     CAST(sum(len) AS BIGINT) AS active_hours
              FROM islands GROUP BY user_id"""),

    // ---- q63: ranking window-function surface ----------------------------
    // ntile / percent_rank / cume_dist / nth_value — the distribution-
    // ranking quartet the q20/q49 entries don't cover, over per-priority
    // order spend. Spend is floored to a long per ROW (exact on both
    // engines) so no double is ever summed; the two fractional ranks are
    // engine-built doubles landed on the 1e-6 grid (both engines compute
    // (rank−1)/(n−1) and peers/n, but the grid removes any last-ulp
    // hazard). The ORDER BY carries o_orderkey as tie-break, so peer
    // groups are singletons and cume_dist is row_number/n on both
    // engines. nth_value runs over the explicit full frame — the default
    // running frame would NULL the first row. Shape: ONE exchange on
    // o_orderpriority serves all four windows (same partition + same
    // sort order ⇒ one sort, plan-gated); at 100 TB a priority-skewed
    // partition splits under AQE like any window... it doesn't — windows
    // pin keys to tasks — which is why the partition key is a 5-value
    // DIMENSION here and a high-cardinality key (q20's per-customer
    // ranks) in the high-volume entries.
    bound("q63_window_funcs",
      """WITH t AS (
                SELECT o_orderkey, o_orderpriority,
                       CAST(floor(o_totalprice) AS BIGINT) AS spend
                FROM orders)
              SELECT o_orderkey, o_orderpriority, spend,
                     CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                       ORDER BY spend DESC, o_orderkey ASC) AS BIGINT) AS quartile,
                     FLOOR(percent_rank() OVER (PARTITION BY o_orderpriority
                       ORDER BY spend DESC, o_orderkey ASC) * 1000000 + 0.5)
                       / 1000000 AS pct_rank,
                     FLOOR(cume_dist() OVER (PARTITION BY o_orderpriority
                       ORDER BY spend DESC, o_orderkey ASC) * 1000000 + 0.5)
                       / 1000000 AS cum_dist,
                     nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
                       ORDER BY spend DESC, o_orderkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS second_key
              FROM t"""),

    // ---- q64: relational division (FOR ALL) -------------------------------
    // The one classic relational-algebra operator SQL has no keyword for:
    // "customers whose orders cover EVERY priority class" — ÷ in Codd's
    // algebra, the universal quantifier the EXISTS surface (q52) can't
    // say directly. The standard set-cover rewrite: per-customer distinct
    // divisor count == |divisor|, with the divisor cardinality computed
    // from the data (a 1-row broadcast), not hardcoded — new priority
    // classes tighten the requirement automatically. Shape at scale: ONE
    // customer-keyed aggregate (countDistinct rides the same exchange —
    // Spark plans the expand internally), the |divisor| side is a 1-row
    // broadcast the Spark text CROSS JOINs after the aggregate, and the
    // filter drops rows post-aggregate — nothing corpus-sized survives
    // the aggregate.
    bound("q64_division",
      """WITH np AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders)
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
              FROM orders CROSS JOIN np
              GROUP BY o_custkey, np.np
              HAVING count(DISTINCT o_orderpriority) = np.np"""),

    // ---- q65: reorder latency (consecutive-order gaps) -------------------
    // HOW LONG between a customer's consecutive orders — the repurchase-
    // cadence profile behind churn models and demand forecasting, and the
    // TPC-H twin of s11's event-cadence operator. One lag over each
    // customer's order history (epoch-day arithmetic — both engines
    // integer-exact), then a market-segment rollup. Scale: the window's
    // o_custkey exchange is REUSED by the customer join (both sides hash
    // on the customer key, orders already partitioned from the window);
    // the segment aggregate's output is 5 rows. avg is exact-long-sum /
    // count, one gridded division — never a float sum.
    bound("q65_reorder_gap",
      """WITH o AS (SELECT o_custkey, o_orderkey,
                                epoch_us(o_orderdate::TIMESTAMP) AS od_us
                         FROM orders),
              g AS (SELECT o_custkey,
                      (od_us - lag(od_us) OVER (PARTITION BY o_custkey
                         ORDER BY od_us ASC, o_orderkey ASC)) // 86400000000
                        AS gap_days
                    FROM o),
              gg AS (SELECT * FROM g WHERE gap_days IS NOT NULL)
              SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
                     CAST(min(gap_days) AS BIGINT) AS min_gap_days,
                     CAST(max(gap_days) AS BIGINT) AS max_gap_days,
                     FLOOR(CAST(sum(gap_days) AS DOUBLE) / count(*)
                           * 1000000 + 0.5) / 1000000 AS avg_gap_days
              FROM gg JOIN customer ON o_custkey = c_custkey
              GROUP BY 1"""),

    // ---- q66: argmax aggregation (latest record without a window) --------
    // The latest-record-per-key pattern (CDC compaction, "current state"
    // views) done the scale-RIGHT way: max_by/arg_max carries ONE row per
    // key through a map-side-combined aggregate, where the ubiquitous
    // row_number()=1 rewrite pays a full per-key sort of every record.
    // Determinism under order-key ties: the ordering value is the s14
    // packed string (zero-padded epoch-us ‖ zero-padded orderkey, both
    // 20 wide — a long never truncates), so both engines agree bytewise
    // even when two orders share a date. One aggregate, no window, no
    // join; output is customer-sized.
    bound("q66_argmax",
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
                     lpad(CAST(epoch_us(o_orderdate::TIMESTAMP) AS VARCHAR), 20, '0')
                     || lpad(CAST(o_orderkey AS VARCHAR), 20, '0') AS pack
              FROM orders)
              SELECT o_custkey,
                     arg_max(o_orderkey, pack) AS last_orderkey,
                     arg_max(o_totalprice, pack) AS last_price,
                     arg_min(o_orderkey, pack) AS first_orderkey,
                     CAST(count(*) AS BIGINT) AS n_orders
              FROM o GROUP BY 1"""),

    // ---- q67: frame-exclusion window (EXCLUDE CURRENT ROW analog) ------
    // SQL:2011 window frames support EXCLUDE CURRENT ROW; Spark's
    // don't. The declarative rewrite — leave-one-out over a
    // whole partition is (sum − current)/(count − 1) — keeps the
    // computation a single window pass (one exchange on the partition
    // key, no self-join), which is also the SCALE-right shape: the naive
    // "join each row to its n−1 siblings" form is Σ n_c² work. Sums run
    // in DECIMAL(18,2) (o_totalprice carries 2 fractional digits, so the
    // cast is value-exact) making the sum merge-order-insensitive; only
    // the final division is gridded. Single-order customers get NULL
    // (the frame is empty), pinning the same edge DuckDB's EXCLUDE
    // produces — which the oracle exercises natively, so this is a
    // machine-checked feature-parity proof, not just a lookalike.
    bound("q67_window_exclude",
      """SELECT o_orderkey, o_custkey,
                     FLOOR(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                               PARTITION BY o_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                               EXCLUDE CURRENT ROW) AS DOUBLE)
                           / (count(*) OVER (
                               PARTITION BY o_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                               EXCLUDE CURRENT ROW))
                           * 1000000 + 0.5) / 1000000 AS loo_avg_price
              FROM orders WHERE o_custkey < 300"""),

    // ---- q68: QUALIFY analog (filter on a window result) ---------------
    // The other window-clause gap besides q67's EXCLUDE: QUALIFY —
    // filtering rows BY a window function without a subquery. Spark has
    // no QUALIFY keyword; the declarative rewrite is the window + a
    // filter on its result, which Catalyst plans identically to a
    // native QUALIFY (one custkey exchange, the filter above the window
    // — top-3-per-group semantics with NO self-join and no extra
    // shuffle; q37's GroupedTopK is the heap-based rung when k ≪ group
    // size matters). Ordering ties broken by o_orderkey, so row_number
    // is deterministic cross-engine. The DuckDB oracle uses the NATIVE
    // QUALIFY clause — machine-checked feature parity, q67's
    // discipline.
    bound("q68_qualify",
      """SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
              FROM orders
              QUALIFY rn <= 3"""),

    // ---- q69: regular-expression surface -------------------------------
    // The regex toolkit beyond q45's single extract/replace: predicate
    // (RLIKE), match counting, first-match extraction, all-matches
    // extraction (joined to a scalar — the q51 exact-comparison rule),
    // group-referencing replacement, and regex split. Every pattern is
    // RE2-safe (no backreferences in the PATTERN — DuckDB's engine
    // doesn't have them; replacement group refs are fine: $1 Spark-side,
    // \1 DuckDB-side). All map-side codegen'd string work on a pushed
    // column subset — the q45 shape.
    bound("q69_regex",
      """SELECT p_partkey, p_name,
                     regexp_matches(p_name, 'a[a-z]*o') AS has_ao,
                     CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT)
                       AS n_vowel_runs,
                     nullif(regexp_extract(p_name, '[aeiou]{2}'), '')
                       AS first_vowel_pair,
                     coalesce(array_to_string(
                         regexp_extract_all(p_name, '[a-z]*o[a-z]*'), ','), '')
                       AS o_words,
                     regexp_replace(p_name, 'o([a-z])', '0\1', 'g') AS masked,
                     CAST(len(string_split_regex(p_name, '[aeiou]+')) AS BIGINT)
                       AS n_split
              FROM part WHERE p_partkey < 1200"""),

    // ---- q70: array generation + higher-order functions -----------------
    // The generative half of the array surface q51 (which consumes
    // text-derived arrays) doesn't touch: sequence() materializes a
    // per-row integer range, then the lambda toolkit folds over it —
    // aggregate (fold), transform (map), filter, forall, negative
    // element_at. All codegen'd map-side work; integer outputs, so the
    // comparison is exact with no grid.
    bound("q70_sequence_hof",
      """WITH t AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS n,
                     range(1, CAST(p_size AS BIGINT) + 1) AS arr
                   FROM part WHERE p_partkey < 300)
              SELECT p_partkey, n,
                     CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT)
                       AS sum_sq,
                     CAST(len(list_filter(arr, x -> x % 7 = 0)) AS BIGINT)
                       AS n_div7,
                     CAST(arr[1] + arr[-1] AS BIGINT) AS first_plus_last,
                     len(list_filter(arr, x -> x <= 0)) = 0 AS all_pos
              FROM t"""),

    // ---- q71: bitwise surface (scalar ops + bit aggregates) -------------
    // Bit manipulation end to end: masks (&), shifts, popcount on the
    // scalar side; AND/OR/XOR reduction aggregates on the grouped side
    // (the flag-intersection / permission-union / parity idioms). All
    // integer — exact, grid-free; the aggregates are mergeable
    // (map-side combined) like any sum.
    bound("q71_bitwise",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                     CAST(bit_and(o_orderkey & 255) AS BIGINT) AS band,
                     CAST(bit_or(o_orderkey & 255) AS BIGINT) AS bor,
                     CAST(bit_xor(o_orderkey & 255) AS BIGINT) AS bxor,
                     CAST(sum(bit_count(o_orderkey & 255)) AS BIGINT) AS total_bits,
                     CAST(max((o_orderkey & 255) << 2) AS BIGINT) AS max_shl2
              FROM orders GROUP BY 1"""),

    // ---- q72: inline VALUES lookup (literal dimension join) -------------
    // The config-table-in-the-query idiom: a literal VALUES relation
    // (priority → rank, discount policy) joined against the fact table —
    // the lookup every engine must broadcast rather than shuffle (5 rows
    // vs the orders corpus). Each row's discounted price is rounded to
    // integer cents BEFORE the sum, so the total is exact in any
    // summation order while the per-row math stays codegen'd doubles
    // (rounding a double sum would turn a last-ulp order difference
    // into a one-cent step).
    bound("q72_inline_lookup",
      """SELECT prio_rank, o_orderpriority,
                     CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(FLOOR(o_totalprice * (1.0 - discount) * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS disc_cents
              FROM orders
              JOIN (VALUES ('1-URGENT', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
                           ('2-HIGH', 2, 0.05), ('3-MEDIUM', 3, 0.1),
                           ('4-NOT SPECIFIED', 4, 0.2), ('5-LOW', 5, 0.25))
                AS r(o_orderpriority, prio_rank, discount)
                USING (o_orderpriority)
              GROUP BY 1, 2"""),

    // ---- q73: error-safe TRY arithmetic ---------------------------------
    // Spark 4 runs under ANSI SQL semantics (overflow / bad cast / ÷0 are
    // runtime ERRORS, the standard's behavior and this engine's default);
    // the try_* family is the per-expression escape hatch — NULL instead
    // of failing the job, which is what a 100 TB batch pipeline wants for
    // the 0.001% of poisoned rows (one bad row must not kill a 6-hour
    // job). Overflow is DATA-dependent here (o_orderkey > ~5000 ⇒ the
    // scaled product leaves Long range), so the oracle reproduces the
    // try-semantics by computing in HUGEINT and range-checking — the
    // check IS the definition of try_multiply. All map-side expression
    // work on one aggregate; zero extra exchanges.
    bound("q73_try_arith",
      s"""SELECT o_orderpriority, count(*) AS n_orders,
                      count(big) AS n_in_range,
                      CAST(sum(CASE WHEN big IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_overflow,
                      CAST(sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_div0,
                      CAST(sum(CAST(FLOOR(dv * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                        AS sum_dv_micro,
                      count(bad_num) AS n_bad_cast_ok,
                      max(pri) AS pri
               FROM (SELECT o_orderpriority,
                       CASE WHEN CAST(o_orderkey AS HUGEINT) * ${Long.MaxValue / 5000}
                                 BETWEEN -9223372036854775808 AND 9223372036854775807
                            THEN CAST(CAST(o_orderkey AS HUGEINT)
                                      * ${Long.MaxValue / 5000} AS BIGINT)
                       END AS big,
                       o_totalprice / CAST(NULLIF(o_orderkey % 7, 0) AS DOUBLE) AS dv,
                       TRY_CAST(o_orderstatus AS BIGINT) AS bad_num,
                       TRY_CAST(split_part(o_orderpriority, '-', 1) AS BIGINT) AS pri
                     FROM orders)
               GROUP BY 1"""),

    // ---- q74: exact wide-decimal money math -----------------------------
    // Money at warehouse scale: double loses exactness past 2^53 ≈ 9e15,
    // and a 1e9-order corpus × 1e7-cent totals crosses it. The engine
    // discipline: land on the cent grid ONCE (the only rounding), then
    // all accumulation in DECIMAL(38,0) (HUGEINT on the oracle side) —
    // exact to 1e38, mergeable map-side partials like any sum. Wide
    // results leave as STRINGS (digit-exact cross-engine, no float/scale
    // ambiguity in the compare); in-Long-range values leave as BIGINT.
    // The ·10^9 factor is the deliberate "past-2^53" stressor: at sf0.1
    // the wide sum is ~1e21, provably outside double/Long and still
    // exact. One hash-aggregate, zero joins.
    bound("q74_decimal_exact",
      """SELECT l_returnflag, count(*) AS n_rows,
                     CAST(sum(cents) AS BIGINT) AS sum_cents,
                     CAST(sum(CAST(cents AS HUGEINT) * 1000000000) AS VARCHAR)
                       AS wide_cents,
                     CAST(sum(CAST(cents AS HUGEINT) * (100 - dcents)) AS VARCHAR)
                       AS disc_units
              FROM (SELECT l_returnflag,
                      CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                      CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS dcents
                    FROM lineitem)
              GROUP BY 1"""),

    // ---- q75: schema-evolving UNION BY NAME -----------------------------
    // Two feeds with overlapping-but-different schemas (the daily reality
    // of multi-source ingestion — a new column appears in one source
    // first). UNION ALL BY NAME aligns by NAME and null-fills the gaps
    // (Spark's text spells the null columns out) — a positional UNION
    // of the raw feeds (q15) would silently pair
    // mismatched columns. Null-fill is observable in the counts: segment
    // exists only on the customer feed, nk only on the supplier feed.
    // Shape: two scans, one map-side tag, one hash-aggregate.
    bound("q75_union_by_name",
      """SELECT feed, count(*) AS n_rows,
                     count(segment) AS n_with_segment,
                     count(nk) AS n_with_nk,
                     CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
              FROM (SELECT substring(uname, 1, 8) AS feed, bal_cents, segment, nk
                    FROM (SELECT c_name AS uname,
                            CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
                            c_mktsegment AS segment
                          FROM customer
                          UNION ALL BY NAME
                          SELECT s_name AS uname,
                            CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
                            CAST(s_nationkey AS BIGINT) AS nk
                          FROM supplier))
              GROUP BY 1"""),

    // ---- q76: struct-typed array analytics ------------------------------
    // Structs as first-class values: per customer, the order history is
    // collected as an array of (cents, orderkey) structs and sorted by
    // STRUCT comparison (lexicographic over fields — cents desc, then
    // orderkey desc under sort_array(..., asc=false)), then the top-2 are
    // extracted by position. Group state is O(orders-per-customer), a
    // bounded domain — never O(corpus). The oracle reproduces the struct
    // ordering with a two-key window rank, proving the struct sort is
    // exactly the (cents, okey) order.
    bound("q76_struct_ops",
      """WITH r AS (
                SELECT o_custkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                       o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                         ORDER BY FLOOR(o_totalprice * 100 + 0.5) DESC,
                                  o_orderkey DESC) AS rn,
                       count(*) OVER (PARTITION BY o_custkey) AS n_orders
                FROM orders)
              SELECT a.o_custkey, a.cents AS top_cents, a.o_orderkey AS top_okey,
                     b.cents AS second_cents, b.o_orderkey AS second_okey,
                     CAST(a.n_orders AS BIGINT) AS n_orders
              FROM r a JOIN r b ON a.o_custkey = b.o_custkey
              WHERE a.rn = 1 AND b.rn = 2"""),

    // ---- q77: GROUP BY ALL / ORDER BY ALL -------------------------------
    // The analyst-ergonomics surface both modern engines converged on:
    // every non-aggregate select item becomes a grouping key — syntax,
    // not a different plan. The Spark text keeps GROUP BY ALL and drops
    // ORDER BY ALL (the oracle gate sorts rows itself), so the plan is
    // one hash-aggregate and no sort.
    bound("q77_group_by_all",
      """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
                     count(*) AS n_rows, sum(l_quantity) AS sum_qty,
                     FLOOR(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
              FROM lineitem GROUP BY ALL ORDER BY ALL"""),

    // ---- q78: DISTINCT ON / latest-row-per-key --------------------------
    // "The latest order per customer" — the semantics DuckDB/Postgres
    // spell DISTINCT ON (k) ... ORDER BY k, ord. Spark's seat is a
    // row_number window with the same total order (date desc, orderkey
    // desc breaks ties deterministically) filtered to rn = 1: ONE
    // exchange on the key, and at scale the heap-pruned GroupedTopK
    // physical operator (q37) is the k=1 fast path of exactly this plan.
    bound("q78_distinct_on",
      """SELECT DISTINCT ON (o_custkey)
                     o_custkey, o_orderkey AS last_orderkey,
                     epoch_us(o_orderdate) AS last_order_us,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS last_cents
              FROM orders
              ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC"""),

    // ---- q79: quantified comparisons (> ALL / < ANY) --------------------
    // The SQL-standard quantifier surface Spark's parser doesn't accept:
    // x > ALL (subq) decorrelates to x > max(subq) and x < ANY (subq) to
    // x < max(subq) — PLUS the empty-set edges the naive rewrite gets
    // WRONG: ALL over an empty set is TRUE (the broadcast max is NULL ⇒
    // the comparison is UNKNOWN ⇒ a bare rewrite silently counts 0) and
    // ANY over an empty set is FALSE. The reference set (Brand#13 parts
    // with p_size ≥ 48) is legitimately EMPTY at sf0.001, so the edge is
    // exercised, not decorative. DuckDB runs the NATIVE quantifiers —
    // machine-checked feature parity. Shape: 1-row scalar-subquery thresholds,
    // map-side comparisons, one hash-aggregate.
    bound("q79_quantified_cmp",
      """SELECT p_brand, count(*) AS n_parts,
                     CAST(sum(CASE WHEN p_retailprice > ALL
                       (SELECT p_retailprice FROM part
                        WHERE p_brand = 'Brand#13' AND p_size >= 48)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_all,
                     CAST(sum(CASE WHEN p_retailprice < ANY
                       (SELECT p_retailprice FROM part
                        WHERE p_brand = 'Brand#13' AND p_size >= 48)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_lt_any,
                     CAST(sum(CASE WHEN p_retailprice < ALL
                       (SELECT p_retailprice FROM part
                        WHERE p_brand = 'Brand#13' AND p_size >= 48)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_lt_all
              FROM part GROUP BY 1 ORDER BY 1"""),

    // ---- q80: FETCH FIRST n ROWS WITH TIES ------------------------------
    // Top-n that keeps every row tied with the cutoff (the fairness
    // variant of LIMIT — leaderboards, quota cuts). Neither engine
    // parses WITH TIES, so the operator IS the scalable rewrite: the
    // cutoff key comes from a TakeOrdered(10) (k rows to the driver
    // plan, never a global sort) broadcast as a 1-row threshold, and the
    // corpus takes a map-side band >= thr filter — rank(x) ≤ 10 ⟺
    // band(x) ≥ band(10th row) for a desc rank, including the under-10-
    // rows edge (threshold = min present band ⇒ all rows pass). The
    // oracle spells the same semantics as the rank() window rewrite.
    bound("q80_fetch_ties",
      """WITH b AS (SELECT o_orderkey, o_custkey,
                       CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_band
                     FROM orders),
              r AS (SELECT *, rank() OVER (ORDER BY price_band DESC) AS rnk FROM b)
              SELECT o_orderkey, o_custkey, price_band FROM r WHERE rnk <= 10"""),

    // ---- q81: quantile sketch accuracy (the percentile scale path) -----
    // q58's exact percentile is a full-sort operation — the one shape
    // that cannot survive 100 TB. The production path is a mergeable
    // sketch (Spark's Greenwald-Khanna approx_percentile: bounded
    // memory, map-side partials, one tiny merge), and the deployment
    // question is the accuracy dial. This operator measures it: for
    // accuracy ∈ {100, 1000, 10000} × p ∈ {0.5, 0.9, 0.99} over
    // l_extendedprice, the sketch value, a reference quantile, the
    // relative error, and — the actual GK contract — the RANK error
    // bound |rank(approx) − p·n| ≤ n/accuracy (+1 tie slack), checked
    // EXACTLY against the full corpus. The reference-value arm is a
    // bounded deterministic sample (round-7 fix): Spark's exact
    // `percentile` buffers a value→count map that is O(distinct) per
    // task — running it over the FULL corpus inside the measurement
    // harness is precisely the OOM this operator warns about. Instead
    // the sample is the first SampleK rows in md5(orderkey#linenumber)
    // order (the p03 discipline): TakeOrdered keeps ≤K rows per task at
    // any corpus size, and the buffering percentile then runs over a
    // ≤K-row input — bounded by construction. Sample error is stated,
    // not hidden: rank error of the p-quantile of a K-sample is
    // ±1.96·√(p(1−p)/K) at 95% — ≤0.45% of rank at K=50 000 — and
    // sample_n is a result column. The corpus-exact check is the rank
    // bound, whose 9 conditional counts are scan-speed at any scale.
    // Sketch values are engine-specific AND merge-order-dependent
    // (QuantileSummaries compaction varies with shuffle fetch order),
    // so they are frozen: exported once under the corpus fingerprint
    // (the q33/t17 pattern) and READ BACK from the export for the rank
    // counts and result rows — Spark result and DuckDB oracle always
    // see the same frozen sketch, and a re-run with a different merge
    // order cannot diverge from the export. DuckDB re-derives
    // everything else independently: sample quantiles (same md5 order,
    // quantile_cont — bit-identical to Spark's percentile, q58-proven),
    // ranks by direct count, the error columns, and the bound verdicts.
    // Corpus cost: three bounded jobs (sketch agg, TakeOrdered sample,
    // rank counts) — no full sort, no unbounded aggregation state.
    ("q81_approx_quantiles",
      (s, d) => {
        val accs = Seq(100, 1000, 10000)
        val ps = Seq(0.5, 0.9, 0.99)
        val psSql = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
        val li = Tables.lineitem(s, d)
        val v = li.select(col("l_extendedprice").as("v"),
          md5(concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string"))).as("skey"))
        val aggCols = accs.map(a =>
          expr(s"approx_percentile(v, $psSql, $a)").as(s"apx$a"))
        val head = v.agg(count(lit(1)).as("n"), aggCols: _*).head()
        val n = head.getLong(0)
        val cells0 = for ((a, ai) <- accs.zipWithIndex; (p, pi) <- ps.zipWithIndex)
          yield (a.toLong, p, head.getSeq[Double](1 + ai)(pi))
        import s.implicits._
        val key = OracleExport.lineKeyFor(li, d)
        OracleExport.writeOnce(cells0.toDF("accuracy", "p", "approx"),
          OracleExport.QuantSketchPath, key)
        // Frozen sketch back from the export — 9 rows, bounded.
        val cells = s.read.parquet(OracleExport.QuantSketchPath)
          .filter(col("corpus_key") === key)
          .select(col("accuracy"), col("p"), col("approx"))
          .as[(Long, Double, Double)].collect().sortBy(c => (c._1, c._2)).toSeq
        // Bounded deterministic sample → reference quantiles. ≤K rows
        // per task (TakeOrdered), percentile state ≤K entries.
        val sampleN = math.min(n, QuantSampleK)
        val sEx = v.orderBy(col("skey")).limit(QuantSampleK).select(col("v"))
          .agg(expr(s"percentile(v, $psSql)").as("sex")).head().getSeq[Double](0)
        val rkRow = v.agg(
          count(when(col("v") <= cells.head._3, 1)).as("rk0"),
          cells.tail.zipWithIndex.map { case ((_, _, apx), i) =>
            count(when(col("v") <= apx, 1)).as(s"rk${i + 1}") }: _*).head()
        val rows = cells.zipWithIndex.map { case ((a, p, apx), i) =>
          val sx = sEx(ps.indexOf(p))
          val rk = rkRow.getLong(i)
          (a, p, apx, sx, math.abs(apx - sx) / sx, rk, n, sampleN,
            math.abs(rk.toDouble - p * n) <= n.toDouble / a + 1)
        }
        rows.toDF("accuracy", "p", "approx", "sample_exact", "rel_err",
          "rk", "n", "sample_n", "within_bound")
      },
      Some(s"""WITH a AS (
                SELECT accuracy, p, approx
                FROM ${OracleExport.readSql(OracleExport.QuantSketchPath)}
                WHERE corpus_key = ${OracleExport.lineKeySql}),
              samp AS (
                SELECT l_extendedprice AS v FROM lineitem
                ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                             CAST(l_linenumber AS VARCHAR))
                LIMIT $QuantSampleK),
              sx AS (
                SELECT quantile_cont(v, 0.5) AS s50,
                       quantile_cont(v, 0.9) AS s90,
                       quantile_cont(v, 0.99) AS s99,
                       CAST(count(*) AS BIGINT) AS sample_n
                FROM samp),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
              j AS (
                SELECT a.accuracy, a.p, a.approx,
                       CASE a.p WHEN 0.5 THEN s50 WHEN 0.9 THEN s90
                                ELSE s99 END AS sample_exact,
                       nn.n, sx.sample_n
                FROM a, sx, nn),
              r AS (
                SELECT j.*,
                       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                        WHERE l_extendedprice <= j.approx) AS rk
                FROM j)
              SELECT accuracy, p, approx, sample_exact,
                     abs(approx - sample_exact) / sample_exact AS rel_err,
                     rk, n, sample_n,
                     abs(CAST(rk AS DOUBLE) - p * n)
                       <= CAST(n AS DOUBLE) / accuracy + 1 AS within_bound
              FROM r""")),

    // ---- q82–q88: the canonical TPC-H stress battery -------------------
    // The queries a relational user hits first, adapted to the driver
    // schema (no partsupp / commitdate / shippriority), chosen to
    // jointly exercise join-order + AQE paths no single earlier entry
    // stresses: selective-dim star topk (Q3/Q10), disjunctive cross-
    // nation join predicates (Q7), conditional-share two-level agg
    // (Q8), LIKE-dim multi-join profit rollup (Q9), HAVING-subquery
    // semi join (Q18), and the double-correlated EXISTS battery (Q21).
    // Money sums round to cents (q24's discipline) so engine-order
    // ulp drift cannot flip a compare; every LIMIT carries a full
    // deterministic tie-break key.

    // Q3: shipping-priority revenue top-10. The segment filter lands
    // on the customer dim BEFORE the join (broadcast at any scale:
    // 1/5 of customers, but the JOIN ORDER is the point — AQE sees a
    // shrunken build side), and both fact filters push to the scans.
    bound("q82_tpch_q3",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                     FLOOR(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
              FROM customer, orders, lineitem
              WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
                AND l_orderkey = o_orderkey
                AND o_orderdate < TIMESTAMP '1999-01-01'
                AND l_shipdate > TIMESTAMP '1999-01-01'
              GROUP BY 1, 2, 3
              ORDER BY revenue DESC, o_orderdate, l_orderkey
              LIMIT 10"""),

    // Q7: volume shipping between two nations — the disjunctive
    // nation-pair predicate cannot become a join key, so it must ride
    // as a post-join filter on two BROADCAST nation dims (25 rows
    // forever); the fact-side joins stay key-partitioned.
    bound("q83_tpch_q7",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS BIGINT) AS l_year,
                     FLOOR(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS volume
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND l_orderkey = o_orderkey
                AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
                AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                  OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY 1, 2, 3"""),

    // Q8: national market share — conditional share inside a grouped
    // aggregate over a 7-table join; the share nation rides as a
    // CASE, never a second pass over the join.
    bound("q87_tpch_q8",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     FLOOR(sum(CASE WHEN n2.n_name = 'NATION_5'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0 END)
                           / sum(l_extendedprice * (1 - l_discount))
                           * 1000000 + 0.5) / 1000000 AS mkt_share
              FROM lineitem, part, supplier, orders, customer,
                   nation n1, nation n2, region
              WHERE l_partkey = p_partkey AND p_type = 'STANDARD'
                AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
                AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
                AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
                AND s_nationkey = n2.n_nationkey
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY 1"""),

    // Q9: product-type profit rollup. No partsupp in the driver
    // schema, so cost is the 0.6·retailprice·qty proxy — the SHAPE
    // (LIKE-filtered part dim driving a 5-table join into a
    // nation×year rollup) is what's being stressed.
    bound("q84_tpch_q9",
      """SELECT n_name AS nation,
                     CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     FLOOR(sum(l_extendedprice * (1 - l_discount)
                               - 0.6 * p_retailprice * l_quantity) * 100 + 0.5) / 100
                       AS sum_profit
              FROM lineitem, part, supplier, nation, orders
              WHERE l_partkey = p_partkey AND p_name LIKE '%widget%'
                AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                AND l_orderkey = o_orderkey
              GROUP BY 1, 2"""),

    // Q18: large-volume customers — the HAVING-subquery IN becomes a
    // LEFT SEMI against the per-order quantity aggregate, applied to
    // ORDERS (the small side) before the fact join, so the lineitem
    // re-join only sees surviving orders. The Spark text spells that
    // order: orders LEFT SEMI big orders, then customer, then lineitem.
    bound("q85_tpch_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                     o_totalprice, sum(l_quantity) AS sum_qty
              FROM customer, orders, lineitem
              WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                   GROUP BY l_orderkey
                                   HAVING sum(l_quantity) > 300)
                AND c_custkey = o_custkey AND o_orderkey = l_orderkey
              GROUP BY 1, 2, 3, 4, 5
              ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
              LIMIT 100"""),

    // Q21: suppliers solely at fault in multi-supplier failed orders.
    // The canonical form is a double-correlated EXISTS / NOT EXISTS
    // battery (the oracle keeps it, so DuckDB proves the rewrite);
    // the Spark text is the one-shuffle scalable rewrite: a
    // per-order aggregate (distinct suppliers, distinct at-fault
    // suppliers) replaces BOTH lineitem self-joins — EXISTS(other
    // supplier) ⟺ n_supp ≥ 2, NOT EXISTS(other at-fault) ⟺ the
    // at-fault set is exactly {this supplier}, i.e. n_fault = 1
    // (l1 itself is at fault, so its supplier is always counted).
    bound("q86_tpch_q21",
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
              FROM supplier, lineitem l1, orders
              WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
                AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                WHERE l3.l_orderkey = l1.l_orderkey
                                  AND l3.l_suppkey <> l1.l_suppkey
                                  AND l3.l_returnflag = 'R')
              GROUP BY s_name
              ORDER BY numwait DESC, s_name
              LIMIT 100"""),

    // Q10: returned-item customer revenue top-20 — star topk whose
    // quarter window lands on the orders scan and whose returnflag
    // filter lands on the lineitem scan before either join.
    bound("q88_tpch_q10",
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                     FLOOR(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
              FROM customer, orders, lineitem, nation
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1997-07-01'
                AND l_returnflag = 'R' AND c_nationkey = n_nationkey
              GROUP BY 1, 2, 3, 4
              ORDER BY revenue DESC, c_custkey
              LIMIT 20"""),

    // Q13: customer order-count distribution — the one OUTER-JOIN
    // AGGREGATE shape in the battery: customers with zero (qualifying)
    // orders must survive into the c_count=0 bucket, so the per-customer
    // count rides a LEFT join counting the non-null order keys (never a
    // WHERE, which would silently turn the join inner). Two aggregates:
    // customer-keyed, then the tiny distribution rollup. The priority
    // filter stands in for the canonical o_comment NOT LIKE (no comment
    // column in the driver schema); the shape is what's stressed.
    bound("q89_tpch_q13",
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
                          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
                          GROUP BY 1)
              SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
              FROM co GROUP BY 1
              ORDER BY custdist DESC, c_count DESC"""),

    // Q17: small-quantity revenue for one brand/type — the correlated
    // scalar-average shape, kept canonical: Spark decorrelates the
    // per-part 0.2·avg threshold into a grouped aggregate JOINED back to
    // the brand's lines — never a lineitem re-scan per part.
    bound("q90_tpch_q17",
      """SELECT FLOOR(sum(l_extendedprice) / 7.0 * 100 + 0.5) / 100 AS avg_yearly
              FROM lineitem, part
              WHERE p_partkey = l_partkey
                AND p_brand = 'Brand#13' AND p_type = 'PROMO'
                AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                                  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),

    // Q22: dormant high-balance customers — the global-average scalar
    // subquery (one broadcast row, never a re-scan per customer) plus
    // an ANTI join. The driver corpus gives (almost) every customer an
    // order, so the canonical "never ordered" anti-join is degenerate
    // here; the anti side is date-filtered instead — no order since
    // 1999 — which keeps the exact shape (filtered anti join) with a
    // live result. cntrycode is the nation key (no phone column).
    bound("q91_tpch_q22",
      """SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
                     FLOOR(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
              FROM customer
              WHERE c_nationkey IN (1,3,5,7,9,11,13)
                AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0
                                   AND c_nationkey IN (1,3,5,7,9,11,13))
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '1999-01-01')
              GROUP BY 1 ORDER BY 1"""),

    // Q12: priority split per line status (the shipmode CASE-aggregate
    // shape; no l_shipmode in the driver schema, l_linestatus is the
    // stand-in group). Both CASE counts ride ONE grouped pass over the
    // join — never one scan per priority class. The year window lands
    // on the lineitem scan as a pushed filter.
    bound("q92_tpch_q12",
      """SELECT l_linestatus,
                     CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                     CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
              FROM orders, lineitem
              WHERE o_orderkey = l_orderkey
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY 1 ORDER BY 1"""),

    // Q14: promo revenue share — conditional share in ONE grouped pass
    // (q87's CASE discipline) over a month of lineitem joined to the
    // 2-column part projection, which broadcasts at any realistic part
    // count; the month window is a pushed scan filter.
    bound("q93_tpch_q14",
      """SELECT FLOOR(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                            THEN l_extendedprice * (1 - l_discount)
                                            ELSE 0 END)
                           / sum(l_extendedprice * (1 - l_discount))
                           * 1000000 + 0.5) / 1000000 AS promo_revenue
              FROM lineitem, part
              WHERE l_partkey = p_partkey
                AND l_shipdate >= TIMESTAMP '1997-09-01'
                AND l_shipdate < TIMESTAMP '1997-10-01'"""),

    // Q4: order priority checking — the EXISTS → LEFT SEMI shape. The
    // canonical late-delivery predicate (l_commitdate < l_receiptdate)
    // has no columns in the driver schema; l_returnflag = 'R' stands in
    // as the per-line condition, keeping what the query stresses: a
    // quarter-windowed orders scan SEMI-joined against a filtered fact
    // table — each order counted ONCE no matter how many lines qualify
    // (an inner join would multiply counts per qualifying line).
    bound("q94_tpch_q4",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-07-01'
                AND o_orderdate < TIMESTAMP '1997-10-01'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND l_returnflag = 'R')
              GROUP BY 1 ORDER BY 1"""),

    // Q5: local supplier volume — the 6-table join whose POINT is the
    // non-key equality c_nationkey = s_nationkey (customer and supplier
    // in the same nation). Join order is the one that keeps every
    // broadcastable side broadcast: region→nation prunes to the ASIA
    // nations (one tiny broadcast), supplier picks up n_name through it
    // (second broadcast), and the fact spine lineitem⋈orders⋈customer
    // shuffles on its own keys once each; the nation equality rides the
    // supplier join as a second condition — never a standalone
    // theta-join. Revenue ordering gets n_name as the deterministic
    // tiebreak (float revenue ties).
    bound("q95_tpch_q5",
      """SELECT n_name, FLOOR(sum(l_extendedprice * (1 - l_discount))
                                   * 100 + 0.5) / 100 AS revenue
              FROM customer, orders, lineitem, supplier, nation, region
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY 1 ORDER BY revenue DESC, n_name"""),

    // Q6: forecasting revenue change — the battery's pure scan-aggregate:
    // every predicate is a scan-pushable range on one table, the result
    // is one row, and the right plan is parquet scan (3 pushed filters +
    // 4-column ReadSchema) → partial agg → single-row final agg. Any
    // join, exchange beyond the final agg's, or wider ReadSchema is a
    // regression (plan-gated).
    bound("q96_tpch_q6",
      """SELECT FLOOR(sum(l_extendedprice * l_discount) * 100 + 0.5) / 100
                       AS revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
                AND l_discount >= 0.05 AND l_discount <= 0.07
                AND l_quantity < 24"""),

    // Q15: top supplier — the revenue-VIEW max shape: the quarter's
    // per-supplier revenue aggregate is computed ONCE, its max arrives
    // as one broadcast row (never a window over all suppliers, never a
    // second scan of lineitem), and the equality join returns every
    // supplier tied at the top. Revenue is cents-rounded BEFORE the max
    // compare in both engines, so the equality is on the same grid the
    // output prints — a raw-double max equality would make the winner
    // depend on sum order.
    ("q97_tpch_q15",
      (s, d) => {
        // The cut = the VIEW: rev feeds both the supplier join
        // and the max, and without the cut each consumer would re-run
        // the whole quarter scan of lineitem (Catalyst does not
        // materialize shared subplans). The cut stores one narrow row
        // per supplier.
        // INTEGER cents for the max/tie equality (r11, driver advice):
        // the view keeps revenue as a BIGINT cent count and only the
        // output projection divides back to currency, so the max and
        // the tie filter compare exact integers on both engines — no
        // double-equality in the row-SET decision (a cent that rounds
        // differently per engine would still be a value diff, but can
        // no longer silently drop a tie ROW via `=` on doubles).
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(floor(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100
            + 0.5).cast("long").as("rev_cents"))
          .cut
        val mx = rev.agg(max(col("rev_cents")).as("mx"))
        Tables.supplier(s, d)
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .crossJoin(broadcast(mx))
          .filter(col("rev_cents") === col("mx"))
          .select(col("s_suppkey"), col("s_name"),
            (col("rev_cents") / 100.0).as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH revenue AS MATERIALIZED (
                SELECT l_suppkey AS supplier_no,
                       CAST(FLOOR(sum(l_extendedprice * (1 - l_discount))
                                  * 100 + 0.5) AS BIGINT) AS rev_cents
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY 1)
              SELECT s_suppkey, s_name,
                     CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue
              FROM supplier JOIN revenue ON s_suppkey = supplier_no
              WHERE rev_cents = (SELECT max(rev_cents) FROM revenue)
              ORDER BY s_suppkey""")),

    // Q19: discounted revenue — THE disjunctive-pushdown plan: an OR of
    // three (brand, size, quantity) conjunctions across the join. The
    // per-side residues are applied EXPLICITLY before the join — part
    // keeps only the three brands at qualifying sizes, lineitem only
    // quantities 1–30 — so each scan reads the union of what any
    // disjunct can accept (supersets; the exact OR still applies after
    // the join), and the brand IN + size range land in the part scan's
    // PushedFilters instead of the join output. The Spark text spells
    // both prefilters and broadcasts part. Plan-gated: part-side
    // prefilter broadcast, no SMJ.
    bound("q98_tpch_q19",
      """SELECT FLOOR(sum(l_extendedprice * (1 - l_discount))
                           * 100 + 0.5) / 100 AS revenue
              FROM lineitem, part
              WHERE p_partkey = l_partkey
                AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                      AND l_quantity BETWEEN 1 AND 11)
                  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                      AND l_quantity BETWEEN 10 AND 20)
                  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 20 AND 30))"""),

    // Q20: potential part promotion — the nested-subquery supplier
    // screen. The canonical inner term (ps_availqty > 0.5 · shipped
    // quantity) needs partsupp, which the driver schema lacks; the
    // proxy keeps the SHAPE (aggregate → correlated threshold →
    // IN-chain → semi join) with a live predicate: a supplier qualifies
    // if it shipped MORE THAN 30% of some 'red%' part's 1997 volume —
    // the dominant-supplier screen. Quantities are integral doubles, so
    // both sums are exact and the 0.3·tot compare is order-free. The
    // part prefilter broadcasts into the year-windowed fact scan; the
    // two aggregates reuse ONE shuffle (partkey, suppkey) → (partkey),
    // so Spark's exchange reuse scans lineitem once for both consumers
    // of pq; the supplier screen is a LEFT SEMI (never a distinct +
    // inner).
    bound("q99_tpch_q20",
      """WITH pq AS MATERIALIZED (
                SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
                FROM lineitem JOIN part ON p_partkey = l_partkey
                WHERE p_name LIKE 'red%'
                  AND l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'
                GROUP BY 1, 2),
              pt AS (SELECT l_partkey, sum(sq) AS tot FROM pq GROUP BY 1)
              SELECT s_suppkey, s_name
              FROM supplier
              WHERE s_suppkey IN (SELECT l_suppkey FROM pq
                                  JOIN pt USING (l_partkey)
                                  WHERE sq > tot * 0.3)
              ORDER BY s_suppkey""")
  )

  /** q81's reference-quantile sample size: bounds BOTH the TakeOrdered
    * per-task heap and the exact-percentile aggregation state at any
    * corpus size; the implied 95% rank error (±1.96·√(p(1−p)/K)) is
    * ≤0.45% of n. `final val` literal so `defs` can read it during
    * object init (see memory: object-init order). */
  final val QuantSampleK = 50000
}
