package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cut, Tables}

/** Batch twins of the streaming pipeline (graft.streaming.EventPipeline):
  * event-time tumbling-window aggregation and gap-based sessionization
  * over the `events` table.
  *
  * The reference has no event-time surface at all (its WINDOW/OVER tokens,
  * andb/sql/parser/lexer.py:124-126, are row-frame windows) — this is new
  * capability required by any training-data / telemetry pipeline.
  *
  * Scale notes: s01 is one hash-aggregate keyed on (hour, type) — partial
  * map-side combine makes the shuffle carry only the group cardinality.
  * s02's per-user window sort shuffles once on user_id; session assignment
  * and the per-session rollup then reuse that partitioning (no second
  * shuffle of the raw events). Timestamps are compared in epoch
  * microseconds (unix_micros / epoch_us) so both engines agree bit-for-bit.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  private def cents(c: org.apache.spark.sql.Column) = floor(c * 100 + 0.5) / 100
  private def micro(c: org.apache.spark.sql.Column) = floor(c * 1000000 + 0.5) / 1000000

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- s01: event-time tumbling window aggregation ------------------
    ("s01_events_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             cents(sum(col("value"))).as("sum_value"))
        .select(unix_micros(col("window.start")).as("hour_start_us"),
                col("event_type"), col("n_events"), col("sum_value")),
      Some("""SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS hour_start_us,
                     event_type, count(*) AS n_events,
                     FLOOR(sum(value) * 100 + 0.5) / 100 AS sum_value
              FROM events GROUP BY 1, 2""")),

    // ---- s02: gap-based sessionization (30-minute inactivity) ---------
    ("s02_sessionize",
      (s, d) => {
        val gapUs = 1800L * 1000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val marked = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("new_sess",
            when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs || lag(col("ts_us"), 1).over(w).isNull, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        marked.groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ts_us")).as("start_us"),
               max(col("ts_us")).as("end_us"),
               count(lit(1)).as("n_events"),
               cents(sum(col("value"))).as("sum_value"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
              marked AS (SELECT user_id, event_id, value, ts_us,
                           CASE WHEN ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) > 1800000000
                                  OR lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) IS NULL
                                THEN 1 ELSE 0 END AS new_sess
                         FROM e),
              sess AS (SELECT user_id, event_id, value, ts_us,
                         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                       FROM marked)
              SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
                     count(*) AS n_events, FLOOR(sum(value) * 100 + 0.5) / 100 AS sum_value
              FROM sess GROUP BY user_id, session_id""")),

    // ---- s03: as-of join (latest prior match per key) -----------------
    // For every 'click', the most recent 'error' of the same user at or
    // before it — the canonical time-series operator Spark lacks. Rather
    // than a per-row range probe (O(n·m) or an index), the scalable form
    // is union → one shuffle+sort per user → running last_value with
    // ignoreNulls: O((n+m) log) in one pass, the same shape at any scale.
    // Oracle: DuckDB's native ASOF JOIN.
    ("s03_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "error"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        // Errors sort before clicks on ts ties so `>=` semantics hold.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("is_click").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("is_click", (col("event_type") === "click").cast("int"))
          .withColumn("err_ts_us",
            last(when(col("is_click") === 0, col("ts_us")), ignoreNulls = true).over(w))
          .withColumn("err_value",
            last(when(col("is_click") === 0, col("value")), ignoreNulls = true).over(w))
          .filter(col("is_click") === 1 && col("err_ts_us").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("err_ts_us"), col("err_value"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, value,
                           epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              er AS (SELECT * FROM e WHERE event_type = 'error')
              SELECT c.event_id, c.user_id, c.ts_us,
                     er.ts_us AS err_ts_us, er.value AS err_value
              FROM c ASOF JOIN er
                ON c.user_id = er.user_id AND c.ts_us >= er.ts_us""")),

    // ---- s05: conversion funnel (ordered sequence match) ---------------
    // view → click → purchase per user, each step strictly after the
    // previous — the sequence-pattern op behind funnel/retention metrics
    // and behavioral training-data labels. Shape: ONE exchange on
    // user_id; the three stage timestamps are chained conditional MINs
    // over the same unbounded partition (no ORDER BY ⇒ no per-row frame
    // sort), and the final distinct collapses to one row per user.
    ("s05_funnel",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("v_ts",
            min(when(col("event_type") === "view", col("ts_us"))).over(w))
          .withColumn("c_ts",
            min(when(col("event_type") === "click" && col("ts_us") > col("v_ts"), col("ts_us"))).over(w))
          .withColumn("p_ts",
            min(when(col("event_type") === "purchase" && col("ts_us") > col("c_ts"), col("ts_us"))).over(w))
          .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
            when(col("p_ts").isNotNull, 3)
              .when(col("c_ts").isNotNull, 2)
              .when(col("v_ts").isNotNull, 1)
              .otherwise(0).as("stage"))
          .distinct()
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
              w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
                                 OVER (PARTITION BY user_id) AS v_ts FROM e),
              w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > v_ts THEN ts_us END)
                                 OVER (PARTITION BY user_id) AS c_ts FROM w1),
              w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > c_ts THEN ts_us END)
                                 OVER (PARTITION BY user_id) AS p_ts FROM w2)
              SELECT DISTINCT user_id, v_ts, c_ts, p_ts,
                     CASE WHEN p_ts IS NOT NULL THEN 3
                          WHEN c_ts IS NOT NULL THEN 2
                          WHEN v_ts IS NOT NULL THEN 1
                          ELSE 0 END AS stage
              FROM w3""")),

    // ---- s04: temporal range join via bin bucketing --------------------
    // All event pairs within 60 s of each other. A naive |t1-t2| ≤ w join
    // has no equi-key, so Spark would nested-loop O(n²). The scalable
    // form: bucket time into w-sized bins, probe each row against bins
    // {b-1, b, b+1} (equi-join on bin!), then apply the exact residual
    // predicate. Each true pair is found exactly once (the matched side's
    // bin is a single value), so no distinct is needed. Shuffle volume is
    // 3n rows instead of n² comparisons.
    ("s04_range_join",
      (s, d) => {
        val winUs = 60L * 1000000L
        val e = Tables.events(s, d)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("bin", floor(col("ts_us") / winUs).cast("long"))
        val probes = e.select(col("event_id").as("a_id"), col("ts_us").as("a_ts"),
          explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("bin"))
        val build = e.select(col("event_id").as("b_id"), col("ts_us").as("b_ts"), col("bin"))
        probes.join(build, "bin")
          .filter(col("a_id") < col("b_id")
            && abs(col("a_ts") - col("b_ts")) <= winUs)
          .select(col("a_id"), col("b_id"), (col("b_ts") - col("a_ts")).as("dt_us"))
      },
      // Oracle uses the same lossless minute-bucket probe the operator
      // does (|Δts| ≤ 60 s ⇒ bucket distance ≤ 1, each pair matches in
      // exactly one probed bucket) — the bare inequality join is a
      // nested loop DuckDB cannot finish at sf1.0 (10¹² pairs).
      Some("""WITH e AS MATERIALIZED (
                SELECT event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
                       CAST(FLOOR(epoch_us(ts::TIMESTAMP) / 60000000) AS BIGINT) AS bin
                FROM events),
              pr AS (SELECT e.event_id AS a_id, e.ts_us AS a_ts, e.bin + d.off AS bin
                     FROM e, (SELECT unnest([-1, 0, 1]) AS off) d)
              SELECT pr.a_id, b.event_id AS b_id, b.ts_us - pr.a_ts AS dt_us
              FROM pr JOIN e b USING (bin)
              WHERE pr.a_id < b.event_id
                AND abs(pr.a_ts - b.ts_us) <= 60000000""")),

    // ---- s06: cohort retention (first-seen week × week offset) ---------
    // The product-analytics staple: users cohorted by first-activity
    // week, activity counted per (cohort, weeks-since). Shape at scale:
    // one user-keyed aggregate for the cohort table, a user-keyed join
    // back (both sides co-partitioned on user_id — AQE reuses the
    // exchange), and a two-phase countDistinct whose shuffle carries one
    // row per (cohort, offset, user) — never raw events. Week arithmetic
    // stays in epoch micros: truncated weeks differ by exact multiples
    // of 604800000000, so the division is IEEE-exact on both engines.
    ("s06_retention",
      (s, d) => {
        val weekUs = 604800000000L
        val e = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
        e.join(first, "user_id")
          .groupBy(col("cohort"),
            ((unix_micros(col("wk")) - unix_micros(col("cohort"))) / weekUs)
              .cast("long").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .select(unix_micros(col("cohort")).as("cohort_week_us"),
            col("week_offset"), col("n_active"))
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('week', ts::TIMESTAMP) AS wk
                         FROM events),
              f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id)
              SELECT epoch_us(cohort) AS cohort_week_us,
                     CAST((epoch_us(wk) - epoch_us(cohort)) / 604800000000 AS BIGINT)
                       AS week_offset,
                     count(DISTINCT e.user_id) AS n_active
              FROM e JOIN f USING (user_id)
              GROUP BY 1, 2""")),

    // ---- s07: trending per window (windowed top-k) ----------------------
    // "Top 3 event types per hour" — the dashboard/trending query, and a
    // composition proof: the hourly hash-aggregate (map-side combined,
    // shuffle carries group cardinality) feeds the custom GroupedTopK
    // operator, whose partial heaps prune to ≤k rows per (window) group
    // BEFORE its exchange — at 100 TB the ranking stage moves k·windows
    // rows, never the aggregate output.
    ("s07_window_topk",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("w.start")).as("hour_start_us"),
            col("event_type"), col("n_events"))
        org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          hourly, Seq("hour_start_us"),
          Seq("n_events" -> true, "event_type" -> false), 3)
      },
      Some("""WITH hourly AS (
                SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS hour_start_us,
                       event_type, count(*) AS n_events
                FROM events GROUP BY 1, 2)
              SELECT hour_start_us, event_type, n_events FROM (
                SELECT hour_start_us, event_type, n_events,
                       row_number() OVER (PARTITION BY hour_start_us
                         ORDER BY n_events DESC, event_type ASC) AS rn
                FROM hourly)
              WHERE rn <= 3""")),

    // ---- s09: trailing-window anomaly detection --------------------------
    // The telemetry alerting shape: z-score each hour's per-type total
    // against its own trailing 24-hour window, flag |z| > 2. The raw
    // stream first collapses through ONE corpus-scale hash-aggregate to
    // the (hour × type) series — detection math then runs on
    // dimension-scale rows (the alternative, windowing raw events
    // PARTITION BY type, would put an entire event type through one
    // task). The trailing frame is a RANGE window on integer epoch
    // hours; mean/stddev are order-dependent moment merges → the z
    // lands on the micro grid with the SAME op order both engines
    // execute, and the flag reads the gridded z so the two engines
    // agree on boundaries.
    ("s09_anomaly",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
          .agg(sum(col("value")).as("sv"))
          .select((unix_micros(col("hr")) / 3600000000L).cast("long").as("hr_no"),
            col("event_type"), col("sv"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("hr_no")).rangeBetween(-23, Window.currentRow)
        hourly
          .withColumn("m", avg(col("sv")).over(w))
          .withColumn("sd", stddev_samp(col("sv")).over(w))
          .withColumn("n_win", count(lit(1)).over(w))
          .select(col("hr_no"), col("event_type"),
            cents(col("sv")).as("sum_value"), col("n_win"),
            when(col("sd").isNull || col("sd") === 0.0, lit(0.0))
              .otherwise(floor((col("sv") - col("m")) / col("sd") * 1000000 + 0.5) / 1000000)
              .as("z"))
          .withColumn("is_anomaly", abs(col("z")) > 2.0)
      },
      Some("""WITH hourly AS (
                SELECT CAST(epoch_us(date_trunc('hour', ts::TIMESTAMP)) / 3600000000 AS BIGINT)
                         AS hr_no,
                       event_type, sum(value) AS sv
                FROM events GROUP BY 1, 2),
              z AS (SELECT hr_no, event_type,
                           FLOOR(sv * 100 + 0.5) / 100 AS sum_value,
                           count(*) OVER w AS n_win,
                           CASE WHEN stddev_samp(sv) OVER w IS NULL
                                  OR stddev_samp(sv) OVER w = 0 THEN 0.0
                                ELSE FLOOR((sv - avg(sv) OVER w) / (stddev_samp(sv) OVER w)
                                       * 1000000 + 0.5) / 1000000 END AS z
                    FROM hourly
                    WINDOW w AS (PARTITION BY event_type ORDER BY hr_no
                                 RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
              SELECT hr_no, event_type, sum_value, n_win, z, abs(z) > 2.0 AS is_anomaly
              FROM z""")),

    // ---- s08: time-spine gap fill (time-series densification) -----------
    // Hourly per-type activity of HIGH-VALUE events with missing hours
    // ZERO-FILLED — the spine every time-series chart/model needs (an
    // hour with no qualifying events must be a 0 row, not an absent
    // row; naive GROUP BY can't produce it). The value ≥ 99 filter is
    // what makes the series genuinely sparse at every SF (the raw
    // stream covers every hour; filtered series are the ones that need
    // densification) — 94 to 3406 of the ~3600 spine slots are
    // zero-filled across sf0.001–0.1, so the fill path is exercised,
    // not decorative. Shape at 100 TB: the corpus crosses ONE
    // hash-aggregate down to (hour × type) cardinality — and that is
    // the ONLY corpus pass: bounds and the type domain derive from the
    // dimension-sized aggregate itself, which is cut
    // because it fans out to three consumers (fill join + bounds +
    // type domain) — the p06/ngramPairs pattern; without the cut Spark
    // re-plans the corpus scan per consumer (the measured 3-scan trap).
    // The spine is sequence(min_hr, max_hr) exploded CROSS JOIN the
    // type domain — dimension-sized rows built from a 1-row bounds
    // aggregate — and the fill is a broadcast left join of the
    // aggregate onto the spine. PlanShapeSpec pins the single-scan
    // claim on the executed plan.
    ("s08_gapfill",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("value") >= 99)
          .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"), col("value"))
          .groupBy(col("hr"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
          .cut
        val spine = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hr"))
          .crossJoin(hourly.select(col("event_type")).distinct())
        spine.join(hourly, Seq("hr", "event_type"), "left")
          .select(unix_micros(col("hr")).as("hour_us"),
            col("event_type"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            cents(coalesce(col("sv"), lit(0.0))).as("sum_value"))
      },
      Some("""WITH e AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hr, event_type, value
                         FROM events WHERE value >= 99),
              hourly AS (SELECT hr, event_type, count(*) AS n, sum(value) AS sv
                         FROM e GROUP BY 1, 2),
              b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
              spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
              types AS (SELECT DISTINCT event_type FROM e)
              SELECT epoch_us(s.hr) AS hour_us, t.event_type,
                     coalesce(h.n, 0) AS n_events,
                     FLOOR(coalesce(h.sv, 0) * 100 + 0.5) / 100 AS sum_value
              FROM spine s CROSS JOIN types t
              LEFT JOIN hourly h ON h.hr = s.hr AND h.event_type = t.event_type""")),

    // ---- s11: inter-event gap distribution -------------------------------
    // Stream cadence profiling (capacity planning, bot detection —
    // machine traffic has pathologically regular gaps): consecutive-event
    // gaps per event_type, summarized with exact dyadic percentiles
    // (q58's trick on integer micros) and an exact mean. One type-keyed
    // window for the lag, one type-keyed aggregate — both on the same
    // exchange class; per-type output rows.
    ("s11_event_gaps",
      (s, d) => {
        // Percentiles are SORT-BASED selection, not the buffering
        // `percentile` aggregate: that aggregate holds every group value
        // in executor memory (the 80× doubling smoke showed it going
        // superlinear under GC pressure — 6 → 21 s), while a rank window
        // is an external, spillable sort. Three windows (lag, gap-rank,
        // group count) all ride ONE type-keyed exchange (same partition
        // key; the rank adds a local sort), then quantile q = i/4 is the
        // standard linear interpolation at position (n−1)·i/4 picked out
        // by TWO marked rows per group: lower index gets weight 4−r,
        // upper gets r (r = the position's quarter fraction), summed and
        // divided by 4 — all-integer until one exact dyadic division,
        // identical to quantile_cont on both engines.
        val wLag = Window.partitionBy(col("event_type"))
          .orderBy(col("us").asc, col("event_id").asc)
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("gap_us").asc, col("event_id").asc)
        val wN = Window.partitionBy(col("event_type"))
        def qsel(i: Int) =
          (sum(when(col("rn") === expr(s"((n - 1) * $i) div 4") + 1,
              col("gap_us") * (lit(4) - expr(s"((n - 1) * $i) % 4")))
            .when(col("rn") === expr(s"((n - 1) * $i) div 4") + 2,
              col("gap_us") * expr(s"((n - 1) * $i) % 4"))) / lit(4.0))
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wLag))
          .filter(col("gap_us").isNotNull)
          .withColumn("rn", row_number().over(wRank))
          .withColumn("n", count(lit(1)).over(wN))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"),
            qsel(1).as("p25_us"), qsel(2).as("p50_us"), qsel(3).as("p75_us"),
            (sum(col("gap_us")).cast("double") / count(lit(1))).as("avg_gap_us"))
      },
      Some("""WITH e AS (SELECT event_type, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
              g AS (SELECT event_type,
                      us - lag(us) OVER (PARTITION BY event_type
                                         ORDER BY us ASC, event_id ASC) AS gap_us
                    FROM e)
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                     quantile_cont(gap_us, 0.25) AS p25_us,
                     quantile_cont(gap_us, 0.5)  AS p50_us,
                     quantile_cont(gap_us, 0.75) AS p75_us,
                     CAST(sum(gap_us) AS DOUBLE) / count(*) AS avg_gap_us
              FROM g WHERE gap_us IS NOT NULL GROUP BY event_type""")),

    // ---- s13: conversion-lag distribution --------------------------------
    // The funnel's (s05) other half: not WHETHER users convert but HOW
    // LONG it takes — first view → first subsequent purchase per user,
    // summarized as exact dyadic percentiles (q58's trick: 0.25/0.5/0.75
    // make the interpolation bit-exact on integer micros, no grid) plus
    // an exact mean (sum of longs ≪ 2^53 cast once, one IEEE division).
    // Shape: two filtered user-keyed aggregates + one user-keyed join —
    // the per-user work co-partitions on ONE user exchange class; the
    // final global aggregate sees one row per converted user.
    ("s13_conversion_lag",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
        val lags = v.join(e.filter(col("event_type") === "purchase"), Seq("user_id"))
          .filter(col("us") >= col("v_us"))
          .groupBy(col("user_id"), col("v_us")).agg(min(col("us")).as("p_us"))
          .select((col("p_us") - col("v_us")).as("lag_us"))
        lags.agg(
          count(lit(1)).as("n_converted"),
          expr("percentile(lag_us, array(0.25D, 0.5D, 0.75D))").as("qs"),
          (sum(col("lag_us")).cast("double") / count(lit(1))).as("avg_lag_us"))
          .select(col("n_converted"),
            col("qs").getItem(0).as("p25_us"),
            col("qs").getItem(1).as("p50_us"),
            col("qs").getItem(2).as("p75_us"),
            col("avg_lag_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
              v AS (SELECT user_id, min(us) AS v_us FROM e
                    WHERE event_type = 'view' GROUP BY 1),
              lags AS (SELECT p.user_id, min(p.us) - v.v_us AS lag_us
                       FROM e p JOIN v ON v.user_id = p.user_id
                       WHERE p.event_type = 'purchase' AND p.us >= v.v_us
                       GROUP BY p.user_id, v.v_us)
              SELECT CAST(count(*) AS BIGINT) AS n_converted,
                     quantile_cont(lag_us, 0.25) AS p25_us,
                     quantile_cont(lag_us, 0.5)  AS p50_us,
                     quantile_cont(lag_us, 0.75) AS p75_us,
                     CAST(sum(lag_us) AS DOUBLE) / count(*) AS avg_lag_us
              FROM lags""")),

    // ---- s12: hopping (sliding) window aggregation -----------------------
    // s01's tumbling windows miss trends that straddle hour boundaries;
    // the 2h-window/1h-slide form scores every event into BOTH windows
    // containing it. Spark's window(ts, "2 hours", "1 hour") is the
    // native generator (each row fans out to windowLength/slide rows
    // map-side — no shuffle until the aggregate); the oracle mirrors the
    // fan-out as a two-branch UNION ALL on the truncated hour. Same
    // exchange budget as s01: ONE corpus hash-aggregate, map-side
    // combined, output (windows × types) dimension-scale.
    ("s12_hopping",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             cents(sum(col("value"))).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("sum_value")),
      Some("""WITH x AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type, value
                         FROM events),
              w AS (SELECT epoch_us(h) AS win_start_us, event_type, value FROM x
                    UNION ALL
                    SELECT epoch_us(h - INTERVAL 1 HOUR) AS win_start_us, event_type, value FROM x)
              SELECT win_start_us, event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     FLOOR(sum(value) * 100 + 0.5) / 100 AS sum_value
              FROM w GROUP BY 1, 2""")),

    // ---- s10: CUSUM change-point detection over hourly series ------------
    // Page's cumulative-sum drift detector (Page 1954, the classic
    // change-point statistic) per event_type: S_i = max(0, S_{i-1} + x_i -
    // (mean + slack)), flag when S crosses a threshold. All arithmetic is
    // INTEGER — multiplying through by H (the hour count) turns the
    // mean-centered residual into d_i = x_i*H - T with T = Σx, slack =
    // T div 2, threshold = 3T — bit-exact on both engines with no float
    // discipline at all.
    //
    // The recurrence LOOKS inherently sequential, but has the classic
    // prefix-sum closed form S_i = P_i − min(0, min_{j≤i} P_j) with
    // P = running Σd (the reflected-random-walk identity) — so the whole
    // detector is two cumulative windows over the filled series, O(H)
    // per type and fully parallel across types. (The first cut ran an
    // aggregate() HOF whose immutable array-append made it O(H²) per
    // type — 68 s at the 40× smoke; the window form is ~10×  cheaper and
    // is what the streaming twin's sequential recurrence is spec'd
    // bit-equal to.)
    //
    // Shape at 100 TB: ONE corpus aggregate down to (type × hour)
    // cardinality (the s08 spine pattern, zero-filled gaps,
    // cut against the 3-consumer re-plan trap); the
    // windows run on the dimension-scale series, partitioned by type
    // (H ≈ 720 for a 30-day window; types scale out, H doesn't).
    ("s10_cusum",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
          .groupBy(col("hr"), col("event_type"))
          .agg(count(lit(1)).as("x"))
          .cut
        val spine = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hr"))
          .crossJoin(hourly.select(col("event_type")).distinct())
        val filled = spine.join(hourly, Seq("hr", "event_type"), "left")
          .select(col("event_type"), unix_micros(col("hr")).as("hour_us"),
            coalesce(col("x"), lit(0L)).as("x"))
        val wTot = Window.partitionBy(col("event_type"))
        val wCum = wTot.orderBy(col("hour_us").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        filled
          .withColumn("tt", sum(col("x")).over(wTot))
          .withColumn("ht", count(lit(1)).over(wTot))
          .withColumn("dd", col("x") * col("ht") - col("tt") - expr("tt div 2"))
          .withColumn("pp", sum(col("dd")).over(wCum))
          .withColumn("ss", col("pp") - least(min(col("pp")).over(wCum), lit(0L)))
          .select(col("event_type"), col("hour_us"), col("x"),
            col("ss").as("cusum_scaled"),
            (col("ss") > col("tt") * 3).as("flag"))
      },
      Some("""WITH e AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hr, event_type FROM events),
              counts AS (SELECT hr, event_type, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY 1, 2),
              b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM counts),
              spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
              types AS (SELECT DISTINCT event_type FROM counts),
              filled AS (SELECT t.event_type, epoch_us(s.hr) AS hour_us, coalesce(c.x, 0) AS x
                         FROM spine s CROSS JOIN types t
                         LEFT JOIN counts c ON c.hr = s.hr AND c.event_type = t.event_type),
              agg AS (SELECT event_type, hour_us, x,
                        CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
                        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS ht
                      FROM filled),
              dd AS (SELECT *, x * ht - tt - tt // 2 AS d FROM agg),
              pp AS (SELECT *, CAST(sum(d) OVER (PARTITION BY event_type ORDER BY hour_us ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
                     FROM dd)
              SELECT event_type, hour_us, x,
                     p - LEAST(CAST(min(p) OVER (PARTITION BY event_type ORDER BY hour_us ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT), 0) AS cusum_scaled,
                     p - LEAST(CAST(min(p) OVER (PARTITION BY event_type ORDER BY hour_us ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT), 0) > tt * 3 AS flag
              FROM pp""")),

    // ---- s14: last-touch attribution ------------------------------------
    // WHICH channel gets credit for each purchase — the question every
    // marketing warehouse asks of its event stream. For each purchase,
    // the credited touch is the LATEST preceding click/view/signup by the
    // same user within a 7-day lookback (error events are never touches).
    // The carry is ONE window max over a sortable packed string
    // (zero-padded ts_us ‖ zero-padded event_id ‖ type): both engines
    // compare strings bytewise, ASCII digits order numerically under
    // zero-padding, so max(pack) IS "latest (ts, event_id)" — no as-of
    // join, no second pass, and ties are impossible (event_id is packed).
    // Both fields pad to 20 — a long is at most 19 digits, so the pack
    // never truncates (lpad TRUNCATES longer inputs in both engines,
    // which would corrupt the ordering key past 1e12 events).
    // The lookback check unpacks the timestamp AFTER the carry, so a
    // stale touch falls through to 'unattributed' instead of letting an
    // out-of-window row shadow an in-window one… which can't happen:
    // max(pack) is the latest touch, and any other in-window touch is
    // earlier. Scale: one user-keyed exchange (window), then a
    // channel-keyed aggregate over purchases only — output is
    // #channels+1 rows; countDistinct stays inside the channel
    // aggregate's own exchange.
    ("s14_attribution",
      (s, d) => {
        val lookbackUs = 7L * 86400L * 1000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isin("click", "view", "signup")
        val packed = concat(
          lpad(col("us").cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 20, "0"),
          col("event_type"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("last_touch", max(when(isTouch, packed)).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            when(col("last_touch").isNotNull &&
                 col("us") - substring(col("last_touch"), 1, 20).cast("long") <= lookbackUs,
              substring(col("last_touch"), 41, 100))
              .otherwise(lit("unattributed")).as("channel"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
                                epoch_us(ts::TIMESTAMP) AS us FROM events),
              carried AS (
                SELECT user_id, event_type, us,
                       max(CASE WHEN event_type IN ('click', 'view', 'signup')
                                THEN lpad(CAST(us AS VARCHAR), 20, '0')
                                     || lpad(CAST(event_id AS VARCHAR), 20, '0')
                                     || event_type END)
                         OVER (PARTITION BY user_id
                               ORDER BY us ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS last_touch
                FROM e),
              attributed AS (
                SELECT user_id,
                       CASE WHEN last_touch IS NOT NULL
                             AND us - CAST(substring(last_touch, 1, 20) AS BIGINT)
                                 <= 604800000000
                            THEN substring(last_touch, 41, 100)
                            ELSE 'unattributed' END AS channel
                FROM carried WHERE event_type = 'purchase')
              SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM attributed GROUP BY channel""")),

    // ---- s15: Markov transition matrix ----------------------------------
    // WHERE do users go next — the session path analysis behind "users
    // who view then click convert 3× more". One lag over the per-user
    // event order yields (prev → next) pairs; the pair aggregate's
    // output is |types|² rows, so the per-prev probability normalization
    // is a window over a 25-row frame, not the corpus. The division is
    // long/long → double, gridded once (micro); counts are exact.
    // Scale: ONE user-keyed exchange (the lag window), one pair-keyed
    // hash aggregate with map-side combine; nothing downstream of the
    // aggregate ever sees more than |types|² rows.
    ("s15_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us").asc, col("event_id").asc)
        val wp = Window.partitionBy(col("prev_type"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("prev_type"), col("event_type").as("next_type"), col("n"),
            (floor(col("n").cast("double") / sum(col("n")).over(wp) * 1000000 + 0.5)
              / 1000000).as("p"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
                                epoch_us(ts::TIMESTAMP) AS us FROM events),
              pairs AS (
                SELECT lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY us ASC, event_id ASC) AS prev_type,
                       event_type AS next_type
                FROM e),
              c AS (
                SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
                FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2)
              SELECT prev_type, next_type, n,
                     FLOOR(CAST(n AS DOUBLE)
                           / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)
                           * 1000000 + 0.5) / 1000000 AS p
              FROM c""")),

    // ---- s16: weekly seasonality profile ---------------------------------
    // WHEN does traffic happen — the hour-of-day × day-of-week heatmap
    // behind capacity planning and anomaly baselining (s09's z-scores
    // assume you know the weekly shape; this measures it). Both time
    // keys are pure integer arithmetic on epoch micros (epoch day 0 =
    // Thursday, so dow = (days+4) mod 7 with 0 = Sunday) — no calendar
    // functions, so both engines and any session TZ agree byte-for-byte.
    // The observed/expected ratio against the independence model
    // (rowTot·colTot/total) exposes interactions a per-hour OR per-day
    // profile hides ("weekend nights run hot"). Shape at scale: the
    // corpus collapses through ONE (dow, hr) aggregate — ≤ 168 rows out
    // — and every margin (dow total, hour total, grand total) is a
    // window over that aggregate's OUTPUT. The margin products rt·ct
    // and n·tot are computed in binary64 (IEEE multiply rounds
    // identically in both engines): a long×long would wrap past ~4e10
    // events (rt·ct ≈ N²/168), and the output is 1e-6-gridded anyway.
    ("s16_seasonality",
      (s, d) => {
        val wDow = Window.partitionBy(col("dow"))
        val wHr = Window.partitionBy(col("hr"))
        val wAll = Window.partitionBy()
        Tables.events(s, d)
          .select(expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
            expr("(unix_micros(ts) div 3600000000) % 24").as("hr"))
          .groupBy(col("dow"), col("hr"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rt", sum(col("n")).over(wDow))
          .withColumn("ct", sum(col("n")).over(wHr))
          .withColumn("tot", sum(col("n")).over(wAll))
          .select(col("dow"), col("hr"), col("n"),
            (floor(col("rt").cast("double") * col("ct").cast("double") / col("tot")
              * 1000000 + 0.5) / 1000000).as("expected"),
            (floor(col("n").cast("double") * col("tot").cast("double")
              / (col("rt").cast("double") * col("ct").cast("double"))
              * 1000000 + 0.5) / 1000000).as("ratio"))
      },
      Some("""WITH e AS (SELECT
                ((epoch_us(ts::TIMESTAMP) // 86400000000 + 4) % 7) AS dow,
                ((epoch_us(ts::TIMESTAMP) // 3600000000) % 24) AS hr
              FROM events),
              c AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS n
                    FROM e GROUP BY 1, 2),
              m AS (SELECT dow, hr, n,
                      CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS rt,
                      CAST(sum(n) OVER (PARTITION BY hr) AS BIGINT) AS ct,
                      CAST(sum(n) OVER () AS BIGINT) AS tot
                    FROM c)
              SELECT dow, hr, n,
                     FLOOR(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / tot
                       * 1000000 + 0.5) / 1000000 AS expected,
                     FLOOR(CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)
                       / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 AS ratio
              FROM m""")),

    // ---- s17: RFM customer segmentation ----------------------------------
    // The classic recency/frequency/monetary quintile grid (Hughes 1994)
    // every CRM warehouse computes over its purchase stream: score each
    // buyer 1–5 on how recently, how often, and how much, then report the
    // segment census. The corpus collapses through ONE user aggregate
    // FIRST (purchases → last_us/freq/monetary per buyer); the three
    // ntile(5) windows run on that USER-sized frame, never on raw events.
    // Determinism: each ntile orders by (metric, user_id) — the monetary
    // metric is cents-gridded BEFORE ordering so a last-ulp double-sum
    // difference between engines can't flip two near-equal buyers across
    // a quintile boundary. Scale: the ntile frame is dimension-scale
    // (buyers, not events) but still unpartitioned — past ~1e8 buyers
    // swap each ntile for the split prefix-sum global rank (p02's
    // pattern: bucket by key prefix, intra-bucket window, 256 bucket
    // totals correct the offsets). Aggregate floats: avg recency is
    // exact-long-sum / count (one gridded division), segment monetary is
    // the s01 cents-gridded sum.
    ("s17_rfm",
      (s, d) => {
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(unix_micros(col("ts"))).as("last_us"),
            count(lit(1)).as("freq"),
            cents(sum(col("value"))).as("monetary"))
        val mx = p.agg(max(col("last_us")).as("maxus"))
        val wR = Window.orderBy(col("last_us").desc, col("user_id").asc)
        val wF = Window.orderBy(col("freq").desc, col("user_id").asc)
        val wM = Window.orderBy(col("monetary").desc, col("user_id").asc)
        p.crossJoin(broadcast(mx))
          .withColumn("recency_days",
            expr("(maxus - last_us) div 86400000000"))
          .withColumn("r", ntile(5).over(wR))
          .withColumn("f", ntile(5).over(wF))
          .withColumn("m", ntile(5).over(wM))
          .groupBy((col("r") * 100 + col("f") * 10 + col("m")).cast("long").as("segment"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("freq")).as("total_purchases"),
            cents(sum(col("monetary"))).as("monetary"),
            micro(sum(col("recency_days")).cast("double") / count(lit(1)))
              .as("avg_recency_days"))
      },
      Some("""WITH p AS (SELECT user_id,
                     max(epoch_us(ts::TIMESTAMP)) AS last_us,
                     CAST(count(*) AS BIGINT) AS freq,
                     FLOOR(sum(value) * 100 + 0.5) / 100 AS monetary
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
              mx AS (SELECT max(last_us) AS maxus FROM p),
              sc AS (SELECT user_id, freq, monetary,
                       (maxus - last_us) // 86400000000 AS recency_days,
                       ntile(5) OVER (ORDER BY last_us DESC, user_id ASC) AS r,
                       ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f,
                       ntile(5) OVER (ORDER BY monetary DESC, user_id ASC) AS m
                     FROM p, mx)
              SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
                     CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(freq) AS BIGINT) AS total_purchases,
                     FLOOR(sum(monetary) * 100 + 0.5) / 100 AS monetary,
                     FLOOR(CAST(sum(recency_days) AS DOUBLE) / count(*)
                           * 1000000 + 0.5) / 1000000 AS avg_recency_days
              FROM sc GROUP BY 1""")),

    // ---- s18: peak concurrency (interval overlap counting) -------------
    // "How many sessions were active at once, and when did load peak?" —
    // the capacity-planning question behind every autoscaling dashboard.
    // Each event opens a 5-minute activity interval; the peak is found
    // with the sweep-line rewrite: explode each interval to a +1 (open)
    // and −1 (close) delta, running-sum in time order per event_type,
    // take the max. All integers — exact cross-engine. Tie discipline:
    // closes sort BEFORE opens at the same instant (delta ASC), so a
    // back-to-back interval isn't counted as overlapping — and the peak
    // instant is the EARLIEST time the max is reached (min_by over the
    // packed (concurrency, −t) would need two passes; arg-min on t among
    // max rows via one filterless max_by on a packed ordering instead).
    // Shape at scale: ONE window exchange keyed on event_type (the same
    // partitioning s01/s07 use), then a per-type aggregate; the sweep is
    // O(n log n) in each type's partition, never global.
    ("s18_peak_concurrency",
      (s, d) => {
        val spanUs = 300000000L // 5 min
        val e = Tables.events(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("t0"))
        val deltas = e.select(col("event_type"), col("t0").as("t"), lit(1L).as("delta"))
          .union(e.select(col("event_type"), (col("t0") + spanUs).as("t"),
            lit(-1L).as("delta")))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("t").asc, col("delta").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // peak_t: the earliest t achieving the max, in the SAME aggregate
        // as the max itself — min_by on the packed (MaxValue−conc ‖ t)
        // ordering string (both components fixed-width, so bytewise =
        // numeric): minimal pack ⇔ maximal conc, then earliest t. Rows
        // tied on (t, delta) get window-order-dependent individual conc
        // values, but the (conc, t) MULTISET is order-invariant, so both
        // the max and the arg-min are deterministic.
        deltas
          .withColumn("conc", sum(col("delta")).over(w))
          .groupBy(col("event_type"))
          .agg(max(col("conc")).as("peak_concurrency"),
            min_by(col("t"), concat(
              lpad((lit(Long.MaxValue) - col("conc")).cast("string"), 20, "0"),
              lpad(col("t").cast("string"), 20, "0"))).as("peak_t_us"))
      },
      Some("""WITH e AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS t0
                         FROM events),
              deltas AS (SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta FROM e
                         UNION ALL
                         SELECT event_type, t0 + 300000000, CAST(-1 AS BIGINT) FROM e),
              swept AS (SELECT event_type, t,
                          CAST(sum(delta) OVER (PARTITION BY event_type
                            ORDER BY t ASC, delta ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS conc
                        FROM deltas)
              SELECT event_type,
                     max(conc) AS peak_concurrency,
                     arg_min(t, lpad(CAST(9223372036854775807 - conc AS VARCHAR), 20, '0')
                                || lpad(CAST(t AS VARCHAR), 20, '0')) AS peak_t_us
              FROM swept GROUP BY 1""")),

    // ---- s19: forward fill (LOCF via IGNORE NULLS) ---------------------
    // Last-observation-carried-forward — the time-series repair every
    // sparse sensor/metrics stream needs before joins or windows can
    // treat it as dense. This is also the IGNORE NULLS feature-parity
    // row (q67/q68's discipline): Spark spells it last(col,
    // ignoreNulls) over a running frame, DuckDB spells it last_value(x
    // IGNORE NULLS) — both engines run their NATIVE form and must
    // produce identical rows. The sparse reading is derived
    // deterministically (every 7th event id carries a value) so the
    // fill pattern is corpus-stable; filled values are COPIES of input
    // doubles — no arithmetic, no grid needed. Shape at scale: ONE
    // type-keyed window exchange, the s18 partitioning; the running
    // IGNORE-NULLS last is O(1) state per row. The s14 packed-string
    // carry is the same idiom for compound payloads; this is the
    // native-function form for scalars.
    ("s19_locf",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"),
            when(col("event_id") % 7 === 0, col("value")).as("reading"))
          .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("event_type"), col("reading"), col("filled"))
      },
      Some("""SELECT event_id, event_type,
                     CASE WHEN event_id % 7 = 0 THEN value END AS reading,
                     last_value(CASE WHEN event_id % 7 = 0 THEN value END
                                IGNORE NULLS) OVER (
                       PARTITION BY event_type
                       ORDER BY epoch_us(ts::TIMESTAMP) ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
              FROM events""")),

    // ---- s20: Kaplan-Meier time-to-conversion survival curve ------------
    // "How long until a new user first purchases?" answered the way a
    // product analyst (or any time-to-event study) needs it: the
    // Kaplan-Meier estimator, which handles CENSORING correctly — a user
    // who hasn't purchased yet is evidence of survival up to their
    // observation end, not a missing row. Durations are whole hours from
    // first event to first purchase; never-purchasers are censored at the
    // corpus horizon. At each event time t: n_risk = users still
    // unconverted and observed (N minus everyone who left earlier),
    // S(t) = Π (1 − d/n). Shape at scale: the corpus collapses through
    // ONE per-user aggregate (the s08/s09 spine; the horizon max rides
    // the same aggregate, no second scan), then everything is windows
    // over the HOUR-sized step frame. The product is exp∘Σln with the
    // d = n full-depletion row pinned to exactly 0 via a cumulative flag
    // (ln is merge-order-safe here: identical IEEE input on both
    // engines, 1-ulp libm spread absorbed by the 1e-6 grid).
    ("s20_survival",
      (s, d) => {
        val pu = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
          .groupBy(col("user_id"))
          .agg(min(col("ts_us")).as("t0"),
            min(when(col("event_type") === "purchase", col("ts_us"))).as("tp"),
            max(col("ts_us")).as("tl"))
          .cut
        val nb = pu.agg(max(col("tl")).as("tmax"),
          count(lit(1)).cast("long").as("n_users"))
        val byT = pu.crossJoin(broadcast(nb))
          .select(
            floor((coalesce(col("tp"), col("tmax")) - col("t0")) / lit(3600000000L))
              .cast("long").as("t_h"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("ev"),
            col("n_users"))
          .groupBy(col("t_h"), col("n_users"))
          .agg(count(lit(1)).as("c"), sum(col("ev")).as("d_events"))
        val wPrev = Window.orderBy(col("t_h").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy(col("t_h").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT
          .withColumn("n_risk",
            col("n_users") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
          .filter(col("d_events") >= 1)
          .withColumn("lfac",
            when(col("d_events") < col("n_risk"),
              log(lit(1.0) - col("d_events").cast("double") / col("n_risk"))))
          .withColumn("dead",
            max(when(col("d_events") === col("n_risk"), 1).otherwise(0)).over(wCum))
          .select(col("t_h"), col("n_risk"), col("d_events"),
            when(col("dead") === 1, lit(0.0))
              .otherwise(micro(exp(sum(col("lfac")).over(wCum)))).as("survival"))
      },
      Some("""WITH pu AS (
                SELECT user_id,
                       min(epoch_us(ts::TIMESTAMP)) AS t0,
                       min(CASE WHEN event_type = 'purchase'
                                THEN epoch_us(ts::TIMESTAMP) END) AS tp,
                       max(epoch_us(ts::TIMESTAMP)) AS tl
                FROM events GROUP BY 1),
              nb AS (SELECT max(tl) AS tmax,
                            CAST(count(*) AS BIGINT) AS n_users FROM pu),
              durs AS (SELECT
                  CAST(FLOOR((coalesce(tp, tmax) - t0) / 3600000000.0) AS BIGINT) AS t_h,
                  CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
                  n_users
                FROM pu, nb),
              byt AS (SELECT t_h, n_users,
                        CAST(count(*) AS BIGINT) AS c,
                        CAST(sum(ev) AS BIGINT) AS d_events
                      FROM durs GROUP BY 1, 2),
              r AS (SELECT t_h, d_events,
                      n_users - CAST(coalesce(sum(c) OVER (ORDER BY t_h ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
                    FROM byt),
              st AS (SELECT t_h, n_risk, d_events,
                       CASE WHEN d_events < n_risk
                            THEN ln(1.0 - CAST(d_events AS DOUBLE) / n_risk) END AS lfac
                     FROM r WHERE d_events >= 1),
              fin AS (SELECT t_h, n_risk, d_events,
                        max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) OVER wc AS dead,
                        sum(lfac) OVER wc AS ls
                      FROM st
                      WINDOW wc AS (ORDER BY t_h ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              SELECT t_h, n_risk, d_events,
                     CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
                          ELSE FLOOR(exp(ls) * 1000000 + 0.5) / 1000000 END AS survival
              FROM fin""")),

    // ---- s21: frequent journey paths (3-step path mining) ---------------
    // s15 answers "what follows what" (the Markov matrix); this answers
    // the product question one level up: which exact 3-step JOURNEYS are
    // most common, and how many distinct users walk them. Paths come
    // from two lags over each user's ordered stream — ONE user-keyed
    // exchange serves both lags (same window), then the path aggregate
    // rides the path-keyed exchange with countDistinct's standard
    // two-phase expansion. Top-15 is TakeOrdered, never a global sort.
    ("s21_top_paths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .withColumn("e1", lag(col("event_type"), 1).over(w))
          .withColumn("e2", lag(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull)
          .select(col("user_id"),
            concat_ws(">", col("e2"), col("e1"), col("event_type")).as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_walks"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_walks").desc, col("path").asc)
          .limit(15)
      },
      Some("""WITH o AS (SELECT user_id, event_type,
                       lag(event_type, 1) OVER w AS e1,
                       lag(event_type, 2) OVER w AS e2
                     FROM (SELECT user_id, event_type,
                             epoch_us(ts::TIMESTAMP) AS ts_us, event_id
                           FROM events)
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us ASC, event_id ASC)),
              p AS (SELECT user_id, e2 || '>' || e1 || '>' || event_type AS path
                    FROM o WHERE e2 IS NOT NULL)
              SELECT path, CAST(count(*) AS BIGINT) AS n_walks,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM p GROUP BY 1
              ORDER BY n_walks DESC, path ASC LIMIT 15""")),

    // ---- s22: rolling 7-day active users (DAU/WAU) -----------------------
    // THE product-health metric: per day, how many distinct users acted in
    // the trailing 7 days. A count(DISTINCT) over a RANGE window doesn't
    // distribute (per-day state would be the whole user set), so the
    // engine shape is: collapse the corpus to distinct (user, day)
    // presence rows FIRST (one exchange, output bounded by users×days),
    // then each presence row contributes to exactly 7 target days via a
    // bounded explode, and the trailing-distinct count is a plain
    // countDistinct per target day — its shuffle carries presence×7, never
    // raw events. Target days are clipped to the observed day span so
    // every output day reflects a full data window.
    ("s22_rolling_actives",
      (s, d) => {
        val dayUs = 86400000000L
        val pres = Tables.events(s, d)
          .select(col("user_id"),
            (unix_micros(date_trunc("day", col("ts"))) / dayUs).cast("long").as("day"))
          .distinct()
          .cut
        val bounds = pres.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        pres.crossJoin(broadcast(bounds))
          .select(col("user_id"),
            explode(sequence(col("day"), least(col("day") + 6, col("hi")))).as("t_day"))
          .groupBy(col("t_day"))
          .agg(countDistinct(col("user_id")).as("wau"))
          .join(broadcast(bounds), col("t_day") >= col("lo") + 6)
          .select((col("t_day") * dayUs).as("day_us"), col("wau"))
      },
      Some("""WITH pres AS (
                SELECT DISTINCT user_id,
                       CAST(epoch_us(date_trunc('day', ts::TIMESTAMP)) / 86400000000
                         AS BIGINT) AS day
                FROM events),
              b AS (SELECT min(day) AS lo, max(day) AS hi FROM pres),
              contrib AS (
                SELECT p.user_id, unnest(generate_series(p.day,
                         LEAST(p.day + 6, b.hi))) AS t_day
                FROM pres p, b)
              SELECT t_day * 86400000000 AS day_us,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS wau
              FROM contrib, b WHERE t_day >= b.lo + 6
              GROUP BY 1""")),

    // ---- s23: exponentially-weighted hourly volume (EWMA) ----------------
    // The smoothing rung between s09's z-score (trailing uniform window)
    // and s10's CUSUM (cumulative drift): an exponentially-weighted mean
    // of each type's hourly count, α = 1/2. Infinite-memory EWMA can't be
    // exact in doubles (denominator 2^t outruns the mantissa), so the
    // engine defines the operator on a 48-hour horizon in SCALED INTEGERS:
    //   ew_scaled(t) = Σ_{k=0..47} x(t-k) · 2^(47-k)
    // (missing hours count 0; exact, associative, merge-order-free —
    // headroom holds while hourly counts stay under 2^14 ≈ 16k/hour-type;
    // past that a production run drops the weight scale to 2^(31-k),
    // trading tail resolution it never reads anyway). Geometry: the
    // hourly aggregate collapses the corpus once (s08/s10's single-scan
    // spine discipline); each hourly count then fans out to ≤48 target
    // hours — a bounded post-aggregate explode exactly like s22's, never
    // a per-event blowup — and the weighted sum is one integer aggregate.
    ("s23_ewma",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
          .groupBy(col("hr"), col("event_type"))
          .agg(count(lit(1)).as("x"))
          .select(col("event_type"), unix_micros(col("hr")).as("hour_us"), col("x"))
          .cut
        val hourUs = 3600000000L
        val bounds = hourly.agg(max(col("hour_us")).as("hi"))
        val contrib = hourly.crossJoin(broadcast(bounds))
          .select(col("event_type"), col("x"),
            explode(sequence(col("hour_us"),
              least(col("hour_us") + 47L * hourUs, col("hi")), lit(hourUs))).as("t_us"),
            col("hour_us").as("src_us"))
          .select(col("event_type"), col("t_us"),
            (col("x") * expr(
              "shiftleft(1L, CAST(47 - (t_us - src_us) / 3600000000 AS INT))"))
              .as("wx"))
        contrib.groupBy(col("event_type"), col("t_us"))
          .agg(sum(col("wx")).as("ew_scaled"))
          .select(col("event_type"), col("t_us").as("hour_us"), col("ew_scaled"))
      },
      Some("""WITH e AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hr, event_type
                         FROM events),
              hourly AS (SELECT event_type, epoch_us(hr) AS hour_us,
                           CAST(count(*) AS BIGINT) AS x
                         FROM e GROUP BY 1, 2),
              b AS (SELECT max(hour_us) AS hi FROM hourly),
              contrib AS (
                SELECT h.event_type,
                       unnest(generate_series(h.hour_us,
                         LEAST(h.hour_us + 47 * 3600000000, b.hi),
                         3600000000)) AS t_us,
                       h.hour_us AS src_us, h.x
                FROM hourly h, b)
              SELECT event_type, t_us AS hour_us,
                     CAST(sum(x * (CAST(1 AS BIGINT) <<
                       CAST(47 - (t_us - src_us) / 3600000000 AS INTEGER)))
                       AS BIGINT) AS ew_scaled
              FROM contrib GROUP BY 1, 2"""))
  )
}
