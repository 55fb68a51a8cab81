package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** Event/time-series suite over the `events` fixture — window functions,
  * sessionization, tumbling-window rollups, and semi-structured (JSON)
  * extraction. The reference has no window/streaming operators (SURVEY
  * §2.5/§2.10) — these are the extension surface for event analytics, built
  * batch so the DuckDB oracle can check them.
  *
  * Timestamp discipline: `ts` has arrived as parquet TIMESTAMP(NANOS),
  * TIMESTAMP(MICROS) and TIMESTAMP_NTZ across driver fixture regenerations;
  * both engines are compared at millisecond precision via [[Q.millisUtc]]
  * (encoding-agnostic) to dodge ns-vs-µs truncation and NTZ-vs-LTZ skew.
  */
object EventQueries {

  val defs: Map[String, QueryFn] = Map(
    "q17_window_first_order" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("first_date"))
        .orderBy(col("o_custkey"))
    },

    "q18_window_lag_delta" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .filter(col("prev_value").isNotNull)
        .groupBy(col("user_id"))
        .agg(dsum(col("value") - col("prev_value")).as("sum_delta"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },

    "q19_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ms", lag(millisUtc(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull || millisUtc(col("ts")) - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    "q20_events_hourly" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy(col("h"), col("event_type"))
    },

    // Temporal drift census: per ISO-week event-type mix and its KL
    // divergence from the overall mix — q111's domain-shift discipline on
    // the TIME axis (the monitoring signal that catches a logging change
    // or a traffic-mix shift). Per-term DECIMAL(30,9) rounding before the
    // exact sum; state bounded at #weeks × #event_types.
    "q146_temporal_drift" -> { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val wt = t(s, dir, "events")
        .select(col("event_type"), millisUtc(col("ts")).as("ms"))
        .withColumn("week", expr("ms DIV 604800000"))
        .groupBy(col("week"), col("event_type")).agg(count(lit(1)).as("c"))
      val weekTot = wt.groupBy(col("week")).agg(sum(col("c")).as("wn"))
      val typeTot = wt.groupBy(col("event_type")).agg(sum(col("c")).as("tc"))
      val grand = weekTot.agg(sum(col("wn")).as("total"))
      val pW = col("c").cast("double") / col("wn")
      val pT = col("tc").cast("double") / col("total")
      wt.join(broadcast(weekTot), Seq("week"))
        .join(broadcast(typeTot), Seq("event_type"))
        .crossJoin(broadcast(grand))
        .select(col("week"), col("wn"),
          (pW * log(pW / pT)).cast(DecimalType(30, 9)).as("term"))
        .groupBy(col("week"), col("wn"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("term")).cast("double").as("kl_vs_overall"))
        .select(col("week"), col("wn").as("n_events"), col("n_types"),
          col("kl_vs_overall"))
        .orderBy(col("week"))
    },

    // Retention cohort matrix — the product-analytics table every event
    // warehouse serves: users grouped by first-active day, activity
    // counted at each day offset. Day numbers are exact epoch-ms integer
    // division (encoding-agnostic, no date/timezone types cross the
    // engine boundary). Scale shape: (user, day) distinct collapses
    // map-side; the cohort join shuffles on user_id; the matrix is
    // #days² rows at most.
    "q142_retention_cohorts" -> { (s, dir) =>
      val act = t(s, dir, "events")
        .select(col("user_id"), millisUtc(col("ts")).as("ms"))
        .withColumn("day", expr("ms DIV 86400000"))
        .select(col("user_id"), col("day"))
        .distinct()
      val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      act.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },

    // Ordered conversion funnel: per user the first view / click /
    // purchase timestamps, rolled up into strict-progression stage
    // counts — one (user)-keyed aggregate, 1-row output, no joins.
    "q143_event_funnel" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("ms", millisUtc(col("ts")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ms"))).as("v"),
          min(when(col("event_type") === "click", col("ms"))).as("c"),
          min(when(col("event_type") === "purchase", col("ms"))).as("p"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("c") > col("v"), 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("p") > col("c") && col("c") > col("v"), 1L).otherwise(0L))
            .as("n_full_funnel"))
    },

    // Conversion LATENCY distribution (q143 counts the funnel; this times
    // it): per-user first-view→first-purchase delta, exact sort-based
    // median/p90 (the q43 percentile parity) — the product-health metric
    // next to the stage counts. One user-keyed aggregate + one 1-row
    // percentile sort over the converted subset.
    "q182_time_to_convert" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("ms", millisUtc(col("ts")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ms"))).as("fv"),
          min(when(col("event_type") === "purchase", col("ms"))).as("fp"))
        .filter(col("fp") > col("fv"))
        .select(((col("fp") - col("fv")) / lit(1000.0d)).as("delta_s"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(delta_s, 0.5)").as("p50_s"),
          expr("percentile(delta_s, 0.9)").as("p90_s"))
    },

    // Shuffle-key skew census — the pre-flight diagnosis before keying a
    // 100 TB shuffle on a column: the 5 hottest keys with their
    // multiple-of-average load, next to the global key stats. Top-5 plans
    // as a TakeOrdered heap over the per-key aggregate; totals ride a
    // 1-row broadcast.
    "q144_key_skew_census" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val tot = per.agg(sum(col("cnt")).as("n_events"),
        count(lit(1)).as("n_keys"))
      per.crossJoin(broadcast(tot))
        .select(col("user_id"), col("cnt"), col("n_events"), col("n_keys"),
          ((col("cnt").cast("double") * col("n_keys").cast("double")) /
            col("n_events").cast("double")).as("x_avg"))
        .orderBy(col("cnt").desc, col("user_id"))
        .limit(5)
    },

    "q21_json_extract" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // The Snowflake-syntax VARIANT surface end-to-end: colon-path access
    // (props:k) + LISTAGG WITHIN GROUP through the dialect translator —
    // what a migrated VARIANT view actually looks like.
    "q75_variant_listagg" -> { (s, dir) =>
      graft.sources.Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT event_type,
          |       MAX(props:k::NUMBER)::DOUBLE AS max_k,
          |       LISTAGG(DISTINCT user_id::STRING, ',')
          |         WITHIN GROUP (ORDER BY user_id::STRING) AS users
          |FROM TPCH.PUBLIC.EVENTS
          |WHERE user_id < 3
          |GROUP BY event_type ORDER BY event_type""".stripMargin
      s.sql(graft.dialect.SnowflakeDialect.translate(snowflakeSql))
    },

    // Schema-based semi-structured parsing: from_json into a typed struct
    // (vs q21's path extraction) — the VARIANT-handling surface (§1.2).
    "q53_json_schema_parse" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("parsed",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_type"), col("parsed.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },

    // As-of join (composed union+window operator — graft.operators.AsOf):
    // each click gets the latest preceding purchase value per user.
    // Millisecond granularity on both engines dodges ns-vs-µs skew.
    "q39_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev
        .filter(col("event_type") === "click" && col("user_id") < 5)
        .select(col("event_id"), col("user_id"), millisUtc(col("ts")).as("ms"))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), millisUtc(col("ts")).as("ms"))
        .agg(max(col("value")).as("p_value"))
      graft.operators.AsOf.asofJoin(clicks, purchases, "user_id", "ms", Seq("p_value"))
        .orderBy(col("user_id"), col("ms"), col("event_id"))
    },

    // Salted two-phase aggregation (graft.operators.Skew): a hot group key
    // first partial-aggregates on (key, salt-of-event_id) across 16
    // reducers, then merges on key — the shape that keeps a power-law key
    // from pinning one reducer at cluster scale. Result must equal the
    // plain GROUP BY exactly (decimal-cast sums are order-independent).
    "q89_salted_agg" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("v", col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
      graft.operators.Skew.saltedSumCount(ev, "event_type", "v", saltFactor = 16, saltBy = "event_id")
        .select(col("event_type"), col("sum_v").cast("double").as("sum_value"), col("cnt"))
        .orderBy(col("event_type"))
    },

    // HLL register file over user_id (graft.operators.Sketch): 2^6 buckets,
    // md5-split hash, integer bit-length rho — the bounded-state distinct
    // sketch whose shuffle carries <= m rows per executor at any scale.
    "q90_hll_registers" -> { (s, dir) =>
      graft.operators.Sketch.hllRegisters(t(s, dir, "events"), "user_id", p = 6)
        .orderBy(col("bucket"))
    },

    // Raw HLL estimate from the register file, next to the exact distinct
    // count for error audit. All arithmetic is integer until one final
    // IEEE division, so the double estimate replays bit-for-bit.
    "q91_hll_estimate" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val regs = graft.operators.Sketch.hllRegisters(ev, "user_id", p = 6)
      val est = graft.operators.Sketch.hllEstimate(regs, p = 6)
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.crossJoin(exact)
        .select(col("occupied"), col("s_scaled"), col("hll_est"), col("exact_distinct"))
    },

    // Per-group HLL: distinct users per event_type from bounded register
    // state (<= m rows per group in the shuffle), estimates audited
    // against the exact distinct.
    "q97_hll_per_group" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val regs = graft.operators.Sketch.hllRegistersBy(ev, "event_type", "user_id", p = 6)
      val est = graft.operators.Sketch.hllEstimateBy(regs, "event_type", p = 6)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("event_type")).orderBy(col("event_type"))
    },

    // SCD2 history build (graft.transfer.Scd): the change stream becomes
    // validity intervals via one key-partitioned window — no self-join;
    // unchanged consecutive rows collapse first so reloaded snapshots
    // don't fragment the history.
    "q101_scd2_history" -> { (s, dir) =>
      val src = t(s, dir, "events")
        .filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          millisUtc(col("ts")).as("ms"), col("event_type"))
      graft.transfer.Scd.scd2(src, "user_id", "ms", Seq("event_type"), "event_id")
        .select(col("user_id"), col("event_id"), col("ms"), col("event_type"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .orderBy(col("user_id"), col("effective_from"), col("event_id"))
    },

    // Histogram-sketch quantiles: fixed-width bins, integer cumulative
    // test, bin-edge estimates — the bounded-state alternative to exact
    // percentiles (q43) whose error is the bin width, not the data size.
    "q98_histogram_quantiles" -> { (s, dir) =>
      graft.operators.Sketch.histogramQuantiles(
        t(s, dir, "events"), "event_type", "value", width = 1.0)
        .orderBy(col("event_type"))
    },

    // Distribution-rank window functions — percent_rank / cume_dist /
    // nth_value over a (value desc, event_id) total order, reported for
    // the top 20 events per type. The compound ORDER BY has no ties, so
    // percent_rank = (rank-1)/(n-1) and cume_dist = rank/n are exact
    // small-integer ratios (one double division, identical both engines)
    // and nth_value's default running frame is unambiguous. One sort per
    // type partition; the rnk filter prunes before anything else moves.
    "q155_rank_windows" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("third_value", nth_value(col("value"), 3).over(w))
        .filter(col("rnk") <= 20)
        .orderBy(col("event_type"), col("rnk"))
    },

    // Burst detection via a RANGE-interval frame: each event's trailing
    // 1-hour event count per user (rangeBetween on epoch millis — a time
    // window, not a row window, so simultaneous events co-frame
    // regardless of sort position), reduced to max-burst per user, then a
    // burst-size histogram. The per-user window sorts within user
    // partitions only; the two following aggregates are map-side-combine
    // counts, so nothing global ever sorts.
    "q156_burst_windows" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), millisUtc(col("ts")).as("ms"))
        .withColumn("burst", count(lit(1)).over(w))
        .groupBy(col("user_id")).agg(max(col("burst")).as("max_burst"))
        .groupBy(col("max_burst")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("max_burst"))
    },

    // First-order Markov transition matrix of event types per user
    // stream: lead() over the (ms, event_id) total order within each
    // user, pair counts, and row-normalized transition probabilities
    // (exact integer ratio, one double division) — the behavioral
    // sequence-model statistic session-prediction pipelines start from.
    // The window sorts within user partitions only; both aggregates are
    // type²-bounded with map-side combine.
    "q159_event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val trans = t(s, dir, "events")
        .select(col("user_id"), millisUtc(col("ts")).as("ms"),
          col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt"))
      val totals = trans.groupBy(col("from_type"))
        .agg(sum(col("cnt")).as("total"))
      trans.join(totals, Seq("from_type"))
        .withColumn("prob", col("cnt").cast("double") / col("total").cast("double"))
        .select(col("from_type"), col("to_type"), col("cnt"), col("prob"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Longest consecutive-day activity streak per user, reduced to a
    // streak-length histogram — the gaps-and-islands idiom (day − rank is
    // constant within an island) over distinct active days. The distinct
    // collapses map-side before the one per-user window sort; everything
    // after is a bounded count aggregate.
    "q162_activity_streaks" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .select(col("user_id"), millisUtc(col("ts")).as("ms"))
        .select(col("user_id"), expr("ms div 86400000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("best_streak"))
      streaks.groupBy(col("best_streak")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("best_streak"))
    })

  val oracles: Map[String, String] = Map(
    "q155_rank_windows" ->
      """SELECT event_type, event_id, value, rnk, pct_rank, cume, third_value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER w AS rnk,
        |    percent_rank() OVER w AS pct_rank,
        |    cume_dist() OVER w AS cume,
        |    nth_value(value, 3) OVER w AS third_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id))
        |WHERE rnk <= 20 ORDER BY event_type, rnk""".stripMargin,

    "q156_burst_windows" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
        |b AS (
        |  SELECT user_id, COUNT(*) OVER (PARTITION BY user_id ORDER BY ms
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS burst
        |  FROM e),
        |m AS (SELECT user_id, MAX(burst) AS max_burst FROM b GROUP BY 1)
        |SELECT max_burst, COUNT(*) AS n_users
        |FROM m GROUP BY 1 ORDER BY max_burst""".stripMargin,

    "q159_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id, event_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS cnt FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(cnt) AS total FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        |  CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS prob
        |FROM c JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin,

    "q162_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |st AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2),
        |best AS (SELECT user_id, MAX(len) AS best_streak FROM st GROUP BY 1)
        |SELECT best_streak, COUNT(*) AS n_users
        |FROM best GROUP BY 1 ORDER BY best_streak""".stripMargin,

    "q17_window_first_order" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS first_date
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q18_window_lag_delta" ->
      s"""SELECT user_id,
         |  ${dsumSql("value - prev_value")} AS sum_delta, COUNT(*) AS n
         |FROM (
         |  SELECT user_id, value,
         |    LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
         |  FROM events)
         |WHERE prev_value IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q19_sessionize" ->
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
        |      LAG(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q20_events_hourly" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
         |  COUNT(*) AS cnt, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,

    // q111's per-term decimal-rounded KL tree, keyed by epoch-ms week.
    "q146_temporal_drift" ->
      """WITH wt AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) // 604800000 AS week,
        |    event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |wk AS (SELECT week, CAST(SUM(c) AS BIGINT) AS wn FROM wt GROUP BY 1),
        |ty AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS tc FROM wt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(wn) AS BIGINT) AS total FROM wk),
        |terms AS (
        |  SELECT wt.week, wk.wn,
        |    CAST((CAST(c AS DOUBLE) / wn) *
        |      ln((CAST(c AS DOUBLE) / wn) /
        |         (CAST(tc AS DOUBLE) / total)) AS DECIMAL(30,9)) AS term
        |  FROM wt JOIN wk ON wk.week = wt.week
        |  JOIN ty ON ty.event_type = wt.event_type CROSS JOIN tot)
        |SELECT week, wn AS n_events, COUNT(*) AS n_types,
        |  CAST(SUM(term) AS DOUBLE) AS kl_vs_overall
        |FROM terms GROUP BY 1, 2 ORDER BY week""".stripMargin,

    // Same epoch-ms integer day numbers; COUNT(DISTINCT) is BIGINT.
    "q142_retention_cohorts" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day
        |  FROM events),
        |first AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN first f ON f.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    // NULL comparisons fall to the ELSE arm in both engines.
    "q143_event_funnel" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view'
        |        THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS v,
        |    MIN(CASE WHEN event_type = 'click'
        |        THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS c,
        |    MIN(CASE WHEN event_type = 'purchase'
        |        THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS p
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN c > v THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
        |  CAST(SUM(CASE WHEN p > c AND c > v THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM firsts""".stripMargin,

    // Same ms-epoch firsts, same single /1000 division, quantile_cont ≡
    // Spark's sort-based percentile (the q43-proven pairing).
    "q182_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view'
        |        THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS fv,
        |    MIN(CASE WHEN event_type = 'purchase'
        |        THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS fp
        |  FROM events GROUP BY 1),
        |d AS (SELECT (fp - fv) / 1000.0 AS delta_s FROM f WHERE fp > fv)
        |SELECT COUNT(*) AS n_converted,
        |  quantile_cont(delta_s, 0.5) AS p50_s,
        |  quantile_cont(delta_s, 0.9) AS p90_s
        |FROM d""".stripMargin,

    // Identical double tree for the multiple-of-average.
    "q144_key_skew_census" ->
      """WITH per AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_events, COUNT(*) AS n_keys
        |  FROM per)
        |SELECT user_id, cnt, n_events, n_keys,
        |  (CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)) / CAST(n_events AS DOUBLE)
        |    AS x_avg
        |FROM per CROSS JOIN tot
        |ORDER BY cnt DESC, user_id LIMIT 5""".stripMargin,

    "q21_json_extract" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q75_variant_listagg" ->
      """SELECT event_type,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS DECIMAL(38,18))) AS DOUBLE) AS max_k,
        |  string_agg(DISTINCT CAST(user_id AS VARCHAR), ','
        |             ORDER BY CAST(user_id AS VARCHAR)) AS users
        |FROM events WHERE user_id < 3
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q53_json_schema_parse" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q39_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events WHERE event_type = 'click' AND user_id < 5),
        |purchases AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, MAX(value) AS p_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ms, p.p_value AS asof_p_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ms >= p.ms
        |ORDER BY c.user_id, c.ms, c.event_id""".stripMargin,

    // The salted two-phase result must equal the plain GROUP BY — that
    // equivalence IS the check.
    "q89_salted_agg" ->
      s"""SELECT event_type, ${dsumSql("value")} AS sum_value, COUNT(*) AS cnt
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // HLL registers: bucket = low 6 bits of the 32-bit md5 prefix, rho =
    // leading zeros of the remaining 26-bit word + 1, via integer
    // bit-length (length(bin(w))) — no float log anywhere.
    "q90_hll_registers" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM events)
        |SELECT h % 64 AS bucket,
        |  CAST(MAX(CASE WHEN h // 64 = 0 THEN 27
        |                ELSE 27 - length(bin(h // 64)) END) AS BIGINT) AS max_rho,
        |  COUNT(*) AS n_rows
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Raw HLL estimate: harmonic sum scaled by 2^27 stays integer-exact;
    // alpha_64 * m^2 * 2^27 / s_scaled is one IEEE division.
    "q91_hll_estimate" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM events),
        |regs AS (
        |  SELECT h % 64 AS bucket,
        |    MAX(CASE WHEN h // 64 = 0 THEN 27
        |             ELSE 27 - length(bin(h // 64)) END) AS max_rho
        |  FROM h GROUP BY 1),
        |filled AS (
        |  SELECT b.bucket, COALESCE(r.max_rho, 0) AS rho
        |  FROM (SELECT UNNEST(range(64)) AS bucket) b
        |  LEFT JOIN regs r ON b.bucket = r.bucket),
        |s AS (
        |  SELECT CAST(SUM(1::BIGINT << (27 - rho)) AS BIGINT) AS s_scaled,
        |    CAST(SUM(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS occupied
        |  FROM filled)
        |SELECT occupied, s_scaled,
        |  0.709::DOUBLE * 64 * 64 * 134217728 / s_scaled AS hll_est,
        |  (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
        |FROM s""".stripMargin,

    "q97_hll_per_group" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM events),
        |regs AS (
        |  SELECT event_type, h % 64 AS bucket,
        |    MAX(CASE WHEN h // 64 = 0 THEN 27
        |             ELSE 27 - length(bin(h // 64)) END) AS max_rho
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS occupied,
        |    CAST(SUM(1::BIGINT << (27 - max_rho)) AS BIGINT) AS s_occ
        |  FROM regs GROUP BY 1),
        |sc AS (
        |  SELECT event_type, occupied,
        |    CAST(s_occ + (64 - occupied) * 134217728 AS BIGINT) AS s_scaled
        |  FROM agg)
        |SELECT sc.event_type, sc.occupied, sc.s_scaled,
        |  0.709::DOUBLE * 64 * 64 * 134217728 / sc.s_scaled AS hll_est,
        |  e.exact_distinct
        |FROM sc JOIN (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY 1) e USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q101_scd2_history" ->
      """WITH src AS (
        |  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type
        |  FROM events WHERE user_id < 5),
        |flagged AS (
        |  SELECT user_id, event_id, ms, event_type,
        |    (LAG(ms) OVER w IS NULL
        |      OR LAG(event_type) OVER w IS DISTINCT FROM event_type) AS ch
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |ded AS (SELECT user_id, event_id, ms, event_type FROM flagged WHERE ch)
        |SELECT user_id, event_id, ms, event_type,
        |  ms AS effective_from,
        |  LEAD(ms) OVER w2 AS effective_to,
        |  LEAD(ms) OVER w2 IS NULL AS is_current
        |FROM ded WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id)
        |ORDER BY user_id, effective_from, event_id""".stripMargin,

    "q98_histogram_quantiles" ->
      """WITH bins AS (
        |  SELECT event_type, CAST(FLOOR(value / 1.0) AS BIGINT) AS bin, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM bins)
        |SELECT event_type, CAST(MAX(total) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum * 100 >= 50 * total THEN bin END) AS DOUBLE) * 1.0 AS p50,
        |  CAST(MIN(CASE WHEN cum * 100 >= 95 * total THEN bin END) AS DOUBLE) * 1.0 AS p95,
        |  CAST(MIN(CASE WHEN cum * 100 >= 99 * total THEN bin END) AS DOUBLE) * 1.0 AS p99
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin)
}
