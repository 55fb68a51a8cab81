package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dialect.SnowflakeDialect
import graft.sources.Tables
import Q._

/** Core relational operator suite — reference parity (SURVEY §2.1–2.8).
  *
  * Each entry mirrors a concrete operator of the reference:
  *   - q01: scan→filter→agg→sort slice (the flagship; data_transfer.py
  *     projection/filter + validator.py aggregate shapes in one plan)
  *   - q02: per-date-partition counts (validator.py:217-277, layer 2)
  *   - q03: single-pass multi-column NULL counts (validator.py:633-673,
  *     layer 3 — no 50-col chunking needed in Spark, SURVEY §4)
  *   - q04: multi-column MIN/MAX (validator.py:675-718)
  *   - q05: per-partition SUM fingerprint (validator.py:326-405, layer 4)
  *   - q06/q07: catalog-style equi joins scaled to data (discovery.py S7/J1)
  *   - q08: anti-join semantics of mismatch detection (validator.py J3)
  *   - q09: full-outer partition reconciliation (validator.py:255-263, J2)
  *   - q10: ORDER BY + LIMIT top-k (O3)
  *   - q11/q12: distinct + set ops (§2.7)
  *   - q13: SPLIT_TO_TABLE → explode (view_procedure_translator.py:282-295)
  *   - q14: dialect-translated Snowflake SQL executed by Spark (§2.8b)
  *   - q15: cast-to-string projection (data_transfer.py:122-137, S1/P2)
  *   - q16: PK sample lookup join (validator.py:407-470, layer 5)
  */
object CoreQueries {

  /** Per-process scratch root for the manifest queries' catalogs, deleted
    * recursively at JVM exit (round-13 advice: the old per-query
    * `java.io.tmpdir` paths were never removed, so bench/correctness runs
    * accumulated orphan manifests across JVMs). Lazy so JVMs that never
    * run a manifest query create nothing. */
  private lazy val scratchRoot: String = {
    val root = java.nio.file.Files.createTempDirectory(
      s"graft_qmanifests_${ProcessHandle.current().pid()}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      ()
    }))
    root.toString
  }

  /** Scratch manifest path for query `name` over fixture `dir`, keyed by
    * the FULL sanitized fixture path — not `dir.hashCode` (round-13
    * advice: a hash collision across fixture dirs in one JVM would
    * silently share, and overwrite, a manifest). The per-process root
    * already isolates concurrent harness sessions on one host. */
  private def scratchManifest(name: String, dir: String): String =
    s"$scratchRoot/${name}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Build a query's scratch LAYOUT once per process: the layout (a
    * range-partitioned or per-key-valued table plus its maintained
    * manifest) is test FIXTURE, and the operator under measurement is
    * the metadata-answering path over it — bench repetitions should time
    * the answer, not re-pay fixture construction per rep. Keyed by the
    * scratch path, which the per-process scratch root already isolates. */
  private val builtScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def buildOnce(key: String)(build: => Unit): Unit =
    if (!builtScratch.contains(key)) synchronized {
      if (!builtScratch.contains(key)) { build; builtScratch.add(key) }
    }

  val defs: Map[String, QueryFn] = Map(
    "q01_pricing_summary" -> { (s, dir) =>
      // fanOut after the projection (guide §2.3/§2.5): the single-row-group
      // fixture scan otherwise runs the whole filter+aggregate on one task
      fanOut(t(s, dir, "lineitem")
          .filter(col("l_shipdate") < to_timestamp(lit("1998-09-03")))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q02_partition_counts" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("d"))
    },

    "q03_null_counts" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      l.select(l.columns.toSeq.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c")): _*)
    },

    "q04_min_max" -> { (s, dir) =>
      t(s, dir, "orders").agg(
        min(col("o_orderkey")).as("min_o_orderkey"),
        max(col("o_orderkey")).as("max_o_orderkey"),
        min(col("o_totalprice")).as("min_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"),
        min(to_date(col("o_orderdate"))).as("min_o_orderdate"),
        max(to_date(col("o_orderdate"))).as("max_o_orderdate"))
    },

    "q05_agg_fingerprint" -> { (s, dir) =>
      // fanOut after projection: single-row-group scan, compute-heavy aggs
      fanOut(t(s, dir, "lineitem")
          .select(col("l_shipdate"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("d"))
        .agg(
          dsum(col("l_quantity")).as("sum_quantity"),
          dsum(col("l_extendedprice")).as("sum_extendedprice"),
          dsum(col("l_discount")).as("sum_discount"),
          dsum(col("l_tax")).as("sum_tax"),
          count(lit(1)).as("cnt"))
        .orderBy(col("d"))
    },

    "q06_join_segment_revenue" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("segment"))
    },

    "q07_join_nation_revenue" -> { (s, dir) =>
      // fanOut the projected big side so the join+aggregate stage runs at
      // session width instead of inside the one-row-group scan task
      val rev = fanOut(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      rev.groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("region"), col("nation"))
    },

    // Market-share composite: 4-way join → per-(year, nation) exact
    // revenue → window share-of-year — the TPC-H Q8 shape (joins + date
    // extraction + two aggregation levels in one plan).
    "q67_market_share" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // fanOut the projected big side (guide §2.3/§2.5): the one-row-group
      // lineitem scan otherwise serializes the whole join+aggregate chain
      val rev = fanOut(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(year(col("o_orderdate")).as("yr"), col("n_name").as("nation"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      // year total via exact decimal window sum: a double window total would
      // accumulate in partition-layout order and drift a ulp vs the oracle
      rev.withColumn("share",
          col("revenue") /
            sum(col("revenue").cast("decimal(30,6)"))
              .over(Window.partitionBy(col("yr"))).cast("double"))
        .orderBy(col("yr"), col("nation"))
    },

    "q08_anti_join_customers" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q09_full_outer_recon" -> { (s, dir) =>
      val lm = t(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("d"))
        .agg(count(lit(1)).as("l_cnt"))
      val om = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("d"))
        .agg(count(lit(1)).as("o_cnt"))
      lm.join(om, Seq("d"), "full_outer")
        .select(col("d"),
          coalesce(col("l_cnt"), lit(0L)).as("l_cnt"),
          coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
          (coalesce(col("l_cnt"), lit(0L)) - coalesce(col("o_cnt"), lit(0L))).as("diff"))
        .orderBy(col("d"))
    },

    "q10_topk_customers" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
        .orderBy(col("total_spend").desc, col("c_custkey"))
        .limit(10)
    },

    "q11_distinct_flags" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q12_set_intersect" -> { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy(col("nk"))
    },

    "q13_explode_words" -> { (s, dir) =>
      t(s, dir, "part")
        .select(explode(split(col("p_type"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("word"))
    },

    "q14_dialect_iff" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderstatus AS status,
          |       IFF(o_totalprice > 150000, 'big', NVL(NULL, 'small')) AS bucket,
          |       COUNT(*) AS cnt
          |FROM TPCH.PUBLIC.ORDERS
          |GROUP BY o_orderstatus, IFF(o_totalprice > 150000, 'big', NVL(NULL, 'small'))
          |ORDER BY status, bucket""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // The wider scalar-function rewrite surface through the dialect path:
    // LPAD, DATE_TRUNC, TO_DATE, 3-arg DATEDIFF (→ TIMESTAMPDIFF), NVL,
    // ::STRING, 3-part names — one translated statement end-to-end.
    "q63_dialect_scalars" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT LPAD(o_orderstatus, 3, 'x') AS st,
          |       DATE_TRUNC('month', TO_DATE(o_orderdate))::DATE AS mth,
          |       DATEDIFF('day', TO_DATE('1995-01-01'), TO_DATE(o_orderdate)) AS days_since,
          |       NVL(NULL, o_orderpriority)::STRING AS prio,
          |       COUNT(*) AS cnt
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 1000
          |GROUP BY 1, 2, 3, 4 ORDER BY st, mth, days_since, prio""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Blocked fuzzy matching (graft.operators.FuzzyJoin): record linkage
    // for almost-agreeing fixed-format keys — (length, half) blocking
    // (provably complete for one substitution at any length) keeps the
    // edit-distance compare off the cartesian product.
    "q99_fuzzy_match" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      graft.operators.FuzzyJoin.fuzzyPairs(
        cust.filter(col("id") < 200), cust, maxDist = 1)
        .orderBy(col("a_id"), col("b_id"))
    },

    // DATEADD/ZEROIFNULL/NULLIFZERO/TRY_TO_NUMBER/CHARINDEX/LEN — the
    // scalar-function layer of a migrated reporting view, end-to-end
    // through the translate path.
    "q94_dialect_dateadd" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       DATEADD('day', 30, TO_DATE(o_orderdate))::DATE AS due_date,
          |       ZEROIFNULL(TRY_TO_NUMBER(SUBSTR(o_orderpriority, 1, 1)))::DOUBLE AS prio_num,
          |       NULLIFZERO(CHARINDEX('-', o_orderpriority))::INT AS dash_at,
          |       LEN(o_orderstatus)::INT AS st_len
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Round-8 scalar batch end-to-end through the translate path:
    // DAYNAME/MONTHNAME (abbreviated masks), SQUARE, EQUAL_NULL (<=>),
    // ARRAY_CONTAINS arg swap, 0-based GET → 1-based ELEMENT_AT, and the
    // BOOLOR_AGG/BOOLAND_AGG renames.
    // FK orphan census — referential-integrity validation as one report:
    // every FK edge of the schema with its child count and orphan count
    // (a child key with no parent). Each edge is a left join against the
    // distinct parent-key set (dims broadcast); one union of 1-row aggs.
    "q148_fk_orphans" -> { (s, dir) =>
      def edge(name: String, child: String, ckey: String,
               parent: String, pkey: String) = {
        val p = t(s, dir, parent)
          .select(col(pkey).cast("long").as("k")).distinct()
        t(s, dir, child)
          .select(col(ckey).cast("long").as("k"))
          .join(p.withColumn("hit", lit(1)), Seq("k"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"))
      }
      Seq(
        edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy(col("fk_edge"))
    },

    // Order-total consistency: o_totalprice vs the recomputed
    // sum(extendedprice·(1-discount)·(1+tax)) per order — the cross-table
    // arithmetic audit (validator L4's fingerprint discipline turned into
    // a consistency CHECK). Per-line products are identical IEEE trees;
    // per-order sums go through the exact-decimal dsum; the mismatch gate
    // is a 1-cent tolerance.
    "q149_order_consistency" -> { (s, dir) =>
      // fanOut measured a LOSS here (1.54 → 1.89 s): the single-task scan
      // partial-aggregates 600k rows to 150k before its shuffle, and the
      // round-robin exchange both carries the raw rows and destroys that
      // combining — left as the fused scan+partial-agg
      val computed = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("computed"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .join(computed, Seq("o_orderkey"), "left")
        .select(
          // a NULL computed sum (order with no lines) is a mismatch too
          when(abs(col("computed") - col("o_totalprice")) <= 0.01, lit(0L))
            .otherwise(lit(1L)).as("mismatch"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("mismatch")).as("n_mismatch"),
          (sum(col("mismatch")).cast("double") / count(lit(1)).cast("double"))
            .as("mismatch_share"))
    },

    // Round-8 dialect widening: DIV0, TO_BOOLEAN, STRTOK (char-set
    // delimiters, empty-token collapse, NULL out-of-range), ARRAY_SLICE
    // (0-based, end-exclusive), RATIO_TO_REPORT (window share with
    // engine-neutral double quotient) — all through translate.
    "q141_dialect_ext" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT c_custkey,
          |       DIV0(c_nationkey, MOD(c_custkey, 3)) AS d0,
          |       TO_BOOLEAN(CASE WHEN c_nationkey > 12 THEN 'true' ELSE 'false' END) AS b1,
          |       STRTOK(c_name, '#', 2) AS tok2,
          |       STRTOK(c_name, '#', 9) AS tok_oob,
          |       ARRAY_TO_STRING(ARRAY_SLICE(SPLIT(c_name, '0'), 1, 3), ':') AS mid,
          |       RATIO_TO_REPORT(c_acctbal::DECIMAL(18,2))
          |         OVER (PARTITION BY c_mktsegment) AS share
          |FROM TPCH.PUBLIC.CUSTOMER
          |WHERE c_custkey <= 200
          |ORDER BY c_custkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Round-8b dialect widening: TIMEADD/TIMESTAMPADD/TIMEDIFF/
    // TIMESTAMPDIFF synonyms with Snowflake quoted unit aliases ('mon',
    // 'hh'), and the erroring numeric casts TO_NUMBER/TO_DECIMAL/
    // TO_DOUBLE. Units restricted to day/hour on DATE-aligned inputs,
    // where Spark's complete-unit count and DuckDB's boundary-crossing
    // count provably agree; week/month DIFFS are excluded by design
    // (the two engines define them differently).
    "q160_dialect_datetime" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       TIMEADD('day', 30, TO_DATE(o_orderdate))::DATE AS due_date,
          |       TIMESTAMPADD('hh', 12, TO_DATE(o_orderdate)) AS half_day,
          |       TIMESTAMPDIFF('day', TO_DATE(o_orderdate),
          |                     TIMEADD('mon', 1, TO_DATE(o_orderdate))) AS days_in_window,
          |       TIMEDIFF('hour', TO_DATE('1995-01-01'), TO_DATE(o_orderdate)) AS hours_since,
          |       TO_NUMBER(TO_CHAR(o_orderkey))::BIGINT AS key_num,
          |       TO_DECIMAL(TO_CHAR(o_custkey), 18, 2)::DOUBLE AS cust_dec,
          |       TO_DOUBLE(TO_VARCHAR(o_orderkey)) AS key_dbl
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 300
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Round-8c dialect widening — string surface: SPLIT_PART/STARTSWITH/
    // ENDSWITH/CONTAINS/REGEXP_COUNT/TRANSLATE/REPEAT pass through to
    // Spark's native (codegen'd) functions; INSERT(base,pos,len,repl)
    // rewrites to ANSI OVERLAY; LAST_DAY/ADD_MONTHS cover the month-end
    // date arithmetic Snowflake reports lean on.
    "q165_dialect_strings" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT c_custkey,
          |       SPLIT_PART(c_name, '#', 2) AS cust_num,
          |       STARTSWITH(c_name, 'Customer') AS is_cust,
          |       ENDSWITH(c_name, '1') AS ends1,
          |       CONTAINS(c_mktsegment, 'MACH') AS seg_mach,
          |       REGEXP_COUNT(c_name, '0') AS n_zeros,
          |       INSERT(c_name, 9, 0, '/') AS name_slash,
          |       TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
          |       REPEAT(SUBSTR(c_mktsegment, 1, 2), 2) AS seg2x,
          |       LAST_DAY(TO_DATE('1995-03-17')) AS eom,
          |       ADD_MONTHS(TO_DATE('1995-03-01'), 2)::DATE AS plus2m
          |FROM TPCH.PUBLIC.CUSTOMER
          |WHERE c_custkey <= 150
          |ORDER BY c_custkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // CONDITIONAL_TRUE_EVENT through the translate path: Snowflake's
    // event-numbering window function → SUM(CASE…) with an explicit ROWS
    // frame (the default RANGE frame would lump ORDER-BY peers).
    "q166_conditional_events" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT user_id, event_id,
          |       CONDITIONAL_TRUE_EVENT(event_type = 'purchase')
          |         OVER (PARTITION BY user_id ORDER BY event_id) AS purchase_epoch,
          |       CONDITIONAL_TRUE_EVENT(value > 100)
          |         OVER (PARTITION BY user_id ORDER BY event_id) AS big_epoch
          |FROM EVENTS
          |WHERE user_id < 50
          |ORDER BY user_id, event_id""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Order-independent replica checksum: per-table exact-decimal SUM of a
    // 60-bit per-row hash over a canonical string rendering — compare two
    // replicas (or engines) with ONE number each, no sort, no row
    // transfer; at 100 TB this is a map-side-combined aggregate per
    // replica and a 1-row exchange. Doubles render through DECIMAL(18,2)
    // so both engines print identical digits; the checksum surfaces as a
    // digit string (a DECIMAL(38,0) output column would hit the
    // cross-engine decimal-vs-float dtype trap).
    "q177_replica_checksum" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      def sumHash(expr: String) =
        s"""CAST(SUM(CAST(CONV(SUBSTRING(MD5($expr), 1, 15), 16, 10)
           |  AS DECIMAL(38,0))) AS STRING)""".stripMargin
      // fanOut, SQL form: per-row MD5+CONV+decimal work dominates the scan,
      // and the one-row-group fixture scan would otherwise run each table's
      // whole checksum on a single task. The hint engages only when the
      // biggest scan is narrower than the session's parallelism — on a real
      // multi-file corpus (the 100 TB case) it is absent and the plan is
      // unchanged. The checksum SUM is an exact decimal, so the added
      // round-robin exchange cannot perturb the result.
      val fan =
        if (t(s, dir, "lineitem").queryExecution.toRdd.getNumPartitions <
            s.sparkContext.defaultParallelism)
          s"/*+ REPARTITION(${s.sparkContext.defaultParallelism}) */ "
        else ""
      s.sql(
        s"""SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
           |  ${sumHash("CONCAT_WS('|', c_custkey, c_name, c_nationkey, " +
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING), c_mktsegment)")}
           |  AS checksum
           |FROM (SELECT ${fan}c_custkey, c_name, c_nationkey, c_acctbal,
           |        c_mktsegment FROM customer)
           |UNION ALL
           |SELECT 'orders', COUNT(*),
           |  ${sumHash("CONCAT_WS('|', o_orderkey, o_custkey, o_orderstatus, " +
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), " +
            "CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority)")}
           |FROM (SELECT ${fan}o_orderkey, o_custkey, o_orderstatus,
           |        o_totalprice, o_orderdate, o_orderpriority FROM orders)
           |UNION ALL
           |SELECT 'lineitem', COUNT(*),
           |  ${sumHash("CONCAT_WS('|', l_orderkey, l_linenumber, l_partkey, " +
            "l_suppkey, CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING), " +
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING), " +
            "l_returnflag, l_linestatus)")}
           |FROM (SELECT ${fan}l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |        l_quantity, l_extendedprice, l_returnflag, l_linestatus
           |      FROM lineitem)
           |ORDER BY tbl""".stripMargin)
    },

    // IGNORE NULLS window family through the translate path (Snowflake's
    // and Spark's trailing `IGNORE NULLS` coincide, so this is a
    // pass-through parity claim): LOCF carry-forward (last purchase so
    // far), first/second purchase via full-frame FIRST/NTH_VALUE. Values
    // pass through untouched — no arithmetic to drift.
    "q180_window_ignore_nulls" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT user_id, event_id,
          |       LAST_VALUE(pval) IGNORE NULLS OVER (
          |         PARTITION BY user_id ORDER BY event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase,
          |       FIRST_VALUE(pval) IGNORE NULLS OVER (
          |         PARTITION BY user_id ORDER BY event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_purchase,
          |       NTH_VALUE(pval, 2) IGNORE NULLS OVER (
          |         PARTITION BY user_id ORDER BY event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_purchase
          |FROM (SELECT user_id, event_id,
          |        IFF(event_type = 'purchase', value, NULL) AS pval
          |      FROM EVENTS WHERE user_id < 40) e
          |ORDER BY user_id, event_id""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // ROLLUP hierarchy totals: region → nation → grand total in ONE pass
    // (Catalyst expands grouping sets inside the aggregate, no re-scan per
    // level). GROUPING() flags disambiguate NULL-as-total from NULL data.
    "q175_rollup_totals" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT r_name, n_name,
          |  GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation,
          |  COUNT(*) AS n_custs,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
          |FROM customer
          |JOIN nation ON n_nationkey = c_nationkey
          |JOIN region ON r_regionkey = n_regionkey
          |GROUP BY ROLLUP(r_name, n_name)
          |ORDER BY g_region, g_nation,
          |  COALESCE(r_name, ''), COALESCE(n_name, '')""".stripMargin)
    },

    // Rolling 7-day revenue per customer: a NUMERIC RANGE frame over the
    // epoch-day order key — the frame bound is data-valued, so Spark's
    // window reader walks a sliding aggregate, never a per-row re-scan.
    "q176_rolling_revenue" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
          |    PARTITION BY o_custkey
          |    ORDER BY DATEDIFF(CAST(o_orderdate AS DATE), DATE '1992-01-01')
          |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    AS rev_7d,
          |  o_orderkey
          |FROM orders
          |WHERE o_custkey < 100
          |ORDER BY o_custkey, od, o_orderkey""".stripMargin)
    },

    // Snowflake PIVOT through the translate path: the dialect aliases each
    // IN literal so Spark's pivot column names match the contract
    // (unquoted literal text). MIN is the null-consistent pivot aggregate:
    // an absent (nation, segment) combo is NULL in Spark's pivot AND in
    // the oracle's CASE-aggregation replay (COUNT would read 0 there).
    "q172_dialect_pivot" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT * FROM (
          |  SELECT c_nationkey, c_mktsegment, c_custkey
          |  FROM TPCH.PUBLIC.CUSTOMER)
          |PIVOT (MIN(c_custkey) FOR c_mktsegment
          |       IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY'))
          |ORDER BY c_nationkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Snowflake UNPIVOT passes through verbatim (the syntaxes coincide);
    // the key column carries the value-column name as written. Value
    // columns pre-cast to one type — both engines require it.
    "q173_dialect_unpivot" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT p_partkey, metric, val FROM (
          |  SELECT p_partkey, p_size::DOUBLE AS p_size, p_retailprice
          |  FROM TPCH.PUBLIC.PART WHERE p_partkey < 100)
          |UNPIVOT (val FOR metric IN (p_size, p_retailprice))
          |ORDER BY p_partkey, metric""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // TPC-H Q13 shape (custdist): order-count distribution per customer.
    // Spark-first formulation: pre-aggregate the fact table to one row per
    // customer BEFORE joining the dimension — the map-side combine shrinks
    // the shuffle to |customers| rows, where the naive left-join-then-
    // group shape shuffles every order row against the customer key.
    "q168_custdist" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val counts = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      cust.join(counts, cust("c_custkey") === counts("o_custkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q22 shape: uncorrelated scalar AVG subquery + NOT EXISTS anti
    // join (no urgent orders). The average rides the exact-decimal discipline so the filter
    // threshold is bit-identical cross-engine; the anti join broadcasts
    // the distinct custkey set of orders when small, hash-shuffles at
    // scale — either way no fact row survives past the semi-structure.
    "q169_idle_customers" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_nationkey, COUNT(*) AS numcust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
          |FROM customer c
          |WHERE c_acctbal > (
          |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
          |             / COUNT(c_acctbal)
          |    FROM customer WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          |      AND o.o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey
          |ORDER BY c_nationkey""".stripMargin)
    },

    // Correlated AVG subquery (TPC-H Q17's shape): orders 1.5× above
    // their OWN customer's average — decorrelates to one per-customer
    // aggregate joined back, the third decorrelation variant beside
    // q167's correlated MIN and q161's scalar HAVING. The average rides
    // the exact-decimal discipline so the 1.5× gate replays bit-for-bit.
    "q181_above_own_average" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
          |FROM orders o
          |WHERE o.o_custkey < 200
          |  AND o.o_totalprice > 1.5 * (
          |    SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
          |             / COUNT(*)
          |    FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin)
    },

    // TPC-H Q2 shape: correlated scalar subquery in WHERE (min unit price
    // per part) — exercises Catalyst's RewriteCorrelatedScalarSubquery
    // into a left-join-on-groupBy plan; the min aggregate pre-shrinks to
    // one row per part before the equality join, so no fact×fact blowup.
    "q167_min_price_supplier" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT DISTINCT p.p_partkey, l.l_suppkey, s2.s_name,
          |       l.l_extendedprice / l.l_quantity AS unit_price
          |FROM part p
          |JOIN lineitem l ON l.l_partkey = p.p_partkey
          |JOIN supplier s2 ON s2.s_suppkey = l.l_suppkey
          |WHERE p.p_size <= 10
          |  AND l.l_extendedprice / l.l_quantity =
          |    (SELECT MIN(l2.l_extendedprice / l2.l_quantity)
          |     FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
          |ORDER BY p_partkey, l_suppkey""".stripMargin)
    },

    "q133_dialect_misc" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """WITH base AS (
          |  SELECT o_orderkey,
          |         DAYNAME(TO_DATE(o_orderdate)) AS dow,
          |         MONTHNAME(TO_DATE(o_orderdate)) AS mon,
          |         SQUARE(MOD(o_custkey, 5) + 1) AS prio_sq,
          |         EQUAL_NULL(o_orderstatus, 'O') AS is_open,
          |         ARRAY_CONTAINS('1', SPLIT(o_orderpriority, '-')) AS has_1,
          |         GET(SPLIT(o_orderpriority, '-'), 0) AS prio_code
          |  FROM TPCH.PUBLIC.ORDERS WHERE o_orderkey < 500)
          |SELECT prio_code, dow,
          |       COUNT(*) AS cnt,
          |       BOOLOR_AGG(is_open) AS any_open,
          |       BOOLAND_AGG(has_1) AS all_has_1,
          |       SUM(prio_sq)::BIGINT AS sum_sq,
          |       MIN(mon) AS first_mon
          |FROM base GROUP BY 1, 2 ORDER BY prio_code, dow""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Ordered-set and statistical aggregates through the translate path:
    // MEDIAN / PERCENTILE_CONT WITHIN GROUP pass through natively,
    // ARRAY_AGG [DISTINCT] WITHIN GROUP rewrites to sorted collect_set/
    // collect_list (asc and desc), ARRAY_TO_STRING renames to ARRAY_JOIN,
    // MONTHS_BETWEEN on month-aligned bounds stays integral so the oracle
    // replays it as an exact month diff.
    "q122_dialect_aggs" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderpriority,
          |       MEDIAN(o_totalprice::DOUBLE) AS med_price,
          |       PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice::DOUBLE) AS q1_price,
          |       ARRAY_TO_STRING(ARRAY_AGG(DISTINCT o_orderstatus)
          |                         WITHIN GROUP (ORDER BY o_orderstatus), ',') AS statuses,
          |       ARRAY_TO_STRING(ARRAY_AGG(TO_VARCHAR(o_orderkey))
          |                         WITHIN GROUP (ORDER BY TO_VARCHAR(o_orderkey) DESC), ',') AS keys_desc,
          |       MONTHS_BETWEEN(DATE_TRUNC('month', MAX(TO_DATE(o_orderdate))),
          |                      DATE_TRUNC('month', MIN(TO_DATE(o_orderdate))))::DOUBLE AS span_months
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 200
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // TRY_TO_DATE / TRY_TO_TIMESTAMP — the null-on-parse-failure ingestion
    // surface of a migrated staging view: valid strings parse, garbage
    // degrades to NULL instead of failing the query, end-to-end through
    // the translate path (TRY_TO_NUMBER's sibling discipline, §2.8b).
    "q103_dialect_try_dates" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       TRY_TO_DATE(TO_CHAR(o_orderdate, 'DD/MM/YYYY'), 'DD/MM/YYYY') AS d_ok,
          |       TRY_TO_DATE(o_orderpriority, 'DD/MM/YYYY') AS d_bad,
          |       TRY_TO_TIMESTAMP(TO_CHAR(o_orderdate, 'YYYY-MM-DD') || ' 08:30:00',
          |                        'YYYY-MM-DD HH24:MI:SS') AS ts_ok,
          |       TRY_TO_TIMESTAMP(o_orderstatus) AS ts_bad
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // QUALIFY + ILIKE + non-ISO TO_TIMESTAMP format + TO_CHAR — the
    // Snowflake-isms one view away in any real migration, end-to-end
    // through the translate path.
    "q69_dialect_qualify" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |       TO_CHAR(TO_TIMESTAMP('15/06/2024 08:30', 'DD/MM/YYYY HH24:MI'),
          |               'YYYY-MM-DD HH24:MI:SS') AS batch_ts
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderpriority ILIKE '%urgent%'
          |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
          |                           ORDER BY o_totalprice DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Z-order (Morton) mapping — the multi-dim clustering key for
    // write-side layout: interleaved bits of (custkey, orderkey), checked
    // bit-for-bit against the oracle's integer arithmetic.
    "q88_zorder" -> { (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .withColumn("zval",
          graft.operators.ZOrder.zValue(Seq("o_custkey", "o_orderkey"), bits = 16))
        .orderBy(col("o_orderkey"))
    },

    // Global row numbering at scale: range-partition + parallel sorts +
    // zipWithIndex prefix offsets — identical numbers to
    // ROW_NUMBER() OVER (ORDER BY pk) without planning a single-task
    // window sort (the formulation that dies at 100 TB).
    "q87_global_rownum" -> { (s, dir) =>
      graft.operators.GlobalIndex.withRowNumbers(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        Seq("o_orderkey"))
        .orderBy(col("rn"))
    },

    // Numeric TO_CHAR masks (round-9): the [FM][$] 9/0 digit-slot family
    // through translate — grouped currency, FM (no blank pad), zero-pad,
    // and plain grouping, each a different branch of translateNumericMask.
    "q183_dialect_tochar_masks" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       TO_CHAR(o_totalprice, '$9,999,999.99') AS price_usd,
          |       TO_CHAR(o_totalprice, 'FM9,999,999.99') AS price_fm,
          |       TO_CHAR(o_orderkey, '00000000') AS key_padded,
          |       TO_CHAR(o_custkey, '99,999') AS cust_grouped
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Numeric TO_CHAR sign masks (round-10): the S/MI family financial
    // exports lean on — leading S (explicit +/-), trailing MI (minus or
    // space), FM…MI (minus or nothing), trailing S, and S composed with
    // $-and-grouping. The negated-price column exercises every negative
    // branch on a fixture whose amounts are all positive.
    "q188_dialect_tochar_signs" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       TO_CHAR(o_totalprice, 'S9,999,999.99') AS price_signed,
          |       TO_CHAR(o_totalprice, '9,999,999.99MI') AS price_mi,
          |       TO_CHAR(0 - o_totalprice, 'FM9,999,999.99MI') AS neg_fm_mi,
          |       TO_CHAR(0 - o_totalprice, 'S$9,999,999.99') AS neg_usd_signed,
          |       TO_CHAR(o_custkey, '999999S') AS cust_trailing
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Hex TO_CHAR masks (round-10): X-family — plain (blank-padded),
    // FM (bare), leading-zero-padded, and the Oracle '#' fill a negative
    // value forces (hex has no sign rendering). Spark HEX(BIGINT) and
    // DuckDB to_hex(BIGINT) agree exactly, so every branch hash-replays.
    "q189_dialect_tochar_hex" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT o_orderkey,
          |       TO_CHAR(o_orderkey, 'XXXXXX') AS key_hex,
          |       TO_CHAR(o_orderkey, 'FMXXXX') AS key_hex_fm,
          |       TO_CHAR(o_orderkey, '0XXXXX') AS key_hex_zp,
          |       TO_CHAR(0 - o_orderkey, 'XXXX') AS neg_hex
          |FROM TPCH.PUBLIC.ORDERS
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    // Manifest catalog (round-11, sources.Manifest): the row-count /
    // key-range question answered FROM FILE-LEVEL STATS — the data-lake
    // analog of the reference's INFORMATION_SCHEMA reads (S5/S9) at
    // beyond-driver-listing scale. The manifest is built once from the
    // fixture here (bootstrap path); the oracle recomputes the same
    // answers from the data directly, so a stats/data divergence fails
    // the hash.
    "q190_manifest_stats" -> { (s, dir) =>
      graft.sources.Manifest.build(s, dir, "orders", "o_orderdate")
        .agg(
          sum(col("rows")).as("rows_total"),
          min(col("mins.o_orderdate")).cast("string").as("first_date"),
          max(col("maxs.o_orderdate")).cast("string").as("last_date"))
    },

    // Manifest-pruned READ (round-11): a manifest-backed read filtered by a
    // key range — ManifestPruneRule opens only the files whose zone maps
    // overlap it, and the Filter re-applies at row level (file zone maps
    // are coarser than rows). The oracle recomputes from the raw table, so
    // both the pruning and the re-filter must be exactly lossless to
    // hash-match.
    "q191_manifest_pruned_read" -> { (s, dir) =>
      // per-process + per-fixture path: two concurrent harness sessions on
      // one host must not race overwrite-vs-read on a shared constant
      val mp = scratchManifest("q191", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders", "o_orderdate"), mp)
      }
      graft.sources.ManifestSql.readTable(s, dir, "orders", mp)
        .filter(col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("decimal(18,2)").cast("string")
            .as("sum_price"))
    },

    // Multi-column zone maps (round-12): the manifest carries TYPED min/max
    // structs for N key columns, so a conjunction prunes on both — the
    // Z-order layout's reason to exist — and the numeric o_custkey bound is
    // compared numerically (round-11 advice: the old string-cast zone map
    // would have placed custkey 90 above 200 lexicographically and pruned
    // overlapping files away). Both bounds re-apply at row level; the
    // oracle recomputes from the raw table.
    "q192_manifest_multikey_read" -> { (s, dir) =>
      val mp = scratchManifest("q192", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders",
            Seq("o_orderdate", "o_custkey")), mp)
      }
      graft.sources.ManifestSql.readTable(s, dir, "orders", mp)
        .filter(col("o_orderdate").between("1995-01-01", "1996-12-31") &&
          col("o_custkey").between(10L, 500L))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("decimal(18,2)").cast("string")
            .as("sum_price"))
    },

    // SQL-surface manifest pruning (round-12, sources.ManifestSql): the
    // same pruned read as q192, but driven through spark.sql over a
    // registered manifest-backed view — the optimizer rule extracts the
    // WHERE bounds, consults the manifest, and swaps in the surviving file
    // set (ManifestSqlSpec pins the file count; this oracle pins that the
    // rewrite is lossless cross-engine).
    "q193_manifest_sql_read" -> { (s, dir) =>
      val mp = scratchManifest("q193", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders",
            Seq("o_orderdate", "o_custkey")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_manifested")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS STRING) AS sum_price
          |FROM orders_manifested
          |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
          |  AND o_custkey >= 100""".stripMargin)
    },

    // Widened SQL-surface pruning (round-13, verdict item 1): the two
    // predicate shapes translated views actually emit that round 12's rule
    // declined — an OR of two prunable key ranges (union of the branches'
    // file sets) and a comparison whose typed attribute Catalyst wraps in
    // a Cast (o_custkey BIGINT vs the fractional literal plans as
    // Cast(o_custkey AS DECIMAL) <= 800.5; the rule prunes through any
    // monotone cast by casting the manifest's native min/max the same
    // way). The oracle recomputes from the raw table, so a file either
    // branch or the cast bound wrongly drops breaks count and sum alike.
    "q194_manifest_or_cast_read" -> { (s, dir) =>
      val mp = scratchManifest("q194", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders",
            Seq("o_orderdate", "o_custkey")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_m_orcast")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS STRING) AS sum_price
          |FROM orders_m_orcast
          |WHERE (o_orderdate BETWEEN '1993-01-01' AND '1993-06-30'
          |       OR o_orderdate BETWEEN '1997-01-01' AND '1997-06-30')
          |  AND o_custkey <= 800.5""".stripMargin)
    },

    // Monotone FUNCTION-wrapper pruning (round-13 verdict item 1): the
    // predicate shapes translated views emit constantly — `YEAR(ts) = y`
    // (analyzed as Year(Cast(ts AS DATE))) and a DATE_TRUNC month bound —
    // which round 13's rule declined, silently scanning every file. The
    // rule replays the same monotone wrapper over the manifest's native
    // min/max (sound because monotone f keeps f(min) ≤ f(r) ≤ f(max));
    // the oracle recomputes from the raw table, so a file either wrapped
    // branch wrongly drops breaks count and sum alike. ManifestSqlSpec
    // pins the per-shape scanned-file counts; this pins losslessness
    // cross-engine.
    "q195_manifest_fnwrap_read" -> { (s, dir) =>
      val mp = scratchManifest("q195", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders", Seq("o_orderdate")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_m_fnwrap")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS STRING) AS sum_price
          |FROM orders_m_fnwrap
          |WHERE YEAR(o_orderdate) = 1995
          |   OR DATE_TRUNC('month', o_orderdate)
          |        = TIMESTAMP '1997-03-01 00:00:00'""".stripMargin)
    },

    // Runtime join-driven file skipping (round 14, ManifestJoinPruneRule
    // — the zone-map analog of dynamic partition pruning): a star query
    // with NO literal bound on the fact table, where the only selectivity
    // lives on the broadcast-small dim side. The rule executes the dim's
    // distinct join keys at planning time and prunes the fact's files
    // through the manifest before the join runs. The oracle recomputes
    // the same join raw in DuckDB, so a fact file wrongly pruned by the
    // runtime key set breaks count and sum alike; ManifestSqlSpec pins
    // the scanned-file counts and every soundness decline.
    "q197_manifest_join_prune_read" -> { (s, dir) =>
      val mp = scratchManifest("q197", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders", Seq("o_custkey")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_m_joinprune")
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT count(*) AS n_rows,
          |  CAST(CAST(sum(o.o_totalprice) AS DECIMAL(18,2)) AS STRING) AS sum_price
          |FROM orders_m_joinprune o
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |WHERE c.c_acctbal > 9000""".stripMargin)
    },

    // Manifest metadata-aggregates (round 15, ManifestAggRule): a global
    // COUNT(*)/COUNT(key)/MIN(key)/MAX(key) over a manifest-backed view is
    // answered entirely from the catalog's per-file stats — zero data
    // files opened — when the manifest provably catalogs exactly the
    // relation's files (the Iceberg-style rewrite; the reference answers
    // the same question from INFORMATION_SCHEMA at catalog speed,
    // discovery.py:348-357). The oracle recomputes all six values from
    // the raw table, so a wrong row count, a missed null, or a stats/data
    // divergence breaks the hash; ManifestSqlSpec pins the zero-job,
    // zero-scan plan shape.
    "q198_manifest_meta_agg" -> { (s, dir) =>
      val mp = scratchManifest("q198", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders",
            Seq("o_orderdate", "o_custkey")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_m_metaagg")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  count(o_custkey) AS n_cust,
          |  CAST(min(o_orderdate) AS STRING) AS first_date,
          |  CAST(max(o_orderdate) AS STRING) AS last_date,
          |  CAST(min(o_custkey) AS STRING) AS min_cust,
          |  CAST(max(o_custkey) AS STRING) AS max_cust
          |FROM orders_m_metaagg""".stripMargin)
    },

    // Top-k file pruning (round 15, ManifestTopKRule): ORDER BY key
    // LIMIT n over a manifest-backed view scans only the files that can
    // possibly hold a top-n row — per-file (min, rows, nulls) guarantees
    // accumulate until n is covered, and every file provably past that
    // threshold skips. The "latest N events" dashboard shape that
    // otherwise full-scans a fact table to return 100 rows. The oracle
    // recomputes the same top-100 raw (unique o_orderkey tiebreak makes
    // the row set deterministic), so a wrongly-skipped file breaks the
    // hash; ManifestSqlSpec pins the scanned-file counts and the NULL
    // placement / filter / cap declines.
    "q199_manifest_topk_read" -> { (s, dir) =>
      val mp = scratchManifest("q199", dir)
      // fixture, not operator: build the scratch layout once per process
      // (the q200-q205 discipline) - reps time the pruned read, not the
      // manifest construction
      buildOnce(mp) {
        graft.sources.Manifest.write(
          graft.sources.Manifest.build(s, dir, "orders",
            Seq("o_orderdate", "o_custkey")), mp)
      }
      graft.sources.ManifestSql.register(s, dir, "orders", mp, "orders_m_topk")
      s.sql(
        """SELECT o_orderkey, CAST(o_orderdate AS STRING) AS od, o_custkey
          |FROM orders_m_topk
          |ORDER BY o_orderdate DESC, o_orderkey
          |LIMIT 100""".stripMargin)
    },

    // PARTIAL-coverage hybrid metadata aggregates (round 15): real
    // predicates rarely align with file boundaries, so the pure stats
    // answer (q198) covers only the aligned case. Here orders is laid
    // out range-partitioned on the date key (8 files), and a range whose
    // endpoints land INSIDE two boundary files is aggregated: covered
    // files answer from the manifest stats, ONLY the straddled boundary
    // files are scanned, and the two partial rows re-aggregate. The
    // oracle recomputes count/min/max raw, so a missed boundary row or a
    // double-counted covered file breaks the hash; ManifestSqlSpec pins
    // the scanned-file counts.
    "q200_manifest_hybrid_agg" -> { (s, dir) =>
      val scratch = scratchManifest("q200data", dir)
      val mp = scratchManifest("q200manifest", dir)
      buildOnce(scratch) {
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_orderdate"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_hybrid")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  CAST(min(o_orderdate) AS STRING) AS lo,
          |  CAST(max(o_orderdate) AS STRING) AS hi
          |FROM orders_m_hybrid
          |WHERE o_orderdate >= DATE '1994-03-15'
          |  AND o_orderdate <= DATE '1997-09-20'""".stripMargin)
    },

    // Catalog-speed SUM fingerprints (round 16, per-file sums in the
    // manifest): the reference's heaviest repeated validation query —
    // validator layer 4's aggregate fingerprint (validator.py:326-405:
    // COUNT + SUM over a numeric column) — answered from per-file sums
    // recorded at write time. The range straddles two file boundaries, so
    // the hybrid path runs: covered files contribute their recorded sums,
    // ONLY the two boundary files scan, and the two partial rows
    // re-aggregate. The oracle recomputes raw in DuckDB, so a wrong
    // per-file sum, a miscombined leg, or a boundary row lost breaks the
    // hash; ManifestSqlSpec pins the zero-scan aligned case and the
    // boundary-only scan counts.
    "q201_manifest_sum_fingerprint" -> { (s, dir) =>
      val scratch = scratchManifest("q201data", dir)
      val mp = scratchManifest("q201manifest", dir)
      buildOnce(scratch) {
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_orderdate", "o_custkey"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_sumfp")
      s.sql(
        """SELECT count(*) AS n_rows,
          |  sum(o_custkey) AS sum_cust,
          |  CAST(min(o_orderdate) AS STRING) AS lo,
          |  CAST(max(o_orderdate) AS STRING) AS hi
          |FROM orders_m_sumfp
          |WHERE o_orderdate >= DATE '1993-06-10'
          |  AND o_orderdate <= DATE '1996-11-25'""".stripMargin)
    },

    // GROUP BY metadata aggregates (round 16): per-group COUNT/SUM/MIN/MAX
    // from stats when every file is single-valued on the group key — the
    // reference's layer-2 validation shape (per-date partition counts,
    // validator.py:572-592) at catalog speed. The scratch layout writes
    // one file per order-year (single-valued by construction) plus one
    // MIXED file holding the last two years: aligned years answer from
    // per-file stats, only the mixed file aggregates in the scan leg, and
    // the final combine merges the legs per group. The oracle recomputes
    // per-year counts raw in DuckDB, so a group lost, double-counted, or
    // mis-merged between legs breaks the hash; ManifestSqlSpec pins the
    // scanned-file counts (0 aligned, mixed-only here).
    "q202_manifest_groupby_agg" -> { (s, dir) =>
      val scratch = scratchManifest("q202data", dir)
      val mp = scratchManifest("q202manifest", dir)
      buildOnce(scratch) {
        val o = t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")).cast("long"))
          .select("o_year", "o_custkey", "o_totalprice")
        // derive the year split from the fixture (its date range has
        // moved across driver regenerations): every year but the last two
        // gets single-valued files — ONE pass via partitionBy on a COPY
        // column (partition values live in dir names; the real o_year
        // stays in the footers, single-valued per directory by
        // construction) — and the last two land MIXED in one file
        val years = o.select("o_year").distinct()
          .collect().map(_.getLong(0)).sorted
        val (aligned, mixed) = years.splitAt(math.max(1, years.length - 2))
        o.filter(col("o_year") <= aligned.max)
          .withColumn("o_year_part", col("o_year"))
          .repartition(col("o_year"))
          .write.partitionBy("o_year_part")
          .mode("overwrite").parquet(s"$scratch/orders.parquet")
        // the mixed file rides its own sentinel partition value so the
        // directory layout stays uniformly partitioned
        if (mixed.nonEmpty)
          o.filter(col("o_year") >= mixed.min)
            .withColumn("o_year_part", lit(-1L)).coalesce(1)
            .write.partitionBy("o_year_part")
            .mode("append").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_year", "o_custkey"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_grpby")
      s.sql(
        """SELECT o_year, count(*) AS n_rows,
          |  sum(o_custkey) AS sum_cust,
          |  CAST(min(o_custkey) AS STRING) AS min_cust,
          |  CAST(max(o_custkey) AS STRING) AS max_cust
          |FROM orders_m_grpby
          |GROUP BY o_year
          |ORDER BY o_year""".stripMargin)
    },

    // Filter × top-k composition (round 16): `WHERE … ORDER BY key DESC
    // LIMIT n` — the "latest N events since X" dashboard shape — over the
    // range-partitioned layout. The filter's coverage classes drive the
    // guarantee sweep: files the date bound excludes drop, fully-covered
    // files keep their row-count guarantees, the straddled boundary file
    // scans with zero guarantee — so the top-100 reads one or two files
    // instead of the table. The oracle recomputes raw (unique o_orderkey
    // tiebreak keeps the row set deterministic), so a file wrongly
    // skipped under the composed filter breaks the hash; ManifestSqlSpec
    // pins the per-class scanned-file counts.
    "q203_manifest_filter_topk" -> { (s, dir) =>
      val scratch = scratchManifest("q203data", dir)
      val mp = scratchManifest("q203manifest", dir)
      buildOnce(scratch) {
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_orderdate", "o_custkey"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_ftopk")
      s.sql(
        """SELECT o_orderkey, CAST(o_orderdate AS STRING) AS od, o_custkey
          |FROM orders_m_ftopk
          |WHERE o_orderdate >= DATE '1995-06-01'
          |ORDER BY o_orderdate DESC, o_orderkey
          |LIMIT 100""".stripMargin)
    },

    // AVG metadata aggregates (round 17, verdict item 3): AVG is SUM/COUNT
    // over stats the manifest already carries — the rule lowers it to
    // Catalyst's own Average buffer algebra and answers both legs from
    // per-file sums and null counts. The range straddles two file
    // boundaries, so the HYBRID path runs: covered files contribute
    // recorded sums/counts, only the boundary files scan, and the divide
    // combines the re-aggregated legs. avg_price rides the davg
    // discipline (an exact decimal-widened SUM over COUNT — the
    // lossless-cast shape validator layer 4 emits); the oracle recomputes
    // both raw in DuckDB, so a wrong per-file sum, count, or leg combine
    // breaks the hash. ManifestSqlSpec pins the zero-file aligned case.
    "q204_manifest_avg_agg" -> { (s, dir) =>
      val scratch = scratchManifest("q204data", dir)
      val mp = scratchManifest("q204manifest", dir)
      buildOnce(scratch) {
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_orderdate", "o_custkey", "o_totalprice"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_avg")
      s.sql(
        s"""SELECT count(*) AS n_rows,
           |  avg(o_custkey) AS avg_cust,
           |  ${Q.davgSql("o_totalprice")} AS avg_price
           |FROM orders_m_avg
           |WHERE o_orderdate >= DATE '1993-06-10'
           |  AND o_orderdate <= DATE '1996-11-25'""".stripMargin)
    },

    // Explicit NULLS placements in top-k file pruning (round 17, verdict
    // item 4): `ORDER BY key ASC NULLS LAST LIMIT n` under a filter used
    // to decline outright — the guarantee sweep now swaps the null-region
    // and threshold roles per placement. The scratch layout nulls the
    // sort key on a deterministic keyslice before range-partitioning, so
    // null handling is real, and the filter excludes them (a comparison
    // is null-rejecting) while the sweep composes coverage classes with
    // the ASC threshold. The oracle recomputes raw with the same
    // placement spelled, so a file wrongly skipped under the composed
    // sweep breaks the hash; ManifestSqlSpec pins all four placements'
    // scanned-file counts including null-region mode.
    "q205_manifest_nulls_topk" -> { (s, dir) =>
      val scratch = scratchManifest("q205data", dir)
      val mp = scratchManifest("q205manifest", dir)
      buildOnce(scratch) {
        t(s, dir, "orders")
          .withColumn("o_orderdate",
            when(col("o_orderkey") % 97 === 0, lit(null)
              .cast("date")).otherwise(col("o_orderdate")))
          .repartitionByRange(8, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
        graft.sources.Manifest.update(s, scratch, "orders",
          Seq("o_orderdate", "o_custkey"), mp)
      }
      graft.sources.ManifestSql.register(s, scratch, "orders", mp,
        "orders_m_nulltopk")
      s.sql(
        """SELECT o_orderkey, CAST(o_orderdate AS STRING) AS od, o_custkey
          |FROM orders_m_nulltopk
          |WHERE o_orderdate <= DATE '1997-06-01'
          |ORDER BY o_orderdate ASC NULLS LAST, o_orderkey
          |LIMIT 100""".stripMargin)
    },

    // DECODE / REGEXP_SUBSTR / OBJECT_CONSTRUCT — the remaining high-
    // frequency Snowflake-isms, end-to-end through the translate path.
    "q84_dialect_decode" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val snowflakeSql =
        """SELECT p_partkey,
          |       DECODE(p_size, 1, 'one', 2, 'two', 'many') AS size_word,
          |       REGEXP_SUBSTR(p_type, '[A-Z]+') AS first_word,
          |       OBJECT_CONSTRUCT('brand', p_brand, 'sz', p_size) AS obj
          |FROM TPCH.PUBLIC.PART
          |WHERE p_partkey < 200
          |ORDER BY p_partkey""".stripMargin
      s.sql(SnowflakeDialect.translate(snowflakeSql))
    },

    "q15_cast_projection" -> { (s, dir) =>
      t(s, dir, "nation")
        .select(
          col("n_nationkey").cast("string").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("string").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    "q16_pk_sample_check" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val sample = o.orderBy(col("o_orderkey")).limit(100)
        .select(col("o_orderkey").as("pk"), col("o_totalprice").as("src_price"))
      val target = o.select(col("o_orderkey").as("pk"), col("o_totalprice").as("tgt_price"))
      sample.join(target, Seq("pk"), "left_outer")
        .select(col("pk"), col("src_price"), col("tgt_price"),
          (col("src_price") === col("tgt_price")).as("is_match"))
        .orderBy(col("pk"))
    })

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_extendedprice")} AS avg_price,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate < TIMESTAMP '1998-09-03'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_partition_counts" ->
      """SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY d""".stripMargin,

    "q03_null_counts" ->
      """SELECT
        |  COUNT(*) - COUNT(l_orderkey) AS n_l_orderkey,
        |  COUNT(*) - COUNT(l_partkey) AS n_l_partkey,
        |  COUNT(*) - COUNT(l_suppkey) AS n_l_suppkey,
        |  COUNT(*) - COUNT(l_linenumber) AS n_l_linenumber,
        |  COUNT(*) - COUNT(l_quantity) AS n_l_quantity,
        |  COUNT(*) - COUNT(l_extendedprice) AS n_l_extendedprice,
        |  COUNT(*) - COUNT(l_discount) AS n_l_discount,
        |  COUNT(*) - COUNT(l_tax) AS n_l_tax,
        |  COUNT(*) - COUNT(l_returnflag) AS n_l_returnflag,
        |  COUNT(*) - COUNT(l_linestatus) AS n_l_linestatus,
        |  COUNT(*) - COUNT(l_shipdate) AS n_l_shipdate
        |FROM lineitem""".stripMargin,

    "q04_min_max" ->
      """SELECT
        |  MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey,
        |  MIN(o_totalprice) AS min_o_totalprice, MAX(o_totalprice) AS max_o_totalprice,
        |  MIN(CAST(o_orderdate AS DATE)) AS min_o_orderdate,
        |  MAX(CAST(o_orderdate AS DATE)) AS max_o_orderdate
        |FROM orders""".stripMargin,

    "q05_agg_fingerprint" ->
      s"""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS d,
         |  ${dsumSql("l_quantity")} AS sum_quantity,
         |  ${dsumSql("l_extendedprice")} AS sum_extendedprice,
         |  ${dsumSql("l_discount")} AS sum_discount,
         |  ${dsumSql("l_tax")} AS sum_tax,
         |  COUNT(*) AS cnt
         |FROM lineitem GROUP BY 1 ORDER BY d""".stripMargin,

    "q06_join_segment_revenue" ->
      s"""SELECT c_mktsegment AS segment, COUNT(*) AS cnt,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin,

    "q07_join_nation_revenue" ->
      s"""SELECT r_name AS region, n_name AS nation,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  COUNT(*) AS cnt
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2 ORDER BY region, nation""".stripMargin,

    "q08_anti_join_customers" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q09_full_outer_recon" ->
      """WITH lm AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS d, COUNT(*) AS l_cnt
        |  FROM lineitem GROUP BY 1),
        |om AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS d, COUNT(*) AS o_cnt
        |  FROM orders GROUP BY 1)
        |SELECT COALESCE(lm.d, om.d) AS d,
        |  COALESCE(l_cnt, 0) AS l_cnt, COALESCE(o_cnt, 0) AS o_cnt,
        |  COALESCE(l_cnt, 0) - COALESCE(o_cnt, 0) AS diff
        |FROM lm FULL OUTER JOIN om ON lm.d = om.d
        |ORDER BY d""".stripMargin,

    "q10_topk_customers" ->
      s"""SELECT c_custkey, c_name,
         |  ${dsumSql("o_totalprice")} AS total_spend, COUNT(*) AS n_orders
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey LIMIT 10""".stripMargin,

    "q11_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q12_set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,

    "q13_explode_words" ->
      """SELECT u.word AS word, COUNT(*) AS cnt
        |FROM part, UNNEST(string_split(p_type, ' ')) AS u(word)
        |GROUP BY 1 ORDER BY word""".stripMargin,

    "q67_market_share" ->
      s"""WITH rev AS (
         |  SELECT EXTRACT(year FROM o_orderdate) AS yr, n_name AS nation,
         |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2)
         |SELECT yr, nation, revenue,
         |  revenue / CAST(SUM(CAST(revenue AS DECIMAL(30,6)))
         |    OVER (PARTITION BY yr) AS DOUBLE) AS share
         |FROM rev ORDER BY yr, nation""".stripMargin,

    "q63_dialect_scalars" ->
      """SELECT lpad(o_orderstatus, 3, 'x') AS st,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mth,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  COALESCE(NULL, o_orderpriority) AS prio,
        |  COUNT(*) AS cnt
        |FROM orders WHERE o_orderkey < 1000
        |GROUP BY 1, 2, 3, 4 ORDER BY st, mth, days_since, prio""".stripMargin,

    "q99_fuzzy_match" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |l AS (SELECT id AS a_id, name AS a_name FROM c WHERE id < 200),
        |r AS (SELECT id AS b_id, name AS b_name FROM c),
        |cand AS (
        |  SELECT a_id, a_name, b_id, b_name
        |  FROM l JOIN r ON length(a_name) = length(b_name)
        |    AND substr(a_name, 1, length(a_name) // 2) = substr(b_name, 1, length(b_name) // 2)
        |  UNION ALL
        |  SELECT a_id, a_name, b_id, b_name
        |  FROM l JOIN r ON length(a_name) = length(b_name)
        |    AND substr(a_name, length(a_name) // 2 + 1) = substr(b_name, length(b_name) // 2 + 1))
        |SELECT DISTINCT a_id, b_id, levenshtein(a_name, b_name) AS dist
        |FROM cand
        |WHERE a_id <> b_id AND levenshtein(a_name, b_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "q94_dialect_dateadd" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        |  CAST(COALESCE(TRY_CAST(substr(o_orderpriority, 1, 1) AS DECIMAL(38,0)), 0) AS DOUBLE) AS prio_num,
        |  CAST(NULLIF(strpos(o_orderpriority, '-'), 0) AS INT) AS dash_at,
        |  CAST(length(o_orderstatus) AS INT) AS st_len
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    // One SELECT per FK edge, unioned; orphans via LEFT JOIN NULL probe.
    "q148_fk_orphans" -> {
      def edge(name: String, child: String, ckey: String,
               parent: String, pkey: String) =
        s"""SELECT '$name' AS fk_edge, COUNT(*) AS n_child,
           |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_orphans
           |FROM $child c
           |LEFT JOIN (SELECT DISTINCT CAST($pkey AS BIGINT) AS k FROM $parent) p
           |  ON p.k = CAST(c.$ckey AS BIGINT)""".stripMargin
      Seq(
        edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk_edge")
    },

    // Identical IEEE product tree per line, dsum per order, same 1-cent
    // gate; NULL computed (no lines) falls to the mismatch arm.
    "q149_order_consistency" ->
      s"""WITH comp AS (
         |  SELECT l_orderkey AS o_orderkey,
         |    ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}
         |      AS computed
         |  FROM lineitem GROUP BY 1),
         |m AS (
         |  SELECT CASE WHEN abs(comp.computed - o.o_totalprice) <= 0.01
         |              THEN 0 ELSE 1 END AS mismatch
         |  FROM orders o LEFT JOIN comp ON comp.o_orderkey = o.o_orderkey)
         |SELECT COUNT(*) AS n_orders,
         |  CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
         |  CAST(SUM(mismatch) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS mismatch_share
         |FROM m""".stripMargin,

    // Interval arithmetic instead of TIMESTAMPADD; date_diff boundary
    // counts agree with Spark's complete-unit counts only because every
    // operand is DATE-aligned (the query restricts itself to that case).
    // due_date uses DATE + 30 (integer days), NOT `+ INTERVAL 30 DAY`:
    // DuckDB compares intervals calendar-normalized (30 DAY == 1 MONTH),
    // so its subexpression elimination would merge this addition with the
    // `+ INTERVAL 1 MONTH` below and silently corrupt whichever is
    // listed second.
    "q160_dialect_datetime" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(o_orderdate AS DATE) + INTERVAL 12 HOUR AS half_day,
        |  date_diff('day', CAST(o_orderdate AS DATE),
        |            CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH) AS days_in_window,
        |  date_diff('hour', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS hours_since,
        |  CAST(CAST(CAST(o_orderkey AS VARCHAR) AS DECIMAL(38,0)) AS BIGINT) AS key_num,
        |  CAST(CAST(CAST(o_custkey AS VARCHAR) AS DECIMAL(18,2)) AS DOUBLE) AS cust_dec,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) AS key_dbl
        |FROM orders
        |WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,

    // DuckDB's own string surface: starts_with/ends_with/contains are
    // native; REGEXP_COUNT via len(regexp_extract_all); OVERLAY replayed
    // as substr splice; ADD_MONTHS as INTERVAL arithmetic (day-1 anchor,
    // so no month-end clamping divergence).
    "q165_dialect_strings" ->
      """SELECT c_custkey,
        |  split_part(c_name, '#', 2) AS cust_num,
        |  starts_with(c_name, 'Customer') AS is_cust,
        |  ends_with(c_name, '1') AS ends1,
        |  contains(c_mktsegment, 'MACH') AS seg_mach,
        |  len(regexp_extract_all(c_name, '0')) AS n_zeros,
        |  substr(c_name, 1, 8) || '/' || substr(c_name, 9) AS name_slash,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
        |  repeat(substr(c_mktsegment, 1, 2), 2) AS seg2x,
        |  last_day(DATE '1995-03-17') AS eom,
        |  CAST(DATE '1995-03-01' + INTERVAL 2 MONTH AS DATE) AS plus2m
        |FROM customer
        |WHERE c_custkey <= 150
        |ORDER BY c_custkey""".stripMargin,

    // Same canonical rendering, DuckDB's '0x' hex parse; the exact-decimal
    // sum makes the checksum accumulation-order-proof on both engines.
    "q177_replica_checksum" ->
      """SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(('0x' || substr(md5(CONCAT_WS('|', c_custkey, c_name,
        |    c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
        |    c_mktsegment)), 1, 15))::BIGINT AS DECIMAL(38,0))) AS VARCHAR)
        |    AS checksum
        |FROM customer
        |UNION ALL
        |SELECT 'orders', COUNT(*),
        |  CAST(SUM(CAST(('0x' || substr(md5(CONCAT_WS('|', o_orderkey, o_custkey,
        |    o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority)),
        |    1, 15))::BIGINT AS DECIMAL(38,0))) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', COUNT(*),
        |  CAST(SUM(CAST(('0x' || substr(md5(CONCAT_WS('|', l_orderkey,
        |    l_linenumber, l_partkey, l_suppkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
        |    l_returnflag, l_linestatus)), 1, 15))::BIGINT AS DECIMAL(38,0)))
        |    AS VARCHAR)
        |FROM lineitem
        |ORDER BY tbl""".stripMargin,

    // DuckDB spells IGNORE NULLS inside the call parens; same frames.
    "q180_window_ignore_nulls" ->
      """SELECT user_id, event_id,
        |  last_value(pval IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase,
        |  first_value(pval IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_purchase,
        |  nth_value(pval, 2 IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_purchase
        |FROM (SELECT user_id, event_id,
        |        CASE WHEN event_type = 'purchase' THEN value END AS pval
        |      FROM events WHERE user_id < 40) e
        |ORDER BY user_id, event_id""".stripMargin,

    // DuckDB's own ROLLUP + GROUPING; null-free sort keys (Spark default
    // is NULLS FIRST, DuckDB's NULLS LAST — coalesce dodges the disagreement).
    "q175_rollup_totals" ->
      """SELECT r_name, n_name,
        |  GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation,
        |  COUNT(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_region, g_nation,
        |  COALESCE(r_name, ''), COALESCE(n_name, '')""".stripMargin,

    // Same numeric RANGE frame; date_diff spells Spark's DATEDIFF.
    "q176_rolling_revenue" ->
      """SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rev_7d,
        |  o_orderkey
        |FROM orders
        |WHERE o_custkey < 100
        |ORDER BY o_custkey, od, o_orderkey""".stripMargin,

    // CASE-aggregation replay of the pivot; MIN keeps absent combos NULL
    // on both engines.
    "q172_dialect_pivot" ->
      """SELECT c_nationkey,
        |  MIN(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_custkey END)
        |    AS "AUTOMOBILE",
        |  MIN(CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey END)
        |    AS "BUILDING",
        |  MIN(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_custkey END)
        |    AS "MACHINERY"
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // UNION ALL replay of the unpivot, key = column name as written.
    "q173_dialect_unpivot" ->
      """SELECT p_partkey, metric, val FROM (
        |  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
        |  FROM part WHERE p_partkey < 100
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice
        |  FROM part WHERE p_partkey < 100) u
        |ORDER BY p_partkey, metric""".stripMargin,

    // Pre-aggregated replay of the same distribution; COUNT casts keep
    // DuckDB off the HUGEINT path.
    "q168_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c.c_custkey,
        |    CAST(COALESCE(n, 0) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN (
        |    SELECT o_custkey, COUNT(*) AS n FROM orders
        |    WHERE o_orderpriority <> '1-URGENT' GROUP BY 1) t
        |    ON t.o_custkey = c.c_custkey) s
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Identical text modulo dialect: the decimal-sum average makes the
    // comparison threshold bit-identical before the anti join.
    "q169_idle_customers" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
        |             / COUNT(c_acctbal)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // Identical correlated text — DuckDB decorrelates on its own; same
    // decimal-exact average, same single 1.5× double product.
    "q181_above_own_average" ->
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        |FROM orders o
        |WHERE o.o_custkey < 200
        |  AND o.o_totalprice > 1.5 * (
        |    SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |             / COUNT(*)
        |    FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin,

    // Same correlated form — DuckDB decorrelates it itself; the unit
    // price is a single double division, bit-identical in both engines.
    "q167_min_price_supplier" ->
      """SELECT DISTINCT p.p_partkey, l.l_suppkey, s2.s_name,
        |  l.l_extendedprice / l.l_quantity AS unit_price
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s2 ON s2.s_suppkey = l.l_suppkey
        |WHERE p.p_size <= 10
        |  AND l.l_extendedprice / l.l_quantity =
        |    (SELECT MIN(l2.l_extendedprice / l2.l_quantity)
        |     FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey, l.l_suppkey""".stripMargin,

    // Event numbering as an explicit ROWS-framed running sum; CAST to
    // BIGINT keeps DuckDB's HUGEINT window sum off the float path.
    "q166_conditional_events" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS purchase_epoch,
        |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS big_epoch
        |FROM events
        |WHERE user_id < 50
        |ORDER BY user_id, event_id""".stripMargin,

    // Independent DuckDB formulations: % for MOD, list slicing for
    // ARRAY_SLICE, plain list indexing for STRTOK (phones have no empty
    // tokens; index 9 is past the 4 pieces → NULL in both engines), the
    // same decimal-sum/double-quotient tree for the report share.
    "q141_dialect_ext" ->
      """SELECT c_custkey,
        |  CASE WHEN (c_custkey % 3) = 0 THEN 0
        |       ELSE c_nationkey / (c_custkey % 3) END AS d0,
        |  (c_nationkey > 12) AS b1,
        |  string_split(c_name, '#')[2] AS tok2,
        |  string_split(c_name, '#')[9] AS tok_oob,
        |  array_to_string(string_split(c_name, '0')[2:3], ':') AS mid,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) /
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |      OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS share
        |FROM customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin,

    // strftime %a/%b give the same C-locale abbreviated names as Spark's
    // EEE/MMM under Locale.US; IS NOT DISTINCT FROM is DuckDB's <=>.
    "q133_dialect_misc" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    strftime(CAST(o_orderdate AS DATE), '%a') AS dow,
        |    strftime(CAST(o_orderdate AS DATE), '%b') AS mon,
        |    power(MOD(o_custkey, 5) + 1, 2) AS prio_sq,
        |    (o_orderstatus IS NOT DISTINCT FROM 'O') AS is_open,
        |    list_contains(string_split(o_orderpriority, '-'), '1') AS has_1,
        |    string_split(o_orderpriority, '-')[1] AS prio_code
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT prio_code, dow,
        |  COUNT(*) AS cnt,
        |  bool_or(is_open) AS any_open,
        |  bool_and(has_1) AS all_has_1,
        |  CAST(SUM(prio_sq) AS BIGINT) AS sum_sq,
        |  MIN(mon) AS first_mon
        |FROM base GROUP BY 1, 2 ORDER BY prio_code, dow""".stripMargin,

    "q122_dialect_aggs" ->
      """SELECT o_orderpriority,
        |  median(CAST(o_totalprice AS DOUBLE)) AS med_price,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1_price,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR)), 'DESC'), ',') AS keys_desc,
        |  CAST(date_diff('month',
        |    date_trunc('month', MIN(CAST(o_orderdate AS DATE))),
        |    date_trunc('month', MAX(CAST(o_orderdate AS DATE)))) AS DOUBLE) AS span_months
        |FROM orders WHERE o_orderkey < 200
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "q103_dialect_try_dates" ->
      """SELECT o_orderkey,
        |  CAST(try_strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y') AS DATE) AS d_ok,
        |  CAST(try_strptime(o_orderpriority, '%d/%m/%Y') AS DATE) AS d_bad,
        |  try_strptime(strftime(o_orderdate, '%Y-%m-%d') || ' 08:30:00',
        |               '%Y-%m-%d %H:%M:%S') AS ts_ok,
        |  TRY_CAST(o_orderstatus AS TIMESTAMP) AS ts_bad
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    "q14_dialect_iff" ->
      """SELECT o_orderstatus AS status,
        |  CASE WHEN o_totalprice > 150000 THEN 'big' ELSE COALESCE(NULL, 'small') END AS bucket,
        |  COUNT(*) AS cnt
        |FROM orders
        |GROUP BY 1, 2 ORDER BY status, bucket""".stripMargin,

    "q69_dialect_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  strftime(strptime('15/06/2024 08:30', '%d/%m/%Y %H:%M'),
        |           '%Y-%m-%d %H:%M:%S') AS batch_ts
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_orderpriority ILIKE '%urgent%')
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q88_zorder" ->
      s"""SELECT o_orderkey, o_custkey,
         |  ${graft.operators.ZOrder.zValueSql(Seq("o_custkey", "o_orderkey"), bits = 16)} AS zval
         |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q87_global_rownum" ->
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |FROM orders ORDER BY rn""".stripMargin,

    // The twin rounds ONCE (abs::DECIMAL(38,2), matching Spark's
    // CAST(ABS(x) AS DECIMAL(38,2))) and derives BOTH the integer digits
    // and the cents from that same value — round-9 advice: splitting
    // floor(abs) and round(abs*100)%100 disagrees at a carry boundary
    // (99.996 -> Spark '100.00' vs split-twin '99.00'); safe on 2-decimal
    // fixtures only by accident. The plain lpads below assume the fixture
    // fits every mask width (o_totalprice < $1M, keys < 10^8 — same
    // assumption q189 documents); the Spark translation pads
    // non-truncatingly, and q188's twin shows the greatest(length, n)
    // form to use if a wider fixture ever lands here.
    "q183_dialect_tochar_masks" ->
      """SELECT o_orderkey,
        |  lpad(concat(CASE WHEN o_totalprice < 0 THEN '-' ELSE '' END, '$',
        |    format('{:,}', floor(abs(o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |    lpad(((abs(o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0')),
        |    14, ' ') AS price_usd,
        |  concat(CASE WHEN o_totalprice < 0 THEN '-' ELSE '' END,
        |    format('{:,}', floor(abs(o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |    lpad(((abs(o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0'))
        |    AS price_fm,
        |  lpad(concat(CASE WHEN o_orderkey < 0 THEN '-' ELSE '' END,
        |    lpad((abs(o_orderkey)::DECIMAL(38,0))::VARCHAR, 8, '0')), 9, ' ') AS key_padded,
        |  lpad(concat(CASE WHEN o_custkey < 0 THEN '-' ELSE '' END,
        |    format('{:,}', abs(o_custkey)::DECIMAL(38,0)::BIGINT)), 7, ' ') AS cust_grouped
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    // Same one-rounding discipline as q183's twin; sign columns follow the
    // translated composition exactly — leading S pads sign+body to
    // mask-width+1, trailing MI pads the body alone then appends '-'/' ',
    // FM…MI appends '-'/'' unpadded, trailing S appends '+'/'-'. Padding
    // is NON-TRUNCATING like the Spark translation's
    // LPAD(x, GREATEST(LENGTH(x), n)) — plain lpad CUTS a value wider
    // than its mask, so the two engines would silently diverge on an
    // overflow fixture (round-10 advice); the CTE computes each body once
    // so the greatest() sees the same string the pad receives.
    "q188_dialect_tochar_signs" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    concat(CASE WHEN o_totalprice < 0 THEN '-' ELSE '+' END,
        |      format('{:,}', floor(abs(o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |      lpad(((abs(o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0'))
        |      AS signed_body,
        |    concat(
        |      format('{:,}', floor(abs(o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |      lpad(((abs(o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0'))
        |      AS mi_body,
        |    concat(
        |      format('{:,}', floor(abs(0 - o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |      lpad(((abs(0 - o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0'),
        |      CASE WHEN (0 - o_totalprice) < 0 THEN '-' ELSE '' END) AS neg_fm_mi,
        |    concat(CASE WHEN (0 - o_totalprice) < 0 THEN '-' ELSE '+' END, '$',
        |      format('{:,}', floor(abs(0 - o_totalprice)::DECIMAL(38,2))::BIGINT), '.',
        |      lpad(((abs(0 - o_totalprice)::DECIMAL(38,2)*100)::BIGINT % 100)::VARCHAR, 2, '0'))
        |      AS neg_usd_body,
        |    (abs(o_custkey)::DECIMAL(38,0))::VARCHAR AS cust_body,
        |    o_totalprice, o_custkey
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey,
        |  lpad(signed_body, greatest(length(signed_body), 13)::INTEGER, ' ') AS price_signed,
        |  concat(lpad(mi_body, greatest(length(mi_body), 12)::INTEGER, ' '),
        |    CASE WHEN o_totalprice < 0 THEN '-' ELSE ' ' END) AS price_mi,
        |  neg_fm_mi,
        |  lpad(neg_usd_body, greatest(length(neg_usd_body), 14)::INTEGER, ' ') AS neg_usd_signed,
        |  concat(lpad(cust_body, greatest(length(cust_body), 6)::INTEGER, ' '),
        |    CASE WHEN o_custkey < 0 THEN '-' ELSE '+' END) AS cust_trailing
        |FROM b
        |ORDER BY o_orderkey""".stripMargin,

    // The manifest's stats must agree with a direct scan of the data —
    // count and lexicographic date-string extremes (DATE::VARCHAR is
    // 'YYYY-MM-DD' in both engines, so lexicographic = chronological).
    "q190_manifest_stats" ->
      """SELECT count(*) AS rows_total,
        |  CAST(min(o_orderdate) AS VARCHAR) AS first_date,
        |  CAST(max(o_orderdate) AS VARCHAR) AS last_date
        |FROM orders""".stripMargin,

    // The pruned-read twin recomputes from the raw table: any file the
    // manifest pruning wrongly dropped (or any row the re-filter wrongly
    // kept) breaks count and sum alike.
    "q191_manifest_pruned_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'""".stripMargin,

    // Multi-column twin: any file the two-column conjunction wrongly
    // pruned (or kept past the row re-filter) breaks count and sum alike.
    "q192_manifest_multikey_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
        |  AND o_custkey BETWEEN 10 AND 500""".stripMargin,

    // The SQL-surface twin recomputes from the raw table: a file the
    // optimizer rule wrongly pruned breaks count and sum alike.
    "q193_manifest_sql_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
        |  AND o_custkey >= 100""".stripMargin,

    // OR-of-ranges + cast-wrapped-bound twin: recomputed raw, so a file
    // either disjunct branch or the decimal-cast bound wrongly pruned
    // breaks count and sum alike.
    "q194_manifest_or_cast_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders
        |WHERE (o_orderdate BETWEEN '1993-01-01' AND '1993-06-30'
        |       OR o_orderdate BETWEEN '1997-01-01' AND '1997-06-30')
        |  AND o_custkey <= 800.5""".stripMargin,

    // Function-wrapper twin: recomputed raw, so a file the YEAR or
    // DATE_TRUNC zone bound wrongly pruned breaks count and sum alike.
    "q195_manifest_fnwrap_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders
        |WHERE YEAR(o_orderdate) = 1995
        |   OR DATE_TRUNC('month', o_orderdate)
        |        = TIMESTAMP '1997-03-01 00:00:00'""".stripMargin,

    // Join-prune twin: the raw join recomputed — a fact file wrongly
    // dropped by the planning-time dim-key prune breaks count and sum.
    "q197_manifest_join_prune_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(CAST(sum(o.o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_acctbal > 9000""".stripMargin,

    // Metadata-aggregate twin: the raw table recomputed — a row count,
    // null count, or key extreme the manifest stats got wrong breaks the
    // hash (DATE::VARCHAR is 'YYYY-MM-DD' in both engines).
    "q198_manifest_meta_agg" ->
      """SELECT count(*) AS n_rows,
        |  count(o_custkey) AS n_cust,
        |  CAST(min(o_orderdate) AS VARCHAR) AS first_date,
        |  CAST(max(o_orderdate) AS VARCHAR) AS last_date,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_cust,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_cust
        |FROM orders""".stripMargin,

    // Top-k twin: the raw table recomputed — a file the guarantee sweep
    // wrongly skipped drops a late date from the top-100 and breaks the
    // hash (o_orderkey tiebreak keeps the row set deterministic).
    "q199_manifest_topk_read" ->
      """SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od, o_custkey
        |FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    // Hybrid-aggregate twin: the raw table recomputed with the same
    // straddling range — a boundary row the partial-file scan missed or
    // a covered file double-counted breaks all three values.
    "q200_manifest_hybrid_agg" ->
      """SELECT count(*) AS n_rows,
        |  CAST(min(o_orderdate) AS VARCHAR) AS lo,
        |  CAST(max(o_orderdate) AS VARCHAR) AS hi
        |FROM orders
        |WHERE o_orderdate >= DATE '1994-03-15'
        |  AND o_orderdate <= DATE '1997-09-20'""".stripMargin,

    // Sum-fingerprint twin: the raw table recomputed with the same
    // straddling range — a wrong recorded per-file sum, a miscombined
    // hybrid leg, or a lost boundary row breaks the hash (DuckDB sums
    // BIGINT into HUGEINT; the cast realigns the types).
    "q201_manifest_sum_fingerprint" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(min(o_orderdate) AS VARCHAR) AS lo,
        |  CAST(max(o_orderdate) AS VARCHAR) AS hi
        |FROM orders
        |WHERE o_orderdate >= DATE '1993-06-10'
        |  AND o_orderdate <= DATE '1996-11-25'""".stripMargin,

    // Group-by-metadata twin: per-year counts recomputed raw — a group
    // lost to the stats leg, double-counted across legs, or a wrong
    // per-file sum breaks the hash.
    "q202_manifest_groupby_agg" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_cust,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_cust
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Filter-top-k twin: the raw table recomputed with the same bound —
    // a file the composed sweep wrongly skipped drops a late date from
    // the filtered top-100 and breaks the hash.
    "q203_manifest_filter_topk" ->
      """SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od, o_custkey
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-06-01'
        |ORDER BY o_orderdate DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    // AVG-metadata twin: the raw table recomputed with the same
    // straddling range. avg_cust replicates Spark's AVG-over-bigint
    // algebra explicitly (exact sum cast to double over the count —
    // DuckDB's own AVG may use a different accumulation); both operands
    // stay inside double's exact-integer range at this SF, so the
    // division is bit-identical. avg_price is the davg discipline.
    "q204_manifest_avg_agg" ->
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(o_custkey) AS DOUBLE) / count(o_custkey) AS avg_cust,
         |  ${graft.queries.Q.davgSql("o_totalprice")} AS avg_price
         |FROM orders
         |WHERE o_orderdate >= DATE '1993-06-10'
         |  AND o_orderdate <= DATE '1996-11-25'""".stripMargin,

    // NULLS-placement top-k twin: the raw table recomputed with the same
    // nulled keyslice, filter, and spelled placement — a file the
    // generalized sweep wrongly skipped drops an early date from the
    // filtered top-100 and breaks the hash.
    "q205_manifest_nulls_topk" ->
      """SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od, o_custkey
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |             ELSE o_orderdate END AS o_orderdate,
        |        o_custkey
        |      FROM orders)
        |WHERE o_orderdate <= DATE '1997-06-01'
        |ORDER BY o_orderdate ASC NULLS LAST, o_orderkey
        |LIMIT 100""".stripMargin,

    // DuckDB to_hex already prints uppercase without leading zeros —
    // byte-identical to Spark HEX(BIGINT); fixture keys fit every mask
    // width so the plain lpads never truncate.
    "q189_dialect_tochar_hex" ->
      """SELECT o_orderkey,
        |  lpad(upper(to_hex(round(o_orderkey)::BIGINT)), 7, ' ') AS key_hex,
        |  upper(to_hex(round(o_orderkey)::BIGINT)) AS key_hex_fm,
        |  lpad(lpad(upper(to_hex(round(o_orderkey)::BIGINT)), 6, '0'), 7, ' ')
        |    AS key_hex_zp,
        |  CASE WHEN (0 - o_orderkey) < 0 THEN repeat('#', 5)
        |       ELSE lpad(upper(to_hex(round(0 - o_orderkey)::BIGINT)), 5, ' ')
        |  END AS neg_hex
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    "q84_dialect_decode" ->
      """SELECT p_partkey,
        |  CASE WHEN p_size = 1 THEN 'one' WHEN p_size = 2 THEN 'two'
        |       ELSE 'many' END AS size_word,
        |  regexp_extract(p_type, '[A-Z]+') AS first_word,
        |  to_json(struct_pack(brand := p_brand, sz := p_size))::VARCHAR AS obj
        |FROM part WHERE p_partkey < 200
        |ORDER BY p_partkey""".stripMargin,

    "q15_cast_projection" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q16_pk_sample_check" ->
      """WITH sample AS (
        |  SELECT o_orderkey AS pk, o_totalprice AS src_price
        |  FROM orders ORDER BY o_orderkey LIMIT 100)
        |SELECT pk, src_price, t.o_totalprice AS tgt_price,
        |  src_price = t.o_totalprice AS is_match
        |FROM sample LEFT JOIN orders t ON pk = t.o_orderkey
        |ORDER BY pk""".stripMargin)
}
