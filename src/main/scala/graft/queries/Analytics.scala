package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** General OLAP surface (SURVEY §2.3): aggregation, joins, windows, rollup,
  * distinct, anti-join — the engine's headline analytics queries.
  *
  * Determinism contract with the DuckDB oracle (SURVEY §6): money values are
  * converted per-row to integer cents via `floor(x*100)` before summing
  * (bigint sums are order-independent); every result is explicitly ordered.
  *
  * Scale notes per query inline; all plans are declarative → Catalyst pushes
  * filters/projections into the parquet scan and AQE re-plans shuffles.
  */
object Analytics extends QueryModule {

  /** floor(x*100) as bigint — exact cents, safe to sum in any order. */
  private def cents(c: Column): Column = floor(c * 100).cast("long")

  /** TPC-H Q1-flavored pricing summary. Partial aggregation collapses each
    * scan partition to ≤ |returnflag×linestatus| rows before the shuffle. */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge_c"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS bigint) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice*100) AS bigint)) AS bigint) AS sum_base_c,
           CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS sum_disc_c,
           CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS bigint)) AS bigint) AS sum_charge_c,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** TPC-H Q3-flavored: join fact tables, aggregate, take top-10 revenue.
    * customer is broadcast; orders⋈lineitem shuffles on orderkey only.
    * Top-10 runs as TakeOrderedAndProject (no full sort). */
  def q3JoinTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, sfDir).filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li   = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopKSql: String = """
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS revenue_c
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_c DESC, l_orderkey
    LIMIT 10"""

  /** TPC-H Q10-flavored: top-20 customers by revenue lost to returned
    * items in a six-month window — the "who should support call first"
    * report. Shape: the date filter prunes orders AT THE SCAN
    * (PushedFilters), the returnflag filter prunes lineitem likewise,
    * the fact-fact join shuffles on the orderkey, customer attaches on
    * the custkey, nation broadcasts, and the head is TakeOrdered — no
    * global sort. Revenue in integer cents per row (oracle-exact). */
  def q10ReturnedTop(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedTopSql: String = """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS revenue_c,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_c DESC, c_custkey
    LIMIT 20"""

  /** TPC-H Q5-flavored: revenue by region/nation through the full dim chain.
    * All dims broadcast → the only shuffle is the final small groupBy. */
  def q5MultiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q5MultiJoinSql: String = """
    SELECT r_name, n_name,
           CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS revenue_c,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name"""

  /** Window functions: top-3 events by value per user, with previous-event
    * gap. Single shuffle on user_id serves both window specs. */
  def qEventsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byValue = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, sfDir)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("event_type"), cents(col("value")).as("value_c"),
        rank().over(byValue).as("rnk"),
        lag(col("event_id"), 1).over(byValue).as("prev_event_id"))
      .filter(col("rnk") <= 3)
      .orderBy(col("user_id"), col("rnk"), col("event_id"))
  }

  val qEventsWindowSql: String = """
    SELECT * FROM (
      SELECT user_id, event_id, event_type,
             CAST(floor(value*100) AS bigint) AS value_c,
             rank() OVER w AS rnk,
             lag(event_id, 1) OVER w AS prev_event_id
      FROM events
      WHERE user_id < 30
      WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    ) WHERE rnk <= 3
    ORDER BY user_id, rnk, event_id"""

  /** Daily tumbling-window aggregation over events — the batch mirror of
    * [[graft.streaming.EventsStream]]. */
  def qEventsWindowed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(cents(col("value"))).as("sum_value_c"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"), col("event_type"))

  val qEventsWindowedSql: String = """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value*100) AS bigint)) AS bigint) AS sum_value_c,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type"""

  /** Batch sessionization (gaps-and-islands): session id = running count
    * of gap-starts per user; one shuffle on user_id feeds both windows and
    * the final aggregation. Mirror of the streaming
    * [[graft.streaming.EventsStream.sessionize]]. */
  def qEventsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val gapSec = 21600L // 6 h
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
      .withColumn("is_start",
        when(lag(col("t"), 1).over(byTs).isNull ||
             col("t") - lag(col("t"), 1).over(byTs) > gapSec, 1L).otherwise(0L))
      .withColumn("sid", sum(col("is_start")).over(byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t")).as("start_sec"), max(col("t")).as("end_sec"),
           count(lit(1)).as("n_events"))
      .withColumn("duration_sec", col("end_sec") - col("start_sec"))
      .orderBy(col("user_id"), col("sid"))
  }

  val qEventsSessionsSql: String = """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS bigint) AS t FROM events
    ), m AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 21600
                  THEN 1 ELSE 0 END AS is_start
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ), s AS (
      SELECT user_id, t,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, CAST(sid AS bigint) AS sid,
           min(t) AS start_sec, max(t) AS end_sec,
           count(*) AS n_events,
           max(t) - min(t) AS duration_sec
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, sid"""

  /** Day-of-week × hour activity matrix — the seasonality heatmap behind
    * capacity planning and anomaly baselines ("is this Tuesday-3am spike
    * abnormal for Tuesday 3am?"). Time buckets are pure integer epoch
    * math ((days+3) mod 7, 0 = Monday; hour = seconds-of-day div 3600) —
    * engine-portable where dayofweek()'s origin is not — and the value
    * sum is per-row integer cents, so the oracle is exact. Shape: one
    * partial-agg shuffle onto a ≤168-row domain; n_users is the only
    * non-combinable term and its domain is (bucket × user), bounded. */
  def qEventsSeasonality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(unix_timestamp(col("ts")).as("t"), col("user_id"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .select(expr("(t div 86400 + 3) % 7").as("dow"),
        expr("(t % 86400) div 3600").as("hour"), col("user_id"), col("v_c"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           sum(col("v_c")).as("sum_value_c"))
      .orderBy(col("dow"), col("hour"))

  val qEventsSeasonalitySql: String = """
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS bigint) AS t, user_id,
             CAST(floor(value * 100) AS bigint) AS v_c
      FROM events
    )
    SELECT ((t // 86400) + 3) % 7 AS dow, (t % 86400) // 3600 AS hour,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           CAST(sum(v_c) AS bigint) AS sum_value_c
    FROM e
    GROUP BY 1, 2
    ORDER BY dow, hour"""

  /** Session-shape distribution: exact p25/p50/p95 and max of per-session
    * event counts and durations over the gap-sessionized table — the
    * "did sessions get shorter" summary consulted after changing the gap
    * parameter or the event pipeline. Percentiles use the
    * [[qPercentiles]] exact-rank recipe (value at row_number
    * ceil(p·n) — integer-deterministic). Shuffle posture: sessionization
    * is the only data-sized work; the stats explode each session row
    * into the 2-metric domain, rank inside it, and collapse to 2 rows. */
  def qSessionStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val metrics = qEventsSessions(spark, sfDir)
      .select(explode(array(
        struct(lit("duration_sec").as("metric"), col("duration_sec").as("v")),
        struct(lit("n_events").as("metric"), col("n_events").as("v")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.v").as("v"))
    val w = Window.partitionBy(col("metric")).orderBy(col("v"))
    val wn = Window.partitionBy(col("metric"))
    metrics.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n_sessions"), exactPick(0.25).as("p25"),
        exactPick(0.5).as("p50"), exactPick(0.95).as("p95"), max(col("v")).as("max_v"))
      .orderBy(col("metric"))
  }

  val qSessionStatsSql: String = s"""
    WITH sess AS (
      SELECT n_events, duration_sec FROM ($qEventsSessionsSql)
    ), m AS (
      SELECT 'duration_sec' AS metric, duration_sec AS v FROM sess
      UNION ALL
      SELECT 'n_events' AS metric, n_events AS v FROM sess
    ), r AS (
      SELECT metric, v,
             row_number() OVER (PARTITION BY metric ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY metric) AS n
      FROM m
    )
    SELECT metric, CAST(count(*) AS bigint) AS n_sessions,
           ${exactPickSql(0.25, "p25")},
           ${exactPickSql(0.5, "p50")},
           ${exactPickSql(0.95, "p95")},
           CAST(max(v) AS bigint) AS max_v
    FROM r
    GROUP BY metric
    ORDER BY metric"""

  /** Bucketized range join: events falling inside each order's 30-day
    * active window, per event type. Spark has no native inequality-join
    * strategy — the naive `a.ts BETWEEN b.lo AND b.hi` plan is a
    * BroadcastNestedLoopJoin (O(|a|·|b|), the classic 100 TB killer). The
    * scale-safe form tiles each window into its covering day buckets
    * (bounded 30-element sequence explode on the SMALLER side) and joins
    * on the (key, day) EQUI-key, with the exact range predicate left as a
    * residual filter. Integer-second time math keeps both engines
    * bit-identical; PlanGuard asserts the no-nested-loop plan. */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val secsPerDay = 86400L
    val windowDays = 30
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t_sec"))
      .withColumn("day", expr(s"t_sec div $secsPerDay"))
    // order times mapped deterministically into the event window (the
    // q_asof_join convention — the synthetic orders live in 1995-2001,
    // events in 2024); window starts are NOT day-aligned, so the bucket
    // sequence covers floor(lo/day)..floor((hi-1)/day) (31 buckets)
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(1704067200 + o_orderkey % 2592000 AS long)").as("o_sec"))
      .withColumn("day", explode(sequence(
        expr(s"o_sec div $secsPerDay"),
        expr(s"(o_sec + ${windowDays * secsPerDay} - 1) div $secsPerDay"))))
    // the explode hides its 31× row multiplication from size estimation,
    // so the planner happily BROADCASTS the exploded side — fine at sf0.1,
    // driver-OOM at sf1 (measured). shuffle_hash OOMs too under cache
    // pressure (the per-partition hash map is pinned, unspillable).
    // Sort-merge is the join that survives any scale: both sides sort-
    // spill to disk, nothing is pinned — force it.
    ev.join(ord.hint("merge"),
        ev("user_id") === ord("o_custkey") && ev("day") === ord("day"))
      .filter(col("t_sec") >= col("o_sec")
        && col("t_sec") < col("o_sec") + windowDays * secsPerDay)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("event_id")).as("n_events"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("event_type"))
  }

  val qRangeJoinSql: String = """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS bigint) AS t_sec
      FROM events
    ), o AS (
      SELECT o_custkey, o_orderkey,
             CAST(1704067200 + o_orderkey % 2592000 AS bigint) AS o_sec
      FROM orders)
    SELECT event_type, count(*) AS n_hits,
           count(DISTINCT event_id) AS n_events,
           count(DISTINCT o_orderkey) AS n_orders
    FROM e JOIN o ON user_id = o_custkey
      AND t_sec >= o_sec AND t_sec < o_sec + 2592000
    GROUP BY 1 ORDER BY 1"""

  /** As-of join ([[graft.operators.AsOfJoin]]): each event picks the
    * customer's most recent order at-or-before the event time (order times
    * mapped deterministically into the event window). One shuffle + one
    * sort per key — no range-join explosion. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val left = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("t_sec"))
    val right = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        (lit(1704067200L) + col("o_orderkey") % 2592000).as("o_ts_sec"))
    graft.operators.AsOfJoin.backward(
        left, right,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "t_sec", rightTime = "o_ts_sec",
        payloadCols = Seq("o_orderkey", "o_ts_sec"),
        rightOrder = "o_orderkey")
      .orderBy(col("event_id"))
  }

  val qAsofJoinSql: String = """
    WITH l AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS bigint) AS t_sec FROM events
    ), r AS (
      SELECT o_custkey, o_orderkey,
             CAST(1704067200 + o_orderkey % 2592000 AS bigint) AS o_ts_sec
      FROM orders
    ), u AS (
      SELECT user_id AS k, t_sec AS t, 1 AS is_left,
             CAST(9223372036854775807 AS bigint) AS ord,
             event_id, user_id, t_sec,
             CAST(NULL AS bigint) AS p_okey, CAST(NULL AS bigint) AS p_ots
      FROM l
      UNION ALL
      SELECT o_custkey, o_ts_sec, 0, o_orderkey,
             NULL, NULL, NULL, o_orderkey, o_ts_sec
      FROM r
    ), carried AS (
      SELECT event_id, user_id, t_sec, is_left,
             last_value(p_okey IGNORE NULLS) OVER w AS asof_o_orderkey,
             last_value(p_ots IGNORE NULLS) OVER w AS asof_o_ts_sec
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t, is_left, ord ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, t_sec, asof_o_orderkey, asof_o_ts_sec
    FROM carried WHERE is_left = 1
    ORDER BY event_id"""

  /** Forward as-of join ([[graft.operators.AsOfJoin.forward]]): for each
    * event the user's NEXT order at or after it — the "next scheduled
    * thing" lookup that pairs with q_asof_join's backward form. Same
    * one-shuffle union+window plan, per-key sort reversed. */
  def qAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val left = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("t_sec"))
    val right = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        (lit(1704067200L) + col("o_orderkey") % 2592000).as("o_ts_sec"))
    graft.operators.AsOfJoin.forward(
        left, right,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "t_sec", rightTime = "o_ts_sec",
        payloadCols = Seq("o_orderkey", "o_ts_sec"),
        rightOrder = "o_orderkey")
      .orderBy(col("event_id"))
  }

  val qAsofForwardSql: String = """
    WITH l AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS bigint) AS t_sec FROM events
    ), r AS (
      SELECT o_custkey, o_orderkey,
             CAST(1704067200 + o_orderkey % 2592000 AS bigint) AS o_ts_sec
      FROM orders
    ), u AS (
      SELECT user_id AS k, t_sec AS t, 1 AS is_left,
             CAST(9223372036854775807 AS bigint) AS ord,
             event_id, user_id, t_sec,
             CAST(NULL AS bigint) AS p_okey, CAST(NULL AS bigint) AS p_ots
      FROM l
      UNION ALL
      SELECT o_custkey, o_ts_sec, 0, o_orderkey,
             NULL, NULL, NULL, o_orderkey, o_ts_sec
      FROM r
    ), carried AS (
      SELECT event_id, user_id, t_sec, is_left,
             last_value(p_okey IGNORE NULLS) OVER w AS asof_o_orderkey,
             last_value(p_ots IGNORE NULLS) OVER w AS asof_o_ts_sec
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t DESC, is_left, ord DESC
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, t_sec, asof_o_orderkey, asof_o_ts_sec
    FROM carried WHERE is_left = 1
    ORDER BY event_id"""

  /** Hierarchical ROLLUP region → nation (null grouping keys coalesced to
    * 'ALL' so both engines order identically). */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum(cents(col("c_acctbal"))).as("sum_acctbal_c"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("n_customers"), col("sum_acctbal_c"))
      .orderBy(col("region"), col("nation"))
  }

  val qRollupSql: String = """
    SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal*100) AS bigint)) AS bigint) AS sum_acctbal_c
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation"""

  /** TPC-H Q17-flavored: revenue from small-quantity lineitems, where
    * "small" is relative to the part's own average quantity (correlated
    * aggregate → join against a per-key aggregate). avg computed as
    * sum/count in both engines so doubles are bit-identical. */
  def q17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val part = Tables.part(spark, sfDir).filter(col("p_brand") === "Brand#1")
    val avgq = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(avgq, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(sum(cents(col("l_extendedprice"))).as("sum_base_c"),
           count(lit(1)).as("n_items"))
  }

  val q17SmallQtySql: String = """
    SELECT CAST(sum(CAST(floor(l_extendedprice*100) AS bigint)) AS bigint) AS sum_base_c,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN (SELECT l_partkey AS ap_key, sum(l_quantity) / count(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_key
    WHERE p_brand = 'Brand#1'
      AND l_quantity < avg_qty * 0.5"""

  /** TPC-H Q2-flavored: the suppliers achieving the minimum price per part
    * (correlated min → groupBy-join; supplier dim broadcast). */
  def q2MinCost(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), cents(col("l_extendedprice")).as("price_c"))
    val minP = li.groupBy(col("l_partkey").as("mp_key"))
      .agg(min(col("price_c")).as("min_price_c"))
    val supp = Tables.supplier(spark, sfDir)
    li.join(minP, col("l_partkey") === col("mp_key") && col("price_c") === col("min_price_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("s_name"), col("min_price_c"))
      .distinct()
      .orderBy(col("l_partkey"), col("l_suppkey"))
      .limit(200)
  }

  val q2MinCostSql: String = """
    SELECT DISTINCT l_partkey, l_suppkey, s_name,
           CAST(min_price_c AS bigint) AS min_price_c
    FROM (
      SELECT l_partkey, l_suppkey,
             CAST(floor(l_extendedprice*100) AS bigint) AS price_c,
             min(CAST(floor(l_extendedprice*100) AS bigint))
               OVER (PARTITION BY l_partkey) AS min_price_c
      FROM lineitem
    )
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE price_c = min_price_c
    ORDER BY l_partkey, l_suppkey
    LIMIT 200"""

  /** Semi-structured JSON column: extract `props.k`, aggregate by decile.
    * get_json_object is codegen'd; at scale prefer from_json with an
    * explicit schema once the shape is known. */
  def qJsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("event_type"))
      .groupBy((col("k") % 10).as("k_mod10"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("k_mod10"))

  val qJsonPropsSql: String = """
    SELECT k % 10 AS k_mod10, count(*) AS n,
           CAST(sum(k) AS bigint) AS sum_k,
           count(DISTINCT event_type) AS n_types
    FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, event_type FROM events)
    GROUP BY 1
    ORDER BY k_mod10"""

  /** Exact distinct counting per group (the approx-HLL variant is the
    * rows-only `q_approx_distinct`). */
  def qDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val qDistinctUsersSql: String = """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Approximate distinct via HLL++ — at 100 TB this replaces the exact
    * shuffle-heavy distinct. The sketch itself is engine-specific, so the
    * oracle-checkable CONTRACT is the q_topk_merge_rollup `ok`-column
    * pattern: emit the exact count and a `within_bound` verdict asserting
    * the HLL estimate landed inside 3σ of its configured rsd (0.01 → 3%).
    * The oracle predicts verdict 1 for every group — an HLL drift beyond
    * bound flips the flag and hash-fails the row. (The exact countDistinct
    * here is the EVAL posture, like d_minhash_recall's truth side; the
    * production query would ship only the sketch.) */
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
           countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx_users") - col("n_exact"))
          <= col("n_exact") * lit(0.03)).cast("int").as("within_bound"))
      .orderBy(col("event_type"))

  val qApproxDistinctSql: String = """
    SELECT event_type, count(DISTINCT user_id) AS n_exact,
           CAST(1 AS int) AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Left-semi join: customers with purchase activity, counted per market
    * segment. Semi join ships only the distinct key column. */
  def qSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val buyers = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"))
    cust.join(buyers, col("c_custkey") === col("user_id"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_buyers"),
           sum(cents(col("c_acctbal"))).as("sum_acctbal_c"))
      .orderBy(col("c_mktsegment"))
  }

  val qSemiJoinSql: String = """
    SELECT c_mktsegment, count(*) AS n_buyers,
           CAST(sum(CAST(floor(c_acctbal*100) AS bigint)) AS bigint) AS sum_acctbal_c
    FROM customer
    WHERE c_custkey IN (SELECT user_id FROM events WHERE event_type = 'purchase')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  /** Left-anti join: customers with no event activity, counted per nation.
    * Anti join shuffles only the projected key column; dims broadcast. */
  def qAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    val nat = Tables.nation(spark, sfDir)
    cust.join(ev, col("c_custkey") === col("user_id"), "left_anti")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_inactive_custs"))
      .orderBy(col("n_name"))
  }

  val qAntiJoinSql: String = """
    SELECT n_name, count(*) AS n_inactive_custs
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey NOT IN (SELECT user_id FROM events)
    GROUP BY n_name
    ORDER BY n_name"""

  /** Group-wise top-3 lineitems per supplier through the bounded-buffer
    * [[graft.operators.TopK]] aggregator: map-side buffers keep ≤ k rows
    * per group, so the shuffle is O(groups·k) instead of O(rows) — the
    * scale-out form of "top hotspots per tenant". Tie-free because the
    * synthetic item_id is unique; equals row_number semantics. */
  def qTopkGroupwise(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        cents(col("l_extendedprice")).as("price_c"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("item_id"))
    graft.operators.TopK.topK(li, "l_suppkey", "price_c", "item_id", k = 3)
      .orderBy(col("l_suppkey"), col("rnk"))
  }

  val qTopkGroupwiseSql: String = """
    SELECT l_suppkey, rnk, item_id, price_c FROM (
      SELECT l_suppkey,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY price_c DESC, item_id) AS rnk,
             item_id, price_c
      FROM (SELECT CAST(l_suppkey AS bigint) AS l_suppkey,
                   CAST(floor(l_extendedprice * 100) AS bigint) AS price_c,
                   CAST(l_orderkey * 10 + l_linenumber AS bigint) AS item_id
            FROM lineitem)
    ) WHERE rnk <= 3
    ORDER BY l_suppkey, rnk"""

  /** Skew-salted two-stage aggregation over events ([[graft.operators
    * .Salted]]): stage 1 shuffles on (event_type, salt) so a hot event
    * type spreads over 16 reducers, stage 2 merges the tiny partial
    * table. Result provably identical to the plain groupBy (the oracle IS
    * the plain groupBy). */
  def qSaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("value_c"))
    graft.operators.Salted.groupSum(ev, Seq("event_type"), Seq("value_c"))
      .orderBy(col("event_type"))
  }

  val qSaltedAggSql: String = """
    SELECT event_type, count(*) AS n_rows,
           CAST(sum(CAST(floor(value * 100) AS bigint)) AS bigint) AS sum_value_c
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** Exact discrete percentiles (p25/p50/p95 of value cents per event
    * type) — defined explicitly as the element at row_number ==
    * ceil(p·n), which makes the result bit-identical across engines (no
    * interpolation-formula ambiguity). One shuffle + per-group sort — the
    * canonical exact-percentile cost; approx_percentile is the sketch
    * alternative when a bounded error is acceptable. */
  /** Exact-rank percentile pick over a (v, rn, n)-shaped table: the value
    * at row_number ceil(p·n) — shared by [[qPercentiles]] and
    * [[qSessionStats]]; [[exactPickSql]] is the ONE SQL twin. */
  private def exactPick(p: Double): Column =
    max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"), col("v")))

  private def exactPickSql(p: Double, alias: String): String =
    s"max(CASE WHEN rn = CAST(ceil($p * n) AS bigint) THEN v END) AS $alias"

  def qPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wn = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type"))
      .agg(exactPick(0.25).as("p25_c"), exactPick(0.5).as("p50_c"),
        exactPick(0.95).as("p95_c"), count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"))
  }

  val qPercentilesSql: String = s"""
    SELECT event_type,
           ${exactPickSql(0.25, "p25_c")},
           ${exactPickSql(0.5, "p50_c")},
           ${exactPickSql(0.95, "p95_c")},
           count(*) AS n_rows
    FROM (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM (SELECT event_type, CAST(floor(value * 100) AS bigint) AS v FROM events)
    )
    GROUP BY event_type
    ORDER BY event_type"""

  /** Pivot: daily event counts spread over the (explicitly listed) event
    * types. With the value list given, Spark plans a single partial-agg
    * pass — no extra distinct-values job, one shuffle on the date key. */
  def qPivotEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("day"))

  val qPivotEventsSql: String = """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS bigint) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS bigint) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS bigint) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bigint) AS view
    FROM events
    GROUP BY 1
    ORDER BY day"""

  /** KMV (k-minimum-values) distinct-count sketch, k = 64: estimate =
    * (k-1)·2⁴⁸ div h_k where h_k is the k-th smallest 48-bit md5-derived
    * hash of the distinct keys; fewer than k distincts → the sketch holds
    * them all and the estimate is exact. Unlike engine HLL
    * (q_approx_distinct, rows-only), every step is integer/md5 arithmetic
    * → the oracle re-derives the identical estimate. Scale shape: the k
    * smallest run as TakeOrdered (O(k) state per partition — the same
    * bound a KMV aggregator would keep). */
  def qKmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 64
    val h = Tables.events(spark, sfDir).select(col("user_id")).distinct()
      .select(conv(substring(md5(concat(lit("kmv_"), col("user_id").cast("string"))), 1, 12), 16, 10)
        .cast("long").as("h"))
    val kmin = h.orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("h_k"))
    val exact = h.agg(count(lit(1)).as("n_exact"))
    kmin.crossJoin(exact)
      .select(lit(k.toLong).as("k"), col("n_exact"),
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"${(k - 1).toLong * (1L << 48)} div h_k")).as("n_est"))
      .withColumn("err_bp",
        floor(abs(col("n_est") - col("n_exact")) * 10000.0 / col("n_exact")).cast("long"))
  }

  val qKmvDistinctSql: String = s"""
    WITH d AS (
      SELECT DISTINCT user_id FROM events
    ), hh AS (
      SELECT CAST('0x' || substr(md5('kmv_' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      FROM d
    ), kmin AS (
      SELECT count(*) AS n_seen, max(h) AS h_k FROM (SELECT h FROM hh ORDER BY h LIMIT 64)
    )
    SELECT CAST(64 AS bigint) AS k,
           (SELECT count(*) FROM d) AS n_exact,
           CASE WHEN n_seen < 64 THEN n_seen
                ELSE ${63L * (1L << 48)} // h_k END AS n_est,
           CAST(floor(abs((CASE WHEN n_seen < 64 THEN n_seen
                ELSE ${63L * (1L << 48)} // h_k END) - (SELECT count(*) FROM d)) * 10000.0
                / (SELECT count(*) FROM d)) AS bigint) AS err_bp
    FROM kmin"""

  /** Exact mergeable distinct via bitmap words (the ClickHouse/Druid
    * groupBitmap pattern): per-(event_type, week) distinct users stored
    * as 63-bit OR-words keyed by user_id div 63 — mergeable like a
    * sketch (week states OR together into any coarser rollup without
    * rescanning raw events), exact like countDistinct (bit_count of the
    * OR'd words IS the distinct count). For bounded/dense key domains
    * this replaces both the approximate HLL and the shuffle-heavy exact
    * distinct at 100 TB. Words are 63-bit (not 64) because the oracle's
    * checked `<<` overflows at bit 63 while Spark wraps silently — the
    * shared-width contract keeps both engines bit-identical. Output:
    * per-week rows plus an 'ALL' row merged FROM THE WEEK WORD STATES,
    * each carrying `ok` = (bitmap count == direct countDistinct) — the
    * executable exactness-and-mergeability certificate. */
  def qBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("(unix_timestamp(ts) div 86400) div 7").as("week"), col("user_id"))
    val words = base
      .select(col("event_type"), col("week"), expr("user_id div 63").as("w"),
        expr("shiftleft(1L, CAST(user_id % 63 AS int))").as("m"))
      .groupBy(col("event_type"), col("week"), col("w"))
      .agg(expr("bit_or(m)").as("mask"))
      .localCheckpoint() // the persisted word synopsis both readouts reuse
    val weekly = words.groupBy(col("event_type"), col("week"))
      .agg(sum(expr("bit_count(mask)")).cast("long").as("n_bitmap"))
    val merged = words.groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(mask)").as("mask"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(mask)")).cast("long").as("n_bitmap"))
    val exactW = base.select(col("event_type"), col("week"), col("user_id")).distinct()
      .groupBy(col("event_type"), col("week")).agg(count(lit(1)).as("n_exact"))
    val exactA = base.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    val perWeek = weekly.join(exactW, Seq("event_type", "week"))
      .select(col("event_type"), col("week").cast("string").as("week"),
        col("n_bitmap"), col("n_exact"))
    val allRow = merged.join(exactA, "event_type")
      .select(col("event_type"), lit("ALL").as("week"), col("n_bitmap"), col("n_exact"))
    perWeek.unionByName(allRow)
      .withColumn("ok", (col("n_bitmap") === col("n_exact")).cast("int"))
      .orderBy(col("event_type"), col("week"))
  }

  val qBitmapDistinctSql: String = """
    WITH base AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS bigint) // 86400) // 7 AS week, user_id
      FROM events
    ), words AS (
      SELECT event_type, week, user_id // 63 AS w,
             bit_or(CAST(1 AS bigint) << CAST(user_id % 63 AS int)) AS mask
      FROM base GROUP BY 1, 2, 3
    ), weekly AS (
      SELECT event_type, week, CAST(sum(bit_count(mask)) AS bigint) AS n_bitmap
      FROM words GROUP BY 1, 2
    ), merged AS (
      SELECT event_type, CAST(sum(bit_count(mask2)) AS bigint) AS n_bitmap
      FROM (SELECT event_type, w, bit_or(mask) AS mask2 FROM words GROUP BY 1, 2)
      GROUP BY 1
    ), exw AS (
      SELECT event_type, week, count(DISTINCT user_id) AS n_exact
      FROM base GROUP BY 1, 2
    ), exa AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact FROM base GROUP BY 1)
    SELECT event_type, week, n_bitmap, n_exact,
           CAST(n_bitmap = n_exact AS int) AS ok
    FROM (
      SELECT w.event_type, CAST(w.week AS varchar) AS week, w.n_bitmap, e.n_exact
      FROM weekly w JOIN exw e ON w.event_type = e.event_type AND w.week = e.week
      UNION ALL
      SELECT m.event_type, 'ALL', m.n_bitmap, a.n_exact
      FROM merged m JOIN exa a ON m.event_type = a.event_type)
    ORDER BY event_type, week"""

  /** Mergeable-sketch rollup — the backfill/incremental-aggregation
    * pattern every 100 TB metrics pipeline lives on: per-DAY KMV
    * distinct-user states (k = 64 smallest salted-md5 hashes, the
    * [[qKmvDistinct]] recipe) are MERGED into per-week estimates without
    * rescanning raw events — merge = k smallest distinct hashes of the
    * union of the day states, the KMV union algebra. The DuckDB oracle
    * deliberately computes the weekly sketch DIRECTLY from raw events, so
    * the hash match is an executable proof of mergeability (day-state
    * merge ≡ direct weekly computation), not just a spot check. Shape:
    * day states are partial-aggregable (top-k per day), the merge touches
    * |days|·k rows per week, and exact weekly counts ride the same
    * distinct table — nothing driver-side. */
  def qKmvMergeRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val maxH = (k - 1).toLong * (1L << 48)
    val base = Tables.events(spark, sfDir)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .distinct()
      .select(expr("day div 7").as("week"), col("day"),
        conv(substring(md5(concat(lit("kmv_"), col("user_id").cast("string"))), 1, 12), 16, 10)
          .cast("long").as("h"))
    val wd = Window.partitionBy(col("day")).orderBy(col("h"))
    val dayState = base.withColumn("rnk", row_number().over(wd))
      .filter(col("rnk") <= k).select(col("week"), col("day"), col("h"))
      .localCheckpoint() // the persisted "daily synopsis" both readouts reuse
    val ww = Window.partitionBy(col("week")).orderBy(col("h"))
    val merged = dayState.select(col("week"), col("h")).distinct()
      .withColumn("rnk", row_number().over(ww)).filter(col("rnk") <= k)
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("h_k"))
    val nDays = dayState.select(col("week"), col("day")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("n_days"))
    val exact = Tables.events(spark, sfDir)
      .select(expr("(unix_timestamp(ts) div 86400) div 7").as("week"), col("user_id"))
      .distinct().groupBy(col("week")).agg(count(lit(1)).as("n_exact"))
    merged.join(nDays, "week").join(exact, "week")
      .select(col("week"), col("n_days"), col("n_exact"),
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"$maxH div h_k")).as("n_est"))
      .withColumn("err_bp",
        floor(abs(col("n_est") - col("n_exact")) * 10000.0 / col("n_exact")).cast("long"))
      .orderBy(col("week"))
  }

  /** Direct weekly computation (NO day-level merge) — equality with the
    * Spark plan's day-state merge is the mergeability proof. */
  val qKmvMergeRollupSql: String = s"""
    WITH d AS (
      SELECT DISTINCT (CAST(floor(epoch(ts)) AS bigint) // 86400) AS day, user_id
      FROM events
    ), hh AS (
      SELECT DISTINCT day // 7 AS week,
             CAST('0x' || substr(md5('kmv_' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      FROM d
    ), keep AS (
      SELECT week, h, row_number() OVER (PARTITION BY week ORDER BY h) AS rnk FROM hh
    ), st AS (
      SELECT week, count(*) AS n_seen, max(h) AS h_k
      FROM keep WHERE rnk <= 64 GROUP BY week
    ), dy AS (
      SELECT day // 7 AS week, count(DISTINCT day) AS n_days FROM d GROUP BY 1
    ), ex AS (
      SELECT day // 7 AS week, count(DISTINCT user_id) AS n_exact FROM d GROUP BY 1
    )
    SELECT st.week, dy.n_days, ex.n_exact,
           CASE WHEN n_seen < 64 THEN n_seen
                ELSE ${63L * (1L << 48)} // h_k END AS n_est,
           CAST(floor(abs((CASE WHEN n_seen < 64 THEN n_seen
                ELSE ${63L * (1L << 48)} // h_k END) - ex.n_exact) * 10000.0
                / ex.n_exact) AS bigint) AS err_bp
    FROM st JOIN dy USING (week) JOIN ex USING (week)
    ORDER BY week"""

  /** Cube over (region, event-less nation pair): all four grouping sets in
    * one pass (Expand + single aggregation shuffle — Spark never rescans
    * the input per set). Rollup's sibling; `q_rollup_region_nation` covers
    * the hierarchy case. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), (col("c_custkey") % 2 === 0).cast("int").as("even_key"))
      .agg(count(lit(1)).as("n_customers"), sum(cents(col("c_acctbal"))).as("sum_acctbal_c"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("even_key").cast("string"), lit("ALL")).as("even_key"),
              col("n_customers"), col("sum_acctbal_c"))
      .orderBy(col("region"), col("even_key"))

  val qCubeSql: String = """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(CAST(even_key AS VARCHAR), 'ALL') AS even_key,
           count(*) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal*100) AS bigint)) AS bigint) AS sum_acctbal_c
    FROM (
      SELECT r_name, CAST(c_custkey % 2 = 0 AS int) AS even_key, c_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    )
    GROUP BY CUBE (r_name, even_key)
    ORDER BY region, even_key"""

  /** Range-frame window: per-user trailing-1-hour event count + value sum
    * (moving aggregates over event TIME, not row position — the frame is
    * `RANGE 3600 PRECEDING` on epoch seconds, so ties and gaps behave
    * identically in any engine). One shuffle on user_id, per-user sort. */
  def qMovingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_sec"), cents(col("value")).as("v"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("v")).over(w))
      .orderBy(col("event_id"))
  }

  val qMovingWindowSql: String = """
    SELECT event_id, user_id, ts_sec, v,
           count(*) OVER w AS n_1h,
           CAST(sum(v) OVER w AS bigint) AS sum_1h
    FROM (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS bigint) AS ts_sec,
             CAST(floor(value * 100) AS bigint) AS v
      FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id"""

  /** Time-series resample + forward-fill: put each user's daily totals on
    * a dense 1-day grid (sequence + explode — per-row, no driver loop) and
    * fill gaps with the last seen value (running `last(ignoreNulls)` — one
    * shuffle on user_id, per-user sort). The gap-filling shape feature
    * pipelines need before windowed aggregates. Users capped (< 50) to
    * keep the dense grid output bounded in the harness. */
  def qResampleFfill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), to_date(col("ts")).as("day"), cents(col("value")).as("v"))
      .groupBy(col("user_id"), col("day")).agg(sum(col("v")).as("day_sum"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("day_sum"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("day_sum").isNull.cast("int"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("filled"), col("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  val qResampleFfillSql: String = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS bigint)) AS bigint) AS day_sum
      FROM events WHERE user_id < 50
      GROUP BY 1, 2
    ), grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
                                         CAST(max(day) AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily GROUP BY user_id
    )
    SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
           CAST(last_value(d.day_sum IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS filled,
           CAST(d.day_sum IS NULL AS int) AS is_gap
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    ORDER BY user_id, day"""

  /** Skew-salted inner join ([[graft.operators.Salted.skewJoin]]): events
    * fan-out-joined to a small per-type weight dim with the hottest key
    * salted over 8 replicas, then re-aggregated. The oracle is the PLAIN
    * join — salting must be invisible in the result. */
  def qSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v"))
    val dim = ev.select(col("event_type")).distinct()
      .select(col("event_type"), explode(array(lit(1L), lit(2L))).as("weight"))
    graft.operators.Salted.skewJoin(ev, dim, "event_type", Seq("click"), replicas = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v") * col("weight")).as("wsum"))
      .orderBy(col("event_type"))
  }

  val qSkewJoinSql: String = """
    WITH ev AS (
      SELECT event_type, CAST(floor(value * 100) AS bigint) AS v FROM events
    ), dim AS (
      SELECT event_type, unnest([1, 2]) AS weight
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT event_type, CAST(count(*) AS bigint) AS n_rows,
           CAST(sum(v * weight) AS bigint) AS wsum
    FROM ev JOIN dim USING (event_type)
    GROUP BY event_type
    ORDER BY event_type"""

  /** Column profiling ([[graft.operators.Profile]]) over `documents`:
    * one single-pass wide aggregate, stack-pivoted on the driver-side
    * single row. */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Profile.profile(
      Tables.documents(spark, sfDir), Seq("doc_id", "lang", "source", "n_chars"))

  val qProfileSql: String = {
    val per = Seq("doc_id", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS bigint) AS n_rows,
             CAST(sum(CAST($c IS NULL AS int)) AS bigint) AS n_nulls,
             CAST(count(DISTINCT $c) AS bigint) AS n_distinct,
             CAST(min($c) AS VARCHAR) AS min_val, CAST(max($c) AS VARCHAR) AS max_val
          FROM documents"""
    }.mkString("\n    UNION ALL\n    ")
    s"$per\n    ORDER BY col_name"
  }

  /** Exact-integer anomaly flagging over events: per (user, type) mean ±3σ
    * outliers via the cross-multiplied form (v·n − S)² > 9·(n·Q − S²) —
    * no division, no sqrt, no floats, so Spark and the oracle agree
    * bit-for-bit. One shuffle for the stats, one equi-join back. Bounds:
    * cents ≤ ~6e4 and per-group n ≤ ~1e4 keep every term under 2⁶³. */
  def qEventsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("v"))
    val stats = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
    ev.join(stats, Seq("user_id", "event_type"))
      .filter(col("n") >= 3 &&
        (col("v") * col("n") - col("s")) * (col("v") * col("n") - col("s")) >
          lit(9L) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("v").as("v_cents"), col("n").as("n_grp"))
      .orderBy(col("event_id"))
  }

  val qEventsAnomalySql: String = """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS bigint) AS v
      FROM events
    ), stats AS (
      SELECT user_id, event_type, CAST(count(*) AS bigint) AS n,
             CAST(sum(v) AS bigint) AS s, CAST(sum(v * v) AS bigint) AS q
      FROM ev GROUP BY 1, 2
    )
    SELECT event_id, user_id, event_type, v AS v_cents, n AS n_grp
    FROM ev JOIN stats USING (user_id, event_type)
    WHERE n >= 3 AND (v * n - s) * (v * n - s) > 9 * (n * q - s * s)
    ORDER BY event_id"""

  /** Deterministic A/B experiment readout: assignment = md5 bucket on the
    * user id (treatment below 5000 bp) — the hash-bucketing real
    * experiment frameworks use, so an arm is reproducible per user across
    * events, engines and reruns; the readout is per-event-type arm sizes,
    * distinct exposed users, integer-cent arm means and the lift
    * (treatment − control). All arithmetic is integer cents with `DIV`
    * (Spark) / `//` (DuckDB) so the means agree bit-for-bit; arm sums are
    * conditional aggregates, so the whole readout is ONE shuffle onto the
    * |event_type| domain with map-side combine — no per-arm scans, no
    * join. Empty arms report a 0 mean rather than dividing by zero. */
  def qEventsLift(spark: SparkSession, sfDir: String): DataFrame = {
    val bp = TextQueries.hashGateBp("exp_", col("user_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), cents(col("value")).as("v"),
        (bp < 5000L).cast("int").as("treat"))
    val meanOf = (s: String, n: String) =>
      when(col(n) === 0, lit(0L)).otherwise(expr(s"$s DIV $n"))
    ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).as("n_ctrl"),
        countDistinct(when(col("treat") === 1, col("user_id"))).as("u_treat"),
        countDistinct(when(col("treat") === 0, col("user_id"))).as("u_ctrl"),
        sum(when(col("treat") === 1, col("v")).otherwise(0L)).as("s_treat"),
        sum(when(col("treat") === 0, col("v")).otherwise(0L)).as("s_ctrl"))
      .select(col("event_type"), col("n_treat"), col("n_ctrl"),
        col("u_treat"), col("u_ctrl"),
        meanOf("s_treat", "n_treat").as("mean_treat_cents"),
        meanOf("s_ctrl", "n_ctrl").as("mean_ctrl_cents"),
        (meanOf("s_treat", "n_treat") - meanOf("s_ctrl", "n_ctrl")).as("lift_cents"))
      .orderBy(col("event_type"))
  }

  val qEventsLiftSql: String = s"""
    WITH ev AS (
      SELECT event_type, user_id, CAST(floor(value * 100) AS bigint) AS v,
             CASE WHEN ${TextQueries.hashGateBpSql("exp_", "user_id")} < 5000 THEN 1 ELSE 0 END AS treat
      FROM events
    ), g AS (
      SELECT event_type,
             CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS bigint) AS n_treat,
             CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS bigint) AS n_ctrl,
             CAST(count(DISTINCT CASE WHEN treat = 1 THEN user_id END) AS bigint) AS u_treat,
             CAST(count(DISTINCT CASE WHEN treat = 0 THEN user_id END) AS bigint) AS u_ctrl,
             CAST(sum(CASE WHEN treat = 1 THEN v ELSE 0 END) AS bigint) AS s_treat,
             CAST(sum(CASE WHEN treat = 0 THEN v ELSE 0 END) AS bigint) AS s_ctrl
      FROM ev GROUP BY event_type
    )
    SELECT event_type, n_treat, n_ctrl, u_treat, u_ctrl,
           CASE WHEN n_treat = 0 THEN 0 ELSE s_treat // n_treat END AS mean_treat_cents,
           CASE WHEN n_ctrl = 0 THEN 0 ELSE s_ctrl // n_ctrl END AS mean_ctrl_cents,
           (CASE WHEN n_treat = 0 THEN 0 ELSE s_treat // n_treat END)
           - (CASE WHEN n_ctrl = 0 THEN 0 ELSE s_ctrl // n_ctrl END) AS lift_cents
    FROM g
    ORDER BY event_type"""

  /** TPC-H Q4 shape (order-priority checking): per priority, count the
    * orders in a half-year window with at least one lineitem shipped more
    * than 75 days after the order date — an EXISTS over the fact table.
    * Plans as a LEFT SEMI join on the order key with the date predicate as
    * the residual condition: one pass over each side, no duplicate-order
    * inflation, grouped on a 5-value key with partial combine. */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 75 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q4OrderPrioritySql: String = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** TPC-H Q8 shape (national market share): one supplier nation's revenue
    * share among one customer region's orders, by year, in basis points.
    * Revenue is per-row integer cents (floor(extprice·(1−disc)·100)) so
    * the 2-row aggregate is engine-exact. Join shape: lineitem⋈orders is
    * the one fact-fact join (shuffles on the order key; AQE picks the
    * strategy), every dimension side — customer, supplier, both nation
    * legs, region — broadcasts; the grouped domain is |years|. */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
    val nat = Tables.nation(spark, sfDir)
    val cn = nat.select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val sn = nat.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val volC = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), volC.as("vol_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(spark, sfDir)
        .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
        col("cn_region") === col("r_regionkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(col("yr"))
      .agg(sum(when(col("supp_nation") === "NATION_19", col("vol_c")).otherwise(0L)).as("target_vol_c"),
           sum(col("vol_c")).as("total_vol_c"))
      .select(col("yr"), col("target_vol_c"), col("total_vol_c"),
        expr("10000 * target_vol_c div total_vol_c").as("share_bp"))
      .orderBy(col("yr"))
  }

  val q8MarketShareSql: String = """
    WITH vol AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint) AS vol_c,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders    ON l_orderkey = o_orderkey
      JOIN customer  ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region    ON cn.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT CAST(yr AS bigint) AS yr,
           CAST(sum(CASE WHEN supp_nation = 'NATION_19' THEN vol_c ELSE 0 END) AS bigint) AS target_vol_c,
           CAST(sum(vol_c) AS bigint) AS total_vol_c,
           (10000 * CAST(sum(CASE WHEN supp_nation = 'NATION_19' THEN vol_c ELSE 0 END) AS bigint)
              // CAST(sum(vol_c) AS bigint)) AS share_bp
    FROM vol
    GROUP BY yr
    ORDER BY yr"""

  /** Event-type transition matrix (first-order Markov counts): per user,
    * each consecutive event pair (ordered by time, event_id tie-break)
    * counted by (previous type → current type) — the navigation-pattern
    * aggregate. One shuffle on user_id for the lag window, then a
    * |types|²-domain aggregation with map-side combine. */
  def qTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val qTransitionsSql: String = """
    SELECT prev_type, event_type, count(*) AS n
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, event_type"""

  /** Retention cohorts: users grouped by first-activity day, counted on
    * each later activity day (offset 0-7) — the product-analytics
    * retention matrix. Shape: one distinct over (user, day) (the only
    * data-sized shuffle), a per-user min for the cohort day, then the
    * matrix aggregate over the ≤ |users|·8 activity grid. Dates are
    * emitted as yyyy-MM-dd strings (engine-portable, no date dtype). */
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(false) // feeds the cohort min AND the matrix join
    val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("offset_days"))
      .filter(col("offset_days") >= 0 && col("offset_days") <= 7)
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(count(lit(1)).as("n_users")) // act is distinct per (user, day)
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"), col("n_users"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  val qRetentionSql: String = """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', cohort_day, day) AS bigint) AS offset_days,
           count(*) AS n_users
    FROM act JOIN cohort USING (user_id)
    WHERE datediff('day', cohort_day, day) BETWEEN 0 AND 7
    GROUP BY 1, 2
    ORDER BY cohort_day, offset_days"""

  /** Market-basket affinity: part pairs co-occurring in the same order,
    * ranked by support. Baskets collapse to a sorted distinct-part array
    * per order (collect_set folds the dedup into ONE shuffle), then the
    * pair expansion is a per-row array transform — map-side, bounded
    * O(order-size²) per row, never a self-join of the fact table. Pair
    * aggregation with map-side combine; top-20 as TakeOrdered. */
  def qBasketPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    baskets
      .select(explode(QueryModule.sortedPairs(col("ps"))).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val qBasketPairsSql: String = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT x.l_partkey AS part_a, y.l_partkey AS part_b, count(*) AS n_orders
    FROM li x JOIN li y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20"""

  /** DAU / WAU / stickiness per day: daily actives from ONE distinct
    * (user, day) pass (the only data-sized shuffle); weekly actives =
    * distinct users over the trailing 7 days via a bounded range join of
    * the tiny day list against that distinct table — never a sliding
    * window over raw events; stickiness = DAU/WAU in basis points. */
  def qEventsDau(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(false) // feeds dau, the day list, and the range join
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = act.select(col("day")).distinct()
    val wau = broadcast(days.as("d")).join(act.as("a"),
        datediff(col("d.day"), col("a.day")).between(0, 6))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct(col("a.user_id")).as("wau"))
    dau.join(wau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        floor(col("dau") * 10000.0 / col("wau")).cast("long").as("stickiness_bp"))
      .orderBy(col("day"))
  }

  val qEventsDauSql: String = """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM act
    ), dau AS (
      SELECT day, count(*) AS dau FROM act GROUP BY day
    ), wau AS (
      SELECT d.day AS day, count(DISTINCT a.user_id) AS wau
      FROM days d JOIN act a ON datediff('day', a.day, d.day) BETWEEN 0 AND 6
      GROUP BY d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
           CAST(floor(dau * 10000.0 / wau) AS bigint) AS stickiness_bp
    FROM dau JOIN wau USING (day)
    ORDER BY day"""

  /** Sequential conversion funnel (view → click → purchase, strictly
    * time-ordered per user): the product-analytics pattern a raw window
    * over all events would do with a full per-user sort — here each stage
    * is a filtered aggregation joined to the previous stage's first-hit
    * table, all shuffles on the same user_id key, stage tables ≤ |users|
    * rows (checkpointed once each — they feed the next stage AND the
    * count). */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      .localCheckpoint(false)
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      .localCheckpoint(false)
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        expr("CASE WHEN n_view = 0 THEN 0 ELSE 10000 * n_click div n_view END").as("click_bp"),
        expr("CASE WHEN n_click = 0 THEN 0 ELSE 10000 * n_purchase div n_click END").as("purchase_bp"))
  }

  val qFunnelSql: String = """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(ts) AS t_click FROM events e JOIN v ON e.user_id = v.user_id
      WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(ts) AS t_buy FROM events e JOIN c ON e.user_id = c.user_id
      WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase,
           CASE WHEN (SELECT count(*) FROM v) = 0 THEN 0
                ELSE 10000 * (SELECT count(*) FROM c) // (SELECT count(*) FROM v) END AS click_bp,
           CASE WHEN (SELECT count(*) FROM c) = 0 THEN 0
                ELSE 10000 * (SELECT count(*) FROM p) // (SELECT count(*) FROM c) END AS purchase_bp"""

  /** Log-bucket sketch percentiles — the SCALE twin of [[qPercentiles]]:
    * instead of a per-group sort of every row, each row maps to bucket
    * ⌊log2(v+1)⌋ (exact integer math: length(bin(v+1))−1, no float log),
    * the per-(group, bucket) counts collapse in the partial agg (≤ ~40
    * buckets per group regardless of row count, same trick as the size
    * histogram), and the percentile is read off the cumulative histogram
    * as the bucket's upper value — a ≤2× overestimate by construction.
    * This is the mergeable-sketch shape that replaces the exact window
    * sort at 100 TB; the estimate and everything about it is
    * deterministic, so the oracle matches bit-for-bit. */
  def qPercentilesApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = when(col("v") < 0, lit(-1))
      .otherwise(length(conv(col("v") + 1, 10, 2)) - 1)
    val est = when(col("bucket") < 0, lit(-1L))
      .otherwise(expr("shiftleft(1L, bucket + 1)") - 2)
    val byType = Window.partitionBy(col("event_type"))
    val cumW = byType.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pick(p: Double) =
      min(when(col("cum") >= ceil(lit(p) * col("n")).cast("long"), col("est")))
    Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v"))
      .select(col("event_type"), bucket.as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("est", est)
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byType))
      .groupBy(col("event_type"))
      .agg(pick(0.5).as("p50_est_c"), pick(0.95).as("p95_est_c"),
        count(lit(1)).as("n_buckets"), max(col("n")).as("n_rows"))
      .orderBy(col("event_type"))
  }

  val qPercentilesApproxSql: String = """
    WITH b AS (
      SELECT event_type,
             CASE WHEN v < 0 THEN -1 ELSE length(to_base(v + 1, 2)) - 1 END AS bucket
      FROM (SELECT event_type, CAST(floor(value * 100) AS bigint) AS v FROM events)
    ), hist AS (
      SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY event_type, bucket
    ), cum AS (
      SELECT event_type, bucket, cnt,
             CASE WHEN bucket < 0 THEN -1 ELSE (CAST(1 AS bigint) << (bucket + 1)) - 2 END AS est,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    )
    SELECT event_type,
           min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS bigint) THEN est END) AS p50_est_c,
           min(CASE WHEN cum >= CAST(ceil(0.95 * n) AS bigint) THEN est END) AS p95_est_c,
           count(*) AS n_buckets,
           CAST(max(n) AS bigint) AS n_rows
    FROM cum
    GROUP BY event_type
    ORDER BY event_type"""

  /** Theta/KMV sketch set INTERSECTION — the sketch-algebra step beyond
    * single-set KMV (`q_kmv_distinct`) and union merge
    * (`q_kmv_merge_rollup`): estimate |click-users ∩ purchase-users| from
    * two k=64 KMV synopses alone (thresholded "big-click" vs "big-purchase" user sets, so the sets differ and, at sf0.1, both sketches are in the estimating regime). Textbook theta rule: θ = min over the
    * two sketches of (h_k, or 2⁴⁸ when the sketch is exact), the sample is
    * the common hashes below θ, and the estimate is n_common·2⁴⁸ div θ.
    * Every step is md5/integer arithmetic → DuckDB re-derives it exactly.
    * Scale shape: ONE distinct shuffle over (type, user); everything
    * after runs on ≤2k sketch rows with the θ scalar broadcast. */
  /** The two-set KMV synopsis core shared by [[qKmvIntersect]] and
    * [[qKmvDiff]] — one recipe (k, salt, hex width, value cut, θ rule)
    * so the intersection and difference can never disagree on their
    * common sketches. Returns (pairs, kept, theta):
    * pairs = the distinct (event_type, user) table feeding both the
    * sketches and the exact readouts; kept = the two ≤k-row synopses;
    * theta = the 1-row common threshold. */
  private def kmvSketchParts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val k = KmvSketchK
    val full = (1L << 48)
    // value ≥ 150 makes "big-click users" and "big-purchase users"
    // genuinely different sets (≈50/45/20% of users at sf0.01) — without
    // it every user has every event type and the overlap is trivial
    val pairs = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase") && col("value") >= 150)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(false) // feeds the sketches AND the exact readouts
    val hashed = pairs.select(col("event_type"),
      conv(substring(md5(concat(lit("kmv_"), col("user_id").cast("string"))), 1, 12), 16, 10)
        .cast("long").as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val kept = hashed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k).select(col("event_type"), col("h"))
      .localCheckpoint(false) // the two ≤k-row synopses
    val theta = kept.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("h_k"))
      .agg(min(when(col("n_seen") < k, full).otherwise(col("h_k"))).as("theta"))
    (pairs, kept, theta)
  }

  private val KmvSketchK = 64

  /** The p/hh/keep/th CTE chain — the ONE DuckDB twin of
    * [[kmvSketchParts]], spliced by both set-algebra oracles. */
  private val kmvSketchCtes: String = s"""p AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase') AND value >= 150
    ), hh AS (
      SELECT event_type,
             CAST('0x' || substr(md5('kmv_' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      FROM p
    ), keep AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
      FROM hh
    ), th AS (
      SELECT min(CASE WHEN n_seen < $KmvSketchK THEN ${1L << 48} ELSE h_k END) AS theta
      FROM (SELECT event_type, count(*) AS n_seen, max(h) AS h_k
            FROM keep WHERE rnk <= $KmvSketchK GROUP BY event_type)
    )"""

  def qKmvIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val k = KmvSketchK
    val full = (1L << 48)
    val (pairs, kept, theta) = kmvSketchParts(spark, sfDir)
    // theta re-attached AFTER the count: max(theta) inside the aggregate
    // would be NULL when the sample is empty (a legitimate disjoint-sets
    // outcome), nulling the estimate instead of reporting 0
    val common = kept.filter(col("event_type") === "click").select(col("h"))
      .join(kept.filter(col("event_type") === "purchase").select(col("h")), "h")
      .crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_common"))
      .crossJoin(broadcast(theta))
    val exacts = pairs.groupBy(col("user_id")).agg(count(lit(1)).as("nt"))
      .agg(sum(when(col("nt") === 2, 1L).otherwise(0L)).as("n_inter_exact"))
      .crossJoin(pairs.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_a")))
      .crossJoin(pairs.filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_b")))
    broadcast(exacts).crossJoin(common)
      .select(lit(k.toLong).as("k"), col("n_a"), col("n_b"), col("n_inter_exact"),
        col("n_common"), expr(s"n_common * $full div theta").as("n_inter_est"))
      .withColumn("err_bp",
        // a legitimately empty intersection must report null, not divide
        // by zero (ANSI would abort the whole query)
        when(col("n_inter_exact") === 0, lit(null).cast("long"))
          .otherwise(floor(abs(col("n_inter_est") - col("n_inter_exact")) * 10000.0 /
            col("n_inter_exact")).cast("long")))
  }

  val qKmvIntersectSql: String = s"""
    WITH $kmvSketchCtes, com AS (
      SELECT count(*) AS n_common
      FROM (SELECT h FROM keep WHERE rnk <= $KmvSketchK AND event_type = 'click') a
      JOIN (SELECT h FROM keep WHERE rnk <= $KmvSketchK AND event_type = 'purchase') b USING (h)
      CROSS JOIN th
      WHERE h < theta
    ), ex AS (
      SELECT CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS bigint) AS n_a,
             CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS bigint) AS n_b
      FROM p
    ), exi AS (
      SELECT CAST(count(*) AS bigint) AS n_inter_exact
      FROM (SELECT user_id FROM p GROUP BY user_id HAVING count(*) = 2)
    )
    SELECT CAST($KmvSketchK AS bigint) AS k, n_a, n_b, n_inter_exact,
           CAST(n_common AS bigint) AS n_common,
           CAST(n_common * ${1L << 48} // theta AS bigint) AS n_inter_est,
           CASE WHEN n_inter_exact = 0 THEN NULL
                ELSE CAST(floor(abs(n_common * ${1L << 48} // theta - n_inter_exact)
                     * 10000.0 / n_inter_exact) AS bigint) END AS err_bp
    FROM ex CROSS JOIN exi CROSS JOIN com CROSS JOIN th"""

  /** Churn-risk banding — the lifecycle readout next to [[qRfm]]: users
    * bucketed by days idle relative to the corpus horizon (the max event
    * time — production uses now()), with per-band user counts, event
    * mass, and the band's share of users in bp. Active < 1 day idle ≤
    * at-risk < 2 ≤ churned (the thresholds are the banding knobs; the
    * harness corpus spans days, production spans months). One
    * groupBy onto |users|, horizon broadcast, final agg on the 3-band
    * domain. */
  def qChurnRisk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val lastSeen = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(unix_timestamp(col("ts"))).as("last_epoch"),
        count(lit(1)).as("n_events"))
    val horizon = lastSeen.agg(max(col("last_epoch")).as("now_epoch"))
    val banded = lastSeen.crossJoin(broadcast(horizon))
      .select(col("n_events"),
        expr("(now_epoch - last_epoch) div 86400").as("idle_days"))
      .select(col("n_events"),
        when(col("idle_days") < 1, "active")
          .when(col("idle_days") < 2, "at_risk")
          .otherwise("churned").as("band"))
    val total = sum(col("n_users")).over(Window.partitionBy())
    banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .withColumn("share_bp", floor(col("n_users") * 10000.0 / total).cast("long"))
      .orderBy(col("band"))
  }

  val qChurnRiskSql: String = """
    WITH ls AS (
      SELECT user_id, CAST(max(floor(epoch(ts))) AS bigint) AS last_epoch,
             CAST(count(*) AS bigint) AS n_events
      FROM events GROUP BY user_id
    ), hz AS (SELECT max(last_epoch) AS now_epoch FROM ls),
    banded AS (
      SELECT n_events,
             CASE WHEN (now_epoch - last_epoch) // 86400 < 1 THEN 'active'
                  WHEN (now_epoch - last_epoch) // 86400 < 2 THEN 'at_risk'
                  ELSE 'churned' END AS band
      FROM ls CROSS JOIN hz
    ), agg AS (
      SELECT band, CAST(count(*) AS bigint) AS n_users,
             CAST(sum(n_events) AS bigint) AS n_events
      FROM banded GROUP BY band
    )
    SELECT band, n_users, n_events,
           CAST(floor(n_users * 10000.0 / (SELECT sum(n_users) FROM agg)) AS bigint) AS share_bp
    FROM agg
    ORDER BY band"""

  /** Sample-ratio-mismatch (SRM) guardrail for the A/B assignment — the
    * check every experimentation platform runs BEFORE reading
    * `q_events_lift`: with a 50/50 md5 split, a lopsided realized user
    * count means the assignment (not the treatment) is broken and every
    * lift number downstream is garbage. Emits the exact chi-square
    * numerator in micro-units — χ²·10⁶ = Σ(obs − exp)²·4·10⁶ / n over
    * the two arms (exp = n/2, so the two terms collapse to
    * (u_t − u_c)²·10⁶ / n) — plus the 3.84 critical-value verdict
    * (α = 0.05, 1 dof), all integer arithmetic. One distinct on (user)
    * then a single-row aggregate. */
  def qAbSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val bp = TextQueries.hashGateBp("exp_", col("user_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .select((bp < 5000L).cast("long").as("treat"))
      .agg(sum(col("treat")).as("u_treat"),
        sum(lit(1L) - col("treat")).as("u_ctrl"))
      // exact ⌊d²·10⁶/n⌋ without overflowing d²·10⁶: split into quotient
      // and remainder parts (d² = qn + r → d²·10⁶/n = q·10⁶ + r·10⁶/n);
      // all operands nonnegative so Spark `div` (truncating) and DuckDB
      // `//` (flooring) agree. Exact to d ≈ 3·10⁹ users.
      .select(col("u_treat"), col("u_ctrl"),
        expr("""((u_treat - u_ctrl) * (u_treat - u_ctrl) div (u_treat + u_ctrl)) * 1000000
                + ((u_treat - u_ctrl) * (u_treat - u_ctrl) % (u_treat + u_ctrl)) * 1000000
                  div (u_treat + u_ctrl)""").as("chi2_micro"))
      .withColumn("srm_flag",
        (col("chi2_micro") > 3841459L).cast("int")) // χ²₀.₉₅,₁ = 3.841459
  }

  val qAbSrmSql: String = s"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), arms AS (
      SELECT CAST(sum(t) AS bigint) AS u_treat,
             CAST(sum(1 - t) AS bigint) AS u_ctrl
      FROM (SELECT CASE WHEN ${TextQueries.hashGateBpSql("exp_", "user_id")} < 5000
                   THEN 1 ELSE 0 END AS t FROM u)
    )
    SELECT u_treat, u_ctrl, chi2_micro,
           CAST(chi2_micro > 3841459 AS int) AS srm_flag
    FROM (
      SELECT u_treat, u_ctrl,
             CAST(((u_treat - u_ctrl) * (u_treat - u_ctrl) // (u_treat + u_ctrl)) * 1000000
                  + ((u_treat - u_ctrl) * (u_treat - u_ctrl) % (u_treat + u_ctrl)) * 1000000
                    // (u_treat + u_ctrl) AS bigint) AS chi2_micro
      FROM arms
    )"""

  /** RFM customer segmentation — the classic recency/frequency/monetary
    * quintile grid behind lifecycle marketing and cohort pricing: per
    * customer, recency = last order epoch, frequency = order count,
    * monetary = lifetime cents; each scored 1-5 by ntile over a
    * deterministic total order (metric, custkey — ANSI ntile splits
    * identically in both engines given a total order), reported as the
    * 125-cell segment grid with sizes and per-cell monetary mass.
    * Shuffle posture: one groupBy onto |customers|, three ntile windows
    * over that bounded aggregate (the q_percentiles posture — raw orders
    * never globally sort), final count on the ≤125-cell domain. */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(unix_timestamp(col("o_orderdate"))).as("last_epoch"),
        count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val scored = base
      .withColumn("r_q", ntile(5).over(
        Window.orderBy(col("last_epoch"), col("o_custkey"))))
      .withColumn("f_q", ntile(5).over(
        Window.orderBy(col("n_orders"), col("o_custkey"))))
      .withColumn("m_q", ntile(5).over(
        Window.orderBy(col("cents"), col("o_custkey"))))
    scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val qRfmSql: String = """
    WITH base AS (
      SELECT o_custkey,
             CAST(max(floor(epoch(o_orderdate))) AS bigint) AS last_epoch,
             CAST(count(*) AS bigint) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100) AS bigint)) AS bigint) AS cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT ntile(5) OVER (ORDER BY last_epoch, o_custkey) AS r_q,
             ntile(5) OVER (ORDER BY n_orders, o_custkey) AS f_q,
             ntile(5) OVER (ORDER BY cents, o_custkey) AS m_q,
             cents
      FROM base
    )
    SELECT r_q, f_q, m_q, CAST(count(*) AS bigint) AS n_customers,
           CAST(sum(cents) AS bigint) AS sum_cents
    FROM scored
    GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q"""

  /** Top event-type paths of length 3 — the sequence-mining readout
    * behind funnel design (which 3-step journeys actually happen, vs
    * the ones `q_funnel` assumes): per user, consecutive event-type
    * trigrams via two lead windows over the (ts, event_id)-deterministic
    * order, counted on the |event_types|³ ≤ 125 domain. ONE shuffle on
    * user_id (both leads share the window sort), partial-combined count,
    * TakeOrdered head. */
  def qEventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  val qEventPathsSql: String = """
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1, e2, e3, CAST(count(*) AS bigint) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 20"""

  /** Theta-sketch set DIFFERENCE — completes the sketch set algebra
    * (union = `q_kmv_merge_rollup`, intersection = `q_kmv_intersect`,
    * difference here): estimate |A∖B| (big-click users who never
    * big-purchase) from the same two k=64 synopses via an ANTI-join of
    * the common-θ samples — A-hashes below θ absent from B's sketch are
    * a uniform sample of A∖B, so est = n_only·2⁴⁸ div θ. Same md5/
    * integer arithmetic → oracle re-derives the estimate exactly; same
    * shuffle posture as the intersection (ONE distinct shuffle, then
    * ≤2k-row sketch algebra with θ broadcast). */
  def qKmvDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val full = (1L << 48)
    val (pairs, kept, theta) = kmvSketchParts(spark, sfDir)
    // theta re-attached AFTER the count (the qKmvIntersect empty-sample
    // posture): A ⊆ B is a legitimate funnel shape, and it must estimate
    // 0, not NULL
    val only = kept.filter(col("event_type") === "click").select(col("h"))
      .crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
      .join(kept.filter(col("event_type") === "purchase").select(col("h")),
        Seq("h"), "left_anti")
      .agg(count(lit(1)).as("n_only"))
      .crossJoin(broadcast(theta))
    val exacts = pairs.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      .agg(sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n_diff_exact"),
        sum(col("a")).as("n_a"), sum(col("b")).as("n_b"))
    broadcast(exacts).crossJoin(only)
      .select(lit(KmvSketchK.toLong).as("k"), col("n_a"), col("n_b"), col("n_diff_exact"),
        col("n_only"), expr(s"n_only * $full div theta").as("n_diff_est"))
      .withColumn("err_bp",
        when(col("n_diff_exact") === 0, lit(null).cast("long"))
          .otherwise(floor(abs(col("n_diff_est") - col("n_diff_exact")) * 10000.0 /
            col("n_diff_exact")).cast("long")))
  }

  val qKmvDiffSql: String = s"""
    WITH $kmvSketchCtes, dif AS (
      SELECT count(*) AS n_only
      FROM (SELECT h FROM keep WHERE rnk <= $KmvSketchK AND event_type = 'click') a
      CROSS JOIN th
      WHERE h < theta AND h NOT IN
        (SELECT h FROM keep WHERE rnk <= $KmvSketchK AND event_type = 'purchase')
    ), ex AS (
      SELECT CAST(sum(a) AS bigint) AS n_a, CAST(sum(b) AS bigint) AS n_b,
             CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS bigint) AS n_diff_exact
      FROM (SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
            FROM p GROUP BY user_id)
    )
    SELECT CAST($KmvSketchK AS bigint) AS k, n_a, n_b, n_diff_exact,
           CAST(n_only AS bigint) AS n_only,
           CAST(n_only * ${1L << 48} // theta AS bigint) AS n_diff_est,
           CASE WHEN n_diff_exact = 0 THEN NULL
                ELSE CAST(floor(abs(n_only * ${1L << 48} // theta - n_diff_exact)
                     * 10000.0 / n_diff_exact) AS bigint) END AS err_bp
    FROM ex CROSS JOIN dif CROSS JOIN th"""

  /** Robust anomaly detection: per event type, the exact median and MAD
    * (median absolute deviation) of value cents, plus the count of events
    * whose deviation exceeds 5×MAD — the robust-z outlier rule that, unlike
    * mean/stddev, a single large outlier cannot drag. Both medians use the
    * shared exact-rank pick (rn == ceil(0.5·n)) so every engine agrees
    * bit-for-bit. Shuffle posture: two ranked passes partitioned by the
    * 5-value event_type domain (same documented skew caveat as
    * [[qPercentiles]] — the 100 TB path is the log-bucket sketch twin
    * `q_percentiles_approx`); the 5-row median/MAD tables re-enter as
    * broadcast joins, never a shuffle. */
  def qAnomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wn = Window.partitionBy(col("event_type"))
    val med = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type")).agg(exactPick(0.5).as("med_c"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med_c"), abs(col("v") - col("med_c")).as("v"))
    val mad = dev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type")).agg(exactPick(0.5).as("mad_c"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), max(col("med_c")).as("med_c"),
        max(col("mad_c")).as("mad_c"),
        sum(when(col("v") > lit(5) * col("mad_c"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val qAnomalyMadSql: String = """
    WITH ev AS (
      SELECT event_type, CAST(floor(value * 100) AS bigint) AS v FROM events
    ), med AS (
      SELECT event_type, max(CASE WHEN rn = CAST(ceil(0.5 * n) AS bigint) THEN v END) AS med_c
      FROM (SELECT event_type, v,
                   row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM ev)
      GROUP BY event_type
    ), dev AS (
      SELECT ev.event_type, med_c, abs(v - med_c) AS v
      FROM ev JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, max(CASE WHEN rn = CAST(ceil(0.5 * n) AS bigint) THEN v END) AS mad_c
      FROM (SELECT event_type, v,
                   row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev)
      GROUP BY event_type
    )
    SELECT d.event_type, count(*) AS n_rows, max(d.med_c) AS med_c, max(m.mad_c) AS mad_c,
           CAST(sum(CASE WHEN d.v > 5 * m.mad_c THEN 1 ELSE 0 END) AS bigint) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type"""

  /** Triangle counting + global clustering coefficient over the co-order
    * part graph (parts are connected when some order contains both):
    * per-order map-side pair expansion (orders hold ≤7 parts — never a
    * corpus self-join) → distinct edge list →
    * [[graft.operators.Triangles.summary]] — degree-ordered orientation
    * (Suri & Vassilvitskii, WWW'11), per-edge sorted-adjacency
    * intersection (r10: replaces the wedge enumeration whose Σ C(od,2)
    * materialized rows — 41× the edge count at sf1 — dominated three
    * rounds of sf1 cost), heavy out-lists broadcast under an absolute
    * entry cap. Output is one row: |V|, |E|, wedge count Σ C(deg,2),
    * triangles, and the global clustering coefficient 3·T/wedges in
    * basis points. */
  /** The distinct undirected co-order part edge list (u < v), memoized
    * per (session, sfDir) — r12: all six iterative-graph rows
    * (`q_graph_triangles`, `q_pagerank`, `q_kcore`, `q_lpa_communities`,
    * `q_link_predict`, `q_triangles_approx`) re-derived the identical
    * lineitem groupBy + pair expansion + distinct (~2 s each at sf0.1,
    * BENCH_NOTES r7 "shared base-edge expansion"); the
    * [[graft.operators.ChainMemo]] (pqCore posture) builds it once per
    * session — the production shape, where the graph projection of a
    * fact table is staged once and every graph algorithm reads it. */
  private val coEdgesMemo = new graft.operators.ChainMemo[DataFrame]()
  private def coOrderEdges(spark: SparkSession, sfDir: String): DataFrame =
    coEdgesMemo.getOrBuild(spark, sfDir) {
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(QueryModule.sortedPairs(col("ps"))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .distinct()
        .localCheckpoint(false) // lazy: first consumer materializes
    }

  /** The SYMMETRIZED co-order edge table, staged once per session as a
    * [[graft.operators.Rounds.eager]] leaf — r13: `q_kcore` and
    * `q_lpa_communities` each re-derived the 2·|E| table per consuming
    * query on top of the (already memoized) edge list; one staged copy
    * per session now serves both (the same ChainMemo posture as the edge
    * list itself — within Bench every query's run 1 still rebuilds it).
    * The job that materializes it also counts its rows, which bound the
    * node count ([[graft.operators.GraphScale.nodeBound]]) and pick the
    * in-task kernel ([[graft.operators.GraphKernel.fits]]). It is not
    * partitioned or sorted first: a checkpoint keeps no layout
    * (`LayoutSpec`), so the merge joins downstream shuffle it anyway. Its
    * jobs, the edge list's AQE stages included, are described `co-order
    * staging`. */
  private val symStagedMemo = new graft.operators.ChainMemo[DataFrame]()
  private def coOrderSymStaged(spark: SparkSession, sfDir: String): DataFrame =
    symStagedMemo.getOrBuild(spark, sfDir) {
      graft.operators.Rounds.described(spark, "co-order staging") {
        val und = coOrderEdges(spark, sfDir)
        graft.operators.Rounds.eager(und.union(und.select(col("v").as("u"), col("u").as("v"))))
      }
    }

  def qGraphTriangles(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Triangles.summary(spark, coOrderEdges(spark, sfDir))

  /** PageRank (5 power iterations, damping 0.85) over the undirected
    * co-order part graph, in INTEGER arithmetic so DuckDB re-derives every
    * iteration bit-for-bit: total mass 10¹², rank_{i+1}(v) =
    * (15·S) div (100·N) + (85·Σᵤ rank_i(u) div deg(u)) div 100. The
    * Spark-first iterative-graph shape: the (u,v,outd) edge table is
    * materialized ONCE (localCheckpoint) and each iteration is one
    * equi-join + one map-side-combined groupBy on the destination, run
    * as [[graft.operators.Rounds.fixed]] rounds. Top-20 by rank via
    * TakeOrdered.
    *
    * The per-iteration rank attach switches AUTOMATICALLY on the
    * measured node count ([[graft.operators.GraphScale]]): below the
    * cutover the rank table is BROADCAST — |nodes| longs, tiny next to
    * |edges|, so each iteration is a map-side join over the
    * checkpointed edge table plus ONE partial-agg shuffle onto the node
    * domain. Past the cutover, per-iteration broadcast builds
    * accumulate in the driver (the `q_lpa_communities` sf1 OOM class),
    * so the plan flips to the [[graft.operators.Lpa]] recipe: each
    * iteration forced-merge-joins the |V|-row rank table (the edge table
    * is laid out on `u` before its checkpoint, but the checkpoint keeps
    * no layout, so the merge join shuffles it too). Both plans compute the identical integer trajectory
    * (spec-asserted). */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame =
    qPagerank(spark, sfDir, _ => ())

  /** [[qPagerank]] with plan observability: `modeOut` receives the
    * chosen attach plan (`"broadcast"` / `"shuffled"`) — a callback
    * rather than a shared mutable global, so concurrent runs can't
    * clobber each other's observation. */
  /** PageRank's staged inputs — the degree-joined edge table, the degree
    * table, the node count and the chosen mode — memoized per (session,
    * sfDir, cutover conf): r13, the same staging posture as
    * [[coOrderSymStaged]]. The cutover conf is part
    * of the key so a spec that forces the shuffled plan can never be
    * served the broadcast-mode layout. Its jobs, the AQE stages that
    * the edge list and the degree join submit included, are described
    * `pagerank staging`. */
  private val pagerankCoreMemo =
    new graft.operators.ChainMemo[(DataFrame, DataFrame, Long, Boolean)]()
  private def pagerankCore(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, Long, Boolean) =
    pagerankCoreMemo.getOrBuild(spark,
      s"$sfDir|${graft.operators.GraphScale.broadcastMaxNodes(spark)}") {
      graft.operators.Rounds.described(spark, "pagerank staging") {
        // memoized checkpoint BEFORE the union doubles the lineage (and deg
        // doubles it again): without it the expansion+distinct re-derives 4×
        // inside er's materialization (measured: half the query's wall time)
        val und = coOrderEdges(spark, sfDir)
        val e = und.union(und.select(col("v").as("u"), col("u").as("v")))
        // deg is |V| rows — checkpointed so the node count AND the er join
        // both reuse one materialization
        val deg = e.groupBy(col("u")).agg(count(lit(1)).as("outd")).localCheckpoint()
        val nn = deg.count() // measured node count drives the cutover
        val useBroadcast = graft.operators.GraphScale.useBroadcast(spark, nn)
        // exactly ONE edge-table materialization in either mode (the r8 soak
        // lesson: checkpointing a base copy AND a repartitioned copy held the
        // 2× edge table and starved a capped heap). Checkpointed as it comes
        // in either mode: a checkpoint keeps no layout (LayoutSpec), so each
        // of the 5 shuffled-mode merge joins shuffles and sorts it anyway
        val er = e.join(deg, "u").localCheckpoint()
        (er, deg, nn, useBroadcast)
      }
    }

  def qPagerank(spark: SparkSession, sfDir: String,
                modeOut: String => Unit): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val S = 1000000000000L
    val iters = 5
    val (er, deg, nn, useBroadcast) = pagerankCore(spark, sfDir)
    modeOut(if (useBroadcast) "broadcast" else "shuffled")
    val r0 = deg.select(col("u").as("node"), lit(S / nn).as("rank"))
    val r = graft.operators.Rounds.fixed("pagerank", r0, iters) { (r, _) =>
      val joined =
        if (useBroadcast) er.join(broadcast(r), er("u") === r("node"))
        else er.join(r.hint("merge"), er("u") === r("node"))
      joined
        .groupBy(col("v"))
        .agg(sum(expr("rank div outd")).as("m"))
        .select(col("v").as("node"),
          expr(s"(15 * $S) div (100 * $nn) + (85 * m) div 100").as("rank"))
    }
    r.orderBy(col("rank").desc, col("node")).limit(20)
  }

  val qPagerankSql: String = {
    val S = "1000000000000"
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
        SELECT e.v AS node,
               CAST((15 * $S) // (100 * nn)
                    + (85 * CAST(sum($prev.rank // d.outd) AS bigint)) // 100
                 AS bigint) AS rank
        FROM e JOIN $prev ON e.u = $prev.node JOIN deg d ON e.u = d.node
        CROSS JOIN n GROUP BY e.v, nn
      )"""
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), deg AS (
      SELECT u AS node, count(*) AS outd FROM e GROUP BY u
    ), n AS (SELECT count(*) AS nn FROM deg),
    r0 AS (
      SELECT node, CAST($S // nn AS bigint) AS rank FROM deg CROSS JOIN n
    ),
    ${iter("r0", "r1")},
    ${iter("r1", "r2")},
    ${iter("r2", "r3")},
    ${iter("r3", "r4")},
    ${iter("r4", "r5")}
    SELECT node, rank FROM r5
    ORDER BY rank DESC, node
    LIMIT 20"""
  }

  val qGraphTrianglesSql: String = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3
        ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) / 2) AS bigint) FROM deg) AS n_wedges,
           n_triangles,
           CAST(floor(3 * n_triangles * 10000.0 /
                (SELECT sum(d * (d - 1) / 2) FROM deg)) AS bigint) AS global_cc_bp
    FROM tri"""

  /** DOULION approximate triangle counting (Tsourakakis et al., KDD'09)
    * over the same co-order part graph as [[qGraphTriangles]] — the 100×
    * lever when the graph densifies: keep each edge with probability
    * p = 1/4 (a deterministic 48-bit md5 gate on the canonical (u, v)
    * pair, so DuckDB draws the bit-identical sample), count triangles
    * EXACTLY on the sparsified graph with the same per-edge
    * sorted-adjacency intersection ([[graft.operators.Triangles]]), and
    * scale by 1/p³. Work shrinks ~p× on the edge scan and ~p³× on the
    * intersection term — the estimate's cost next to the exact row is
    * the priced trade.
    *
    * Certificate (the `q_topk_merge_rollup` posture): each triangle
    * survives with probability p³, so E[X] = T·p³ and the plug-in
    * variance of T̂ = X/p³ under the independent-survival approximation
    * is X·(p⁻⁶ − p⁻³) — exact integer arithmetic (4032·X at p = 1/4).
    * `err2s_bp` is the 2σ relative half-width in basis points. The
    * approximation drops the positive covariance of triangle pairs
    * SHARING an edge (DOULION Lemma 2's k·(p⁵−p⁶) term — k unknowable
    * without counting), so the bound is honest exactly where sampling is
    * honest: sparse-overlap graphs; a pathological shared-edge clique
    * underestimates the width. p = 1 degenerates to the exact count with
    * zero width (spec-asserted). */
  def qTrianglesApprox(spark: SparkSession, sfDir: String): DataFrame =
    qTrianglesApprox(spark, sfDir, 4L)

  def qTrianglesApprox(spark: SparkSession, sfDir: String, pInv: Long): DataFrame = {
    // memoized checkpoint feeds the full count AND the sampled summary
    val edges = coOrderEdges(spark, sfDir)
    val gate = conv(substring(md5(concat(lit("tri_"),
      col("u").cast("string"), lit("_"), col("v").cast("string"))), 1, 12), 16, 10)
    val sampled = edges.filter(gate % pInv === 0)
    val scale3 = pInv * pInv * pInv
    val s = graft.operators.Triangles.summary(spark, sampled)
      .select(col("n_edges").as("n_edges_sampled"),
        col("n_triangles").as("t_sampled"))
    val full = edges.agg(count(lit(1)).as("n_edges_full"))
    broadcast(full).crossJoin(s)
      .select(col("n_edges_full"), col("n_edges_sampled"),
        lit(pInv).as("p_inv"), col("t_sampled"),
        (col("t_sampled") * scale3).as("t_est"),
        (col("t_sampled") * (scale3 * scale3 - scale3)).as("var_est"))
      .withColumn("err2s_bp",
        when(col("t_est") > 0,
          floor(lit(2.0) * sqrt(col("var_est")) * 10000.0 / col("t_est")))
          .otherwise(lit(-1L)).cast("long"))
  }

  val qTrianglesApproxSql: String = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), s AS (
      SELECT u, v FROM e
      WHERE CAST('0x' || substr(md5('tri_' || CAST(u AS VARCHAR) || '_'
              || CAST(v AS VARCHAR)), 1, 12) AS BIGINT) % 4 = 0
    ), tri AS (
      SELECT count(*) AS t_sampled
      FROM s e1 JOIN s e2 ON e1.v = e2.u JOIN s e3
        ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM e) AS n_edges_full,
           (SELECT count(*) FROM s) AS n_edges_sampled,
           CAST(4 AS bigint) AS p_inv,
           t_sampled,
           t_sampled * 64 AS t_est,
           t_sampled * 4032 AS var_est,
           CASE WHEN t_sampled > 0
                THEN CAST(floor(2.0 * sqrt(t_sampled * 4032) * 10000.0
                          / (t_sampled * 64)) AS bigint)
                ELSE -1 END AS err2s_bp
    FROM tri"""

  /** k-core of the co-order part graph (k = 80, 8 peel rounds —
    * measured cascade depth is 6 at both sf0.01 and sf0.1, so 8 gives
    * convergence margin; see [[graft.operators.KCore]] for the peeling
    * shape and its 100 TB posture). k = 80 sits in the degree
    * distribution's lower quartile (median co-order degree ≈ 115 at
    * every SF — the graph's density is scale-invariant), so the peel
    * has a real cascade instead of a no-op or a collapse. Output is one
    * summary row: k, round budget, core size (|V|, undirected |E|), the
    * minimum in-core degree, and `stable` — the CERTIFICATE that the
    * fixed round budget actually reached the fixpoint (min degree ≥ k;
    * an empty core is stable by convention). DuckDB re-derives the
    * identical 8 unrolled peels, so every intermediate round is
    * hash-checked through the final counts. */
  def qKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val k = KcoreK
    val core = graft.operators.KCore.peelStaged(coOrderSymStaged(spark, sfDir), k,
      KcoreRounds)
    core.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_core_nodes"),
        coalesce(sum(col("d")), lit(0L)).as("dir_deg"),
        // empty core: min degree vacuously >= k (stable by convention)
        coalesce(min(col("d")), lit(k.toLong)).as("min_core_deg"))
      .select(lit(k.toLong).as("k"), lit(KcoreRounds.toLong).as("n_rounds"),
        col("n_core_nodes"),
        expr("dir_deg div 2").as("n_core_edges"),
        col("min_core_deg"),
        (col("min_core_deg") >= k).as("stable"))
  }

  private val KcoreK = 80
  private val KcoreRounds = 8

  val qKcoreSql: String = {
    // each round references the previous round exactly ONCE (degrees via
    // window functions on the symmetric table, du = dv = degree): a round
    // written as prev ⋈ survivors ⋈ survivors touches prev 3× and, with
    // DuckDB inlining non-materialized CTEs, re-evaluates the whole chain
    // 3^rounds times (observed as an fd blowup) — the single-reference
    // form keeps the unrolled plan linear in the round count
    def peel(prev: String, cur: String): String =
      s"""$cur AS (
        SELECT u, v FROM (
          SELECT u, v, count(*) OVER (PARTITION BY u) AS du,
                       count(*) OVER (PARTITION BY v) AS dv
          FROM $prev)
        WHERE du >= $KcoreK AND dv >= $KcoreK
      )"""
    val rounds = (1 to KcoreRounds)
      .map(i => peel(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n    ")
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), r0 AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ),
    $rounds,
    deg AS (SELECT u, count(*) AS d FROM r$KcoreRounds GROUP BY u)
    SELECT CAST($KcoreK AS bigint) AS k,
           CAST($KcoreRounds AS bigint) AS n_rounds,
           count(*) AS n_core_nodes,
           CAST(coalesce(sum(d), 0) // 2 AS bigint) AS n_core_edges,
           CAST(coalesce(min(d), $KcoreK) AS bigint) AS min_core_deg,
           coalesce(min(d), $KcoreK) >= $KcoreK AS stable
    FROM deg"""
  }

  /** Community detection by synchronous label propagation over the
    * co-order part graph (the fourth iterative-graph primitive after
    * triangles, PageRank and k-core — see [[graft.operators.Lpa]] for
    * the algorithm, determinism and 100 TB shape). Output is the
    * community-SIZE histogram after [[LpaRounds]] rounds: one row per
    * distinct community size — bounded regardless of |V|. The full
    * label trajectory is deterministic (synchronous rounds, min-label
    * tie-break), so the DuckDB oracle replays every round exactly. */
  def qLpaCommunities(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = graft.operators.Lpa.propagateLaid(coOrderSymStaged(spark, sfDir), LpaRounds)
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("comm_size"))
      .groupBy(col("comm_size")).agg(count(lit(1)).as("n_comms"))
      .select(lit(LpaRounds.toLong).as("n_rounds"), col("comm_size"),
        col("n_comms"), (col("comm_size") * col("n_comms")).as("n_nodes"))
      .orderBy(col("comm_size").desc)
  }

  private val LpaRounds = 4

  val qLpaCommunitiesSql: String = {
    // same unroll discipline as qKcoreSql: round i references round i-1
    // exactly once (plus the shared symmetric edge table r0), so the
    // inlined DuckDB plan stays linear in the round count
    def round(prev: String, cur: String): String =
      s"""$cur AS (
        SELECT u, lbl FROM (
          SELECT u, lbl, row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
          FROM (SELECT e.u AS u, l.lbl AS lbl, count(*) AS c
                FROM r0 e JOIN $prev l ON e.v = l.u
                GROUP BY e.u, l.lbl))
        WHERE rn = 1
      )"""
    val rounds = (1 to LpaRounds)
      .map(i => round(if (i == 1) "l0" else s"l${i - 1}", s"l$i"))
      .mkString(",\n    ")
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), r0 AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), l0 AS (
      SELECT DISTINCT u, u AS lbl FROM r0
    ),
    $rounds,
    comms AS (SELECT lbl, count(*) AS comm_size FROM l$LpaRounds GROUP BY lbl)
    SELECT CAST($LpaRounds AS bigint) AS n_rounds,
           comm_size,
           count(*) AS n_comms,
           comm_size * count(*) AS n_nodes
    FROM comms
    GROUP BY comm_size
    ORDER BY comm_size DESC"""
  }

  /** Mergeable top-k rollup with tracked error bounds — the frequency
    * counterpart of `q_kmv_merge_rollup`'s distinct-count mergeability:
    * per-DAY bounded summaries (top m = 8 users by click count, plus the
    * day's cut line = the (m+1)-th count, 0 when the day fits) are
    * MERGED into weekly top-5 candidates WITHOUT rescanning raw events.
    * For a user, est_min = Σ visible day counts (a guaranteed lower
    * bound) and err_max = Σ cut lines of the days the user was NOT
    * summarized (each such day can hide at most the cut line), so
    * est_min ≤ exact ≤ est_min + err_max — the SpaceSaving/Manku-Motwani
    * merge algebra with its guarantee emitted as an oracle-checked
    * column (`ok`), not folklore. Everything is deterministic (ties by
    * user_id), so DuckDB re-derives summaries, merge, bounds AND the
    * exact weekly truth. Shape: day summaries are rank windows on the
    * (day) domain; the merge touches |days|·m rows; exact rides one
    * (week, user) groupBy. */
  def qTopkMergeRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = 8
    val counts = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .groupBy(col("day"), col("user_id")).agg(count(lit(1)).as("cnt"))
      .withColumn("week", expr("day div 7"))
      .localCheckpoint(false) // feeds summaries AND the exact readout
    val wDay = Window.partitionBy(col("day")).orderBy(col("cnt").desc, col("user_id"))
    val ranked = counts.withColumn("rnk", row_number().over(wDay))
      .localCheckpoint(false) // kept rows AND the cut lines
    val kept = ranked.filter(col("rnk") <= m)
    val cuts = ranked.filter(col("rnk") === m + 1)
      .select(col("day"), col("week"), col("cnt").as("cut"))
    val weekCut = cuts.groupBy(col("week")).agg(sum(col("cut")).as("cut_total"))
    val est = kept
      .join(cuts.select(col("day"), col("cut")), Seq("day"), "left")
      .groupBy(col("week"), col("user_id"))
      .agg(sum(col("cnt")).as("est_min"),
        sum(coalesce(col("cut"), lit(0L))).as("seen_cut"))
      .join(weekCut, Seq("week"), "left")
      .select(col("week"), col("user_id"), col("est_min"),
        (coalesce(col("cut_total"), lit(0L)) - col("seen_cut")).as("err_max"))
    val exact = counts.groupBy(col("week"), col("user_id"))
      .agg(sum(col("cnt")).as("n_exact"))
    val wTop = Window.partitionBy(col("week")).orderBy(col("est_min").desc, col("user_id"))
    est.join(exact, Seq("week", "user_id"))
      .withColumn("top", row_number().over(wTop))
      .filter(col("top") <= 5)
      .select(col("week"), col("user_id"), col("est_min"), col("err_max"),
        col("n_exact"),
        (col("est_min") <= col("n_exact") &&
          col("n_exact") <= col("est_min") + col("err_max")).as("ok"))
      .orderBy(col("week"), col("est_min").desc, col("user_id"))
  }

  val qTopkMergeRollupSql: String = """
    WITH c AS (
      SELECT (CAST(floor(epoch(ts)) AS bigint) // 86400) AS day, user_id,
             CAST(count(*) AS bigint) AS cnt
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    ), r AS (
      SELECT day, day // 7 AS week, user_id, cnt,
             row_number() OVER (PARTITION BY day ORDER BY cnt DESC, user_id) AS rnk
      FROM c
    ), kept AS (
      SELECT day, week, user_id, cnt FROM r WHERE rnk <= 8
    ), cuts AS (
      SELECT day, week, cnt AS cut FROM r WHERE rnk = 9
    ), wc AS (
      SELECT week, CAST(sum(cut) AS bigint) AS cut_total FROM cuts GROUP BY week
    ), est AS (
      SELECT k.week, k.user_id,
             CAST(sum(k.cnt) AS bigint) AS est_min,
             CAST(coalesce(max(wc.cut_total), 0) - sum(coalesce(cu.cut, 0)) AS bigint) AS err_max
      FROM kept k
      LEFT JOIN cuts cu ON k.day = cu.day
      LEFT JOIN wc ON k.week = wc.week
      GROUP BY k.week, k.user_id
    ), ex AS (
      SELECT day // 7 AS week, user_id, CAST(sum(cnt) AS bigint) AS n_exact
      FROM c GROUP BY 1, 2
    ), top AS (
      SELECT est.week, est.user_id, est_min, err_max, n_exact,
             row_number() OVER (PARTITION BY est.week
                                ORDER BY est_min DESC, est.user_id) AS t
      FROM est JOIN ex ON est.week = ex.week AND est.user_id = ex.user_id
    )
    SELECT week, user_id, est_min, err_max, n_exact,
           (est_min <= n_exact AND n_exact <= est_min + err_max) AS ok
    FROM top WHERE t <= 5
    ORDER BY week, est_min DESC, user_id"""

  /** Count-Min sketch heavy-hitter readout — the counting member of the
    * mergeable-sketch family here (KMV = distinct, theta = intersection,
    * Misra-Gries = streaming top-k): depth d=4 salted-md5 hash rows ×
    * width w=256 counters; estimate(key) = min over rows of the addressed
    * counter, always ≥ the true count. The sketch is built FROM the exact
    * per-user count table (increment-by-count ≡ increment-per-event), so
    * building costs one user_id shuffle with partial combine and the
    * d·w = 1024-row counter table merges across shards/days by cell-wise
    * sum — the algebra a streaming CM sketch keeps. The readout joins the
    * top users back to the BROADCAST counter table and reports each
    * overestimate in basis points; every step is md5/integer arithmetic,
    * so the oracle re-derives the identical sketch bit-for-bit. */
  def qCmSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (d, w) = (4, 256)
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .localCheckpoint(false) // feeds the sketch AND the readout join
    val cells = counts
      .select(col("user_id"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("depth"))
      .select(col("user_id"), col("n_exact"), col("depth"),
        (conv(substring(md5(concat(lit("cm"), col("depth"), lit("_"),
          col("user_id").cast("string"))), 1, 12), 16, 10)
          .cast("long") % w).as("bucket"))
    val sketch = cells.groupBy(col("depth"), col("bucket"))
      .agg(sum(col("n_exact")).as("cnt"))
    cells.join(broadcast(sketch), Seq("depth", "bucket"))
      .groupBy(col("user_id"))
      .agg(max(col("n_exact")).as("n_exact"), min(col("cnt")).as("n_est"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(20)
      .withColumn("over_bp",
        floor((col("n_est") - col("n_exact")) * 10000.0 / col("n_exact")).cast("long"))
  }

  val qCmSketchSql: String = """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS bigint) AS n_exact FROM events GROUP BY user_id
    ), cell AS (
      SELECT user_id, n_exact, depth,
             CAST('0x' || substr(md5('cm' || CAST(depth AS varchar) || '_'
               || CAST(user_id AS varchar)), 1, 12) AS BIGINT) % 256 AS bucket
      FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS depth) dd
    ), sk AS (
      SELECT depth, bucket, sum(n_exact) AS cnt FROM cell GROUP BY depth, bucket
    ), est AS (
      SELECT user_id, max(n_exact) AS n_exact, CAST(min(cnt) AS bigint) AS n_est
      FROM cell JOIN sk USING (depth, bucket)
      GROUP BY user_id
    )
    SELECT user_id, n_exact, n_est,
           CAST(floor((n_est - n_exact) * 10000.0 / n_exact) AS bigint) AS over_bp
    FROM est
    ORDER BY n_exact DESC, user_id
    LIMIT 20"""

  // -------------------------------------------------------- window funnel

  /** ClickHouse-flavored windowFunnel: the deepest view → click →
    * purchase chain per user where every step lands within 24 h of the
    * chain's FIRST event and steps strictly increase in time — the
    * bounded-window counterpart of [[qFunnel]]'s unbounded
    * earliest-step chaining (a funnel that credits a purchase six
    * months after the view is marketing fiction; this one doesn't).
    * Greedy chain per ClickHouse semantics: from EVERY view, the
    * earliest in-window click, then the earliest in-window purchase
    * after it. Output: one row per level with how many users peak
    * there, and the level's share of funnel entrants in bp. Shape
    * (r10): both step joins are DAY-TILED on (user, epoch-day) — the
    * 24 h window from a view spans exactly 2 day tiles, so the fan-out
    * on a whale user is bounded by per-day density ×2, never the
    * views×clicks quadratic of a bare per-user equi-join; each step is
    * followed by a (user, chain-start) groupBy — never a global window.
    * The view projection is NOT checkpointed (it is O(corpus): lineage
    * recompute beats pinning the job's largest intermediate in executor
    * block storage — the ADVICE r9 note); the chain table IS — it is
    * ≤1 row per (user, view) after the min-aggregation and feeds both
    * the purchase step and the level union. */
  def qWindowFunnel(spark: SparkSession, sfDir: String): DataFrame =
    qWindowFunnelFrom(spark, Tables.events(spark, sfDir))

  /** [[qWindowFunnel]] over an explicit events frame (spec hook for the
    * engineered-whale equivalence run). */
  def qWindowFunnelFrom(spark: SparkSession, evIn: DataFrame): DataFrame = {
    val ev = evIn.select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("t_v"),
        expr("unix_timestamp(ts) div 86400").as("d_v"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("t_c"),
        expr("unix_timestamp(ts) div 86400").as("c_tile"))
    // t_c ∈ (t_v, t_v+24h] ⟹ day(c) ∈ {d_v, d_v+1}: 2 tiles cover every
    // match; the residual predicate keeps the window exact
    val vTiled = v.select(col("user_id"), col("t_v"),
      explode(expr("sequence(d_v, d_v + 1)")).as("tile"))
    val c = vTiled.join(clicks,
        col("user_id") === col("c_user") && col("tile") === col("c_tile") &&
        col("t_c") > col("t_v") &&
        col("t_c") <= col("t_v") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id"), col("t_v")).agg(min(col("t_c")).as("t_c"))
      .localCheckpoint(false)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("t_p"),
        expr("unix_timestamp(ts) div 86400").as("p_tile"))
    val cTiled = c.select(col("user_id"), col("t_v"), col("t_c"),
      explode(expr(
        "sequence(unix_timestamp(t_v) div 86400, unix_timestamp(t_v) div 86400 + 1)"))
        .as("tile"))
    val p = cTiled.join(purchases,
        col("user_id") === col("p_user") && col("tile") === col("p_tile") &&
        col("t_p") > col("t_c") &&
        col("t_p") <= col("t_v") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id"), col("t_v")).agg(min(col("t_p")).as("t_p"))
    val lvl = v.select(col("user_id"), lit(1L).as("lvl"))
      .union(c.select(col("user_id"), lit(2L).as("lvl")))
      .union(p.select(col("user_id"), lit(3L).as("lvl")))
      .groupBy(col("user_id")).agg(max(col("lvl")).as("level"))
    // total entrants = Σ per-level users: the denominator derives from
    // the ≤3-row level aggregate (the [[qAttributionFrom]] byChannel
    // posture)
    val byLevel = lvl.groupBy(col("level")).agg(count(lit(1)).as("n_users"))
    val totals = byLevel.agg(sum(col("n_users")).as("n_total"))
    byLevel.crossJoin(broadcast(totals))
      .select(col("level"), col("n_users"),
        expr("10000 * n_users div n_total").as("share_bp"))
      .orderBy(col("level"))
  }

  val qWindowFunnelSql: String = """
    WITH v AS (
      SELECT user_id, ts AS t_v FROM events WHERE event_type = 'view'
    ), c AS (
      SELECT v.user_id, v.t_v, min(e.ts) AS t_c
      FROM v JOIN events e ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_v
        AND e.ts <= v.t_v + INTERVAL 24 HOUR
      GROUP BY v.user_id, v.t_v
    ), p AS (
      SELECT c.user_id, c.t_v, min(e.ts) AS t_p
      FROM c JOIN events e ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_c
        AND e.ts <= c.t_v + INTERVAL 24 HOUR
      GROUP BY c.user_id, c.t_v
    ), lvl AS (
      SELECT user_id, max(lvl) AS level FROM (
        SELECT user_id, 1 AS lvl FROM v
        UNION ALL SELECT user_id, 2 FROM c
        UNION ALL SELECT user_id, 3 FROM p
      ) GROUP BY user_id
    )
    SELECT CAST(level AS bigint) AS level, count(*) AS n_users,
           CAST(10000 * count(*) // (SELECT count(*) FROM lvl) AS bigint) AS share_bp
    FROM lvl
    GROUP BY level
    ORDER BY level"""

  // ------------------------------------------------------- cohort revenue

  /** Weekly cohort revenue matrix: users cohorted by their FIRST event
    * week, purchase cents summed by (cohort week, weeks since cohort) —
    * the LTV triangle behind [[qRetention]]'s activity counts. Weeks are
    * epoch-day div 7 (integer, timezone-free). Shape: one groupBy
    * derives each user's cohort (map-side combined onto the user
    * domain), one equi-join tags purchases, one groupBy builds the
    * matrix — all keyed on user or (cohort, age), never a window. */
  def qCohortRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_timestamp(ts) div 604800").as("week"),
        cents(col("value")).as("v_c"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_buyers"), sum(col("v_c")).as("rev_c"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  val qCohortRevenueSql: String = """
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS bigint) // 604800 AS week,
             CAST(floor(value * 100) AS bigint) AS v_c
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
    )
    SELECT c.cohort_week, e.week - c.cohort_week AS age_weeks,
           count(DISTINCT e.user_id) AS n_buyers,
           CAST(sum(e.v_c) AS bigint) AS rev_c
    FROM ev e JOIN cohort c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
    ORDER BY cohort_week, age_weeks"""

  // --------------------------------------------------------- EWMA anomaly

  /** EWMA anomaly detection over daily purchase revenue — the
    * exponential-decay counterpart of [[qAnomalyMad]]'s robust-median
    * gate, and the smoother a streaming monitor actually runs (O(1)
    * foldable state per series). α = 1/2 with a 14-day memory, in EXACT
    * integer arithmetic: lag j carries weight 2^(14−j), numerator and
    * denominator are bigint sums and the smoothed value is their integer
    * quotient, so DuckDB replays every division bit-for-bit (no float
    * pow). The denominator self-adjusts at the series head where fewer
    * lags exist (a partial-memory EWMA, not a zero-padded one); day 1
    * has no history and reports the −1 sentinel. A day is anomalous when
    * revenue exceeds 2× its EWMA. Shape: one map-side partial agg onto
    * the day domain (the series is O(days), never O(events)), then a
    * single-partition window over that tiny series — at 100 TB the heavy
    * stage is the first groupBy, which partial-aggregates each scan
    * partition to ≤|days| rows before the shuffle. */
  def qEwmaAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(cents(col("value"))).as("rev_c"))
    val w = Window.orderBy(col("day"))
    val num = (1 to 14).map(j =>
      coalesce(lag(col("rev_c"), j).over(w), lit(0L)) * lit(1L << (14 - j)))
      .reduce(_ + _)
    val den = (1 to 14).map(j =>
      when(lag(col("rev_c"), j).over(w).isNotNull, lit(1L << (14 - j)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    daily
      .withColumn("num", num).withColumn("den", den)
      .withColumn("ewma_c",
        when(col("den") > 0, expr("num div den")).otherwise(lit(-1L)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rev_c"), col("ewma_c"),
        (col("den") > 0 && col("rev_c") > lit(2) * col("ewma_c"))
          .cast("int").as("is_anomaly"))
      .orderBy(col("day"))
  }

  val qEwmaAnomalySql: String = {
    val num = (1 to 14).map(j =>
      s"coalesce(lag(rev_c, $j) OVER w, 0) * ${1L << (14 - j)}").mkString(" + ")
    val den = (1 to 14).map(j =>
      s"CASE WHEN lag(rev_c, $j) OVER w IS NOT NULL THEN ${1L << (14 - j)} ELSE 0 END")
      .mkString(" + ")
    s"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS bigint)) AS bigint) AS rev_c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), sm AS (
      SELECT day, rev_c,
             CAST($num AS bigint) AS num,
             CAST($den AS bigint) AS den
      FROM daily
      WINDOW w AS (ORDER BY day)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, rev_c,
           CASE WHEN den > 0 THEN num // den ELSE -1 END AS ewma_c,
           CAST(den > 0 AND rev_c > 2 * (CASE WHEN den > 0 THEN num // den
                ELSE -1 END) AS int) AS is_anomaly
    FROM sm
    ORDER BY day"""
  }

  // ------------------------------------------------- multi-touch attribution

  /** Multi-touch marketing attribution: each purchase's revenue is split
    * LINEARLY (integer cents) across the user's click/view touches in the
    * preceding 7 days — every touch gets rev_c div n and the LAST touch
    * (max ts, ties to max event_id) also gets the remainder, so per-
    * purchase credit conserves revenue EXACTLY (spec-asserted); purchases
    * with no touch in window credit a synthetic `direct` channel. Output:
    * per-channel credited cents, touch counts, and share of total in bp.
    * Shape (r10): touches⋈purchases is WEEK-TILED on (user, epoch-week,
    * tile width = the window width so 2 tiles suffice) — see
    * [[qAttributionFrom]] — so a whale user's join fan-out is bounded
    * by per-week density ×2, not their lifetime touch count. The
    * per-purchase credit split is one window over each purchase's
    * ≤n_touch rows, keyed by purchase — never global. */
  def qAttribution(spark: SparkSession, sfDir: String): DataFrame =
    qAttributionFrom(spark, Tables.events(spark, sfDir))

  /** [[qAttribution]] over an explicit events frame — the spec hook for
    * the engineered-whale equivalence run. r10: the touch join is TILED
    * on (user, epoch-WEEK) — tile width = the 7-day window width, the
    * textbook range-join tiling (the [[qRangeJoin]] shape SURVEY names
    * as the whale remedy): each purchase explodes to exactly 2
    * candidate week tiles, so a whale user's fan-out is bounded by
    * their per-WEEK touch density × 2, never the touches×purchases
    * quadratic a per-user equi-join pays on a hot key (day tiles were
    * measured first: an 8-way explode cost 2.3× wall on the whale-free
    * corpus; width-matched tiles keep the guard at ~1.2×). Unmatched
    * purchases survive via the left join's null rows, deduped to the
    * p_week tile (n_t = 0 keeps exactly one row per purchase), so the
    * credit semantics — linear split, remainder to last touch,
    * `direct` for touchless purchases — are bit-identical to the r9
    * per-user form (spec-asserted against an untiled reference AND an
    * in-memory brute force on a whale log). */
  def qAttributionFrom(spark: SparkSession, ev: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), cents(col("value")).as("rev_c"),
        expr("unix_timestamp(ts) div 604800").as("p_week"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        col("event_type").as("channel"), col("ts").as("t_ts"),
        expr("unix_timestamp(ts) div 604800").as("t_tile"))
    // tile width == window width: t_ts ∈ (p_ts−7d, p_ts] ⟹ week(t) ∈
    // {week(p)−1, week(p)} — 2 tiles cover every possible match and the
    // residual predicate keeps the window exact
    val pTiled = purchases.select(col("p_id"), col("user_id"), col("p_ts"),
      col("rev_c"), col("p_week"),
      explode(expr("sequence(p_week - 1, p_week)")).as("tile"))
    val attributed = pTiled.join(touches,
        col("user_id") === col("t_user") && col("tile") === col("t_tile") &&
        col("t_ts") <= col("p_ts") &&
        col("t_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"), "left")
      .select(col("p_id"), col("rev_c"), col("p_week"), col("tile"),
        col("channel"), col("t_ts"), col("t_id"))
    val byP = Window.partitionBy(col("p_id"))
    val credited = attributed
      .withColumn("n_t", count(col("t_id")).over(byP))
      .withColumn("last_rn", row_number().over(
        byP.orderBy(col("t_ts").desc_nulls_last, col("t_id").desc_nulls_last)))
      // each touch matches exactly one tile, so real rows are unique;
      // a touchless purchase left 2 null rows — keep only its p_week one
      .filter(col("t_id").isNotNull ||
        (col("n_t") === 0 && col("tile") === col("p_week")))
      .select(
        coalesce(col("channel"), lit("direct")).as("channel"),
        when(col("n_t") === 0, col("rev_c"))
          .when(col("last_rn") === 1,
            expr("rev_c div n_t") + col("rev_c") - expr("rev_c div n_t") * col("n_t"))
          .otherwise(expr("rev_c div n_t")).as("credit_c"))
    // the grand total IS the sum of the per-channel totals: derive
    // total_c from the ≤3-row channel aggregate — the duplicated
    // credited subtree under the totals branch is then byte-identical
    // and AQE's exchange reuse evaluates it once
    val byChannel = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit_c")).as("credit_c"))
    val totals = byChannel.agg(sum(col("credit_c")).as("total_c"))
    byChannel.crossJoin(broadcast(totals))
      .select(col("channel"), col("n_credits"), col("credit_c"),
        floor(col("credit_c") * 10000.0 / col("total_c")).cast("long").as("share_bp"))
      .orderBy(col("channel"))
  }

  val qAttributionSql: String = """
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts,
             CAST(floor(value * 100) AS bigint) AS rev_c
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, event_id AS t_id, event_type AS channel, ts AS t_ts
      FROM events WHERE event_type IN ('click', 'view')
    ), a AS (
      SELECT p.p_id, p.rev_c, t.channel, t.t_ts, t.t_id
      FROM p LEFT JOIN t ON p.user_id = t.user_id
        AND t.t_ts <= p.p_ts AND t.t_ts > p.p_ts - INTERVAL 7 DAY
    ), credited AS (
      SELECT coalesce(channel, 'direct') AS channel,
             CASE WHEN n_t = 0 THEN rev_c
                  WHEN last_rn = 1 THEN rev_c // n_t + rev_c - (rev_c // n_t) * n_t
                  ELSE rev_c // n_t END AS credit_c
      FROM (
        SELECT p_id, rev_c, channel, t_id,
               count(t_id) OVER (PARTITION BY p_id) AS n_t,
               row_number() OVER (PARTITION BY p_id
                 ORDER BY t_ts DESC NULLS LAST, t_id DESC NULLS LAST) AS last_rn
        FROM a)
    )
    SELECT channel, count(*) AS n_credits,
           CAST(sum(credit_c) AS bigint) AS credit_c,
           CAST(floor(sum(credit_c) * 10000.0 /
             (SELECT sum(credit_c) FROM credited)) AS bigint) AS share_bp
    FROM credited
    GROUP BY channel
    ORDER BY channel"""

  // ------------------------------------------------------- link prediction

  /** Adamic–Adar link prediction over the co-order part graph: for each
    * of 20 deterministic seed parts (smallest ids), score every
    * two-hop-but-not-adjacent part v by Σ_{w ∈ N(u)∩N(v)} 1e6 div
    * ⌊log2 deg(w)⌋ — the integer-log2 surrogate of AA's 1/ln(deg)
    * (the [[graft.queries.TextQueries]] docSurprisal posture: exact
    * integer math so the oracle replays it bit-for-bit; rarer common
    * neighbors weigh more). Top-5 candidates per seed, ties to the
    * smaller part. Shape: this is QUERY-node link prediction — the
    * production form — so the wedge expansion is bounded by
    * |seeds|·deg², never the all-pairs Σ deg² the triangle count pays:
    * seeds broadcast into the first hop, the second hop and the degree
    * attach are equi-joins on the edge/degree tables, and the existing-
    * edge exclusion is a left-anti semi-join. Co-order degree is
    * density-bounded (≈115 at every SF), so per-seed cost is flat as
    * the corpus grows. */
  def qLinkPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // memoized checkpoint: sym doubles it; deg + both hops + anti reuse it
    val und = coOrderEdges(spark, sfDir)
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val seeds = deg.select(col("node").as("seed")).orderBy(col("seed")).limit(20)
    // hop1 IS the seeds' adjacency: it feeds the wedge expansion AND the
    // existing-edge exclusion, so the anti join below broadcasts these
    // O(|seeds|·deg) rows instead of shuffling the full 2|E| symmetric
    // edge table against a |seeds|·deg² scored side (the sf1 gate caught
    // that shuffle at 14.7× for 10× data; with the exclusion bounded by
    // the seed set the query's only corpus-sized stages are the edge
    // build and the degree count, both map-side-combined)
    val hop1 = sym.join(broadcast(seeds), col("u") === col("seed"))
      .select(col("seed"), col("v").as("w"))
      .localCheckpoint(false) // wedge expansion + adjacency exclusion
    val hop2 = hop1.join(sym.withColumnRenamed("u", "w"), "w")
      .filter(col("v") =!= col("seed"))
    val weighted = hop2.join(deg.withColumnRenamed("node", "w"), "w")
      .select(col("seed"), col("v"),
        expr("1000000 div (length(conv(d, 10, 2)) - 1)").as("aa_ppm"))
    val scored = weighted.groupBy(col("seed"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_ppm")).as("aa_score_ppm"))
      .join(broadcast(hop1.select(col("seed"), col("w").as("v"))),
        Seq("seed", "v"), "left_anti")
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("seed"))
        .orderBy(col("aa_score_ppm").desc, col("v"))))
      .filter(col("rnk") <= 5)
      .select(col("seed"), col("v").as("candidate"), col("n_common"),
        col("aa_score_ppm"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("seed"), col("rnk"))
  }

  val qLinkPredictSql: String = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ), sym AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM sym GROUP BY u
    ), seeds AS (
      SELECT node AS seed FROM deg ORDER BY seed LIMIT 20
    ), hop2 AS (
      SELECT s.seed, e1.v AS w, e2.v AS v
      FROM seeds s JOIN sym e1 ON e1.u = s.seed
                   JOIN sym e2 ON e2.u = e1.v
      WHERE e2.v <> s.seed
    ), scored AS (
      SELECT h.seed, h.v, count(*) AS n_common,
             CAST(sum(1000000 // (length(to_base(d.d, 2)) - 1)) AS bigint)
               AS aa_score_ppm
      FROM hop2 h JOIN deg d ON d.node = h.w
      GROUP BY h.seed, h.v
    ), fresh AS (
      SELECT * FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.u = s.seed AND sym.v = s.v)
    )
    SELECT seed, v AS candidate, n_common, aa_score_ppm, CAST(rnk AS bigint) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY seed
        ORDER BY aa_score_ppm DESC, v) AS rnk
      FROM fresh)
    WHERE rnk <= 5
    ORDER BY seed, rnk"""

  // ---------------------------------------------------- SCD2 temporal join

  /** SCD2 temporal-dimension enrichment (VERDICT r9 item 5): every event
    * joins the dim VERSION valid at its time via
    * [[graft.operators.TemporalJoin.scd2]] — one shuffle + per-key sort,
    * never a range explosion. The versioned dim is GENERATED
    * deterministically from the event universe so both engines build the
    * identical table: 3 tier versions per user at fixed epoch boundaries
    * (Jan 1 / 11 / 21), the last version CLOSED at Jan 28 — events after
    * it have no covering version and land in the tier = −1 bucket, so the
    * expiry path is exercised by real data, not just the spec. Output:
    * (tier, week) event counts + revenue cents. The oracle replays the
    * join as a naive interval LEFT join — a different plan proving the
    * same semantics. */
  def qScd2Join(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_timestamp(ts)").as("t"),
        cents(col("value")).as("v_c"))
    val froms = Array(1704067200L, 1704931200L, 1705795200L)
    val tos   = Array(1704931200L, 1705795200L, 1706400000L)
    val dim = ev.select(col("user_id")).distinct()
      .select(col("user_id").as("dim_user"), explode(expr("sequence(0, 2)")).as("k"))
      .select(col("dim_user"),
        element_at(lit(froms), (col("k") + 1).cast("int")).as("valid_from"),
        element_at(lit(tos), (col("k") + 1).cast("int")).as("valid_to"),
        ((col("dim_user") * 3 + col("k")) % 5).as("tier"))
    graft.operators.TemporalJoin.scd2(ev, dim,
        "user_id", "dim_user", "t", "valid_from", "valid_to", Seq("tier"))
      .groupBy(coalesce(col("asof_tier"), lit(-1L)).as("tier"),
        expr("t div 604800").as("week"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_c")).as("rev_c"))
      .orderBy(col("tier"), col("week"))
  }

  val qScd2JoinSql: String = """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    ks AS (SELECT unnest(range(0, 3)) AS k),
    dim AS (
      SELECT user_id,
             CASE CAST(k AS int) WHEN 0 THEN 1704067200 WHEN 1 THEN 1704931200
                  ELSE 1705795200 END AS valid_from,
             CASE CAST(k AS int) WHEN 0 THEN 1704931200 WHEN 1 THEN 1705795200
                  ELSE 1706400000 END AS valid_to,
             (user_id * 3 + k) % 5 AS tier
      FROM u CROSS JOIN ks
    ), e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS bigint) AS t,
             CAST(floor(value * 100) AS bigint) AS v_c
      FROM events
    ), j AS (
      SELECT e.t, e.v_c, d.tier
      FROM e LEFT JOIN dim d ON d.user_id = e.user_id
        AND e.t >= d.valid_from AND e.t < d.valid_to
    )
    SELECT coalesce(tier, -1) AS tier, CAST(t // 604800 AS bigint) AS week,
           count(*) AS n_events, CAST(sum(v_c) AS bigint) AS rev_c
    FROM j GROUP BY 1, 2
    ORDER BY tier, week"""

  /** SCD2 dimension BUILD — the other half of [[qScd2Join]]: derive the
    * versioned dim FROM the event log. Each user's purchase days carry a
    * cumulative-spend tier (cents div 20000, capped at 4); consecutive
    * same-tier days COMPACT into one version (the gaps-and-islands step
    * every SCD2 ingest needs, else the dim grows one row per change
    * check instead of per actual change), valid_from/valid_to are the
    * island boundaries in epoch seconds and the last version stays open
    * (valid_to = −1 sentinel: the output avoids nullable ints so both
    * engines' dataframes stringify identically — consumers feeding this
    * dim into [[graft.operators.TemporalJoin.scd2]]/`scd2Stream` pass
    * `openSentinel = Some(-1L)` so the sentinel reads as OPEN, not as
    * expired-before-the-epoch; Scd2BuildSpec pins that seam). Shape: one
    * map-side-combined daily groupBy, two per-user windows (cumsum +
    * island marker) and the boundary lead — all keyed on user, the
    * [[qResample]] class, never corpus-wide. */
  /** Tier from running cumulative spend cents — ONE literal shared by the
    * build and [[qScd2Incr]]'s [[graft.operators.Scd2Incr]] call so the
    * two plans cannot drift. */
  private[queries] val Scd2TierExpr = "least(4, cum_c div 20000)"

  private def scd2Daily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(sum(cents(col("value"))).as("spend_c"))

  def qScd2Build(spark: SparkSession, sfDir: String): DataFrame =
    scd2BuildFromDaily(scd2Daily(spark, sfDir))
      .orderBy(col("user_id"), col("valid_from"))

  private[queries] def scd2BuildFromDaily(daily: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val tiers = daily
      .withColumn("cum_c", sum(col("spend_c")).over(wU))
      .withColumn("tier", expr(Scd2TierExpr))
    val vers = tiers
      .withColumn("chg",
        when(lag(col("tier"), 1).over(wU).isNull ||
          lag(col("tier"), 1).over(wU) =!= col("tier"), 1L).otherwise(0L))
      .withColumn("ver", sum(col("chg")).over(wU))
    val agg = vers.groupBy(col("user_id"), col("ver"))
      .agg(min(col("day")).as("from_day"), max(col("tier")).as("tier"),
        count(lit(1)).as("n_days"), sum(col("spend_c")).as("spend_c"))
    val wV = Window.partitionBy(col("user_id")).orderBy(col("from_day"))
    agg
      .withColumn("valid_from", col("from_day") * 86400)
      .withColumn("valid_to",
        coalesce(lead(col("from_day"), 1).over(wV) * 86400, lit(-1L)))
      .select(col("user_id"), col("valid_from"), col("valid_to"),
        col("tier"), col("n_days"), col("spend_c"))
  }

  /** Incremental SCD2 maintenance (VERDICT r10 item 8): the event log's
    * FINAL purchase day (2024-01-30, epoch day 19752 — populated at
    * every SF) arrives as the delta against a dim built from everything
    * before it, and [[graft.operators.Scd2Incr.applyDailyDelta]] folds
    * it in: open versions whose tier moved close at the new day, same-
    * tier days are absorbed, new users appended. The oracle is the FULL
    * REBUILD over all events ([[qScd2BuildSql]] verbatim) — a different
    * plan proving the increment byte-identical to re-deriving history,
    * which is the whole point of the operator: at 100 TB you can re-scan
    * one day and the dim, not the log. */
  def qScd2Incr(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoffDay = 19752L
    val daily = scd2Daily(spark, sfDir)
      .localCheckpoint(false) // feeds the history build AND the delta
    val dim = scd2BuildFromDaily(daily.filter(col("day") < cutoffDay))
    val delta = daily.filter(col("day") >= cutoffDay)
    graft.operators.Scd2Incr.applyDailyDelta(dim, delta, Scd2TierExpr)
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** Full rebuild — deliberately the [[qScd2Build]] oracle: the
    * increment must be indistinguishable from re-deriving the dim.
    * (`def`: `qScd2BuildSql` is declared later in the object, so a val
    * here would capture null at init.) */
  def qScd2IncrSql: String = qScd2BuildSql

  /** End-to-end SCD2 pipeline: BUILD the versioned dim from the event
    * log ([[qScd2Build]], −1 open-tail sentinel) and immediately CONSUME
    * it with [[graft.operators.TemporalJoin.scd2]]
    * (`openSentinel = Some(-1)`) to enrich every event with the tier
    * valid at its time — the seam ADVICE r10 flagged (a −1 tail read as
    * "expired before the epoch" would dump every post-last-purchase
    * event into tier −1), now pinned by a HASH row, not just a spec.
    * Events before a user's first purchase day have no covering version
    * and land in tier −1 by construction, so the gap path carries real
    * rows. The dim side and the event side share one corpus lineage
    * THROUGH the as-of union — exactly the window-over-union shape that
    * exposed the Spark 4.1.2 partitioning bug, so this row also
    * hash-guards `spark.sql.unionOutputPartitioning=false` at sf0.01+
    * every round. Oracle: build CTE + naive interval join. */
  def qScd2Pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = qScd2Build(spark, sfDir)
      .withColumnRenamed("user_id", "dim_user")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_timestamp(ts)").as("t"),
        cents(col("value")).as("v_c"))
    graft.operators.TemporalJoin.scd2(ev, dim,
        "user_id", "dim_user", "t", "valid_from", "valid_to",
        Seq("tier"), openSentinel = Some(-1L))
      .groupBy(coalesce(col("asof_tier"), lit(-1L)).as("tier"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_c")).as("rev_c"))
      .orderBy(col("tier"))
  }

  val qScd2PipelineSql: String = """
    WITH daily AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS bigint) // 86400 AS day,
             CAST(sum(CAST(floor(value * 100) AS bigint)) AS bigint) AS spend_c
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), tiers AS (
      SELECT user_id, day, spend_c,
             least(4, CAST(sum(spend_c) OVER (PARTITION BY user_id ORDER BY day) AS bigint) // 20000) AS tier
      FROM daily
    ), marked AS (
      SELECT *, CASE WHEN lag(tier) OVER (PARTITION BY user_id ORDER BY day) IS NULL
                       OR lag(tier) OVER (PARTITION BY user_id ORDER BY day) <> tier
                     THEN 1 ELSE 0 END AS chg
      FROM tiers
    ), vers AS (
      SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY day) AS bigint) AS ver
      FROM marked
    ), agg AS (
      SELECT user_id, ver, min(day) AS from_day, max(tier) AS tier
      FROM vers GROUP BY user_id, ver
    ), dim AS (
      SELECT user_id, from_day * 86400 AS valid_from,
             coalesce(lead(from_day) OVER (PARTITION BY user_id ORDER BY from_day) * 86400, -1) AS valid_to,
             tier
      FROM agg
    ), e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS bigint) AS t,
             CAST(floor(value * 100) AS bigint) AS v_c
      FROM events
    ), j AS (
      SELECT e.t, e.v_c, d.tier
      FROM e LEFT JOIN dim d ON d.user_id = e.user_id
        AND e.t >= d.valid_from AND (d.valid_to = -1 OR e.t < d.valid_to)
    )
    SELECT coalesce(tier, -1) AS tier, count(*) AS n_events,
           CAST(sum(v_c) AS bigint) AS rev_c
    FROM j GROUP BY 1
    ORDER BY tier"""

  val qScd2BuildSql: String = """
    WITH daily AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS bigint) // 86400 AS day,
             CAST(sum(CAST(floor(value * 100) AS bigint)) AS bigint) AS spend_c
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), tiers AS (
      SELECT user_id, day, spend_c,
             least(4, CAST(sum(spend_c) OVER (PARTITION BY user_id ORDER BY day) AS bigint) // 20000) AS tier
      FROM daily
    ), marked AS (
      SELECT *, CASE WHEN lag(tier) OVER (PARTITION BY user_id ORDER BY day) IS NULL
                       OR lag(tier) OVER (PARTITION BY user_id ORDER BY day) <> tier
                     THEN 1 ELSE 0 END AS chg
      FROM tiers
    ), vers AS (
      SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY day) AS bigint) AS ver
      FROM marked
    ), agg AS (
      SELECT user_id, ver, min(day) AS from_day, max(tier) AS tier,
             count(*) AS n_days, CAST(sum(spend_c) AS bigint) AS spend_c
      FROM vers GROUP BY user_id, ver
    )
    SELECT user_id, from_day * 86400 AS valid_from,
           coalesce(lead(from_day) OVER (PARTITION BY user_id ORDER BY from_day) * 86400, -1) AS valid_to,
           tier, n_days, spend_c
    FROM agg
    ORDER BY user_id, valid_from"""

  // ------------------------------------------------- z-order layout eval

  /** What a Z-order layout buys a 2-D box scan
    * ([[graft.operators.ZOrder]]): lineitem laid out into 64 "files"
    * twice — natural order (equal-width l_orderkey ranges: the
    * as-ingested layout) vs Morton order (equal-width z ranges — the
    * quadtree-prefix view of what [[graft.operators.ZOrder.layout]]'s
    * range exchange produces) — then a parquet-style min/max pruning
    * model counts how many files a box predicate on (l_partkey,
    * l_suppkey) must touch under each. One row per layout with the
    * touched share in basis points; rows_matched is layout-invariant by
    * construction (the same rows exist in both), so the oracle hash pins
    * the pruning MODEL, not just the counts. Scale shape: one scalar
    * agg broadcast + two map-side file assignments + two bounded
    * (64-row) aggregations — no window, no global sort; the production
    * write path is the range exchange in ZOrder.layout. */
  def qZorderPruneEval(spark: SparkSession, sfDir: String): DataFrame = {
    val NF = 64
    val li = Tables.lineitem(spark, sfDir).select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"),
        col("l_orderkey").cast("long").as("nat"))
      .withColumn("z", graft.operators.ZOrder.zValue(col("x"), col("y")))
    val scalars = li.agg(max("z").as("max_z"), max("nat").as("max_nat"),
      max("x").as("max_x"), max("y").as("max_y"))
    val rows = li.crossJoin(broadcast(scalars))
      .select(col("x"), col("y"),
        expr(s"z div ((max_z + $NF) div $NF)").as("file_z"),
        expr(s"nat div ((max_nat + $NF) div $NF)").as("file_nat"),
        expr("(max_x * 2) div 5").as("x_lo"), expr("(max_x * 3) div 5").as("x_hi"),
        expr("(max_y * 2) div 5").as("y_lo"), expr("(max_y * 3) div 5").as("y_hi"))
    def layoutRow(fileCol: String, label: String): DataFrame =
      rows.groupBy(col(fileCol).as("f"))
        .agg(min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"),
          min("x_lo").as("bx_lo"), min("x_hi").as("bx_hi"),
          min("y_lo").as("by_lo"), min("y_hi").as("by_hi"),
          sum(when(col("x").between(col("x_lo"), col("x_hi")) &&
                   col("y").between(col("y_lo"), col("y_hi")), 1L)
            .otherwise(0L)).as("nm"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("mnx") <= col("bx_hi") && col("mxx") >= col("bx_lo") &&
                   col("mny") <= col("by_hi") && col("mxy") >= col("by_lo"), 1L)
            .otherwise(0L)).as("files_touched"),
          sum(col("nm")).as("rows_matched"))
        .select(lit(label).as("layout"), col("n_files"), col("files_touched"),
          col("rows_matched"),
          expr("10000 * files_touched div n_files").as("touched_bp"))
    layoutRow("file_nat", "natural").unionByName(layoutRow("file_z", "zorder"))
      .orderBy(col("layout"))
  }

  val qZorderPruneEvalSql: String = """
    WITH src AS (
      SELECT CAST(l_partkey AS bigint) AS x, CAST(l_suppkey AS bigint) AS y,
             CAST(l_orderkey AS bigint) AS nat,
             CAST(list_reduce(list_transform(range(0, 21), i ->
               (((CAST(l_partkey AS bigint) >> i) & 1) << (2*i)) +
               (((CAST(l_suppkey AS bigint) >> i) & 1) << (2*i+1))),
               (a, b) -> a + b) AS bigint) AS z
      FROM lineitem
    ), sc AS (
      SELECT max(z) AS max_z, max(nat) AS max_nat,
             max(x) AS max_x, max(y) AS max_y
      FROM src
    ), rws AS (
      SELECT x, y,
             z // ((max_z + 64) // 64) AS file_z,
             nat // ((max_nat + 64) // 64) AS file_nat,
             (max_x * 2) // 5 AS x_lo, (max_x * 3) // 5 AS x_hi,
             (max_y * 2) // 5 AS y_lo, (max_y * 3) // 5 AS y_hi
      FROM src CROSS JOIN sc
    ), fz AS (
      SELECT file_z, min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy,
             min(x_lo) AS bx_lo, min(x_hi) AS bx_hi,
             min(y_lo) AS by_lo, min(y_hi) AS by_hi,
             sum(CASE WHEN x BETWEEN x_lo AND x_hi AND y BETWEEN y_lo AND y_hi
                 THEN 1 ELSE 0 END) AS nm
      FROM rws GROUP BY file_z
    ), fn AS (
      SELECT file_nat, min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy,
             min(x_lo) AS bx_lo, min(x_hi) AS bx_hi,
             min(y_lo) AS by_lo, min(y_hi) AS by_hi,
             sum(CASE WHEN x BETWEEN x_lo AND x_hi AND y BETWEEN y_lo AND y_hi
                 THEN 1 ELSE 0 END) AS nm
      FROM rws GROUP BY file_nat
    ), res AS (
      SELECT 'natural' AS layout, CAST(count(*) AS bigint) AS n_files,
             CAST(sum(CASE WHEN mnx <= bx_hi AND mxx >= bx_lo
                            AND mny <= by_hi AND mxy >= by_lo
                 THEN 1 ELSE 0 END) AS bigint) AS files_touched,
             CAST(sum(nm) AS bigint) AS rows_matched
      FROM fn
      UNION ALL
      SELECT 'zorder', CAST(count(*) AS bigint),
             CAST(sum(CASE WHEN mnx <= bx_hi AND mxx >= bx_lo
                            AND mny <= by_hi AND mxy >= by_lo
                 THEN 1 ELSE 0 END) AS bigint),
             CAST(sum(nm) AS bigint)
      FROM fz
    )
    SELECT layout, n_files, files_touched, rows_matched,
           10000 * files_touched // n_files AS touched_bp
    FROM res
    ORDER BY layout"""

  // ------------------------------------------------- division contract

  /** Integer-division semantics canary: the whole oracle framework leans
    * on Scala Long `/`, Spark `div` and DuckDB `//` agreeing to TRUNCATE
    * toward zero on negative operands (−7 div 2 = −3, not floor's −4) —
    * every integer-exact trajectory (PCA power rounds, pagerank, EWMA,
    * centroid math) silently depends on it. This 5-row query exercises
    * negative dividends AND negative divisors plus `%` remainder sign
    * through real table columns, so a DuckDB (or Spark) version that
    * changes division semantics breaks THIS hash before it corrupts a
    * 64-dim power-iteration trajectory nobody can eyeball. */
  def qDivContract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir)
      .select(col("r_regionkey").cast("long").as("r_regionkey"),
        (col("r_regionkey") * 2 - 7).cast("long").as("num"))
      .select(col("r_regionkey"), col("num"),
        expr("num div 3").as("q_pos"),
        expr("num div -3").as("q_neg"),
        expr("num % 3").as("rem_pos"),
        expr("num % -3").as("rem_neg"))
      .orderBy(col("r_regionkey"))

  val qDivContractSql: String = """
    SELECT CAST(r_regionkey AS bigint) AS r_regionkey,
           CAST(r_regionkey * 2 - 7 AS bigint) AS num,
           CAST((r_regionkey * 2 - 7) // 3 AS bigint) AS q_pos,
           CAST((r_regionkey * 2 - 7) // -3 AS bigint) AS q_neg,
           CAST((r_regionkey * 2 - 7) % 3 AS bigint) AS rem_pos,
           CAST((r_regionkey * 2 - 7) % -3 AS bigint) AS rem_neg
    FROM region
    ORDER BY r_regionkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_div_contract"    -> (qDivContract _),
    "q_zorder_prune_eval" -> (qZorderPruneEval _),
    "q_scd2_join"       -> (qScd2Join _),
    "q_scd2_build"      -> (qScd2Build _),
    "q_scd2_incr"       -> (qScd2Incr _),
    "q_scd2_pipeline"   -> (qScd2Pipeline _),
    "q_cm_sketch"       -> (qCmSketch _),
    "q_topk_merge_rollup" -> (qTopkMergeRollup _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q8_market_share"   -> (q8MarketShare _),
    "q10_returned_top"  -> (q10ReturnedTop _),
    "q_funnel"          -> (qFunnel _),
    "q_retention"       -> (qRetention _),
    "q_transitions"     -> (qTransitions _),
    "q_event_paths"     -> (qEventPaths _),
    "q_rfm"             -> (qRfm _),
    "q_ab_srm"          -> (qAbSrm _),
    "q_churn_risk"      -> (qChurnRisk _),
    "q_basket_pairs"    -> (qBasketPairs _),
    "q_anomaly_mad"     -> (qAnomalyMad _),
    "q_kmv_intersect"   -> (qKmvIntersect _),
    "q_kmv_diff"        -> (qKmvDiff _),
    "q_graph_triangles" -> (qGraphTriangles _),
    "q_triangles_approx" -> ((s: SparkSession, d: String) => qTrianglesApprox(s, d)),
    "q_pagerank"        -> (qPagerank _),
    "q_kcore"           -> (qKcore _),
    "q_lpa_communities" -> (qLpaCommunities _),
    "q_events_dau"      -> (qEventsDau _),
    "q_events_seasonality" -> (qEventsSeasonality _),
    "q_percentiles_approx" -> (qPercentilesApprox _),
    "q1_agg"            -> (q1Agg _),
    "q3_join_topk"      -> (q3JoinTopK _),
    "q5_multijoin"      -> (q5MultiJoin _),
    "q_events_window"   -> (qEventsWindow _),
    "q_events_windowed" -> (qEventsWindowed _),
    "q_events_sessions" -> (qEventsSessions _),
    "q_session_stats"   -> (qSessionStats _),
    "q_range_join"      -> (qRangeJoin _),
    "q_asof_join"       -> (qAsofJoin _),
    "q_asof_forward"    -> (qAsofForward _),
    "q17_small_qty"     -> (q17SmallQty _),
    "q2_min_cost"       -> (q2MinCost _),
    "q_json_props"      -> (qJsonProps _),
    "q_rollup_region_nation" -> (qRollup _),
    "q_distinct_users"  -> (qDistinctUsers _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_anti_join"       -> (qAntiJoin _),
    "q_semi_join"       -> (qSemiJoin _),
    "q_topk_groupwise"  -> (qTopkGroupwise _),
    "q_salted_agg"      -> (qSaltedAgg _),
    "q_percentiles"     -> (qPercentiles _),
    "q_pivot_events"    -> (qPivotEvents _),
    "q_kmv_distinct"    -> (qKmvDistinct _),
    "q_kmv_merge_rollup" -> (qKmvMergeRollup _),
    "q_bitmap_distinct" -> (qBitmapDistinct _),
    "q_cube"            -> (qCube _),
    "q_moving_window"   -> (qMovingWindow _),
    "q_resample_ffill"  -> (qResampleFfill _),
    "q_skew_join"       -> (qSkewJoin _),
    "q_profile"         -> (qProfile _),
    "q_events_anomaly"  -> (qEventsAnomaly _),
    "q_events_lift"     -> (qEventsLift _),
    "q_ewma_anomaly"    -> (qEwmaAnomaly _),
    "q_attribution"     -> (qAttribution _),
    "q_link_predict"    -> (qLinkPredict _),
    "q_window_funnel"   -> (qWindowFunnel _),
    "q_cohort_revenue"  -> (qCohortRevenue _))

  val oracles: Map[String, String] = Map(
    "q_div_contract"    -> qDivContractSql,
    "q_zorder_prune_eval" -> qZorderPruneEvalSql,
    "q_scd2_join"       -> qScd2JoinSql,
    "q_scd2_build"      -> qScd2BuildSql,
    "q_scd2_incr"       -> qScd2IncrSql,
    "q_scd2_pipeline"   -> qScd2PipelineSql,
    "q4_order_priority" -> q4OrderPrioritySql,
    "q8_market_share"   -> q8MarketShareSql,
    "q10_returned_top"  -> q10ReturnedTopSql,
    "q_funnel"          -> qFunnelSql,
    "q_retention"       -> qRetentionSql,
    "q_transitions"     -> qTransitionsSql,
    "q_event_paths"     -> qEventPathsSql,
    "q_rfm"             -> qRfmSql,
    "q_ab_srm"          -> qAbSrmSql,
    "q_churn_risk"      -> qChurnRiskSql,
    "q_basket_pairs"    -> qBasketPairsSql,
    "q_anomaly_mad"     -> qAnomalyMadSql,
    "q_kmv_intersect"   -> qKmvIntersectSql,
    "q_kmv_diff"        -> qKmvDiffSql,
    "q_cm_sketch"       -> qCmSketchSql,
    "q_topk_merge_rollup" -> qTopkMergeRollupSql,
    "q_graph_triangles" -> qGraphTrianglesSql,
    "q_triangles_approx" -> qTrianglesApproxSql,
    "q_pagerank"        -> qPagerankSql,
    "q_kcore"           -> qKcoreSql,
    "q_lpa_communities" -> qLpaCommunitiesSql,
    "q_events_dau"      -> qEventsDauSql,
    "q_events_seasonality" -> qEventsSeasonalitySql,
    "q_percentiles_approx" -> qPercentilesApproxSql,
    "q1_agg"            -> q1AggSql,
    "q3_join_topk"      -> q3JoinTopKSql,
    "q5_multijoin"      -> q5MultiJoinSql,
    "q_events_window"   -> qEventsWindowSql,
    "q_events_windowed" -> qEventsWindowedSql,
    "q_events_sessions" -> qEventsSessionsSql,
    "q_session_stats"   -> qSessionStatsSql,
    "q_asof_join"       -> qAsofJoinSql,
    "q_asof_forward"    -> qAsofForwardSql,
    "q17_small_qty"     -> q17SmallQtySql,
    "q2_min_cost"       -> q2MinCostSql,
    "q_json_props"      -> qJsonPropsSql,
    "q_rollup_region_nation" -> qRollupSql,
    "q_distinct_users"  -> qDistinctUsersSql,
    "q_approx_distinct" -> qApproxDistinctSql,
    "q_anti_join"       -> qAntiJoinSql,
    "q_semi_join"       -> qSemiJoinSql,
    "q_topk_groupwise"  -> qTopkGroupwiseSql,
    "q_salted_agg"      -> qSaltedAggSql,
    "q_percentiles"     -> qPercentilesSql,
    "q_pivot_events"    -> qPivotEventsSql,
    "q_kmv_distinct"    -> qKmvDistinctSql,
    "q_kmv_merge_rollup" -> qKmvMergeRollupSql,
    "q_bitmap_distinct" -> qBitmapDistinctSql,
    "q_cube"            -> qCubeSql,
    "q_moving_window"   -> qMovingWindowSql,
    "q_resample_ffill"  -> qResampleFfillSql,
    "q_skew_join"       -> qSkewJoinSql,
    "q_profile"         -> qProfileSql,
    "q_events_anomaly"  -> qEventsAnomalySql,
    "q_events_lift"     -> qEventsLiftSql,
    "q_range_join"      -> qRangeJoinSql,
    "q_ewma_anomaly"    -> qEwmaAnomalySql,
    "q_attribution"     -> qAttributionSql,
    "q_link_predict"    -> qLinkPredictSql,
    "q_window_funnel"   -> qWindowFunnelSql,
    "q_cohort_revenue"  -> qCohortRevenueSql)
}
