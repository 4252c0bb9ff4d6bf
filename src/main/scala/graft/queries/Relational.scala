package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Checkpoints.TruncateOps

import Parity._

/** Relational operator coverage beyond the reference's two jobs — the
  * categories SURVEY.md §2.3 lists as absent from the reference, each as a
  * Spark-built query paired with DuckDB oracle SQL.
  *
  * Scale notes (the 100 TB design point, see SCALE.md):
  *  - grouped aggs rely on partial/final HashAggregateExec (map-side
  *    combine) — the only full shuffle is on the group keys;
  *  - window functions shuffle once on the partition key and sort within
  *    partitions — all frames over one partitioning are computed in the
  *    same pass (q_window_frames deliberately stacks three frames on one
  *    Window spec);
  *  - the range join broadcasts the tiny bucket dimension (nested-loop
  *    against a 5-row build side, never a shuffle of the fact table);
  *  - the as-of join is the union-window formulation: ONE shuffle on
  *    user_id + one sort, instead of a per-row backward probe — this is
  *    the formulation that survives 100 TB (no per-key quadratic work).
  */
object Relational {

  /** ROLLUP (l_returnflag, l_linestatus): subtotal NULLs surfaced via a
    * sentinel so ordering is engine-independent (Spark sorts NULLS FIRST,
    * DuckDB NULLS LAST — coalescing sidesteps the divergence). */
  private val qRollup = QueryDef(
    "q_rollup",
    Some(s"""
      |SELECT coalesce(l_returnflag,'(all)') AS returnflag,
      |  coalesce(l_linestatus,'(all)') AS linestatus,
      |  ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(dec("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus"))

  /** CUBE (c_mktsegment, o_orderstatus) over a fact⋈dim join. Identical SQL
    * text runs in both engines (the DataFrame cube() API trips Spark's
    * ambiguous-self-join check when re-selecting grouping columns, so the
    * SQL surface is also the cleaner expression here). */
  private val cubeSql = s"""
      |SELECT coalesce(c_mktsegment,'(all)') AS segment,
      |  coalesce(o_orderstatus,'(all)') AS status,
      |  count(*) AS n, ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE(c_mktsegment, o_orderstatus)
      |ORDER BY segment, status
      |""".stripMargin.trim
  private val qCube = QueryDef(
    "q_cube",
    Some(cubeSql),
    (spark, dir) => {
      views(spark, dir, "orders", "customer")
      spark.sql(cubeSql)
    })

  /** GROUPING SETS via spark.sql over temp views (the SQL surface of our
    * engine — same text modulo dialect as the oracle). */
  private val groupingSetsSql = """
      |SELECT coalesce(l_returnflag,'(all)') AS returnflag,
      |  coalesce(l_linestatus,'(all)') AS linestatus, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY returnflag, linestatus
      |""".stripMargin.trim
  private val qGroupingSets = QueryDef(
    "q_grouping_sets",
    Some(groupingSetsSql),
    (spark, dir) => {
      views(spark, dir, "lineitem")
      spark.sql(groupingSetsSql)
    })

  /** Exact distinct aggregation (expand + two-phase agg in Spark). */
  private val qDistinctAgg = QueryDef(
    "q_distinct_agg",
    Some("""
      |SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .join(tbl(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment"))

  /** HLL approximate distinct — HARD-GATED since round 11: the sketch
    * estimate itself is engine-specific (no portable SQL), so the
    * hashable output carries the EXACT distinct count plus a
    * `within_tol` flag asserting the estimate landed within ±8 % (4×
    * the 2 % target rsd) of it. The oracle states the exact count and a
    * literal 1 — an HLL regression past the tolerance flips the flag
    * and hash-fails the driver gate (previously only a rows-only
    * check + spec pin). HLL merge is register-max, order-insensitive,
    * so the flag is deterministic. At 100 TB you run the sketch alone —
    * fixed-size mergeable state per group, no expand; the exact count
    * here is the verification harness at gate SF, not the scale plan. */
  private val qApproxDistinct = QueryDef(
    "q_approx_distinct",
    Some("""
      |SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
      |  count(*) AS n, CAST(1 AS BIGINT) AS within_tol
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val o = tbl(spark, dir, "orders")
      // the HLL runs in its OWN aggregation: mixed into the distinct agg,
      // Catalyst's distinct rewrite keys the first partial on
      // (group, custkey) and builds one rsd-sized HLL buffer PER PAIR —
      // ~4 KB × |distinct pairs| of agg state for a 5-group result
      // (measured 1.7 s vs 0.5 s at sf0.1). Separated, each plan keeps
      // O(groups) sketch state and the recombine is a 5-row broadcast join.
      val approx = o.groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
      o.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n"))
        .join(broadcast(approx), "o_orderpriority")
        .select(col("o_orderpriority"), col("n_cust"), col("n"),
          (abs(col("approx_cust") - col("n_cust")) * 100 <= col("n_cust") * 8)
            .cast("long").as("within_tol"))
        .orderBy("o_orderpriority")
    })

  /** INTERSECT → UNION → EXCEPT chain (set semantics end-to-end: the final
    * EXCEPT deduplicates, so Spark's union-all vs SQL UNION is immaterial). */
  private val qSetOps = QueryDef(
    "q_set_ops",
    Some("""
      |SELECT c FROM (
      |  (SELECT o_custkey AS c FROM orders WHERE year(o_orderdate)=1996
      |   INTERSECT SELECT o_custkey AS c FROM orders WHERE year(o_orderdate)=1997)
      |  UNION (SELECT o_custkey AS c FROM orders WHERE o_totalprice > 450000)
      |  EXCEPT (SELECT o_custkey AS c FROM orders WHERE o_orderstatus='F' AND year(o_orderdate)=1995)
      |) ORDER BY c
      |""".stripMargin.trim),
    (spark, dir) => {
      val o = tbl(spark, dir, "orders")
      def keys(cond: org.apache.spark.sql.Column): DataFrame =
        o.filter(cond).select(col("o_custkey").as("c"))
      keys(year(col("o_orderdate")) === 1996)
        .intersect(keys(year(col("o_orderdate")) === 1997))
        .union(keys(col("o_totalprice") > 450000))
        .except(keys(col("o_orderstatus") === "F" &&
          year(col("o_orderdate")) === 1995))
        .orderBy("c")
    })

  /** Window frames: running total + 3-row moving sum/avg, all on ONE
    * partitioning+ordering so Spark computes them in a single window pass. */
  private val qWindowFrames = QueryDef(
    "q_window_frames",
    Some(s"""
      |SELECT o_custkey, o_orderkey,
      |  CAST(sum(${sqlDec("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(sum(${sqlDec("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3
      |FROM orders ORDER BY o_custkey, o_orderkey
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      tbl(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          sum(dec("o_totalprice"))
            .over(w.rowsBetween(-2, Window.currentRow))
            .cast("double").as("moving_sum3"),
          count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)).as("cnt3"))
        .orderBy("o_custkey", "o_orderkey")
    })

  /** lag/lead analytics over event streams (delta to previous event,
    * type of next event, per user in event-time order). */
  private val qWindowLag = QueryDef(
    "q_window_lag",
    Some("""
      |SELECT user_id, event_id, value,
      |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM events ORDER BY user_id, event_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      tbl(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("user_id", "event_id")
    })

  /** Sessionization: 30-minute-gap sessions via lag + running sum of
    * boundary flags — two window passes over ONE user_id partitioning, then
    * a grouped agg. Gap math in exact epoch MICROSECONDS (both engines
    * floor ns→µs identically). */
  private val qSessionize = QueryDef(
    "q_sessionize",
    Some("""
      |WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms, CAST(epoch_ms(max(ts)) AS BIGINT) AS end_ms
      |FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts"))
      val flagged = tbl(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(lag(us, 1).over(w).isNull ||
            us - lag(us, 1).over(w) > 1800000000L, 1L).otherwise(0L).as("is_new"))
      flagged
        .select(col("user_id"), col("ts"),
          sum(col("is_new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_no"))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          unix_millis(min(col("ts"))).as("start_ms"),
          unix_millis(max(col("ts"))).as("end_ms"))
        .orderBy("user_id", "session_no")
    })

  /** The SAME sessionization computed by the custom physical operator
    * (graft.plans.SessionizeExec: logical node + planner strategy + one-
    * pass exec with O(1) state) instead of q_sessionize's two window
    * passes — the full custom-operator stack under the driver's gate,
    * against the identical oracle. */
  private val qSessionizeNative = QueryDef(
    "q_sessionize_native",
    Some("""
      |WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no, count(*) AS n_events,
      |  CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms, CAST(epoch_ms(max(ts)) AS BIGINT) AS end_ms
      |FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no
      |""".stripMargin.trim),
    (spark, dir) => {
      val in = tbl(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.plans.Sessionize
        .withSessionNo(in, "user_id", "ts_us", "event_id", 1800000000L)
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          unix_millis(min(col("ts"))).as("start_ms"),
          unix_millis(max(col("ts"))).as("end_ms"))
        .orderBy("user_id", "session_no")
    })

  /** Scalar string/math function library exhibit. Only cross-engine-exact
    * functions: no round (HALF_UP vs banker's drift), no transcendentals
    * except IEEE-exact sqrt. */
  private val qScalarFuncs = QueryDef(
    "q_scalar_funcs",
    Some("""
      |SELECT p_partkey,
      |  upper(p_name) AS uname, substr(p_name, 1, 5) AS pfx,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  replace(p_type, ' ', '_') AS type_us,
      |  concat(p_brand, ':', p_type) AS brand_type,
      |  abs(p_retailprice - 1000.0) AS abs_diff,
      |  CAST(floor(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
      |  CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS price_bucket_hi,
      |  sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
      |  p_partkey % 7 AS key_mod
      |FROM part ORDER BY p_partkey
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("pfx"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_us"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          abs(col("p_retailprice") - 1000.0).as("abs_diff"),
          floor(col("p_retailprice") / 100.0).cast("long").as("price_bucket"),
          ceil(col("p_retailprice") / 100.0).cast("long").as("price_bucket_hi"),
          sqrt(col("p_size").cast("double")).as("size_sqrt"),
          (col("p_partkey") % 7).as("key_mod"))
        .orderBy("p_partkey"))

  /** Date/time function exhibit (year/month/day/quarter, month truncation,
    * day arithmetic) — all integer-exact cross-engine. */
  private val qDateFuncs = QueryDef(
    "q_date_funcs",
    Some("""
      |SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS d,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |  CAST(epoch_ms(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_ms,
      |  CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since
      |FROM orders ORDER BY o_orderkey
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          unix_millis(date_trunc("month", col("o_orderdate"))).as("month_start_ms"),
          datediff(col("o_orderdate"), ts("1995-01-01 00:00:00")).cast("long").as("days_since"))
        .orderBy("o_orderkey"))

  /** Range (interval/theta) join: fact rows bucketed against a tiny range
    * dimension. The build side is 5 rows → broadcast nested-loop; the fact
    * table never shuffles for the join. */
  private val bucketRows = Seq((0, 10, "q00_10"), (10, 20, "q10_20"),
    (20, 30, "q20_30"), (30, 40, "q30_40"), (40, 60, "q40_60"))
  private val qRangeJoin = QueryDef(
    "q_range_join",
    Some(s"""
      |SELECT bucket, count(*) AS n, ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty
      |FROM lineitem JOIN (VALUES ${bucketRows.map(b => s"(${b._1},${b._2},'${b._3}')").mkString(",")}) b(lo,hi,bucket)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY bucket ORDER BY bucket
      |""".stripMargin.trim),
    (spark, dir) => {
      import spark.implicits._
      val buckets = bucketRows.toDF("lo", "hi", "bucket")
      tbl(spark, dir, "lineitem")
        .join(broadcast(buckets),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(dec("l_quantity")).as("sum_qty"))
        .orderBy("bucket")
    })

  /** As-of join: for each click, the most recent prior purchase by the same
    * user — the union-window formulation (tag rows, one shuffle on user_id,
    * one sort, last(ignoreNulls) carry-forward). No per-row backward probe,
    * no per-key quadratic blowup: this is the 100 TB-safe as-of plan. */
  private val qAsofJoin = QueryDef(
    "q_asof_join",
    Some("""
      |WITH tagged AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value,
      |    last_value(CASE WHEN event_type='purchase' THEN CAST(epoch_ms(ts) AS BIGINT) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ms
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value,
      |  last_purchase_value, last_purchase_ms
      |FROM tagged WHERE event_type='click' ORDER BY event_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(spark, dir, "events")
        // only the probe and build types matter: pre-filtering pushes the
        // In() predicate to the scan and keeps the other 60% of events out
        // of the shuffle + sort entirely (semantics unchanged — the as-of
        // carry-forward only reads 'purchase' rows).
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"),
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w).as("last_purchase_value"),
          last(when(col("event_type") === "purchase", unix_millis(col("ts"))),
            ignoreNulls = true).over(w).as("last_purchase_ms"))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value"),
          col("last_purchase_value"), col("last_purchase_ms"))
        .orderBy("event_id")
    })

  /** Left outer join with empty-side groups surfacing as zero/0-count. */
  private val qOuterJoinAgg = QueryDef(
    "q_outer_join_agg",
    Some(s"""
      |SELECT n_name, count(s_suppkey) AS n_suppliers,
      |  CAST(coalesce(sum(${sqlDec("s_acctbal")}), 0) AS DOUBLE) AS sum_bal
      |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "nation")
        .join(tbl(spark, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_suppliers"),
          coalesce(sum(dec("s_acctbal")), lit(0).cast("decimal(18,2)"))
            .cast("double").as("sum_bal"))
        .orderBy("n_name"))

  /** FULL outer join — the reconciliation shape (ledger vs shadow): hourly
    * per-user click activity against purchase activity, keeping rows that
    * exist on either side only. Physically distinct from every other join
    * exhibit: a full outer cannot broadcast either side (both sides must
    * surface unmatched rows), so at any scale it is the shuffle-both-sides
    * sort-merge join on the reconciliation key — which is exactly the plan
    * Spark picks here. The (user, hour) key makes the overlap genuinely
    * partial in this corpus (every user has every event type, but not in
    * every hour). */
  private val qFullOuter = QueryDef(
    "q_full_outer",
    Some("""
      |WITH c AS (
      |  SELECT user_id, CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
      |    count(*) AS n_clicks
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
      |    count(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |  coalesce(c.hour_ms, p.hour_ms) AS hour_ms,
      |  coalesce(c.n_clicks, 0) AS n_clicks,
      |  coalesce(p.n_purchases, 0) AS n_purchases
      |FROM c FULL JOIN p ON p.user_id = c.user_id AND p.hour_ms = c.hour_ms
      |ORDER BY user_id, hour_ms
      |""".stripMargin.trim),
    (spark, dir) => {
      def hourly(tpe: String, out: String): DataFrame =
        tbl(spark, dir, "events")
          .filter(col("event_type") === tpe)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
          .agg(count(lit(1)).as(out))
      val c = hourly("click", "n_clicks")
      val p = hourly("purchase", "n_purchases")
        .withColumnsRenamed(Map("user_id" -> "p_user", "hour_ms" -> "p_hour"))
      c.join(p,
          col("p_user") === col("user_id") && col("p_hour") === col("hour_ms"),
          "full_outer")
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          coalesce(col("hour_ms"), col("p_hour")).as("hour_ms"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("user_id", "hour_ms")
    })

  /** Correlated scalar subquery (orders above 2× their customer's mean),
    * with the division multiplied out so the comparison stays in exact
    * decimal arithmetic (avg would round differently per engine). */
  private val corrSubquerySql = """
      |SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |      > 2 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey
      |""".stripMargin.trim
  private val qCorrSubquery = QueryDef(
    "q_corr_subquery",
    Some(corrSubquerySql),
    (spark, dir) => {
      views(spark, dir, "orders")
      spark.sql(corrSubquerySql)
    })

  /** RECURSIVE CTE (`WITH RECURSIVE`, Spark 4's linear-recursion fixpoint):
    * a month spine generated by recursion from the data's own min month to
    * its max, left-joined to per-month order totals — the recursive
    * restatement of the gap-fill shape (q_gap_fill does it with
    * `sequence()`). The bounds ride a non-recursive CTE and are CARRIED
    * through the recursion as a column, so the recursive branch needs no
    * subquery (a documented recursive-reference restriction in both
    * engines); each step is one +1 MONTH projection, so the fixpoint runs
    * months-of-history iterations over one-row frames — driver-cheap at
    * any corpus scale, the heavy side (orders) is touched exactly once by
    * the join. The recursion-depth limit rides a cloned session (a
    * century-long corpus would trip Spark's default 100): the oracle is
    * the same recursion in DuckDB dialect (strftime / bare INTERVAL). */
  private val qRecursiveCte = QueryDef(
    "q_recursive_cte",
    Some("""
      |WITH RECURSIVE bounds AS (
      |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
      |         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
      |  FROM orders),
      |months(m, hi) AS (
      |  SELECT lo, hi FROM bounds
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi)
      |SELECT strftime(m, '%Y-%m') AS month,
      |  count(o_orderkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_price
      |FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m ORDER BY month
      |""".stripMargin.trim),
    (spark, dir) => {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.cteRecursionLevelLimit", "100000")
      views(s2, dir, "orders")
      s2.sql("""
        |WITH RECURSIVE bounds AS (
        |  SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE) AS lo,
        |         CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE) AS hi
        |  FROM orders),
        |months(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE), hi FROM months WHERE m < hi)
        |SELECT date_format(m, 'yyyy-MM') AS month,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_price
        |FROM months LEFT JOIN orders ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
        |GROUP BY m ORDER BY month
        |""".stripMargin.trim)
    })

  /** PIVOT: event counts per user spread into one column per event type
    * (explicit value list → single-pass pivoted aggregation; missing
    * combinations coalesced to 0 to match SQL conditional counts). */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val qPivot = QueryDef(
    "q_pivot",
    Some(s"""
      |SELECT user_id,
      |  ${eventTypes.map(t => s"count(*) FILTER (WHERE event_type='$t') AS $t").mkString(",\n  ")}
      |FROM events GROUP BY user_id ORDER BY user_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val pivoted = tbl(spark, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
      pivoted.select(col("user_id") +:
        eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    })

  /** TPC-H Q3 shape (shipping priority): 3-table join chain, filtered both
    * sides, grouped revenue, top-10. Customer filter prunes before the
    * join; the orders⋈lineitem join shuffles on the natural key. */
  private val qQ3 = QueryDef(
    "q3_shipping_priority",
    Some(s"""
      |SELECT l_orderkey,
      |  ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS revenue,
      |  CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(tbl(spark, dir, "orders")
          .filter(col("o_orderdate") < ts("1998-03-15 00:00:00")),
          col("c_custkey") === col("o_custkey"))
        .join(tbl(spark, dir, "lineitem")
          .filter(col("l_shipdate") > ts("1995-03-15 00:00:00")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          // o_orderdate is TIMESTAMP_NTZ; cast is instant-identity under
          // the pinned UTC session and satisfies unix_millis' input type
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_orderpriority"))
        .orderBy(desc("revenue"), asc("l_orderkey")).limit(10))

  /** TPC-H Q5 shape (local supplier volume): 6-table join chain with the
    * dimension chain (region→nation→supplier) all broadcastable. */
  private val qQ5 = QueryDef(
    "q5_local_supplier",
    Some(s"""
      |SELECT n_name,
      |  ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "customer")
        .join(tbl(spark, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00")),
          col("c_custkey") === col("o_custkey"))
        .join(tbl(spark, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(spark, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(tbl(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(spark, dir, "region")).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name")))

  /** TPC-H Q10 shape (returned-item reporting): selective line-level
    * filter + date-ranged orders + two broadcastable dims, grouped
    * revenue, top-20 customers. */
  private val qQ10 = QueryDef(
    "q10_returned_items",
    Some(s"""
      |SELECT c_custkey, c_name, n_name,
      |  ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS revenue,
      |  count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "customer")
        .join(tbl(spark, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00")),
          col("c_custkey") === col("o_custkey"))
        .join(tbl(spark, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("c_custkey")).limit(20))

  /** TPC-H Q14 shape (promotion effect): conditional-ratio aggregation —
    * promo revenue share over a date range, exact-decimal partials with
    * ONE double division at the end. */
  private val qQ14 = QueryDef(
    "q14_promo_effect",
    Some(s"""
      |SELECT CAST(100 AS DOUBLE)
      |    * CAST(sum(CASE WHEN p_type = 'PROMO' THEN ${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")}) ELSE ${sqlDec("0")} END) AS DOUBLE)
      |    / ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS promo_pct,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
      |""".stripMargin.trim),
    (spark, dir) => {
      val rev = dec("l_extendedprice") * (oneDec - dec("l_discount"))
      tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1996-07-01 00:00:00"))
        .join(broadcast(tbl(spark, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
            sum(rev).cast("double")).as("promo_pct"),
          count(lit(1)).as("n_items"))
    })

  /** LIKE / prefix / regexp predicate exhibit: per-type counts of name
    * patterns (conditional counts keep output deterministic). */
  private val qStringMatch = QueryDef(
    "q_string_match",
    Some("""
      |SELECT p_type,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE p_name LIKE '%widget%') AS n_widget,
      |  count(*) FILTER (WHERE p_name LIKE 'small%') AS n_small_prefix,
      |  count(*) FILTER (WHERE regexp_matches(p_name, 'bolt$')) AS n_bolt_suffix
      |FROM part GROUP BY p_type ORDER BY p_type
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "part")
        .groupBy("p_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("p_name").like("%widget%"), 1)).as("n_widget"),
          count(when(col("p_name").like("small%"), 1)).as("n_small_prefix"),
          count(when(col("p_name").rlike("bolt$"), 1)).as("n_bolt_suffix"))
        .orderBy("p_type"))

  /** Skew-mitigation exhibit: two-level salted aggregation — partial sums
    * on (key, salt) then re-aggregation on key. Result provably equals the
    * plain GROUP BY (the oracle), because the partial sums stay in exact
    * decimal. At 100 TB this is the recipe for power-law keys whose single
    * reducer would otherwise spill. */
  private val qSaltedAgg = QueryDef(
    "q_salted_agg",
    Some(s"""
      |SELECT l_returnflag, count(*) AS n, ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(count(lit(1)).as("pn"), sum(dec("l_quantity")).as("pq"))
        .groupBy("l_returnflag")
        .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag"))

  /** Salted SKEW JOIN — q_salted_agg's sibling for the join side: a
    * CASE-mapped key funnels ~37% of lineitem onto one hot nation, the
    * fact side salts that key S ways (pmod of the row's own orderkey —
    * deterministic, never rand()), the dimension replicates each of its
    * rows S times via a sequence explode, and the join runs on
    * (key, salt) — so the hot key's rows land on S reducers instead of
    * melting one. The dim side carries a MERGE hint standing in for a
    * dimension too big to broadcast (a broadcast join has no skew
    * problem; AQE's OptimizeSkewedJoin handles the sort-merge case
    * adaptively — AdaptiveSpec — and salting is the explicit form that
    * also survives hash joins and pre-AQE engines). The salt never
    * reaches the output, so the oracle is the PLAIN join — a pass
    * proves the mitigation is semantically free. */
  private val qSaltedJoin = QueryDef(
    "q_salted_join",
    Some(s"""
      |WITH f AS (SELECT CASE WHEN l_partkey % 3 = 0 THEN 7
      |    ELSE l_partkey % 25 END AS sk,
      |    ${sqlDec("l_extendedprice")} AS price FROM lineitem)
      |SELECT n_name, count(*) AS n, ${sqlDsum("price")} AS revenue
      |FROM f JOIN nation ON n_nationkey = sk
      |GROUP BY n_name ORDER BY n_name
      |""".stripMargin.trim),
    (spark, dir) => {
      val S = 8
      val fact = tbl(spark, dir, "lineitem")
        .select(
          when(col("l_partkey") % 3 === 0, lit(7L))
            .otherwise(col("l_partkey") % 25).as("sk"),
          dec("l_extendedprice").as("price"),
          pmod(col("l_orderkey"), lit(S.toLong)).as("salt"))
      val dim = tbl(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"),
          explode(sequence(lit(0L), lit(S - 1L))).as("dsalt"))
        .hint("merge")
      fact.join(dim,
          col("sk") === col("n_nationkey") && col("salt") === col("dsalt"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), dsum(col("price")).as("revenue"))
        .orderBy("n_name")
    })

  /** Map-typed column surface: per-user event_type→count built as a real
    * MapType (map_from_entries over a collected struct list), then probed
    * with element_at / size / map_keys. The map exists only INSIDE the
    * plan — outputs are plain columns, so the DuckDB oracle checks the
    * same values through portable conditional aggregation (DuckDB's MAP
    * type does not round-trip through parquet comparably). */
  private val qMapFuncs = QueryDef(
    "q_map_funcs",
    Some("""
      |WITH tc AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  coalesce(max(n) FILTER (WHERE event_type = 'click'), 0) AS n_click,
      |  coalesce(max(n) FILTER (WHERE event_type = 'purchase'), 0) AS n_purchase,
      |  count(*) AS n_types,
      |  string_agg(event_type, ',' ORDER BY event_type) AS types
      |FROM tc GROUP BY user_id ORDER BY user_id
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchase"),
          size(col("m")).cast("long").as("n_types"),
          array_join(sort_array(map_keys(col("m"))), ",").as("types"))
        .orderBy("user_id"))

  /** Ranking + distribution window functions on ONE window spec — rank,
    * dense_rank, ntile, percent_rank, cume_dist all compute in the same
    * exchange+sort pass (single Window node; the only shuffle is the
    * partition key). percent_rank/cume_dist are single IEEE divisions of
    * exact integers — bit-identical across engines; ntile/rank surface as
    * BIGINT (DuckDB's type). */
  private val qWindowDist = QueryDef(
    "q_window_dist",
    Some("""
      |SELECT c_custkey, c_mktsegment,
      |  CAST(rank() OVER w AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, rnk, c_custkey
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      tbl(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    })

  /** Exact interpolated percentiles per group (Spark `percentile` vs
    * DuckDB `quantile_cont` — same linear interpolation over the sorted
    * set). */
  private val qPercentiles = QueryDef(
    "q_percentiles",
    Some("""
      |SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderpriority"))

  /** The SAME per-group quantiles through the mergeable KLL-style sketch
    * ([[graft.functions.Aggregators.KllQuantiles]]) — the 100 TB path
    * next to q_percentiles' exact sort: O(k·log(n/k)) state per group,
    * partial-aggregating map-side like any built-in, where exact
    * `percentile` must materialize every value per group.
    *
    * HARD-GATED since round 11. Sketch estimates are not portably
    * SQL-expressible AND partial-merge order varies run to run — but the
    * KLL guarantee is on RANK error, and rank is checkable exactly: one
    * broadcast of the 5-row sketch frame back over orders counts the
    * values ≤ each estimate, and `rank_ok` asserts |rank/n − φ| ≤ 5 %
    * (the KllQuantilesSpec bound, integer arithmetic so the flag is
    * portable) for all three φ simultaneously. The hashable output is
    * the EXACT percentiles (shared semantics with q_percentiles'
    * quantile_cont oracle) + n + the flag; the oracle states literal 1 —
    * any run whose sketch drifts past the bound hash-fails the driver
    * gate even though the estimate itself is run-varying. At 100 TB you
    * emit the sketch alone; the exact column + rank pass here are the
    * verification harness at gate SF. */
  private val qApproxQuantiles = QueryDef(
    "q_approx_quantiles",
    Some("""
      |SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  quantile_cont(o_totalprice, 0.99) AS p99,
      |  count(*) AS n, CAST(1 AS BIGINT) AS rank_ok
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val kq = udaf(new graft.functions.Aggregators.KllQuantiles(
        512, Seq(0.5, 0.9, 0.99)))
      val orders = tbl(spark, dir, "orders")
      // 5-row frame: sketch estimates + exact percentiles + group size,
      // materialized once (it feeds both the rank recount and the output)
      val sk = orders
        .groupBy("o_orderpriority")
        .agg(kq(col("o_totalprice")).as("qs"),
          expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("ex"),
          count(lit(1)).as("n"))
        .truncateLineage
      // exact rank of each estimate: one broadcast map pass over orders
      val ranks = orders
        .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
        .join(broadcast(sk.select(col("o_orderpriority").as("g"), col("qs"))), "g")
        .groupBy("g")
        .agg(
          sum(when(col("v") <= element_at(col("qs"), 1), 1L).otherwise(0L)).as("r50"),
          sum(when(col("v") <= element_at(col("qs"), 2), 1L).otherwise(0L)).as("r90"),
          sum(when(col("v") <= element_at(col("qs"), 3), 1L).otherwise(0L)).as("r99"))
      // |rank/n − φ| ≤ 0.05 in integer basis-points: |r·10⁴ − φ·10⁴·n| ≤ 500·n
      def ok(r: org.apache.spark.sql.Column, phiBp: Long) =
        abs(r * 10000L - lit(phiBp) * col("n")) <= col("n") * 500L
      sk.join(ranks, sk("o_orderpriority") === ranks("g"))
        .select(col("o_orderpriority"),
          element_at(col("ex"), 1).as("p50"),
          element_at(col("ex"), 2).as("p90"),
          element_at(col("ex"), 3).as("p99"),
          col("n"),
          (ok(col("r50"), 5000L) && ok(col("r90"), 9000L) &&
            ok(col("r99"), 9900L)).cast("long").as("rank_ok"))
        .orderBy("o_orderpriority")
    })

  /** Funnel analysis: signup → first subsequent purchase per user, with a
    * 1-hour conversion flag. Two grouped mins + a left join; conversion
    * math in exact epoch microseconds. */
  private val qFunnel = QueryDef(
    "q_funnel",
    Some("""
      |WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events WHERE event_type='signup' GROUP BY user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS first_purchase_ts
      |      FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      |      GROUP BY e.user_id)
      |SELECT s.user_id, CAST(epoch_ms(s.signup_ts) AS BIGINT) AS signup_ms,
      |  CAST(epoch_ms(p.first_purchase_ts) AS BIGINT) AS first_purchase_ms,
      |  CAST(p.user_id IS NOT NULL AND epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts) <= 3600000000 AS BIGINT) AS converted_1h
      |FROM s LEFT JOIN p ON s.user_id = p.user_id
      |ORDER BY s.user_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val s = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts"))
        .join(s, col("p_user") === s("user_id"))
        .filter(col("ts") >= col("signup_ts"))
        .groupBy("p_user").agg(min(col("ts")).as("first_purchase_ts"))
      s.join(p, col("user_id") === col("p_user"), "left_outer")
        .select(col("user_id"),
          unix_millis(col("signup_ts")).as("signup_ms"),
          unix_millis(col("first_purchase_ts")).as("first_purchase_ms"),
          (col("p_user").isNotNull &&
            unix_micros(col("first_purchase_ts")) - unix_micros(col("signup_ts")) <= 3600000000L)
            .cast("long").as("converted_1h"))
        .orderBy("user_id")
    })

  /** SCD Type-2 dimension build — the classic warehouse change-tracking
    * shape: from the raw event stream, derive each user's tier (the
    * event's k property bucketed by 25) as validity INTERVALS —
    * (user, tier, valid_from, valid_to, is_current) — where a new row
    * opens only when the tracked attribute CHANGES and the previous row
    * closes exclusively at the change timestamp (NULL valid_to = the
    * current row). Timestamps surface as exact epoch microseconds.
    *
    * Scale shape: two user-partitioned windows (change detection via
    * lag, interval close via lead) over one exchange on user_id — the
    * window partitions are users, so no global sort; the event order
    * within a user is (ts, event_id), making the build deterministic
    * under timestamp ties. At 100 TB this is the standard MERGE-free
    * SCD2 derivation: one shuffle, map-side nothing, output bounded by
    * the number of CHANGES, not events. */
  private val qScd2Build = QueryDef(
    "q_scd2_build",
    Some("""
      |WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS tier
      |  FROM events),
      |chg AS (
      |  SELECT user_id, ts, event_id, tier FROM (
      |    SELECT user_id, ts, event_id, tier,
      |      lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> tier),
      |iv AS (
      |  SELECT user_id, tier,
      |    CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
      |    CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS valid_to_us
      |  FROM chg)
      |SELECT user_id, tier, valid_from_us, valid_to_us,
      |  CAST(valid_to_us IS NULL AS BIGINT) AS is_current
      |FROM iv ORDER BY user_id, valid_from_us
      |""".stripMargin.trim),
    (spark, dir) => {
      // BOTH windows tie-break on event_id: a lead ordered by ts alone
      // would close same-timestamp change rows in arbitrary order
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wIv = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = tbl(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25")
            .as("tier"))
      e.withColumn("prev", lag(col("tier"), 1).over(wOrd))
        .filter(col("prev").isNull || col("prev") =!= col("tier"))
        .select(col("user_id"), col("ts"), col("event_id"), col("tier"))
        .withColumn("valid_from_us", unix_micros(col("ts")))
        .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(wIv)))
        .select(col("user_id"), col("tier"), col("valid_from_us"),
          col("valid_to_us"),
          col("valid_to_us").isNull.cast("long").as("is_current"))
        .orderBy("user_id", "valid_from_us")
    })

  /** Robust anomaly detection via Median Absolute Deviation: per event
    * type, med = median(value), mad = median(|value − med|), and an
    * outlier is |value − med| > 3·mad — the standard robust alternative
    * to mean±3σ (one wild reading cannot drag its own threshold, which a
    * variance-based gate suffers from). Every operation is
    * IEEE-deterministic on both engines — interpolated median
    * (`percentile` / `quantile_cont` agree exactly, the q_percentiles
    * precedent), exact double subtraction/abs, one exact 3·mad product —
    * so the gate is bit-exact without integer scaling.
    *
    * Scale shape: three passes over (event_type, value) — med, mad,
    * outlier count — each a map-side-partial aggregate to a
    * type-cardinality frame, with the per-type stats broadcast back; the
    * scan reads two columns. Exact per-group medians materialize each
    * group's values once per pass at the reducer; the documented 100 TB
    * alternative is the mergeable KLL path (q_approx_quantiles) feeding
    * the same thresholds. */
  private val qMadOutliers = QueryDef(
    "q_mad_outliers",
    Some("""
      |WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |        FROM v GROUP BY event_type),
      |dev AS (SELECT v.event_type, v.value, abs(v.value - med.med) AS ad, med.med
      |        FROM v JOIN med ON v.event_type = med.event_type),
      |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
      |        FROM dev GROUP BY event_type)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
      |  any_value(d.med) AS med, any_value(m.mad) AS mad,
      |  CAST(count(*) FILTER (d.ad > 3 * m.mad) AS BIGINT) AS n_outliers,
      |  max(d.ad) AS max_abs_dev
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |GROUP BY d.event_type ORDER BY d.event_type
      |""".stripMargin.trim),
    (spark, dir) => {
      val v = tbl(spark, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val med = v.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = v.join(broadcast(med), "event_type")
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("ad"))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum(when(col("ad") > lit(3d) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          max(col("ad")).as("max_abs_dev"))
        .orderBy("event_type")
    })

  /** Weekly retention: distinct (user, epoch-week) grid + lag — the flag
    * marks consecutive-week activity. */
  private val qRetention = QueryDef(
    "q_retention",
    Some("""
      |WITH w AS (SELECT DISTINCT user_id, CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS week FROM events)
      |SELECT user_id, week,
      |  CAST(week - lag(week) OVER (PARTITION BY user_id ORDER BY week) = 1 AS BIGINT) AS retained_from_prev_week
      |FROM w ORDER BY user_id, week
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("week")
      tbl(spark, dir, "events")
        .select(col("user_id"),
          floor(unix_micros(col("ts")) / lit(604800000000L)).cast("long").as("week"))
        .distinct()
        .select(col("user_id"), col("week"),
          (col("week") - lag(col("week"), 1).over(w) === 1).cast("long")
            .as("retained_from_prev_week"))
        .orderBy("user_id", "week")
    })

  /** (user, session) intervals from the sessionization pipeline —
    * shared by q_interval_bin_join. */
  private def sessionsDf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    tbl(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(lag(us, 1).over(w).isNull ||
          us - lag(us, 1).over(w) > 1800000000L, 1L).otherwise(0L).as("is_new"))
      .select(col("user_id"), col("ts"),
        sum(col("is_new"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("session_no"))
      .groupBy("user_id", "session_no")
      .agg(unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"))
  }

  /** Large×large interval containment join via BINNING (SCALE.md §3):
    * intervals explode into the 30-min bins they cover, points key to
    * their bin, and the match becomes an EQUI-join on (user, bin) + a
    * residual containment filter — a hash join instead of a nested loop,
    * which is the only interval-join plan that survives 100 TB. The
    * oracle states the same join as a plain BETWEEN (DuckDB's IEJoin
    * handles it); counts per session must also equal q_sessionize's
    * n_events since a user's sessions partition their events. */
  private val qIntervalBinJoin = QueryDef(
    "q_interval_bin_join",
    Some("""
      |WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_no, CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms, CAST(epoch_ms(max(ts)) AS BIGINT) AS end_ms
      |  FROM sess GROUP BY user_id, session_no)
      |SELECT s.user_id, s.session_no, count(*) AS n_in_window
      |FROM sessions s JOIN events e
      |  ON e.user_id = s.user_id AND CAST(epoch_ms(e.ts) AS BIGINT) BETWEEN s.start_ms AND s.end_ms
      |GROUP BY s.user_id, s.session_no ORDER BY s.user_id, s.session_no
      |""".stripMargin.trim),
    (spark, dir) => {
      val BinMs = 1800000L
      val binned = sessionsDf(spark, dir)
        .select(col("user_id"), col("session_no"), col("start_ms"), col("end_ms"),
          explode(expr(s"sequence(start_ms div $BinMs, end_ms div $BinMs)")).as("bin"))
      val pts = tbl(spark, dir, "events")
        .select(col("user_id").as("p_user"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("bin", expr(s"ms div $BinMs"))
      binned
        .join(pts, col("p_user") === col("user_id") && pts("bin") === binned("bin") &&
          col("ms") >= col("start_ms") && col("ms") <= col("end_ms"))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy("user_id", "session_no")
    })

  /** TPC-H Q2 shape (min-cost supplier): correlated scalar-min subquery
    * over a snowflake join — "the row whose measure equals its group's
    * min" — the decorrelation exhibit. One SQL string for both engines;
    * Catalyst rewrites the correlated min into an aggregate + join (no
    * per-row re-execution), so at scale it is two shuffles on l_partkey.
    * unit_cost is a single IEEE division + min (element pick) — exact in
    * both engines, no accumulation. */
  private val q2Sql = """
      |WITH cost AS (
      |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'ASIA'
      |  GROUP BY l_partkey, l_suppkey)
      |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name, c.unit_cost
      |FROM part p
      |JOIN cost c ON c.l_partkey = p.p_partkey
      |JOIN supplier s ON s.s_suppkey = c.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE p.p_size <= 10
      |  AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2 WHERE c2.l_partkey = p.p_partkey)
      |ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_name
      |LIMIT 100
      |""".stripMargin.trim
  private val qQ2 = QueryDef(
    "q2_min_cost_supplier",
    Some(q2Sql),
    (spark, dir) => {
      views(spark, dir, "lineitem", "supplier", "nation", "region", "part")
      spark.sql(q2Sql)
    })

  /** TPC-H Q21 shape (suppliers who alone held up a shared order):
    * semi-join (some OTHER supplier is on the order) composed with an
    * anti-join (no OTHER supplier was late on it) over the same fact —
    * the existential-join composition the catalog didn't exercise.
    * (No nation filter: the corpus is small enough that Q21's extra dim
    * filter empties the smallest SF; the broadcast-dim pattern is already
    * exercised by q5/q10.)
    * Lateness proxy: shipped >60 days after the order date (this corpus
    * has no commit/receipt dates).
    *
    * The oracle keeps the textbook EXISTS/NOT-EXISTS form; the Spark plan
    * computes the SAME relation in one pass — both existentials are
    * per-order set properties ("some other supplier on the order",
    * "no other supplier late"), so one grouped agg per l_orderkey
    * (size of the supplier set + collect_set of late suppliers + late-line
    * count) replaces a 3-scan semi+anti composition: ONE fact shuffle on
    * the natural key instead of three, and the agg state per order is
    * bounded by the order's supplier count. The supplier count is
    * `size(collect_set)`, not `countDistinct`: Spark plans a distinct
    * aggregate as a second exchange on (l_orderkey, l_suppkey) ahead of
    * the l_orderkey one (SCALE.md §57: 511 → 265 KB at sf0.01).
    * Equivalence is enforced by the unchanged oracle hash. */
  private val qQ21 = QueryDef(
    "q21_waiting_supplier",
    Some("""
      |WITH late AS (
      |  SELECT l.l_orderkey, l.l_suppkey
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderstatus = 'F' AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |SELECT s.s_name, count(*) AS numwait
      |FROM late l1
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100
      |""".stripMargin.trim),
    (spark, dir) => {
      val lines = tbl(spark, dir, "lineitem")
        .join(tbl(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
            .as("is_late"))
      lines.groupBy("l_orderkey")
        .agg(size(collect_set(col("l_suppkey"))).as("n_supp"),
          // collect_set skips the nulls `when` emits for on-time lines
          collect_set(when(col("is_late"), col("l_suppkey"))).as("late_supps"),
          sum(when(col("is_late"), 1).otherwise(0)).as("late_cnt"))
        .filter(col("n_supp") > 1 && size(col("late_supps")) === 1)
        .select(element_at(col("late_supps"), 1).as("the_supp"), col("late_cnt"))
        .join(broadcast(tbl(spark, dir, "supplier")),
          col("s_suppkey") === col("the_supp"))
        .groupBy("s_name")
        .agg(sum(col("late_cnt")).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(100)
    })

  /** TPC-H Q4 shape (order-priority checking): date-sliced orders kept only
    * if SOME line shipped late — an EXISTS semi-join with a non-equi
    * residual (l_shipdate > o_orderdate + 60d; this corpus has no
    * commit/receipt dates), then a priority histogram. The semi-join keys
    * on o_orderkey = the fact's natural shuffle key. */
  private val qQ4 = QueryDef(
    "q4_order_priority",
    Some("""
      |SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00"))
        .join(tbl(spark, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"))

  /** TPC-H Q7 shape (volume shipping between two nations, by direction and
    * year). Each side is pre-filtered to the two nations through its own
    * broadcast nation dim BEFORE touching the fact table, so the pair
    * predicate collapses to supp_nation <> cust_nation and the fact join
    * input is already maximally pruned. */
  private val q7Nations = Seq("NATION_3", "NATION_7")
  private val qQ7 = QueryDef(
    "q7_volume_shipping",
    Some(s"""
      |SELECT supp_nation, cust_nation, l_year,
      |  ${sqlDsum("volume")} AS revenue, count(*) AS n_items
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |    ${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")}) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = '${q7Nations(0)}' AND n2.n_name = '${q7Nations(1)}')
      |      OR (n1.n_name = '${q7Nations(1)}' AND n2.n_name = '${q7Nations(0)}'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year
      |""".stripMargin.trim),
    (spark, dir) => {
      def natDim = broadcast(
        tbl(spark, dir, "nation").filter(col("n_name").isin(q7Nations: _*)))
      val sup = tbl(spark, dir, "supplier")
        .join(natDim, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = tbl(spark, dir, "customer")
        .join(natDim, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(tbl(spark, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    })

  /** TPC-H Q13 shape (customer order-count distribution): left OUTER join
    * with a composite join condition (the priority predicate belongs to the
    * ON clause, not a WHERE — a WHERE would turn the outer join inner),
    * per-customer counts, then a histogram of the counts. Two shuffles:
    * c_custkey, then c_count. */
  private val qQ13 = QueryDef(
    "q13_cust_distribution",
    Some("""
      |WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM c_orders GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "customer")
        .join(tbl(spark, dir, "orders"),
          col("o_custkey") === col("c_custkey") &&
            col("o_orderpriority") =!= "1-URGENT",
          "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count")))

  /** TPC-H Q16 shape (supplier-part relationship count): distinct suppliers
    * per (brand, type, size) with a NOT-IN exclusion list — the exclusion
    * is a broadcast left-anti join (keys are non-null by schema, so NOT IN
    * ≡ anti-join), the distinct count is the expand+two-phase agg. */
  private val qQ16 = QueryDef(
    "q16_supplier_cnt",
    Some("""
      |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .join(broadcast(tbl(spark, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(tbl(spark, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size")))

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated
    * per-part average decorrelated into ONE grouped aggregate joined back
    * to the fact; the 0.2·avg comparison is multiplied out
    * (qty < 0.2·sum/cnt  ⟺  5·qty·cnt < sum) so it stays in exact decimal
    * arithmetic — no division, no cross-engine rounding drift. */
  private val qQ17 = QueryDef(
    "q17_small_qty_revenue",
    Some(s"""
      |WITH per_part AS (
      |  SELECT l_partkey AS a_partkey, count(*) AS cnt,
      |    sum(${sqlDec("l_quantity")}) AS sum_qty
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT ${sqlDsum(sqlDec("l_extendedprice"))} AS sum_price, count(*) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN per_part ON a_partkey = p_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND 5 * ${sqlDec("l_quantity")} * cnt < sum_qty
      |""".stripMargin.trim),
    (spark, dir) => {
      val perPart = tbl(spark, dir, "lineitem")
        .groupBy(col("l_partkey").as("a_partkey"))
        .agg(count(lit(1)).as("cnt"), sum(dec("l_quantity")).as("sum_qty"))
      tbl(spark, dir, "lineitem")
        .join(broadcast(tbl(spark, dir, "part").filter(col("p_brand") === "Brand#3")),
          col("p_partkey") === col("l_partkey"))
        .join(perPart, col("a_partkey") === col("p_partkey"))
        .filter(lit(5) * dec("l_quantity") * col("cnt") < col("sum_qty"))
        .agg(dsum(dec("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))
    })

  /** TPC-H Q18 shape (large-volume customers): HAVING-filtered key set
    * (orders whose total quantity exceeds the threshold) applied as a
    * semi-join membership test, then the 3-table join re-aggregates per
    * order. Both the key-set agg and the semi-join shuffle on l_orderkey/
    * o_orderkey — one key family end to end. */
  private val qQ18 = QueryDef(
    "q18_large_volume",
    Some(s"""
      |SELECT c_name, c_custkey, o_orderkey,
      |  CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms,
      |  o_totalprice,
      |  ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(${sqlDec("l_quantity")}) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
      |""".stripMargin.trim),
    (spark, dir) => {
      val bigOrders = tbl(spark, dir, "lineitem")
        .groupBy(col("l_orderkey").as("big_key"))
        .agg(sum(dec("l_quantity")).as("sq"))
        .filter(col("sq") > 250)
        .select("big_key")
      tbl(spark, dir, "orders")
        .join(bigOrders, col("o_orderkey") === col("big_key"), "left_semi")
        .join(tbl(spark, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(tbl(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(dec("l_quantity")).as("sum_qty"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("orderdate_ms"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(100)
    })

  /** TPC-H Q19 shape (discounted revenue): a disjunction of conjunctive
    * predicates spanning BOTH join sides (brand+size from part,
    * quantity from lineitem) — the OR cannot be pushed whole, but its
    * per-side projections can; Catalyst derives them and the join stays an
    * equi-join on partkey with the disjunction as residual. */
  private val qQ19 = QueryDef(
    "q19_disjunctive",
    Some(s"""
      |SELECT ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
      |       AND l_quantity >= 10 AND l_quantity <= 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
      |       AND l_quantity >= 20 AND l_quantity <= 40)
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .join(broadcast(tbl(spark, dir, "part")),
          col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(5, 25) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 30) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
            col("l_quantity") >= 20 && col("l_quantity") <= 40))
        .agg(dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items")))

  /** TPC-H Q22 shape (global sales opportunity): above-average balance via
    * a 1-row aggregate broadcast with the comparison multiplied out
    * (bal > total/cnt ⟺ bal·cnt > total — exact decimal, no division),
    * composed with a NOT EXISTS anti-join. The 1-row cross join is a
    * broadcast nested loop by construction (build side = one row). */
  private val qQ22 = QueryDef(
    "q22_global_sales",
    Some(s"""
      |WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0.0),
      |stats AS (SELECT count(*) AS cnt, sum(${sqlDec("c_acctbal")}) AS total FROM pos)
      |SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrygrp, count(*) AS numcust,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS totacctbal
      |FROM pos, stats
      |WHERE ${sqlDec("c_acctbal")} * cnt > total
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY cntrygrp ORDER BY cntrygrp
      |""".stripMargin.trim),
    (spark, dir) => {
      val pos = tbl(spark, dir, "customer").filter(col("c_acctbal") > 0.0)
      val stats = pos.agg(count(lit(1)).as("cnt"), sum(dec("c_acctbal")).as("total"))
      pos.crossJoin(broadcast(stats))
        .filter(dec("c_acctbal") * col("cnt") > col("total"))
        .join(tbl(spark, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).cast("long").as("cntrygrp"))
        .agg(count(lit(1)).as("numcust"), dsum(dec("c_acctbal")).as("totacctbal"))
        .orderBy("cntrygrp")
    })

  /** CDC upsert (MERGE INTO semantics) as a batch operator: apply a
    * change set of updates / deletes / inserts onto a base table in one
    * declarative plan — `WHEN MATCHED AND op='D' THEN DELETE / op='U'
    * THEN UPDATE / WHEN NOT MATCHED THEN INSERT`. The change set is
    * derived deterministically from the base (keys mod 97: 0→update with
    * status 'X' and price+100, 1→delete, 2→insert under a shifted key) so
    * both engines construct the identical delta.
    *
    * Plan shape: matched keys (U∪D) anti-join the base, then the
    * surviving rows union the upsert payload — one anti-join + one
    * union, no per-row driver logic. At 100 TB the delta is normally
    * ≪ the base, so the anti-join broadcasts the delta's key set (or
    * rides a shared key-bucketing for shuffle-free MERGE); the base is
    * never rewritten except where touched — exactly the shape a
    * copy-on-write table format executes underneath. */
  private val qUpsert = QueryDef(
    "q_upsert",
    Some(s"""
      |WITH base AS (SELECT o_orderkey, o_orderstatus,
      |    ${sqlDec("o_totalprice")} AS price FROM orders),
      |upd AS (SELECT o_orderkey, 'X' AS o_orderstatus,
      |    price + 100.00 AS price FROM base WHERE o_orderkey % 97 = 0),
      |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
      |    price FROM base WHERE o_orderkey % 97 = 2),
      |kept AS (SELECT * FROM base WHERE o_orderkey % 97 NOT IN (0, 1))
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS o_totalprice
      |FROM (SELECT * FROM kept UNION ALL SELECT * FROM upd
      |      UNION ALL SELECT * FROM ins)
      |ORDER BY o_orderkey
      |""".stripMargin.trim),
    (spark, dir) => {
      val base = tbl(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec("o_totalprice").as("price"))
      val m = col("o_orderkey") % 97
      // the change set a CDC feed would deliver: (op, key, new values)
      val changes = base.filter(m === 0)
        .select(lit("U").as("op"), col("o_orderkey"),
          lit("X").as("o_orderstatus"), (col("price") + dec(lit(100))).as("price"))
        .unionByName(base.filter(m === 1)
          .select(lit("D").as("op"), col("o_orderkey"),
            lit(null).cast("string").as("o_orderstatus"),
            lit(null).cast("decimal(18,2)").as("price")))
        .unionByName(base.filter(m === 2)
          .select(lit("I").as("op"),
            (col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_orderstatus"), col("price")))
      val matched = changes.filter(col("op").isin("U", "D"))
        .select("o_orderkey")
      base.join(broadcast(matched), Seq("o_orderkey"), "left_anti")
        .unionByName(changes.filter(col("op") =!= "D")
          .select("o_orderkey", "o_orderstatus", "price"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    })

  /** UNPIVOT (melt) — the inverse of q_pivot and the other half of the
    * reshaping surface: wide measure columns become (measure, value) rows
    * via `Dataset.unpivot`, a pure generator (1 row → N rows, map-only,
    * no shuffle; the ORDER BY here is the gate's determinism rule, not
    * part of the operator). The long layout is what a 100 TB metrics
    * store wants: new measures arrive as rows, not as schema changes. */
  private val qUnpivot = QueryDef(
    "q_unpivot",
    Some("""
      |SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
      |ORDER BY p_partkey, measure
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "part")
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_retailprice").cast("double").as("p_retailprice"),
            col("p_size").cast("double").as("p_size")),
          "measure", "value")
        .orderBy("p_partkey", "measure"))

  /** Incremental aggregate maintenance (materialized-view delta merge):
    * yesterday's stored per-group aggregate ⊕ today's delta aggregate =
    * the aggregate over the full table, without rescanning the base —
    * sum/count are commutative monoids, so new = old ⊕ delta(group-wise
    * full outer join + coalesce-add). At 100 TB this is the difference
    * between aggregating 1 GB of arrivals and re-aggregating the corpus.
    * The base/delta split here is simulated from `orders` (keys ≡ 0 mod
    * 10 arrive "today"); the oracle aggregates the whole table, so a
    * pass proves merge ≡ recompute. */
  private val qIncrementalAgg = QueryDef(
    "q_incremental_agg",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val orders = tbl(spark, dir, "orders")
      def aggOf(df: DataFrame) = df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec("o_totalprice")).as("s"))
      val stored = aggOf(orders.filter(col("o_orderkey") % 10 =!= 0))
      val delta = aggOf(orders.filter(col("o_orderkey") % 10 === 0))
        .select(col("o_orderpriority"), col("n").as("dn"), col("s").as("ds"))
      stored.join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("ds"), lit(0).cast("decimal(18,2)")))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** Statistical aggregates (mean / sample variance / stddev /
    * correlation) with CROSS-ENGINE-EXACT results: the streaming
    * formulations (`var_samp`, `corr` built-ins) accumulate doubles in
    * engine-specific orders, so their last bits differ between engines and
    * the driver's hash would fail on correct code. Instead the moments
    * (Σx, Σx², Σxy) are summed as DECIMALS — exact, order-independent,
    * map-side partial like any sum — and the finalization arithmetic runs
    * once per GROUP in IEEE doubles with the identical expression tree in
    * both engines. Same discipline as the quantized cosine family; and
    * the right 100 TB shape anyway — O(1) state per group, one pass. */
  private val qStatsMoments = QueryDef(
    "q_stats_moments",
    Some(s"""
      |WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(CAST(sum(${sqlDec("l_quantity")}) AS VARCHAR) AS DOUBLE) AS sq,
      |    CAST(CAST(sum(${sqlDec("l_quantity")} * ${sqlDec("l_quantity")}) AS VARCHAR) AS DOUBLE) AS sq2,
      |    CAST(CAST(sum(${sqlDec("l_extendedprice")}) AS VARCHAR) AS DOUBLE) AS sp,
      |    CAST(CAST(sum(${sqlDec("l_extendedprice")} * ${sqlDec("l_extendedprice")}) AS VARCHAR) AS DOUBLE) AS sp2,
      |    CAST(CAST(sum(${sqlDec("l_quantity")} * ${sqlDec("l_extendedprice")}) AS VARCHAR) AS DOUBLE) AS spq
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  sq / n AS mean_qty,
      |  (sq2 - sq * sq / n) / (n - 1) AS var_qty,
      |  sqrt((sq2 - sq * sq / n) / (n - 1)) AS stddev_qty,
      |  sp / n AS mean_price,
      |  (n * spq - sq * sp) / (sqrt(n * sq2 - sq * sq) * sqrt(n * sp2 - sp * sp)) AS corr_qty_price
      |FROM m ORDER BY l_returnflag
      |""".stripMargin.trim),
    (spark, dir) => {
      // decimal → STRING → double: a direct decimal→double cast is a
      // correctly-rounded single step in Spark but a scaled-int128 divide
      // in DuckDB, and the two differ by 1 ulp once the raw scaled value
      // exceeds 2^53 (observed on corr's Σx² at sf0.001). Both engines
      // render the exact decimal digits and parse them correctly-rounded,
      // so the string hop is bit-identical at ANY magnitude the decimal
      // can hold — per GROUP, so the cost is nil.
      def d2(c: Column) = c.cast("string").cast("double")
      val m = tbl(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          d2(sum(dec("l_quantity"))).as("sq"),
          d2(sum(dec("l_quantity") * dec("l_quantity"))).as("sq2"),
          d2(sum(dec("l_extendedprice"))).as("sp"),
          d2(sum(dec("l_extendedprice") * dec("l_extendedprice"))).as("sp2"),
          d2(sum(dec("l_quantity") * dec("l_extendedprice"))).as("spq"))
      m.select(col("l_returnflag"), col("n"),
          (col("sq") / col("n")).as("mean_qty"),
          ((col("sq2") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("var_qty"),
          sqrt((col("sq2") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("stddev_qty"),
          (col("sp") / col("n")).as("mean_price"),
          ((col("n") * col("spq") - col("sq") * col("sp")) /
            (sqrt(col("n") * col("sq2") - col("sq") * col("sq")) *
              sqrt(col("n") * col("sp2") - col("sp") * col("sp"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    })

  /** Time-series gap filling: generate the complete hourly spine between
    * each user's first and last click (a per-row `sequence` generator —
    * map-only, no driver loop), left-join the observed hourly counts, and
    * surface missed hours as zero. The spine/left-join shape is how a
    * 100 TB metrics pipeline distinguishes "no data arrived" from "zero
    * value" — and the generator keeps the spine distributed (each user's
    * spine is built where the user's row lives; no calendar table scan,
    * no cross join against a global spine). */
  private val qGapFill = QueryDef(
    "q_gap_fill",
    Some("""
      |WITH c AS (
      |  SELECT user_id, CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hr, count(*) AS n
      |  FROM events WHERE event_type = 'click' AND user_id < 50
      |  GROUP BY 1, 2),
      |bounds AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM c GROUP BY user_id),
      |spine AS (
      |  SELECT user_id, unnest(range(lo, hi + 3600000, 3600000)) AS hr FROM bounds)
      |SELECT s.user_id, s.hr AS hour_ms, coalesce(c.n, 0) AS n_clicks
      |FROM spine s LEFT JOIN c ON c.user_id = s.user_id AND c.hr = s.hr
      |ORDER BY s.user_id, hour_ms
      |""".stripMargin.trim),
    (spark, dir) => {
      val c = tbl(spark, dir, "events")
        .filter(col("event_type") === "click" && col("user_id") < 50)
        .groupBy(col("user_id"),
          unix_millis(date_trunc("hour", col("ts"))).as("hr"))
        .agg(count(lit(1)).as("n"))
      val spine = c.groupBy("user_id")
        .agg(min("hr").as("lo"), max("hr").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(3600000L))).as("hr"))
      spine.join(c, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr").as("hour_ms"),
          coalesce(col("n"), lit(0L)).as("n_clicks"))
        .orderBy("user_id", "hour_ms")
    })

  /** Last-write-wins dedup (CDC compaction): keep each key's LATEST row
    * by event time — the other canonical dedup mode next to keep-first
    * (q_dedup_exact) and MERGE (q_upsert). One window pass with the
    * rank-limit pushed into the shuffle (WindowGroupLimit: partial top-1
    * per key map-side, so the exchange carries candidates, not history —
    * at 100 TB the difference between shuffling the full changelog and
    * shuffling ~one row per key). */
  private val qLatestEvent = QueryDef(
    "q_latest_event",
    Some("""
      |SELECT user_id, event_type, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id, event_type
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(desc("ts"), desc("event_id"))
      tbl(spark, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        .orderBy("user_id", "event_type")
    })

  /** LATERAL correlated generator with position semantics — the one
    * standard relational join shape the catalog was missing (VERDICT r05
    * item 3): each row generates a per-row set (its filtered name tokens)
    * and laterally joins it back with ordinal positions; OUTER semantics
    * keep generator-empty rows as a single (NULL pos, NULL word) row — the
    * `LEFT JOIN LATERAL ... WITH ORDINALITY` shape. Spark plans
    * `posexplode_outer` as GenerateExec(outer=true): fully pipelined
    * inside the scan's codegen stage, no shuffle, no correlated re-scan —
    * at 100 TB a lateral explode costs exactly one pass. The oracle
    * mirrors ordinals via DuckDB's indexed list_transform (1-based i →
    * pos = i-1) and the outer row via an explicit NULL-struct branch. */
  private val qLateralExplode = QueryDef(
    "q_lateral_explode",
    Some("""
      |WITH a AS (SELECT p_partkey,
      |    list_filter(string_split(p_name, ' '), w -> w LIKE '%l%') AS ws
      |  FROM part),
      |e AS (SELECT p_partkey, unnest(CASE WHEN len(ws) = 0
      |        THEN [{'pos': CAST(NULL AS BIGINT), 'word': CAST(NULL AS VARCHAR)}]
      |        ELSE list_transform(ws, (w, i) -> {'pos': CAST(i - 1 AS BIGINT), 'word': w}) END) AS u
      |      FROM a)
      |SELECT p_partkey, u.pos AS pos, u.word AS word FROM e
      |ORDER BY p_partkey, pos
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "part")
        .select(col("p_partkey"),
          posexplode_outer(filter(split(col("p_name"), " "), w => w.contains("l"))))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"),
          col("col").as("word"))
        .orderBy("p_partkey", "pos"))

  val defs: Seq[QueryDef] = Seq(
    qStatsMoments, qGapFill, qLatestEvent,
    qRollup, qCube, qGroupingSets, qDistinctAgg, qApproxDistinct,
    qSetOps, qWindowFrames, qWindowLag, qWindowDist, qSessionize, qSessionizeNative,
    qScalarFuncs, qDateFuncs, qMapFuncs, qRangeJoin, qAsofJoin,
    qOuterJoinAgg, qFullOuter, qCorrSubquery, qRecursiveCte, qPivot, qUnpivot,
    qIncrementalAgg,
    qQ2, qQ3, qQ4, qQ5, qQ7, qQ10, qQ13, qQ14, qQ16, qQ17, qQ18, qQ19,
    qQ21, qQ22, qStringMatch, qSaltedAgg, qSaltedJoin, qPercentiles,
    qApproxQuantiles,
    qFunnel, qMadOutliers, qScd2Build, qRetention, qIntervalBinJoin,
    qUpsert, qLateralExplode)
}
