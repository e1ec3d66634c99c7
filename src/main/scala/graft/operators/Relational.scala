package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational analytics — the Spark-first generalization of the reference's
  * partition-based map-reduce (PMR) analytics
  * (/root/reference/combined_flask.py:549-:802). Where the reference hand-rolls
  * map (per-partition partial aggregate) + reduce (weighted combine), we declare
  * `groupBy().agg()` and let Catalyst/Tungsten do partial aggregation map-side,
  * shuffle on the group keys, and final-merge — the same algorithm, picked
  * automatically, and scaling to any number of executors.
  *
  * Determinism contract (for the DuckDB oracle hash-compare): money/mean math is
  * done in DECIMAL (exact, order-independent) and cast back to DOUBLE at the end;
  * every result has a total ORDER BY on a unique key; timestamps are emitted as
  * formatted strings.
  */
object Relational {

  /** Cast a 2-decimal double column to an exact decimal. Sums/products of these
    * stay within decimal(38,_) and are bit-reproducible across engines. */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  // ── exact long-cents fixed point ──────────────────────────────────────────
  // sum(decimal(12,2)) promotes to decimal(22,2) and the discount/tax products
  // to ~decimal(30,6) — both past the Decimal64 (precision ≤ 18) fast path, so
  // every input row pays an interpreted JVM BigDecimal allocation in the
  // hottest aggregations. Instead: convert each 2-dp money value to integer
  // cents ONCE, do the products in long fixed point (codegen'd 64-bit
  // arithmetic), and sum through two long buffers (a hi/lo split at 10^6) so
  // no per-group total can overflow. The exact total is recombined in
  // decimal(38,_) per OUTPUT GROUP (a handful of rows, not per input row) and
  // emitted as the same correctly-rounded double the all-decimal form
  // produces — BigDecimal.doubleValue depends only on the exact value, so the
  // oracle hash is unchanged. Overflow bound: lo < 10^6 per row keeps sum(lo)
  // exact past 9×10^12 rows per group; hi ≤ value/10^6 keeps sum(hi) exact
  // far beyond that — comfortably past 100 TB in a single group.
  private val Split = 1000000L

  /** Integer cents of a 2-dp money double (exact: |x·100| < 2^53 and 2-dp
    * inputs never hit a round-half tie in binary, so HALF_UP here agrees with
    * the double→decimal(_,2) cast the oracle uses). */
  private def cents(c: Column): Column = round(c * 100).cast("bigint")

  /** Exact sum of a long fixed-point column in 10^-scale units, emitted as
    * DOUBLE. Two codegen'd long sum buffers per group; decimal arithmetic only
    * on the per-group totals. Sign-safe: hi is derived from v - pmod(v), an
    * exact multiple of Split, so truncating div equals floor div. */
  private def sumFixed(v: Column, scale: Int): Column = {
    val lo = pmod(v, lit(Split))
    val total = sum(call_function("div", v - lo, lit(Split))).cast("decimal(38,0)") *
      Split + sum(lo)
    (total * lit(java.math.BigDecimal.valueOf(1L, scale))).cast("double")
  }

  /** B1 — full aggregation suite (TPC-H Q1 shape): sum/avg/count grouped on a
    * low-cardinality key. Map-side partial agg makes the shuffle carry only
    * (3 flags × 2 statuses) rows per task regardless of input size — the 100 TB
    * path is scan-bound, not shuffle-bound. */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_c"),
        cents(col("l_tax")).as("tax_c"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty_c"), col("price_c"), col("disc_c"),
        (col("price_c") * (lit(100L) - col("disc_c"))).as("disc_e4"),
        (col("price_c") * (lit(100L) - col("disc_c"))
          * (lit(100L) + col("tax_c"))).as("charge_e6"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumFixed(col("qty_c"), 2).as("sum_qty"),
        sumFixed(col("price_c"), 2).as("sum_base_price"),
        sumFixed(col("disc_e4"), 4).as("sum_disc_price"),
        sumFixed(col("charge_e6"), 6).as("sum_charge"),
        (sumFixed(col("qty_c"), 2) / count(col("qty_c"))).as("avg_qty"),
        (sumFixed(col("price_c"), 2) / count(col("price_c"))).as("avg_price"),
        (sumFixed(col("disc_c"), 2) / count(col("disc_c"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // The 4dp/6dp sums cast to DOUBLE through VARCHAR: DuckDB's direct
  // decimal→double cast divides a hugeint by 10^scale in double math, which
  // DOUBLE-ROUNDS once the unscaled total exceeds 2^53 (first hit at sf1:
  // sum_charge ≈ 2.8e16 micro-units came back 1 ulp high). The text parse is
  // correctly rounded, matching Spark's Decimal.toDouble exactly at any scale.
  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B2 — join + agg + top-N (TPC-H Q3 shape). The filtered customer dim is
    * broadcast (no shuffle of the fact side for that join); orders⋈lineitem
    * shuffles on orderkey with AQE coalescing. */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit("1996-06-30").cast("timestamp"))
    val l = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("disc_e4",
        cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sumFixed(col("disc_e4"), 4).as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      | AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
      | AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** B3 — star join over 6 tables (TPC-H Q5 shape). region→nation→supplier is a
    * broadcast chain (dims), facts shuffle once on orderkey. */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.load(spark, sfDir, "region").filter(col("r_name") === "ASIA")
    val n = Tables.load(spark, sfDir, "nation")
    val c = Tables.load(spark, sfDir, "customer")
    val s = Tables.load(spark, sfDir, "supplier")
    val o = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.load(spark, sfDir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .withColumn("disc_e4",
        cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
      .groupBy(col("n_name"))
      .agg(sumFixed(col("disc_e4"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** B4 — selective scan (TPC-H Q6 shape): the predicate set must reach the
    * parquet reader as PushedFilters; projection prunes to 3 columns. */
  def qFilterPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select((cents(col("l_extendedprice")) * cents(col("l_discount"))).as("rev_e4"))
      .agg(sumFixed(col("rev_e4"), 4).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val qFilterPushdownSql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      | AND l_discount BETWEEN 0.05 AND 0.07
      | AND l_quantity < 24""".stripMargin

  /** B5 — window top-N per group: rank customers by balance inside each market
    * segment. One shuffle on the partition key; no driver-side loop. */
  def qTopnWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("c_mktsegment"), col("rank"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rank"))
  }

  val qTopnWindowSql: String =
    """SELECT c_mktsegment, rank, c_custkey, c_acctbal FROM (
      | SELECT c_mktsegment, c_custkey, c_acctbal,
      |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank
      | FROM customer) t
      |WHERE rank <= 3
      |ORDER BY c_mktsegment, rank""".stripMargin

  /** B6 — rollup: multi-level aggregate in one pass (Spark expands grouping sets;
    * still a single shuffle). NULL grouping keys are coalesced to 'ALL' so both
    * engines order identically. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sumFixed(col("qty_c"), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val qRollupSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      | COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY 1, 2""".stripMargin

  /** B6c — GROUPING SETS: the non-hierarchical aggregation shape rollup/cube
    * cannot express — here two INDEPENDENT one-dimension summaries in one
    * pass over the fact table. Catalyst expands to a single Expand + one
    * aggregation, so the 100 TB scan is paid once, not once per set. */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"))
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sumFixed(col("qty_c"), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val qGroupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      | COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY 1, 2""".stripMargin

  /** B7 — tumbling-window event aggregation (batch form of D1): 1-hour buckets
    * per event type. */
  def qEventsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    e.groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sumFixed(cents(col("value")), 2).as("sum_value"))
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val qEventsWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      | event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** B5b — moving-frame window aggregates: per-user trailing statistics over
    * the last 4 events (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) — the
    * rolling-metric shape (moving average, trailing spend) B5's rank and
    * B8's unbounded-cumulative forms don't cover. ONE shuffle on user_id;
    * the frame sum runs over exact long cents, so Spark's sliding window
    * arithmetic stays integer-exact and the emitted doubles match the
    * oracle's decimal window sums bit-for-bit. Frame order ties break on
    * event_id (unique), making the frame contents — not just the output
    * order — deterministic across engines. */
  def qWindowFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-3, Window.currentRow)
    e.select(col("event_id"), col("user_id"), col("ts"),
        cents(col("value")).as("v_c"))
      .withColumn("mv_n", count(lit(1)).over(w))
      .withColumn("mv_sum_c", sum(col("v_c")).over(w))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        col("mv_n"),
        (col("mv_sum_c").cast("decimal(38,0)")
          * lit(java.math.BigDecimal.valueOf(1L, 2))).cast("double").as("mv_sum"))
      .withColumn("mv_avg", col("mv_sum") / col("mv_n"))
      .orderBy(col("event_id"))
  }

  val qWindowFramesSql: String =
    """SELECT event_id, user_id,
      | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      | COUNT(*) OVER w AS mv_n,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS mv_sum,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS mv_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      | ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** B8 — gap-based sessionization: a session break is a >30 min silence per
    * user. lag + running sum over a per-user window; single shuffle on user_id.
    * (D2 re-expresses this with flatMapGroupsWithState for streams.) */
  def qEventsSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val qEventsSessionizeSql: String =
    """SELECT user_id, session_id, COUNT(*) AS n_events,
      | strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      | strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
      |FROM (
      | SELECT user_id, ts,
      |  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM (
      |  SELECT user_id, event_id, ts,
      |   CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM (
      |   SELECT user_id, event_id, ts,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |   FROM events) a) b) c
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** B9 — anti join: customers that never ordered (left_anti = NOT EXISTS; no
    * full materialization of the join, and the build side is the smaller
    * distinct-keys set). */
  def qAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
    val o = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** B9b — semi join, the EXISTS dual of B9: customers with ≥1 urgent order.
    * left_semi short-circuits on first match and never duplicates the probe
    * row — at 100 TB this beats the join+distinct a naive formulation pays. */
  def qSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
    val o = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** B10 — exact distinct counts (the approx/HLL variant is `q_approx_distinct`,
    * rows-only, since HLL estimates are engine-specific). */
  def qDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.agg(countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"))
  }

  val qDistinctSql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_suppkey) AS n_supps,
      | COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem""".stripMargin

  /** B10b — approx distinct via HLL++ (estimate; rows-only check). At 100 TB
    * this replaces exact distinct wherever a ±2% answer is acceptable: no
    * shuffle of raw keys, constant-size sketches merge map-side. */
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
  }

  /** B11 — skew-resistant fact⋈fact join + agg. AQE (on by default) splits
    * oversized shuffle partitions at runtime; no manual salting needed unless a
    * single key dominates — see GraftConf for the skewJoin thresholds. */
  def qSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
    val l = Tables.load(spark, sfDir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sumFixed(cents(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val qSkewJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** B12 — semi-structured JSON props on events: extract + aggregate. The
    * extraction is a codegen'd path expression (get_json_object), not a UDF;
    * at scale pair it with a columnarized props table for hot keys. */
  def qEventsProps(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    e.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val qEventsPropsSql: String =
    """SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      | MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** B13 — exact percentiles (R-7 interpolation) per group, computed WITHOUT
    * buffering per-group values. Spark's `percentile` aggregate keeps an
    * in-memory value→count map per group that cannot spill — at corpus scale
    * a high-cardinality double column concentrates unbounded state on one
    * reducer per group. This form is bounded everywhere:
    *   1. hash-aggregate to (group, value) counts — map-side combined, the
    *      shuffle carries DISTINCT values only;
    *   2. a running cumulative count over each group's sorted values
    *      (WindowExec buffers spill to disk, unlike the percentile map);
    *   3. the two ranks bounding each percentile are picked with conditional
    *      aggregates and interpolated (R-7: h = 1+(n-1)p, v_k + frac·(v_k+1 −
    *      v_k)), rounded to absorb engine-specific arithmetic order.
    * This is the EXACT routing of the exact/sketch pair: B13b2's
    * approx_percentile (bounded sketch, ≤1% pinned error) remains the path
    * when even the distinct-value set is unbounded. */
  def qPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    qPercentiles(spark, sfDir, materialize = true)

  /** `materialize = false` skips the pre-sort checkpoint so the plan spec
    * can see the window form (r17 — the checkpoint truncates it away). */
  private[graft] def qPercentiles(spark: SparkSession, sfDir: String,
    materialize: Boolean): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    // percentile() ignores NULLs; drop them before the counts aggregate or
    // they'd sort first in the window and shift every rank on nullable cols
    val counts = l
      .filter(col("l_extendedprice").isNotNull)
      .groupBy(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val byG = Window.partitionBy(col("g"))
    // r17: n (the group total) was a second unbounded-frame Window pass —
    // WindowExec re-buffers the whole partition per pass, so the 600k-row
    // distinct-value stream was buffered twice. A |groups|-row partial-
    // aggregated rollup broadcast back is the same value for a slim
    // exchange instead of a second full-partition buffer pass.
    val ns = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val cum = counts
      .withColumn("ccnt", sum(col("cnt")).over(byG.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // null-safe equality: a NULL group key must keep its row the way the
      // old Window.partitionBy(g) total (and DuckDB's quantile_cont GROUP BY)
      // does — a plain equi-join would silently drop it (r17 ADVICE)
      .join(broadcast(ns).withColumnRenamed("g", "ng"),
        col("g") <=> col("ng"))
      .drop("ng")
    // for percentile p: target rank h = 1 + (n-1)p; a (value, cnt) row covers
    // ranks (ccnt-cnt, ccnt], so exactly one row matches each integer rank
    def rankVal(k: Column): Column =
      max(when(k > col("ccnt") - col("cnt") && k <= col("ccnt"), col("v")))
    val ps = Seq("25" -> 0.25, "50" -> 0.5, "75" -> 0.75)
    val aggs = ps.flatMap { case (tag, p) =>
      val h = lit(1.0) + (col("n") - lit(1)).cast("double") * lit(p)
      val k = floor(h)
      Seq(rankVal(k).as(s"lo$tag"), rankVal(k + lit(1.0)).as(s"hi$tag"),
        // h and k are group-constants (functions of n): min() just extracts
        min(h - k).as(s"frac$tag"))
    }
    def interp(tag: String): Column = {
      val (lo, hi, frac) = (col(s"lo$tag"), col(s"hi$tag"), col(s"frac$tag"))
      // top rank has no successor row: frac is 0 there, coalesce keeps it exact
      round(lo + frac * (coalesce(hi, lo) - lo), 4)
    }
    cum.groupBy(col("g"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("g").as("l_returnflag"),
        interp("25").as("p25"), interp("50").as("p50"), interp("75").as("p75"))
      // r17: the output sort's range sampler re-evaluates everything above
      // the last exchange — here the two window passes + both rank
      // aggregates (measured: the whole cum/agg stage ran TWICE, ~0.6 s of
      // 2.4 at sf0.1). The pre-sort result is |groups| rows; materializing
      // it makes the sampling pass read those rows instead of re-running
      // the window chain (the aggregate-topped complement of the
      // Tables.loadSorted discipline, which this output shape can't use).
      .transform(d => if (materialize) d.localCheckpoint() else d)
      .orderBy(col("l_returnflag"))
  }

  val qPercentilesSql: String =
    """SELECT l_returnflag,
      | ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      | ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      | ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B14 — pivot: one column per linestatus, decimal-exact sums. Spark's
    * `pivot` with explicit values compiles to the same conditional aggregation
    * the portable oracle SQL spells out — one shuffle, no transpose. */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec2(col("l_quantity"))).cast("double"))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).as("qty_f"),
        coalesce(col("O"), lit(0.0)).as("qty_o"))
      .orderBy(col("l_returnflag"))
  }

  val qPivotSql: String =
    """SELECT l_returnflag,
      | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS qty_f,
      | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B14b — unpivot (melt): the four lineitem measures to long form, then a
    * per-(flag, measure) statistical profile. Spark's `unpivot` compiles to
    * ONE Expand pass (×4 rows inside the scan stage, no join, no transpose),
    * and map-side partial aggregation collapses the expansion back to
    * 3 flags × 4 measures partials before the plan's single shuffle — at
    * 100 TB the op stays scan-bound. Measures are converted to exact long
    * cents BEFORE the unpivot so one value column carries all four
    * decimal-exact; sums/mins/maxes re-emerge as doubles through the same
    * decimal path the oracle takes. */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    def asDouble2(c: Column): Column =
      (c.cast("decimal(38,0)") * lit(java.math.BigDecimal.valueOf(1L, 2))).cast("double")
    val l = Tables.load(spark, sfDir, "lineitem")
    l.select(col("l_returnflag"),
        cents(col("l_quantity")).as("quantity"),
        cents(col("l_extendedprice")).as("extendedprice"),
        cents(col("l_discount")).as("discount"),
        cents(col("l_tax")).as("tax"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("quantity"), col("extendedprice"),
          col("discount"), col("tax")),
        variableColumnName = "measure",
        valueColumnName = "v_c")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        sumFixed(col("v_c"), 2).as("sum_v"),
        (sumFixed(col("v_c"), 2) / count(lit(1))).as("avg_v"),
        asDouble2(min(col("v_c"))).as("min_v"),
        asDouble2(max(col("v_c"))).as("max_v"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  val qUnpivotSql: String =
    """WITH u AS (
      | SELECT l_returnflag, 'quantity' AS measure,
      |  CAST(l_quantity AS DECIMAL(12,2)) AS v FROM lineitem
      | UNION ALL SELECT l_returnflag, 'extendedprice',
      |  CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem
      | UNION ALL SELECT l_returnflag, 'discount',
      |  CAST(l_discount AS DECIMAL(12,2)) FROM lineitem
      | UNION ALL SELECT l_returnflag, 'tax',
      |  CAST(l_tax AS DECIMAL(12,2)) FROM lineitem)
      |SELECT l_returnflag, measure, COUNT(*) AS n,
      | CAST(SUM(v) AS DOUBLE) AS sum_v,
      | CAST(SUM(v) AS DOUBLE) / COUNT(*) AS avg_v,
      | CAST(MIN(v) AS DOUBLE) AS min_v,
      | CAST(MAX(v) AS DOUBLE) AS max_v
      |FROM u GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin

  /** B6b — cube: all grouping-set combinations in one pass. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
    o.select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sumFixed(col("price_c"), 2).as("sum_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  val qCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      | COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY 1, 2""".stripMargin

  /** B15 — set operations: customers active in BOTH 1995 and 2000 (INTERSECT),
    * via Spark's intersect (compiles to a left-semi aggregate join). */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
    def activeIn(year: Int) = o
      .filter(col("o_orderdate") >= lit(f"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(f"${year + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    activeIn(1995).intersect(activeIn(2000))
      .orderBy(col("o_custkey"))
  }

  val qSetOpsSql: String =
    """SELECT o_custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |   AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |INTERSECT
      |SELECT o_custkey FROM orders
      | WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      |   AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
      |ORDER BY o_custkey""".stripMargin

  /** B13b2 — sketch-based percentiles: the 100 TB path where B13's exact
    * per-group value buffers don't fit. approx_percentile keeps a bounded
    * KLL-style summary per group (accuracy 10000 → rank error ≤ n/10000);
    * OperatorsSpec asserts ≤1% relative error against the exact form. No
    * DuckDB oracle — sketch internals are engine-specific (rows-only). */
  def qApproxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
        .as("ps"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p25"), col("ps").getItem(1).as("p50"),
        col("ps").getItem(2).as("p75"))
      .orderBy(col("l_returnflag"))
  }

  /** B19 — event funnel: signup → first view after it → first purchase after
    * that view, per user. Three chained per-user minima computed as stacked
    * window aggregates over ONE user_id partitioning — a single shuffle, no
    * self-joins (the naive form joins events against itself once per stage).
    * The per-user collapse is groupBy(user_id).agg(first(...)) — the window
    * values are constant within a user, and grouping on the window's own
    * partitioning key lets the aggregate REUSE the window exchange (a
    * 4-column distinct here repartitioned the whole events table a second
    * time). Output is the 3-stage conversion count. */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    val byUser = Window.partitionBy(col("user_id"))
    val staged = e
      .withColumn("s_ts",
        min(when(col("event_type") === "signup", col("ts"))).over(byUser))
      .withColumn("v_ts",
        min(when(col("event_type") === "view" && col("ts") > col("s_ts"), col("ts")))
          .over(byUser))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("v_ts"), col("ts")))
          .over(byUser))
      .groupBy(col("user_id"))
      .agg(first(col("s_ts")).as("s_ts"), first(col("v_ts")).as("v_ts"),
        first(col("p_ts")).as("p_ts"))
    staged.agg(count(col("s_ts")).as("n_signup"),
      count(col("v_ts")).as("n_viewed_after"),
      count(col("p_ts")).as("n_purchased_after"))
  }

  val qFunnelSql: String =
    """WITH s AS (
      | SELECT user_id, ts, event_type,
      |  MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |    OVER (PARTITION BY user_id) AS s_ts
      | FROM events),
      |v AS (
      | SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > s_ts THEN ts END)
      |    OVER (PARTITION BY user_id) AS v_ts
      | FROM s),
      |p AS (
      | SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > v_ts THEN ts END)
      |    OVER (PARTITION BY user_id) AS p_ts
      | FROM v),
      |u AS (SELECT DISTINCT user_id, s_ts, v_ts, p_ts FROM p)
      |SELECT COUNT(s_ts) AS n_signup, COUNT(v_ts) AS n_viewed_after,
      | COUNT(p_ts) AS n_purchased_after
      |FROM u""".stripMargin

  /** B20 — correlated scalar subqueries: customers' orders priced above 1.5×
    * their OWN average order value. Declared as SQL because the correlation
    * is the point: Catalyst's RewriteCorrelatedScalarSubquery decorrelates
    * both inner aggregates into grouped joins — each inner scan aggregates
    * ONCE per customer, never per outer row (the reference's only recourse
    * would be a per-row loop). The 1.5×-average predicate is cross-multiplied
    * into integer cents (2·cents·n > 3·Σcents), so the decision — and the
    * oracle hash — is exact in both engines with no float averaging. */
  def qCorrelatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    // per-dir view name: concurrent callers over different dirs never race
    val view = "b20_orders_" + graft.GraftConf.slug(sfDir)
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT o_custkey, COUNT(*) AS n_above
         |FROM $view o
         |WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2
         |   * (SELECT COUNT(*) FROM $view i WHERE i.o_custkey = o.o_custkey)
         |   > (SELECT SUM(CAST(CAST(i.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
         |      FROM $view i WHERE i.o_custkey = o.o_custkey) * 3
         |GROUP BY o_custkey
         |ORDER BY o_custkey""".stripMargin)
  }

  /** Identical SQL over the raw table (DuckDB decorrelates the same way; its
    * SUM(BIGINT) widens to HUGEINT but only feeds the exact comparison, never
    * the output schema). */
  val qCorrelatedSubquerySql: String =
    """SELECT o_custkey, COUNT(*) AS n_above
      |FROM orders o
      |WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2
      |   * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      |   > (SELECT SUM(CAST(CAST(i.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      FROM orders i WHERE i.o_custkey = o.o_custkey) * 3
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** All relational queries + oracles, keyed per SURVEY §2B. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_correlated_subquery" -> (qCorrelatedSubquery _),
    "q_funnel" -> (qFunnel _),
    "q_approx_percentiles" -> (qApproxPercentiles _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q_filter_pushdown" -> (qFilterPushdown _),
    "q_topn_window" -> (qTopnWindow _),
    "q_rollup" -> (qRollup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_events_window" -> (qEventsWindow _),
    "q_events_sessionize" -> (qEventsSessionize _),
    "q_anti_join" -> (qAntiJoin _),
    "q_semi_join" -> (qSemiJoin _),
    "q_distinct" -> (qDistinct _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_skew_join" -> (qSkewJoin _),
    "q_events_props" -> (qEventsProps _),
    "q_percentiles" -> (qPercentiles _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_window_frames" -> (qWindowFrames _),
    "q_cube" -> (qCube _),
    "q_set_ops" -> (qSetOps _))

  val oracles: Map[String, String] = Map(
    "q_correlated_subquery" -> qCorrelatedSubquerySql,
    "q_funnel" -> qFunnelSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q5_local_supplier" -> q5Sql,
    "q_filter_pushdown" -> qFilterPushdownSql,
    "q_topn_window" -> qTopnWindowSql,
    "q_rollup" -> qRollupSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_events_window" -> qEventsWindowSql,
    "q_events_sessionize" -> qEventsSessionizeSql,
    "q_anti_join" -> qAntiJoinSql,
    "q_semi_join" -> qSemiJoinSql,
    "q_distinct" -> qDistinctSql,
    "q_skew_join" -> qSkewJoinSql,
    "q_events_props" -> qEventsPropsSql,
    "q_percentiles" -> qPercentilesSql,
    "q_pivot" -> qPivotSql,
    "q_unpivot" -> qUnpivotSql,
    "q_window_frames" -> qWindowFramesSql,
    "q_cube" -> qCubeSql,
    "q_set_ops" -> qSetOpsSql)
}
