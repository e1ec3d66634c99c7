package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Join strategies for skewed data (SURVEY §2 B11 and §4).
  *
  * AQE's skew-join splitting (on in GraftConf) is the default defense. Explicit
  * salting is the manual fallback for the case AQE can't fix: a single hot key
  * whose rows must still meet every row of the dim side. Salting fans the hot
  * key's fact rows across `saltFactor` sub-keys and replicates the (small) dim
  * side once per sub-key — turning one straggler task into `saltFactor`
  * balanced tasks. The join RESULT is identical to the unsalted join, which is
  * exactly what the oracle checks.
  */
object Joins {

  /** Salted inner equi-join: `fact ⋈ dim ON fact(factKey) = dim(dimKey)`.
    * `dim` is replicated ×saltFactor, so it must be the small side. The salt is
    * derived from a uniformly-distributing hash of the fact row id — any value
    * works; it only controls task placement, never the result. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
    saltFactor: Int): DataFrame = {
    val salted = fact.withColumn("__graft_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor.toLong)).cast("int"))
    val expandedDim = dim.crossJoin(
      dim.sparkSession.range(0, saltFactor).select(col("id").cast("int").as("__graft_salt_d")))
    salted.join(expandedDim,
        salted(factKey) === expandedDim(dimKey) &&
        salted("__graft_salt") === expandedDim("__graft_salt_d"))
      .drop("__graft_salt", "__graft_salt_d")
  }

  /** B11b — salted join demo query: the skewed fact (lineitem) against a
    * GENUINELY small dim (supplier — the side salting replicates ×8, so it
    * must stay dim-sized; an earlier form salted against fact-sized orders,
    * which replicated 1.5M rows at sf1 and scaled 4× worse than the fact
    * itself). Same aggregate as a plain join would give — the oracle proves
    * salting is result-invariant. */
  def qSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    val s = Tables.load(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    saltedJoin(l, s, "l_suppkey", "s_suppkey", 8)
      .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }

  val qSaltedJoinSql: String =
    """SELECT s_nationkey, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  private val MicroFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** B16 — as-of join ("last click before purchase" attribution): each
    * purchase event is joined to the user's most recent click at-or-before its
    * timestamp.
    *
    * Spark-first shape: NOT a per-probe range scan (quadratic) and NOT a
    * custom physical operator — a union of the two tagged streams, one
    * shuffle+sort on (user, time), and a running `last(_, ignoreNulls)` window
    * that each probe row reads its answer from. One pass, linear, AQE-friendly;
    * the same plan shape at 100 TB. Build-side ties on (user, ts) are
    * pre-collapsed to max(event_id) so the match is deterministic; at equal
    * timestamps the build row sorts first (is_probe secondary key), giving the
    * ASOF `>=` inclusive semantics the oracle uses. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("is_probe"),
        col("event_id").as("probe_id"), lit(null).cast("bigint").as("click_id"))
    val build = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts"), lit(0).as("is_probe"),
        lit(null).cast("bigint").as("probe_id"), col("click_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("is_probe"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    probe.unionByName(build)
      .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        last(when(col("is_probe") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1)
      .select(col("probe_id"), col("user_id"),
        date_format(col("ts"), MicroFmt).as("probe_ts"),
        col("asof_click").as("click_id"),
        date_format(col("asof_ts"), MicroFmt).as("click_ts"))
      .orderBy(col("probe_id"))
  }

  val qAsofJoinSql: String =
    """SELECT p.event_id AS probe_id, p.user_id,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS probe_ts,
      | b.click_id,
      | strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      | SELECT user_id, ts, MAX(event_id) AS click_id
      | FROM events WHERE event_type = 'click' GROUP BY user_id, ts) b
      |ON p.user_id = b.user_id AND p.ts >= b.ts
      |ORDER BY probe_id""".stripMargin

  /** B17 — bucketed range join: views per user within the 30 minutes before
    * each purchase.
    *
    * A naive interval join is a near-cartesian shuffle; the scalable shape is
    * time-bucketing: both sides get a 30-min bucket id, the build side is
    * duplicated into (bucket, bucket+1) so every probe's look-back window is
    * covered by ONE equi-join on (user, bucket), and the exact interval
    * predicate filters the small candidate set after the join. Shuffle volume
    * is 2× the build side — independent of the time-range selectivity. */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    def bucket(c: Column): Column = floor(unix_micros(c) / lit(1800000000L))
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("probe_id"), col("user_id"), col("ts"),
        bucket(col("ts")).as("bkt"))
    val build = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("b_user"), col("ts").as("view_ts"))
      .select(col("b_user"), col("view_ts"),
        explode(array(bucket(col("view_ts")), bucket(col("view_ts")) + 1)).as("bkt"))
    probe.join(build,
        probe("user_id") === build("b_user") && probe("bkt") === build("bkt") &&
        col("view_ts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
        col("view_ts") <= col("ts"), "left")
      .groupBy(col("probe_id"), col("user_id"), col("ts"))
      .agg(count(col("view_ts")).as("n_views_30m"))
      .select(col("probe_id"), col("user_id"),
        date_format(col("ts"), MicroFmt).as("probe_ts"), col("n_views_30m"))
      .orderBy(col("probe_id"))
  }

  val qRangeJoinSql: String =
    """SELECT p.event_id AS probe_id, p.user_id,
      | strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS probe_ts,
      | COUNT(b.ts) AS n_views_30m
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') b
      | ON p.user_id = b.user_id
      | AND b.ts >= p.ts - INTERVAL 30 MINUTE AND b.ts <= p.ts
      |GROUP BY 1, 2, 3
      |ORDER BY probe_id""".stripMargin

  /** B18 — bucketed co-located join: both tables are written `bucketBy` the
    * join key (8 buckets, sorted), so the join reads bucket i against bucket i
    * with NO shuffle exchange on either side — at 100 TB this turns the
    * nightly fact-fact join from the cluster's dominant shuffle into a local
    * merge per bucket. The bucketed write is part of the query (a storage-
    * layout decision, like the EDFS put family); repeat joins amortize it.
    * JoinsSpec pins the plan: both scans select 8/8 buckets and at most the
    * final aggregation exchanges. */
  def qBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val slug = graft.GraftConf.slug(sfDir)
    val oTbl = s"orders_bkt$slug"
    val cTbl = s"customer_bkt$slug"
    // A table directory left by a previous session is unknown to this
    // session's in-memory catalog; clear it or saveAsTable refuses the
    // location (LOCATION_ALREADY_EXISTS).
    def ensure(tbl: String, build: => DataFrame, key: String): Unit =
      if (!spark.catalog.tableExists(tbl)) {
        graft.GraftConf.deleteOrphanTableDir(spark, tbl)
        build.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
      }
    ensure(oTbl, Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), "o_custkey")
    ensure(cTbl, Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")), "c_custkey")
    spark.table(oTbl)
      .join(spark.table(cTbl), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  val qBucketedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_salted_join" -> (qSaltedJoin _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_join" -> (qRangeJoin _),
    "q_bucketed_join" -> (qBucketedJoin _))

  val oracles: Map[String, String] = Map(
    "q_salted_join" -> qSaltedJoinSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_range_join" -> qRangeJoinSql,
    "q_bucketed_join" -> qBucketedJoinSql)
}
