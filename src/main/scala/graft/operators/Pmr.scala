package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.edfs.{ColPartial, GraftCatalog, HashPartition, RangePartition}

/** Partition-based Map-Reduce (PMR) analytics + the EDFS storage queries —
  * SURVEY §2A. Mirrors the reference's getAvg/getMin/getMax
  * (/root/reference/combined_flask.py:549,:599,:649), its `hash` partition
  * pruning (:579), its debug explain (:713), and the named domain wrappers
  * (fs_commands.py:396,:429; proj-firebase-flask.py:637,:671).
  *
  * The reference maps each partition to a partial and reduces the partials
  * on the driver. Here the map runs at WRITE time: every GraftCatalog write
  * that commits rows records, per partition directory, the partial of each
  * primitive numeric column (row/non-null/NaN counts, min/max, exact
  * `decimal(12,2)` sum) in the table's sidecar, computed inside the write
  * job itself. `statMin`/`statMax`/`statAvg` over a plain `cat` or
  * `readPartition` — the `hash=` pruning is a filter on the partition column
  * — then only reduce: the relation's own file index prunes the
  * directories, every selected directory's listed files must equal the ones
  * its partial covers, and the answer is a one-row local relation that
  * launches no job. Any other input, or any mismatch (crash residue, a
  * foreign table, a snapshot read, a value the decimal cast refuses), falls
  * back to the same statistic declared as one Spark aggregate.
  */
object Pmr {

  private def dec2(c: Column): Column = c.cast("decimal(12,2)")

  /** Root for all catalog-backed tables; keyed by scale-factor dir so sf0.01
    * verify runs and sf0.1 bench runs never collide. */
  def catalogRoot(sfDir: String): String =
    s"${graft.GraftConf.localRoot}/graft_edfs/${sfDir.replaceAll("[^A-Za-z0-9]+", "_")}"

  def catalog(spark: SparkSession, sfDir: String): GraftCatalog =
    new GraftCatalog(spark, catalogRoot(sfDir))

  /** Write customer hash-partitioned by nation once per JVM/scale (idempotent;
    * every PMR query runs against the partitioned layout, like the reference
    * always reads EDFS blocks). */
  def ensureCustomerByNation(spark: SparkSession, sfDir: String): GraftCatalog = {
    val cat = catalog(spark, sfDir)
    if (!cat.exists("warehouse/customer_by_nation")) {
      cat.mkdir("warehouse")
      cat.put(Tables.load(spark, sfDir, "customer"),
        "warehouse/customer_by_nation", HashPartition("c_nationkey"))
    }
    cat
  }

  def ensureOrdersByPriceRange(spark: SparkSession, sfDir: String): GraftCatalog = {
    val cat = catalog(spark, sfDir)
    if (!cat.exists("warehouse/orders_by_price")) {
      cat.mkdir("warehouse")
      cat.put(Tables.load(spark, sfDir, "orders"),
        "warehouse/orders_by_price", RangePartition("o_totalprice", 8))
    }
    cat
  }

  // ----- A1-A6: EDFS storage surface -----

  /** A1 — hash-partitioned ingest, then full read-back (proves a lossless
    * round-trip through the partitioned layout). */
  def edfsPutHash(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    cat.put(Tables.load(spark, sfDir, "customer"),
      "warehouse/customer_by_nation", HashPartition("c_nationkey"))
    cat.cat("warehouse/customer_by_nation")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val edfsPutHashSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** A2 — range-partitioned ingest (equi-width bins ≡ reference pd.cut), then
    * lossless read-back. */
  def edfsPutRange(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    cat.put(Tables.load(spark, sfDir, "orders"),
      "warehouse/orders_by_price", RangePartition("o_totalprice", 8))
    cat.cat("warehouse/orders_by_price")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val edfsPutRangeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** A3 — cat: reassemble a partitioned table in key order. */
  def edfsCat(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    if (!cat.exists("warehouse/part_by_brand")) {
      cat.mkdir("warehouse")
      cat.put(Tables.load(spark, sfDir, "part"),
        "warehouse/part_by_brand", HashPartition("p_brand"))
    }
    cat.cat("warehouse/part_by_brand")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  val edfsCatSql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part ORDER BY p_partkey""".stripMargin

  /** A21 — 2× replication with failover reads (reference init.sql:27-30,
    * combined_flask.py:284: every block has replica1/replica2 locations and
    * reads coalesce `IFNULL(replica1, replica2)`). The query ingests customer
    * replicated, then simulates TWO independent datanode losses — one replica
    * loses the BUILDING and MACHINERY partitions, the OTHER loses FURNITURE —
    * and proves the read still reassembles the complete table byte-exact:
    * per-file manifest failover serves the damaged partitions from the
    * surviving copy. Both directions of the IFNULL are exercised. */
  def edfsReplicaRead(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    cat.putReplicated(Tables.load(spark, sfDir, "customer"),
      "warehouse/customer_replicated", HashPartition("c_mktsegment"))
    cat.failReplicaPartition("warehouse/customer_replicated", 1, "c_mktsegment=BUILDING")
    cat.failReplicaPartition("warehouse/customer_replicated", 1, "c_mktsegment=MACHINERY")
    cat.failReplicaPartition("warehouse/customer_replicated", 2, "c_mktsegment=FURNITURE")
    cat.catReplicated("warehouse/customer_replicated")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val edfsReplicaReadSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** A22 — vacuum + snapshot expiration: the maintenance pass that keeps a
    * long-lived table healthy. The query ingests orders in two commits,
    * plants the residue of a crashed writer (an orphan file inside a live
    * partition, a whole uncommitted partition directory, a parked `__old`
    * root), vacuums, folds history to one snapshot, and reads back. The
    * oracle equality IS the proof vacuum removed exactly the residue:
    * directory-discovery reads would double-count the orphan rows if vacuum
    * missed them, and would lose live rows if it overreached. */
  def edfsVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src.filter(col("o_orderkey") % 2 === 0),
      "warehouse/orders_vacuum", HashPartition("o_orderstatus"))
    cat.append(src.filter(col("o_orderkey") % 2 =!= 0), "warehouse/orders_vacuum")
    cat.plantCrashResidue("warehouse/orders_vacuum")
    cat.vacuum("warehouse/orders_vacuum")
    cat.expireSnapshots("warehouse/orders_vacuum", keepLast = 1)
    cat.cat("warehouse/orders_vacuum")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  val edfsVacuumSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** A14 — compact: collapse the many-small-files state incremental ingest
    * leaves behind (here fabricated by an 8-way pre-repartition before the
    * put, so every nation directory holds up to 8 files) into exactly one
    * file per partition, then prove the rewrite is lossless by full
    * read-back. CatalogSpec additionally pins the file counts. */
  def edfsCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    cat.put(Tables.load(spark, sfDir, "supplier").repartition(8),
      "warehouse/supplier_by_nation", HashPartition("s_nationkey"))
    cat.compact("warehouse/supplier_by_nation")
    cat.cat("warehouse/supplier_by_nation")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey").cast("int"),
        col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  val edfsCompactSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** A19 — time travel: read a table EXACTLY as of an earlier commit. Put
    * 80% of orders (v1), append the rest (v2), then read snapshot 1 — the
    * appended rows must be invisible. Append-only writes make a snapshot a
    * FILE SUBSET (the sidecar's cumulative manifest), so the historical read
    * costs the same as a current-state read of that much data — no log
    * replay, no reconstruction; partition pruning still applies through the
    * manifest's basePath read. */
  def edfsTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    val orders = Tables.load(spark, sfDir, "orders")
    cat.put(orders.filter(col("o_orderkey") % 5 =!= 0),
      "warehouse/orders_tt", HashPartition("o_orderstatus"))
    cat.append(orders.filter(col("o_orderkey") % 5 === 0), "warehouse/orders_tt")
    cat.readVersion("warehouse/orders_tt", 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val edfsTimeTravelSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 5 != 0 ORDER BY o_orderkey""".stripMargin

  /** A20 — MERGE (upsert by key): every 10th customer gets a corrected
    * balance (update), a shifted-key copy of every customer ≡ 1 (mod 10)
    * arrives new (insert). Only the touched nation partitions are read,
    * merged and swapped — the 100 TB property is that an upsert batch costs
    * the partitions it lands in, never a table rewrite (CatalogSpec pins
    * untouched partitions' files byte-identical). Read-back proves exact
    * MERGE semantics against a CASE/UNION oracle. */
  def edfsMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    val customer = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    cat.put(customer, "warehouse/customer_merge", HashPartition("c_nationkey"))
    val updates = customer.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val inserts = customer.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
    cat.merge(updates.unionByName(inserts), "warehouse/customer_merge", "c_custkey")
    cat.cat("warehouse/customer_merge")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  // c_acctbal + 100.0: both engines perform the identical correctly-rounded
  // double add on identical inputs, so the updated balances hash-match
  val edfsMergeSql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      | CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
      | c_mktsegment
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 1
      |ORDER BY c_custkey""".stripMargin

  /** A15 — append + schema evolution: the incremental-ingest write path. A
    * second batch arrives carrying a NEW column; parquet per-file schemas +
    * a merged read make that a metadata-only evolution (old files are never
    * rewritten — the property that matters when the table is 100 TB and the
    * schema grows a column). Old rows surface the new column as null. */
  def edfsAppendEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    val nation = Tables.load(spark, sfDir, "nation")
    cat.put(nation, "warehouse/nation_evolve", HashPartition("n_regionkey"))
    cat.append(nation.withColumn("n_flag", col("n_nationkey") * 10),
      "warehouse/nation_evolve")
    cat.cat("warehouse/nation_evolve")
      .select(col("n_nationkey").cast("int"), col("n_name"),
        col("n_regionkey").cast("int"), col("n_flag").cast("int"))
      .orderBy(col("n_nationkey"), col("n_flag").asc_nulls_first)
  }

  val edfsAppendEvolveSql: String =
    """SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS INT) AS n_flag
      |FROM nation
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey, n_nationkey * 10 AS n_flag
      |FROM nation
      |ORDER BY n_nationkey, n_flag NULLS FIRST""".stripMargin

  /** A4 — readPartition: one partition only; Catalyst prunes to the single
    * `c_nationkey=7` directory. */
  def edfsReadPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    cat.readPartition("warehouse/customer_by_nation", "c_nationkey", 7)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val edfsReadPartitionSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_nationkey = 7 ORDER BY c_custkey""".stripMargin

  /** A5 — partition manifest (rows-only: byte sizes are environment-specific). */
  def edfsPartitionLocations(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    cat.partitionLocations("warehouse/customer_by_nation")
  }

  /** A6 — namespace ops: mkdir chain + ls (rows-only). */
  def edfsLs(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    cat.mkdir("staging/raw/batch1")
    cat.ls("/")
  }

  // ----- A7-A12: PMR analytics -----

  // ----- NaN semantics (SURVEY §1): default SQL vs reference fidelity -----
  // The reference fills NaN→0 before max (combined_flask.py:741), NaN→+inf
  // before min (:753), and its avg-combine drops all-NaN partitions
  // (:727-:758 — pandas mean skips NaN, so an all-NaN partition contributes
  // an empty partial). Default mode keeps SQL semantics instead: min/max skip
  // nulls (NaN sorts greater than any double), and the money columns are
  // NaN-free by data contract — a stray NaN fails the ANSI decimal cast
  // loudly rather than silently shifting a statistic. The divergence matters:
  // the reference's NaN→0 fill can PULL THE MAX UP to 0 when every real
  // value is negative — arguably a bug, reproduced faithfully only under
  // `referenceNan = true`. OperatorsSpec pins both modes.

  private def refMinExpr(v: Column): Column =
    min(coalesce(nanvl(v, lit(Double.PositiveInfinity)),
      lit(Double.PositiveInfinity)))
  private def refMaxExpr(v: Column): Column =
    max(coalesce(nanvl(v, lit(0.0)), lit(0.0)))
  /** (mean, n) under pandas NaN-skip; the when() guard keeps NaN away from
    * the ANSI decimal cast, and the sum stays decimal-exact
    * (order-independent) like the default path. */
  private def refAvgExprs(v: Column): (Column, Column) = {
    val clean = when(v.isNotNull && !isnan(v), v)
    ((sum(dec2(clean)).cast("double") / count(clean)), count(clean))
  }

  /** The three reductions, each as the scan aggregate and as the reduce of
    * a write-time partial (`rows` rows, column partial `p`). The reduce
    * mirrors the aggregate's semantics exactly and returns None where the
    * aggregate's answer cannot be derived (it would fail, or needs a sum the
    * partial could not keep) — the caller then runs the aggregate. */
  private[graft] sealed abstract class Stat {
    def scan(v: Column, referenceNan: Boolean): Seq[Column]
    def reduce(rows: Long, p: ColPartial, referenceNan: Boolean): Option[(Any, Long)]
  }

  private[graft] case object Min extends Stat {
    def scan(v: Column, referenceNan: Boolean): Seq[Column] =
      Seq((if (referenceNan) refMinExpr(v) else min(v)).as("min_val"), count(v).as("n"))
    def reduce(rows: Long, p: ColPartial, referenceNan: Boolean): Option[(Any, Long)] =
      Some((
        if (referenceNan) {
          // every null/NaN row fills to +inf, which no real value exceeds
          if (rows == 0) null else p.lo.map(asDouble).getOrElse(Double.PositiveInfinity)
        } else if (p.nonNull == 0) null
        else p.lo.getOrElse(nanOf(p)), // NaN sorts above every value
        p.nonNull))
  }

  private[graft] case object Max extends Stat {
    def scan(v: Column, referenceNan: Boolean): Seq[Column] =
      Seq((if (referenceNan) refMaxExpr(v) else max(v)).as("max_val"), count(v).as("n"))
    def reduce(rows: Long, p: ColPartial, referenceNan: Boolean): Option[(Any, Long)] =
      Some((
        if (referenceNan) {
          if (rows == 0) null
          else {
            val filled = rows > p.nonNull - p.nan // some null/NaN row fills to 0
            p.hi.map(asDouble) match {
              case Some(h) if !(filled && h < 0.0) => h
              case _ => 0.0
            }
          }
        } else if (p.nonNull == 0) null
        else if (p.nan > 0) nanOf(p)
        else p.hi.orNull,
        p.nonNull))
  }

  private[graft] case object Avg extends Stat {
    def scan(v: Column, referenceNan: Boolean): Seq[Column] =
      if (referenceNan) {
        val (avg, n) = refAvgExprs(v)
        Seq(avg.as("avg_val"), n.as("n"))
      } else
        Seq((sum(dec2(v)).cast("double") / count(v)).as("avg_val"), count(v).as("n"))
    def reduce(rows: Long, p: ColPartial, referenceNan: Boolean): Option[(Any, Long)] = {
      // default mode casts every non-null value: a NaN fails the ANSI cast
      val n = if (referenceNan) p.nonNull - p.nan else p.nonNull
      p.sum.filter(_ => referenceNan || p.nan == 0).map { s =>
        (if (n == 0) null else s.doubleValue / n.toDouble, n)
      }
    }
  }

  private def asDouble(v: Any): Double = v.asInstanceOf[Number].doubleValue
  private def nanOf(p: ColPartial): Any =
    if (p.dataType == org.apache.spark.sql.types.FloatType) Float.NaN else Double.NaN

  /** The statistic as one Spark aggregate over `df` — the path every input
    * that cannot be served from write-time partials takes. */
  private[graft] def scanStat(df: DataFrame, c: String, stat: Stat,
    referenceNan: Boolean): DataFrame = {
    val cols = stat.scan(col(c), referenceNan)
    df.agg(cols.head, cols.tail: _*)
  }

  /** The statistic over `df`, reduced on the driver from the write-time
    * partials when [[GraftCatalog.partialOf]] can prove they cover exactly
    * `df`'s rows; the result then has the aggregate's exact schema and
    * launches no job. Otherwise the aggregate itself. */
  private def stat(df: DataFrame, c: String, stat: Stat, referenceNan: Boolean): DataFrame = {
    val scan = scanStat(df, c, stat, referenceNan)
    GraftCatalog.partialOf(df, c)
      .flatMap { case (rows, p) => stat.reduce(rows, p, referenceNan) }
      .map { case (v, n) =>
        df.sparkSession.createDataFrame(java.util.List.of(Row(v, n)), scan.schema) }
      .getOrElse(scan)
  }

  /** min over `c` (n = non-null count). referenceNan: NaN→+inf pre-fill. */
  def statMin(df: DataFrame, c: String, referenceNan: Boolean = false): DataFrame =
    stat(df, c, Min, referenceNan)

  /** max over `c`. referenceNan: NaN→0 pre-fill (the reference's rule). */
  def statMax(df: DataFrame, c: String, referenceNan: Boolean = false): DataFrame =
    stat(df, c, Max, referenceNan)

  /** mean over `c`. Default: decimal-exact (oracle-reproducible). referenceNan:
    * pandas-style NaN skip, which subsumes "exclude all-NaN partitions" — an
    * all-NaN partition contributes a zero-count partial to the merge. */
  def statAvg(df: DataFrame, c: String, referenceNan: Boolean = false): DataFrame =
    stat(df, c, Avg, referenceNan)

  /** A7 — getAvg: decimal-exact distributed mean of a numeric column. */
  def pmrAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    statAvg(cat.cat("warehouse/customer_by_nation"), "c_acctbal")
  }

  val pmrAvgSql: String =
    """SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_val,
      | COUNT(c_acctbal) AS n
      |FROM customer""".stripMargin

  /** A8 — getMin. */
  def pmrMin(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    statMin(cat.cat("warehouse/customer_by_nation"), "c_acctbal")
  }

  val pmrMinSql: String =
    "SELECT MIN(c_acctbal) AS min_val, COUNT(c_acctbal) AS n FROM customer"

  /** A9 — getMax. */
  def pmrMax(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    statMax(cat.cat("warehouse/customer_by_nation"), "c_acctbal")
  }

  val pmrMaxSql: String =
    "SELECT MAX(c_acctbal) AS max_val, COUNT(c_acctbal) AS n FROM customer"

  /** A10 — getAvg with `hash=` pruning: the partition-key predicate prunes to
    * one directory before any data is read. */
  def pmrAvgPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    statAvg(cat.readPartition("warehouse/customer_by_nation", "c_nationkey", 7), "c_acctbal")
  }

  val pmrAvgPrunedSql: String =
    """SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_val,
      | COUNT(c_acctbal) AS n
      |FROM customer WHERE c_nationkey = 7""".stripMargin

  /** A11 — debug/explain: the per-partition partial aggregates the reference
    * surfaces with debug=true — here simply the partial-aggregate table keyed by
    * the partition column. */
  def pmrExplain(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCustomerByNation(spark, sfDir)
    cat.cat("warehouse/customer_by_nation")
      .groupBy(col("c_nationkey").cast("int").as("partition_key"))
      .agg(sum(dec2(col("c_acctbal"))).cast("double").as("partial_sum"),
        count(col("c_acctbal")).as("partial_n"))
      .orderBy(col("partition_key"))
  }

  val pmrExplainSql: String =
    """SELECT c_nationkey AS partition_key,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS partial_sum,
      | COUNT(c_acctbal) AS partial_n
      |FROM customer GROUP BY c_nationkey ORDER BY partition_key""".stripMargin

  /** A12 — named stat wrapper (≡ getAvgFamilyIncome et al.): a fixed metric over
    * a fixed column, here over the range-partitioned orders table. */
  def pmrNamedStat(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureOrdersByPriceRange(spark, sfDir)
    statAvg(cat.cat("warehouse/orders_by_price"), "o_totalprice")
      .select(lit("avg_order_totalprice").as("stat"), col("avg_val").as("value"))
  }

  val pmrNamedStatSql: String =
    """SELECT 'avg_order_totalprice' AS stat,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(o_totalprice) AS value
      |FROM orders""".stripMargin

  /** A13 — the reference's two-level reduce made explicit: per-partition
    * partials (exact cent sums + counts) merged by a typed Aggregator
    * (functions.PartialCombine ≡ combineAverages, combined_flask.py:762).
    * The oracle is the plain global mean — proving the partial/merge path is
    * exactly equivalent. */
  def pmrCombinePartials(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.PartialCombine
    val cat = ensureCustomerByNation(spark, sfDir)
    val partials = cat.cat("warehouse/customer_by_nation")
      .groupBy(col("c_nationkey"))
      .agg(sum(round(col("c_acctbal") * 100).cast("long")).as("sumCents"),
        count(lit(1)).as("n"))
      .select(col("sumCents"), col("n"))
      .as[PartialCombine.Partial]
    partials.select(
        PartialCombine.weightedMean.toColumn.name("avg_val"))
      .withColumn("stat", lit("combined_partial_mean"))
      .select(col("stat"), col("avg_val"))
  }

  val pmrCombinePartialsSql: String =
    """SELECT 'combined_partial_mean' AS stat,
      | CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |   / COUNT(c_acctbal) AS avg_val
      |FROM customer""".stripMargin

  /** A16 — NULL partition keys at ingest: the reference's put fills nulls in
    * the hash attribute (numeric → 0, combined_flask.py:406) before grouping;
    * GraftCatalog.put applies the same coercion, so null-keyed rows land in a
    * declared `k=0` partition and round-trip losslessly. A tenth of the keys
    * are nulled here; the oracle applies the fill rule in SQL. */
  def edfsPutNullkey(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = catalog(spark, sfDir)
    cat.mkdir("warehouse")
    val src = Tables.load(spark, sfDir, "customer")
      .withColumn("c_nationkey",
        when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_nationkey")))
    cat.put(src, "warehouse/customer_nullkey", HashPartition("c_nationkey"))
    cat.cat("warehouse/customer_nullkey")
      .select(col("c_custkey"), col("c_nationkey").cast("int"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val edfsPutNullkeySql: String =
    """SELECT c_custkey,
      | CASE WHEN c_custkey % 11 = 0 THEN 0 ELSE c_nationkey END AS c_nationkey,
      | c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** A17 — leaf-file size cap (reference MAX_PARTITION_SIZE,
    * combined_flask.py:361: one hash group splits into size-capped blocks).
    * Pre-partitioning on the layout key gives ONE writing task per directory
    * (tasks stay parallel across values — the compact() pattern), so the file
    * count per partition is exactly ceil(rows/cap) — an oracle-checkable
    * statement of the cap. The cap scales with the corpus (1/25th of it, the
    * production move of sizing leaf files to a target, not a row count), so
    * the benchmark cost stays file-count-proportionate at every scale factor
    * while every partition still demonstrably splits. */
  def edfsCappedPut(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.load(spark, sfDir, "customer")
    val cap = math.max(src.count() / 25, 1L)
    val cat = new GraftCatalog(spark, catalogRoot(sfDir), "parquet",
      maxRecordsPerFile = cap)
    cat.mkdir("warehouse")
    cat.put(src.repartition(col("c_mktsegment")),
      "warehouse/customer_capped", HashPartition("c_mktsegment"))
    cat.partitionLocations("warehouse/customer_capped")
      .select(col("partition"), col("num_files").cast("bigint").as("num_files"))
      .orderBy(col("partition"))
  }

  val edfsCappedPutSql: String =
    """WITH tot AS (SELECT GREATEST(COUNT(*) // 25, 1) AS cap FROM customer)
      |SELECT concat('c_mktsegment=', c_mktsegment) AS partition,
      | CAST(CEIL(COUNT(*) / (SELECT CAST(cap AS DOUBLE) FROM tot)) AS BIGINT)
      |   AS num_files
      |FROM customer GROUP BY c_mktsegment ORDER BY 1""".stripMargin

  /** A18 — the reference-fidelity NaN mode end-to-end: a NaN-salted column
    * (pandas-origin corpora carry NaN; the synthetic tables don't, so every
    * 13th key is salted here) through statMin/statMax/statAvg with
    * referenceNan=true, oracle-checked against the fill rules spelled out in
    * SQL (NaN→+inf before min, NaN→0 before max, NaN skipped in avg). */
  def pmrNanStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "customer")
      .withColumn("v", when(col("c_custkey") % 13 === 0, lit(Double.NaN))
        .otherwise(col("c_acctbal")))
    // all four outputs in ONE aggregation pass (same expressions the statX
    // entry points use) — not three scans glued by cross joins
    val v = col("v")
    val (avg, n) = refAvgExprs(v)
    d.agg(refMinExpr(v).as("min_val"), refMaxExpr(v).as("max_val"),
      avg.as("avg_val"), n.as("n"))
  }

  val pmrNanStatsSql: String =
    """SELECT
      | MIN(CASE WHEN isnan(v) THEN CAST('inf' AS DOUBLE) ELSE v END) AS min_val,
      | MAX(CASE WHEN isnan(v) THEN 0.0 ELSE v END) AS max_val,
      | CAST(SUM(CAST(CASE WHEN NOT isnan(v) THEN v END AS DECIMAL(12,2))) AS DOUBLE)
      |   / COUNT(CASE WHEN NOT isnan(v) THEN v END) AS avg_val,
      | COUNT(CASE WHEN NOT isnan(v) THEN v END) AS n
      |FROM (SELECT CASE WHEN c_custkey % 13 = 0 THEN CAST('nan' AS DOUBLE)
      |  ELSE c_acctbal END AS v FROM customer) t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "edfs_put_nullkey" -> (edfsPutNullkey _),
    "edfs_capped_put" -> (edfsCappedPut _),
    "pmr_nan_stats" -> (pmrNanStats _),
    "pmr_combine_partials" -> (pmrCombinePartials _),
    "edfs_put_hash" -> (edfsPutHash _),
    "edfs_put_range" -> (edfsPutRange _),
    "edfs_cat" -> (edfsCat _),
    "edfs_compact" -> (edfsCompact _),
    "edfs_replica_read" -> (edfsReplicaRead _),
    "edfs_vacuum" -> (edfsVacuum _),
    "edfs_append_evolve" -> (edfsAppendEvolve _),
    "edfs_time_travel" -> (edfsTimeTravel _),
    "edfs_merge" -> (edfsMerge _),
    "edfs_read_partition" -> (edfsReadPartition _),
    "edfs_partition_locations" -> (edfsPartitionLocations _),
    "edfs_ls" -> (edfsLs _),
    "pmr_avg" -> (pmrAvg _),
    "pmr_min" -> (pmrMin _),
    "pmr_max" -> (pmrMax _),
    "pmr_avg_pruned" -> (pmrAvgPruned _),
    "pmr_explain" -> (pmrExplain _),
    "pmr_named_stat" -> (pmrNamedStat _))

  val oracles: Map[String, String] = Map(
    "edfs_put_nullkey" -> edfsPutNullkeySql,
    "edfs_capped_put" -> edfsCappedPutSql,
    "pmr_nan_stats" -> pmrNanStatsSql,
    "pmr_combine_partials" -> pmrCombinePartialsSql,
    "edfs_put_hash" -> edfsPutHashSql,
    "edfs_put_range" -> edfsPutRangeSql,
    "edfs_cat" -> edfsCatSql,
    "edfs_compact" -> edfsCompactSql,
    "edfs_replica_read" -> edfsReplicaReadSql,
    "edfs_vacuum" -> edfsVacuumSql,
    "edfs_append_evolve" -> edfsAppendEvolveSql,
    "edfs_time_travel" -> edfsTimeTravelSql,
    "edfs_merge" -> edfsMergeSql,
    "edfs_read_partition" -> edfsReadPartitionSql,
    "pmr_avg" -> pmrAvgSql,
    "pmr_min" -> pmrMinSql,
    "pmr_max" -> pmrMaxSql,
    "pmr_avg_pruned" -> pmrAvgPrunedSql,
    "pmr_explain" -> pmrExplainSql,
    "pmr_named_stat" -> pmrNamedStatSql)
}
