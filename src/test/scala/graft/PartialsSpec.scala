package graft

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.edfs._
import graft.operators.Pmr

/** Property: a PMR stat served from write-time partials equals the Spark
  * aggregate over the same input bit for bit (value, n and schema), across
  * random put/append/merge/compact/vacuum sequences on every layout, both
  * NaN modes, and edge values. Every comparison also records whether the
  * partials served, and columns that can always be served must be, so a
  * silent fallback fails the spec instead of passing it.
  *
  * Data avoids -0.0: the aggregate's own choice between 0.0 and -0.0 as a
  * min/max depends on row order, so no single answer exists to match. */
class PartialsSpec extends SparkSpec {

  private val Schema = StructType(Seq(
    StructField("key", LongType, nullable = false), StructField("k", IntegerType),
    StructField("x", DoubleType), StructField("y", IntegerType),
    StructField("z", LongType), StructField("f", FloatType),
    StructField("w", DoubleType), StructField("s", StringType)))

  /** Columns whose partials every state of the sequence must serve: x and
    * y carry NULLs but no NaN, ±Inf or cast-refused magnitudes. */
  private val Clean = Seq("x", "y")
  private val Noisy = Seq("z", "f", "w")

  private val stats: Seq[(String, (DataFrame, String, Boolean) => DataFrame, Pmr.Stat, Boolean)] =
    for {
      (name, f, s) <- Seq(("min", Pmr.statMin _, Pmr.Min), ("max", Pmr.statMax _, Pmr.Max),
        ("avg", Pmr.statAvg _, Pmr.Avg))
      ref <- Seq(false, true)
    } yield (s"$name${if (ref) "/ref" else ""}", f, s, ref)

  private def served(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def batch(rnd: SplittableRandom, n: Int, firstKey: Long): DataFrame = {
    // a batch is "noisy" half the time: only then do NaN, ±Inf and values
    // the decimal(12,2) cast refuses appear in z/f/w
    val noisy = rnd.nextBoolean()
    def pick[T](p: Double, a: => T, b: => T): T = if (rnd.nextDouble() < p) a else b
    def cents(): Double = (rnd.nextInt(2000001) - 1000000) / 100.0
    val rows = (0 until n).map { i =>
      val w: Any =
        if (!noisy) pick(0.1, null, cents())
        else rnd.nextInt(6) match {
          case 0 => Double.NaN
          case 1 => Double.PositiveInfinity
          case 2 => Double.NegativeInfinity
          case 3 => null
          case _ => cents()
        }
      Row(firstKey + i,
        pick(0.1, null, rnd.nextInt(5)),
        pick(0.15, null, cents()),
        pick(0.1, null, rnd.nextInt(200001) - 100000),
        pick(0.1, null, if (noisy && rnd.nextInt(8) == 0) 123456789012345L * (1 + rnd.nextInt(9))
          else rnd.nextLong(-99999999L, 99999999L)),
        pick(0.1, null, if (noisy && rnd.nextInt(6) == 0) Float.NaN
          else (rnd.nextInt(20001) - 10000) / 8.0f),
        w,
        s"s${rnd.nextInt(7)}")
    }
    spark.createDataFrame(rows.asJava, Schema).repartition(1 + rnd.nextInt(3))
  }

  private def freshCatalog(name: String, format: String = "parquet"): GraftCatalog = {
    val root = s"${GraftConf.localRoot}/test_edfs/partials/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    new GraftCatalog(spark, root, format)
  }

  /** Compares every served stat over `df` on `cols` with the aggregate
    * (an unserved stat IS the aggregate); returns how many were served and
    * asserts the clean columns all were. The aggregates of one column's
    * served stats run as one job. */
  private def check(what: String, df: DataFrame, cols: Seq[String],
    mustServe: Boolean): Int = cols.map { c =>
    val got = stats.map { case (name, f, s, ref) => (s"$what $c $name", f(df, c, ref), s, ref) }
      .filter { case (ctx, g, _, _) =>
        assert(served(g) || !(mustServe && Clean.contains(c)), s"$ctx: clean column not served")
        served(g)
      }
    if (got.nonEmpty) {
      val scans = got.map { case (_, _, s, ref) => Pmr.scanStat(df, c, s, ref) }
      val aggs = got.flatMap { case (_, _, s, ref) => s.scan(col(c), ref) }
      val wants = scala.util.Try(df.agg(aggs.head, aggs.tail: _*).head().toSeq.grouped(2).toSeq)
        .fold(e => fail(s"$what $c: served answers where the aggregate fails ($e)"), identity)
      got.zip(scans).zip(wants).foreach { case (((ctx, g, _, _), scan), w) =>
        assert(g.schema == scan.schema, ctx)
        val gr = g.head()
        assert(bits(gr) == bits(Row.fromSeq(w)), s"$ctx: got $gr, want $w")
      }
    }
    got.size
  }.sum

  /** Row values with doubles/floats by their bits (NaN canonical). */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToIntBits(f))
    case v => v
  }

  private def runSequence(name: String, scheme: PartitionScheme, format: String,
    seed: Long, steps: Int): Int = {
    val rnd = new SplittableRandom(seed)
    val cat = freshCatalog(name, format)
    var nextKey = 0L
    def next(n: Int) = { val b = batch(rnd, n, nextKey); nextKey += n; b }
    val partCol = scheme match {
      case HashPartition(c) => Some(c)
      case BucketedHashPartition(_, _) | RangePartition(_, _) => Some("__graft_bucket")
      case Unpartitioned => None
    }
    cat.put(next(40 + rnd.nextInt(40)), "t", scheme)
    var served = check(s"$name put", cat.cat("t"), Clean ++ Noisy, mustServe = true)
    for (step <- 1 to steps) {
      val op = rnd.nextInt(if (scheme.isInstanceOf[HashPartition]) 7 else 6)
      val label = op match {
        case 0 | 1 => cat.append(next(rnd.nextInt(30)), "t"); "append"
        case 2 => cat.put(next(rnd.nextInt(3) * 20), "t", scheme); "put"
        case 3 => cat.compact("t"); "compact"
        case 4 =>
          // residue: every stat must fall back to the aggregate (CatalogSpec
          // pins its answer, orphan rows included); vacuum restores serving
          if (cat.cat("t").inputFiles.nonEmpty) {
            cat.plantCrashResidue("t")
            assert(check(s"$name residue", cat.cat("t"), Clean, mustServe = false) == 0)
          }
          cat.vacuum("t"); cat.expireSnapshots("t", 1); "vacuum"
        case 5 =>
          // an empty partition directory is invisible to both paths
          partCol.foreach(c => cat.mkdir(s"t/$c=77"))
          cat.append(next(0), "t"); "append-empty"
        case _ =>
          val existing = cat.cat("t").select("key", "k").limit(5).collect()
            .map(r => r.getLong(0)).toSet
          val upd = next(10).withColumn("key",
            if (existing.isEmpty) col("key") else col("key") % existing.size + existing.min)
            .dropDuplicates("key")
          cat.merge(upd, "t", "key"); "merge"
      }
      // one clean and one noisy column per step: the whole table on one,
      // a pruned directory on the other
      val pair = Seq(Clean(rnd.nextInt(2)), Noisy(rnd.nextInt(3)))
      val cols = if (rnd.nextBoolean()) pair else pair.reverse
      served += check(s"$name step $step $label", cat.cat("t"), cols.take(1), mustServe = true)
      // a partition column exists only once some partition directory does;
      // before that a hash key is a data column and its filter is not pruning
      val partitioned = cat.cat("t").inputFiles.nonEmpty
      partCol.filter(c => c == "k" || partitioned).foreach { c =>
        val v = if (c == "k") rnd.nextInt(5) else rnd.nextInt(4)
        served += check(s"$name step $step $label pruned $c=$v",
          cat.readPartition("t", c, v), cols.drop(1), mustServe = partitioned)
      }
    }
    served
  }

  test("partial-served stats equal the aggregate on random write sequences") {
    val layouts = Seq(
      ("hash", HashPartition("k")), ("range", RangePartition("y", 4)),
      ("bucketed", BucketedHashPartition("key", 3)), ("flat", Unpartitioned))
    layouts.zipWithIndex.foreach { case ((name, scheme), i) =>
      assert(runSequence(name, scheme, "parquet", 17L + i, steps = 5) > 0, name)
    }
    assert(runSequence("hash_orc", HashPartition("k"), "orc", 5L, steps = 3) > 0)
  }

  test("the write-time decimal(12,2) conversion is Spark's cast, value for value") {
    val rnd = new SplittableRandom(11)
    val edge = Seq(0.0, 0.005, -0.005, 0.125, 1.005, 2.675, 0.1 + 0.2, 1e-7, 123.455,
      9999999999.99, 9999999999.995, 1e10, -1e10 + 0.001, 1.0e300, Double.MinPositiveValue,
      Double.PositiveInfinity, Double.NegativeInfinity, 1.005f.toDouble, 0.1f.toDouble)
    val random = Seq.fill(2000) {
      val scale = math.pow(10, rnd.nextInt(-4, 12))
      val v = (rnd.nextDouble() * 2 - 1) * scale
      if (rnd.nextBoolean()) math.rint(v * 100) / 100 else v
    }
    val vs = edge ++ random
    val df = spark.createDataFrame(vs.map(v => Row(v)).asJava,
      StructType(Seq(StructField("v", DoubleType))))
    val want = df.select(col("v").try_cast(DecimalType(12, 2))).collect()
      .map(r => Option(r.getDecimal(0)).map(_.unscaledValue.longValueExact))
    vs.zip(want).foreach { case (v, w) => assert(Partials.centsOf(v) == w, s"v=$v") }
  }

  test("zero rows and empty tables are served") {
    for ((name, scheme) <- Seq(("zero_hash", HashPartition("k")), ("zero_flat", Unpartitioned))) {
      val cat = freshCatalog(name)
      cat.put(spark.createDataFrame(java.util.List.of[Row](), Schema), "t", scheme)
      check(s"$name empty", cat.cat("t"), Clean ++ Noisy, mustServe = true)
      val one = spark.createDataFrame(java.util.List.of(
        Row(1L, null, null, null, null, null, Double.NaN, "a")), Schema)
      cat.append(one, "t")
      check(s"$name all-null", cat.cat("t"), Clean ++ Noisy, mustServe = true)
    }
  }

  test("text formats are never served and still agree with the aggregate") {
    for (format <- Seq("csv", "json")) {
      val cat = freshCatalog(s"text_$format", format)
      cat.put(batch(new SplittableRandom(3), 30, 0), "t", HashPartition("k"))
      assert(check(format, cat.cat("t"), Clean, mustServe = false) == 0)
    }
  }

  test("a served stat launches no Spark job") {
    val cat = freshCatalog("nojobs")
    cat.put(batch(new SplittableRandom(9), 50, 0), "t", HashPartition("k"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = Seq(
        Pmr.statAvg(cat.cat("t"), "x").head(),
        Pmr.statMin(cat.cat("t"), "y", referenceNan = true).head(),
        Pmr.statMax(cat.readPartition("t", "k", 2), "x").head())
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(jobs.get == 0, s"served stats ran ${jobs.get} job(s): $got")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
