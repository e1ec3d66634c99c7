package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish star schema (TESTDATA.md).
  *
  * Reads go through `spark.read.parquet` so Catalyst predicate pushdown,
  * column pruning and (for partitioned layouts written by
  * [[graft.edfs.GraftCatalog]]) partition pruning all apply — this is the
  * Spark-native analog of the reference's block/partition storage
  * (`/root/reference/combined_flask.py:324` put, :492 readPartition).
  * A table's schema is inferred once per session and source fingerprint;
  * later loads pass it to the reader instead of re-inferring it with a
  * Spark job ([[readParquet]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Source-data fingerprint (leaf count + bytes + max mtime) for memo
    * invalidation: derived artifacts (digest stores, trained codebooks,
    * benchmark sketches, IVF indexes) key their caches on this so data
    * regenerated in-place under the same dir rebuilds them instead of
    * silently serving artifacts of the old data. */
  def fingerprint(sfDir: String, name: String): String = listing(sfDir, name)._1

  /** The fingerprint, and whether it covers every file a scan of the table
    * lists. It counts the files directly under `<name>.parquet` (or the
    * path itself when that is a file), metadata files such as `_SUCCESS`
    * and `.crc` included, so the string is the one `java.io.File` gave for
    * a local path and persisted store sidecars stay adoptable. It goes
    * through the path's Hadoop filesystem, so a `file:` URI or a remote
    * scheme fingerprints its real files; a checksummed filesystem is read
    * through its raw view, which lists the `.crc` files too. A directory
    * with subdirectories is not covered: the scan would read files the
    * fingerprint never sees. A missing path fingerprints as `1:0:0`. */
  private def listing(sfDir: String, name: String): (String, Boolean) = {
    val root = new Path(sfDir, s"$name.parquet")
    val fs = root.getFileSystem(hadoopConf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val top =
      try Some(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    top match {
      case None => ("1:0:0", false)
      case Some(st) =>
        val children = if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
        val leaves = children.filter(_.isFile)
        (s"${leaves.length}:${leaves.map(_.getLen).sum}:" +
          s"${leaves.map(_.getModificationTime).foldLeft(0L)(math.max)}",
          leaves.length == children.length)
    }
  }

  private lazy val defaultHadoopConf = new Configuration()
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(defaultHadoopConf)

  /** Parquet confs that change the schema a footer infers to. */
  private val SchemaConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.respectSummaryFiles")

  /** Per session: path → (fingerprint and schema confs, resolved schema).
    * One entry per path; a new fingerprint replaces it. */
  private val resolved = new java.util.WeakHashMap[SparkSession,
    ConcurrentHashMap[String, (String, StructType)]]()

  /** `spark.read.parquet(path)`, with the schema inferred once per session,
    * path, source fingerprint `fp` and [[SchemaConfs]] values. Later reads
    * pass the resolved schema, which skips inference and its Spark job.
    * Without a fingerprint (`fp` None) nothing is cached: a change to the
    * files would go unseen. An in-place rewrite that keeps the
    * fingerprint's count, bytes and mtime is not seen either. */
  private[graft] def readParquet(spark: SparkSession, path: String,
    fp: Option[String]): DataFrame = fp match {
    case None => spark.read.parquet(path)
    case Some(f) =>
      val stamp = (f +: SchemaConfs.map(spark.conf.getOption(_).getOrElse(""))).mkString("|")
      val bySession = resolved.synchronized(
        resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
      Option(bySession.get(path)).filter(_._1 == stamp) match {
        case Some((_, schema)) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          bySession.put(path, (stamp, df.schema))
          df
      }
  }

  /** Reads `<sfDir>/<name>.parquet` through [[readParquet]], keyed on the
    * table's fingerprint when that covers every file the scan lists. */
  private def readTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val (fp, covered) = listing(sfDir, name)
    readParquet(spark, s"$sfDir/$name.parquet", Some(fp).filter(_ => covered))
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else readTable(spark, sfDir, name)

  /** [[load]] with the query's output ORDER established on the raw scan,
    * BEFORE the caller's projection. Spark's range partitioner SAMPLES its
    * child plan to pick sort boundaries — a full extra evaluation — so an
    * entry point shaped `scan → expensive kernel map → orderBy(key)` runs
    * its kernel stage TWICE (once in the sampling job, once for real;
    * measured ~40% of total on the sf1 text/codec lanes). Sorting the bare
    * input first moves the sampling pass onto the cheap scan, and because a
    * deterministic per-row projection preserves row order, the output is
    * bit-identical to projecting first and sorting last (plan-gated: the
    * kernel must sit ABOVE rangepartitioning). Entry points only — composed
    * pipelines keep using [[load]] and sort at their own entry, the
    * no-orderBy-in-builders discipline. */
  def loadSorted(spark: SparkSession, sfDir: String, name: String,
    keys: String*): DataFrame =
    load(spark, sfDir, name)
      .orderBy(keys.map(org.apache.spark.sql.functions.col): _*)

  /** Schema-adaptive events loader. The driver has shipped `ts` in two
    * physical encodings across testdata generations — int64 NANOS (read as
    * LongType under the legacy nanosAsLong conf) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TimestampNTZType) — so
    * the loader branches on the type it actually finds instead of assuming
    * one. Every branch normalizes to microsecond TimestampType under the UTC
    * session, which is the instant DuckDB sees when it reads the same file
    * (NANOS truncate to µs; NTZ wall-clock == UTC instant), so oracle
    * comparisons agree for every encoding. An unrecognized type fails fast
    * with a named diagnostic rather than 11 scattered downstream errors. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // set BEFORE the read so a NANOS footer maps to LongType instead of
    // throwing; a no-op for µs-encoded files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // session-zone pin: the NTZ instant below is session-independent by
    // construction, but downstream RENDERING (date_format in window labels,
    // oracle string dumps) still reads the session zone — keep driver-built
    // sessions on the same UTC footing GraftConf-built ones get.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = readTable(spark, sfDir, "events")
    val tsNorm = raw.schema("ts").dataType match {
      case LongType         => expr("timestamp_micros(ts div 1000)") // raw nanos
      // NTZ wall-clock == UTC instant, enforced IN THE EXPRESSION: a bare
      // cast interprets the wall-clock in whatever session zone holds at
      // EXECUTION time (a conf pin at load time doesn't survive a later
      // session-zone change before the plan runs). Both types carry the same
      // µs-since-epoch long under this contract, so the native kernel
      // (functions.NtzAsUtcInstant) reinterprets the physical value as a UTC
      // instant — zone-independent by construction, zero per-row cost.
      case TimestampNTZType =>
        graft.functions.GraftFunctions.ntzUtc(spark, col("ts"))
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other in $sfDir/events.parquet — " +
          "extend Tables.events (expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    raw.withColumn("ts", tsNorm)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
  }
}
