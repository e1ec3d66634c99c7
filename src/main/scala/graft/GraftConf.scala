package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Session tuning for graft workloads — the knobs that matter at 100 TB,
  * applied consistently by Verify/Bench/tests. Values are cluster-relative:
  * `shufflePartitions` should be ~2-3× total executor cores in production (the
  * local harness passes the core count).
  */
object GraftConf {

  /** Scratch root for warehouse / EDFS catalog / streaming checkpoints.
    * Overridable via `-Dgraft.local.root=...`; defaults to `<cwd>/target` so
    * any checkout or user works — nothing is tied to one machine's layout. */
  def localRoot: String =
    sys.props.get("graft.local.root")
      .getOrElse(sys.props.getOrElse("user.dir", ".") + "/target")

  /** The name fragment a scale-factor dir (or any source path) gives every
    * store, table and catalog root derived from it: each run of
    * non-alphanumerics becomes `_`. */
  def slug(dir: String): String = dir.replaceAll("[^A-Za-z0-9]+", "_")

  /** The session's warehouse directory. The conf is a URI STRING (Spark
    * escapes it), so it is decoded through java.net.URI first — Path(String)
    * would keep the escapes as literal path characters (a dir with '%' or a
    * space mis-targets); values URI refuses to parse fall back to the
    * raw-path form. Resolved through Hadoop's Path, a plain path, a `file:`
    * URI and a remote scheme all route to the right filesystem. */
  def warehouseDir(spark: SparkSession): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    try new Path(new java.net.URI(wh))
    catch {
      case _: java.net.URISyntaxException | _: IllegalArgumentException => new Path(wh)
    }
  }

  /** Delete an ORPHAN managed-table directory under the warehouse (left by a
    * previous session, unknown to this session's in-memory catalog) so
    * `saveAsTable` can claim the location. */
  def deleteOrphanTableDir(spark: SparkSession, tbl: String): Unit = {
    val p = new Path(warehouseDir(spark), tbl)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** The cores of a local graft session: `SPARK_GRAFT_CPUS`, default 4. */
  def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[localCpus]` session builder with graft defaults — the one
    * session set-up of every entry point. */
  def local(): SparkSession.Builder =
    apply(SparkSession.builder().master(s"local[$localCpus]"), localCpus)

  /** Apply graft defaults to a session builder. AQE stays ON (runtime
    * coalescing + skew-join splitting are the first line of defense against
    * skew at scale); broadcast threshold is left at Spark's default — the
    * explicit `broadcast()` hints in operators mark the joins we KNOW are
    * dim-sized, which survives stale statistics. */
  def apply(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r18: let AQE re-optimize CACHED plans too (upstream default false
      // only to keep cached output partitioning stable for consumers that
      // rely on it — none here do: the one layout-sensitive path, memoize,
      // re-sizes explicitly). Without it every .cache() materializes the
      // raw spark.sql.shuffle.partitions fan-out — near-empty cached
      // partitions whose per-task fixed cost is re-paid by every consumer
      // stage and every iteration round (measured: dedup_simhash 1.31 →
      // 0.45 s, dedup_jaccard 1.36 → 1.10, dedup_clusters 2.14 → 1.90 at
      // sf0.1; the effect is scale-free — at 100 TB the same conf is what
      // lets AQE coalesce/skew-split below a cached tier instead of
      // freezing its layout).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$localRoot/graft_warehouse")
      .config("spark.ui.enabled", "false")
}
