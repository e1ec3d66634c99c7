package graft.edfs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partitioning schemes for [[GraftCatalog.put]] — the Spark-native form of the
  * reference's `put?partitions=N&hash=col` ingest
  * (/root/reference/combined_flask.py:324-:436).
  *
  *  - [[HashPartition]] ≡ put with a hash attribute: one directory per distinct
  *    key (reference: one block group per `groupby(hash_attr)` value).
  *  - [[BucketedHashPartition]] — the 100 TB-safe variant for high-cardinality
  *    keys: `pmod(hash(col), n)` directories, bounded fan-out.
  *  - [[RangePartition]] ≡ put without a usable hash attribute: equi-width bins
  *    over a numeric column (reference: `pd.cut`, combined_flask.py:412).
  */
sealed trait PartitionScheme
case class HashPartition(column: String) extends PartitionScheme
case class BucketedHashPartition(column: String, buckets: Int) extends PartitionScheme
case class RangePartition(column: String, buckets: Int) extends PartitionScheme
case object Unpartitioned extends PartitionScheme

/** An emulated-DFS catalog re-expressed Spark-first.
  *
  * The reference emulates a namenode (MySQL/Firebase inode tables) + datanodes
  * (block content rows) + 2× replication. On Spark the idiomatic equivalent is a
  * Hive-style partitioned parquet layout on a real distributed filesystem:
  * directories are the namespace, partition directories are the "blocks",
  * replication/durability is the storage layer's job (HDFS/S3), and the
  * "namenode lookup" is Catalyst partition discovery + pruning. All filesystem
  * access goes through the Hadoop FileSystem API so the same code runs on
  * local disk, HDFS, or s3a at any scale.
  *
  * Every write (put, append, merge, compact, rm inside a table) takes one
  * path: it lays its rows out by the table's scheme ([[layout]]), writes them
  * while observing their partials, swaps rewritten directories in
  * ([[swapIn]]) and ends in [[commit]], the one place that lists the table
  * and records its snapshot and partials. Writes to one table serialize
  * within the JVM ([[exclusive]]).
  *
  * Reference anchors: mkdir combined_flask.py:85, ls :140, rm :214, cat :270,
  * put :324, getPartitionLocations :438, readPartition :492.
  */
class GraftCatalog(spark: SparkSession, root: String,
  val format: String = "parquet",
  val maxRecordsPerFile: Long = 0) {
  import GraftCatalog._

  require(format == "parquet" || format == "json" || format == "orc" ||
    format == "csv",
    s"unsupported storage format: $format")

  private val BucketCol = "__graft_bucket"

  /** Apply the leaf-file size cap (reference MAX_PARTITION_SIZE,
    * combined_flask.py:361: one hash group splits into ≥1 size-capped blocks).
    * With a cap, a hot partition value yields ceil(rows/cap) files instead of
    * one monolith — at 100 TB a single unsplittable multi-GB leaf file is an
    * operational failure (one task must read it). 0 = uncapped. */
  private def capped(w: org.apache.spark.sql.DataFrameWriter[Row])
    : org.apache.spark.sql.DataFrameWriter[Row] = {
    // csv leaf files carry a header row (skipped on read); other formats are
    // self-describing
    val h = if (format == "csv") w.option("header", "true") else w
    if (maxRecordsPerFile > 0) h.option("maxRecordsPerFile", maxRecordsPerFile) else h
  }

  /** Reference `put` fills NULLs in the hash attribute before grouping
    * (combined_flask.py:406-408: numeric → 0, string → "NULL"), so null-keyed
    * rows land in a DECLARED sentinel partition instead of the engine-default
    * `__HIVE_DEFAULT_PARTITION__` with undeclared semantics. Same contract
    * here; keys of other types (dates, binaries) keep engine behavior. */
  private def coerceNullKey(df: DataFrame, c: String): DataFrame = {
    val field = df.schema(c)
    val sentinel = field.dataType match {
      case StringType => Some(lit("NULL"))
      case _: NumericType => Some(lit(0).cast(field.dataType))
      case _ => None
    }
    sentinel.map(s => df.withColumn(c, coalesce(col(c), s))).getOrElse(df)
  }

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def abs(path: String): Path = {
    val rel = path.stripPrefix("/")
    if (rel.isEmpty) new Path(root) else new Path(root, rel)
  }

  /** Runs `body` holding the JVM-wide write lock of the table at `path`,
    * keyed by its qualified root, so two catalogs over one root share it.
    * Every write of a table and its maintenance (vacuum, snapshot expiry)
    * serialize; reads take no lock. Writers in other JVMs are not seen. */
  private def exclusive[A](path: String)(body: => A): A =
    WriteLocks.computeIfAbsent(fs.makeQualified(abs(path)).toString, _ => new Object)
      .synchronized(body)

  /** mkdir -p — create a directory chain in the namespace. */
  def mkdir(path: String): Boolean = fs.mkdirs(abs(path))

  /** rm — remove a file/dir; like the reference, refuses non-empty directories
    * unless `recursive`. A physical delete INSIDE a table commits like a
    * rewrite of nothing: every snapshot manifest naming the deleted files is
    * invalid, so history truncates to the current state (same policy as
    * compact). A deleted TABLE ROOT took its sidecar with it. */
  def rm(path: String, recursive: Boolean = false): Boolean = {
    val p = abs(path)
    def delete(): Boolean =
      fs.exists(p) && (recursive || !fs.getFileStatus(p).isDirectory ||
        fs.listStatus(p).isEmpty || isTable(path)) && fs.delete(p, true)
    val parts = path.split("/").filter(_.nonEmpty)
    (parts.length - 1 to 1 by -1).map(i => parts.take(i).mkString("/")).find(isTable) match {
      case Some(t) => exclusive(t) {
        val deleted = delete()
        if (deleted) readMeta(t).foreach(commit(t, _, Rewrote(Set.empty)))
        deleted
      }
      case None => delete()
    }
  }

  /** ls — list a namespace directory with the reference's full metadata row
    * (combined_flask.py:159-175 lists node_type + permission + mtime + name):
    * (name, node_type, permission, size_bytes, mtime, is_table). Permission
    * comes from the table's sidecar when one exists (the namenode-inode
    * analog), else from the filesystem; mtime is FileStatus-derived and
    * rendered as a UTC timestamp string — deterministic for a staged catalog
    * within a run, environment-dependent across machines (edfs_ls is a
    * rows-only check for exactly this reason). */
  def ls(path: String): DataFrame = {
    val p = abs(path)
    val mtimeFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val rows = fs.listStatus(p).toSeq
      .filterNot(_.getPath.getName.startsWith("_"))
      .map { st =>
        val child = s"${path.stripSuffix("/")}/${st.getPath.getName}"
        val table = isTable(child)
        val perm =
          if (table) readMeta(child).map(_.permission).getOrElse("644")
          else "%o".format(st.getPermission.toShort)
        Row(st.getPath.getName,
          if (st.isDirectory) "d" else "-",
          perm,
          if (st.isDirectory) 0L else st.getLen,
          mtimeFmt.format(java.time.Instant.ofEpochMilli(st.getModificationTime)),
          table)
      }
      .sortBy(_.getString(0))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("node_type", StringType),
      StructField("permission", StringType), StructField("size_bytes", LongType),
      StructField("mtime", StringType), StructField("is_table", BooleanType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def isTable(path: String): Boolean = fs.exists(new Path(abs(path), "_SUCCESS"))

  /** Spark's own rule for what a file index reads: `.`/`_` names are
    * metadata, except `_`-prefixed partition directories such as the
    * internal `__graft_bucket=<n>`. */
  private def isDataName(name: String): Boolean =
    !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))

  /** Listed files grouped by directory: dir → (file name → length). */
  private def byDir(leaves: Seq[(String, Long)]): Map[String, Map[String, Long]] =
    leaves.groupBy(l => dirOf(l._1)).map { case (d, fs) =>
      d -> fs.map { case (rel, len) => rel.substring(rel.lastIndexOf('/') + 1) -> len }.toMap
    }

  // ----- the write path: layout, observed write, park-and-swap, commit -----

  /** The directory column a scheme partitions on: the user's column for
    * hash layout, the internal bucket column for bucketed/range, none for
    * unpartitioned. */
  private def partitionColumn(scheme: PartitionScheme): Option[String] = scheme match {
    case Unpartitioned => None
    case HashPartition(c) => Some(c)
    case _ => Some(BucketCol)
  }

  /** The rows of `df` as the table's layout stores them, and the column
    * they are partitioned on. A range table bins by its recorded `bounds`,
    * fixed at the first put, so appended batches land in the same bins. */
  private def layout(df: DataFrame, scheme: PartitionScheme,
    bounds: (Double, Double)): (DataFrame, Option[String]) = {
    val frame = scheme match {
      case Unpartitioned => df
      case HashPartition(c) => coerceNullKey(df, c)
      case BucketedHashPartition(c, n) => df.withColumn(BucketCol, pmod(hash(col(c)), lit(n)))
      case RangePartition(c, n) => df.withColumn(BucketCol, rangeBucket(c, bounds, n))
    }
    (frame, partitionColumn(scheme))
  }

  /** The deterministic equi-width bucket id for a range layout; out-of-range
    * values clamp to the edge buckets. */
  private def rangeBucket(c: String, bounds: (Double, Double), n: Int): Column = {
    val (lo, hi) = bounds
    val width = (hi - lo) / n
    val bucket =
      if (width == 0) lit(0)
      else greatest(least(floor((col(c).cast("double") - lit(lo)) / lit(width)),
        lit(n - 1)), lit(0))
    coalesce(bucket.cast("int"), lit(0))
  }

  /** Equi-width bins like the reference's pd.cut need `c`'s min and max:
    * one pass (a metadata-only read when parquet stats suffice). None when
    * `c` holds no value (an empty or all-null input). */
  private def rangeBounds(df: DataFrame, c: String): Option[(Double, Double)] = {
    val b = df.agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
    Option.when(!b.isNullAt(0) && !b.isNullAt(1))((b.getDouble(0), b.getDouble(1)))
  }

  /** `df` routed to one task per value of `c` (so `partitionBy` writes one
    * file per directory, unless the leaf-file cap splits it), each task's
    * rows in a fixed order. Without the order a rewrite's bytes would depend
    * on the order its input files are listed in, which varies with their
    * random part-file names. */
  private def ordered(df: DataFrame, c: String): DataFrame =
    df.repartition(col(c)).sortWithinPartitions((c +: df.schema.fields.toSeq
      .filter(f => f.name != c && RowOrdering.isOrderable(f.dataType)).map(_.name)).map(col): _*)

  /** Writes `frame`, partitioned on `partCol`, to `target` with `mode`, and
    * returns the per-directory partials the write job observed (None when
    * the format is not served or the metrics never arrived). */
  private def save(frame: DataFrame, partCol: Option[String], target: Path,
    mode: String): Option[Map[String, DirPartial]] = {
    val observed = Partials.observe(frame, partCol, Partials.ServedFormats(format))
    val w = observed.frame.write
    capped(partCol.fold(w)(w.partitionBy(_))).mode(mode).format(format).save(target.toString)
    observed.collect()
  }

  /** The sibling of a table root that a rewrite stages into (`staged/`)
    * and parks the replaced data in (`parked/`). A finished swap deletes it,
    * so one that exists is crash residue for [[vacuum]]. It sits OUTSIDE the
    * root: a parked `k=v` name inside it would be rediscovered as a
    * partition after a crash. */
  private def swapRoot(base: Path): Path = new Path(base.getParent, base.getName + "__swap")

  /** Park-and-swap: moves every data entry of the staged root (a partition
    * directory, or a data file of an unpartitioned table) into the table,
    * parking the live entry of that name first, and parks the `retired`
    * entries too. No point loses both copies of an entry: after a crash
    * each one is live, parked or still staged, recoverable by rename. The
    * root and its sidecar are never moved. Returns the installed names. */
  private def swapIn(base: Path, retired: Seq[String] = Nil): Set[String] = {
    val staged = new Path(swapRoot(base), "staged")
    val parked = new Path(swapRoot(base), "parked")
    val fresh = fs.listStatus(staged).map(_.getPath.getName).filter(isDataName).toSet
    fs.delete(parked, true)
    fs.mkdirs(parked)
    (retired ++ fresh).foreach { n =>
      val live = new Path(base, n)
      if (fs.exists(live)) require(fs.rename(live, new Path(parked, n)), s"park $n failed")
      if (fresh(n)) require(fs.rename(new Path(staged, n), live), s"swap $n failed")
    }
    fs.delete(swapRoot(base), true)
    fresh
  }

  /** The one commit every write ends in: list the table once, then write
    * `m` as its sidecar with
    *  - `versions`: for an append, the recorded history plus the files this
    *    write added; otherwise the single current snapshot. An untracked
    *    legacy table stays untracked — starting history mid-life would
    *    fabricate a v1 that never existed — unless a put replaced it.
    *  - `partials`: a directory this write rewrote takes the partial it
    *    observed over the files now listed there; one it appended to takes
    *    old + observed over the old files plus the added ones (a directory
    *    new to the table: the observed one); every other directory keeps
    *    its partial. A directory missing either side gets none and is
    *    never served. Files on disk that no commit wrote (a dead writer's
    *    residue) stay out of every manifest and partial, so vacuum still
    *    sees them as orphans. */
  private def commit(path: String, m: Sidecar, change: Change,
    observed: Option[Map[String, DirPartial]] = None): Unit = {
    val leaves = listLeaves(path)
    val (delta, existed) = change match {
      case Appended(before) => (leaves.filterNot(before.toSet), byDir(before).keySet)
      case _ => (Nil, Set.empty[String])
    }
    val now = byDir(leaves)
    val added = byDir(delta)
    val appendedTo = change match {
      case Appended(_) => added.keySet ++ observed.fold(Set.empty[String])(_.filter(_._2.rows > 0).keySet)
      case _ => Set.empty[String]
    }
    val rewrote: String => Boolean = change match {
      case Replaced => _ => true
      case Rewrote(dirs) => dirs
      case Appended(_) => _ => false
    }
    def seen(d: String) = observed.flatMap(_.get(d))
    val partials = (m.partials.keySet ++ now.keySet).flatMap { d =>
      val partial =
        if (appendedTo(d)) for {
          b <- seen(d)
          files <- added.get(d)
          fresh = b.copy(files = files)
          p <- if (existed(d)) m.partials.get(d).map(_ + fresh) else Some(fresh)
        } yield p
        else if (rewrote(d)) for (b <- seen(d); files <- now.get(d)) yield b.copy(files = files)
        else m.partials.get(d)
      partial.map(d -> _)
    }.toMap
    val versions = change match {
      case _ if m.versions.isEmpty && change != Replaced => Nil
      case Appended(_) => m.versions :+ delta.map(_._1)
      case _ => Seq(leaves.map(_._1))
    }
    writeSidecar(path, m.copy(versions = versions, partials = partials))
  }

  /** A table's sidecar and scheme, for a write that must reproduce its
    * layout. Refuses rather than guess: a defaulted scheme writing flat
    * files into a partitioned table would corrupt partition discovery for
    * the whole table. */
  private def writable(path: String, op: String): (Sidecar, PartitionScheme) = {
    require(isTable(path), s"$op target $path is not a committed table")
    val m = readMeta(path)
    require(m.isDefined, s"$op: no sidecar at $path")
    val scheme = m.get.scheme
    require(scheme.isDefined,
      s"$op: sidecar at $path has no recoverable scheme — refusing to guess the layout")
    (m.get, scheme.get)
  }

  /** put — ingest a DataFrame as a partitioned parquet table. The partition
    * column layout gives readPartition/pruned-PMR their pruning for free.
    * A `_graft.json` sidecar records schema + scheme + permissions — the
    * namenode-metadata analog (reference keeps these in the Namenode table /
    * Firebase inodes). */
  def put(df: DataFrame, path: String, scheme: PartitionScheme): Unit = exclusive(path) {
    // splittability metadata is decided BEFORE the write so the sidecar lands
    // with the data; non-csv formats skip the scan entirely
    val embeddedNl = format == "csv" && hasEmbeddedNewlines(df)
    // an empty/all-null range column has no range: everything (i.e.
    // nothing, or the null rows) lands in bucket 0
    val bounds = scheme match {
      case RangePartition(c, _) => rangeBounds(df, c).getOrElse(NoBounds)
      case _ => NoBounds
    }
    val (frame, partCol) = layout(df, scheme, bounds)
    // overwrite mode clears the directory first
    val observed = save(frame, partCol, abs(path), "overwrite")
    commit(path, Sidecar(df.schema, Some(scheme), bounds, "644", format, embeddedNl),
      Replaced, observed)
  }

  /** All committed data files of a table, as sorted table-relative paths —
    * the snapshot manifest. One recursive namenode listing per WRITE (reads
    * never list); metadata names are excluded by [[isDataName]]. */
  private def listLeafFiles(path: String): Seq[String] = listLeaves(path).map(_._1)

  /** [[listLeafFiles]] with each file's length. */
  private def listLeaves(path: String): Seq[(String, Long)] = {
    val base = abs(path)
    val baseStr = base.toUri.getPath
    // plain listStatus walk, NOT fs.listFiles(recursive): that variant
    // materializes LocatedFileStatus (per-file block locations), which the
    // checksummed local fs answers with extra per-file I/O — measured ~4x
    // the cost of this walk on a 200-file table, paid on every write
    def walk(p: Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (!isDataName(st.getPath.getName)) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath.toUri.getPath.stripPrefix(baseStr).stripPrefix("/") -> st.getLen)
      }
    walk(base).sorted
  }

  /** append — add a batch to an existing table (the incremental-ingest write
    * path; `put` is the full rewrite). The batch may carry NEW columns —
    * parquet's per-file schema plus a merged-schema read makes that a
    * metadata-only evolution, no rewrite of old files (the property that
    * matters when the table is 100 TB and the schema grows a column). The
    * sidecar schema is refreshed to the union so `cat` of an empty-after-rm
    * table still knows the full shape. The batch is laid out by the table's
    * own scheme — written flat into a bucketed table it would corrupt
    * partition discovery (leaf files at the root next to bucket
    * directories). */
  def append(df: DataFrame, path: String): Unit = exclusive(path) {
    val (recorded, scheme) = writable(path, "append")
    // A range table whose persisted bounds are degenerate (lo == hi: the
    // first put was empty, all-null, or single-valued) would route every
    // appended row to bucket 0 forever — heal it by adopting real bounds from
    // the first batch that has them. Persisted BEFORE the data write so the
    // rows below and all future appends bin identically; the rows already in
    // bucket 0 stay readable (bounds only route writes, never reads).
    val m = scheme match {
      case RangePartition(c, _) if recorded.bounds._1 == recorded.bounds._2 =>
        rangeBounds(df, c).filter(b => b._1 != b._2).fold(recorded) { b =>
          val healed = recorded.copy(bounds = b)
          writeSidecar(path, healed)
          healed
        }
      case _ => recorded
    }
    // CSV is positional: every leaf file must carry exactly the sidecar's
    // column layout (one global schema parses all files), so a batch is
    // reordered to that layout and schema evolution is refused loudly — it
    // is a self-describing-format (parquet/orc) feature, not a CSV one.
    val aligned =
      if (format != "csv" || m.schema.isEmpty) df
      else {
        val s = m.schema
        val extra = df.columns.filterNot(c =>
          s.fieldNames.contains(c) || c == BucketCol)
        require(extra.isEmpty,
          s"append: csv tables cannot evolve schema; unknown columns ${extra.mkString(", ")}")
        val missing = s.fieldNames.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"append: csv batch is missing columns ${missing.mkString(", ")}")
        df.select(s.fieldNames.map(col).toIndexedSeq: _*)
      }
    // a so-far-clean csv table is re-checked against THIS batch only: once
    // any batch carries a newline the flag is sticky-true (old files are
    // never rescanned); a clean steady-state append pays one early-out scan.
    // Checked BEFORE the data write and flipped dirty-first: a crash between
    // the two writes degrades to the safe multiLine=true read path — the
    // reverse order could leave a clean flag over newline-bearing files and
    // reads would then split records mid-row.
    val nlUpgrade = format == "csv" && !m.embeddedNewlines && hasEmbeddedNewlines(aligned)
    if (nlUpgrade) writeSidecar(path, m.copy(embeddedNewlines = true))
    // No flag rollback on a thrown save: a commitJob that fails PARTWAY
    // through its sequential task-file promotion can leave some of the
    // batch's newline-bearing rows in the table, and a restored clean flag
    // over those rows would split records mid-row on read. A failed
    // newline-bearing append therefore leaves the table conservatively
    // dirty (slower whole-file reads, never corrupt ones) — the same
    // degradation an actual crash produces.
    val before = listLeaves(path)
    val (frame, partCol) = layout(aligned, scheme, m.bounds)
    val observed = save(frame, partCol, abs(path), "append")
    // Sidecar schema := recorded schema ∪ the BATCH's newly declared columns.
    // NOT the merged read schema: that re-types partition columns from
    // directory-name inference (BIGINT → INT), reorders them to the end, and
    // records the internal bucket column as if it were user data.
    val newFields = df.schema.fields.filterNot(f =>
      f.name == BucketCol || m.schema.fieldNames.contains(f.name))
    commit(path, m.copy(schema = StructType(m.schema.fields ++ newFields),
      embeddedNewlines = m.embeddedNewlines || nlUpgrade), Appended(before), observed)
  }

  /** merge — upsert a batch by key (Delta/Iceberg MERGE semantics: matched
    * keys are replaced by the batch row, unmatched batch rows insert). The
    * property that matters at 100 TB: only partitions the batch TOUCHES are
    * read, merged and rewritten — a 1%-of-partitions batch costs 1% of the
    * table, not a full rewrite. The touched directories are staged, then
    * park-and-swapped in ([[swapIn]]). The touched-value list is driver-side
    * metadata (bounded by partition count, like every partition listing
    * here). A physical rewrite ⇒ snapshot history truncates, same policy as
    * compact/rm. Hash-partitioned tables only — range/bucketed layouts route
    * through their bucket column the same way, but the query surface only
    * needs the reference's hash scheme. */
  def merge(batch: DataFrame, path: String, key: String): Unit = exclusive(path) {
    val (m, scheme) = writable(path, "merge")
    val c = scheme match {
      case HashPartition(c) => c
      case other => throw new IllegalArgumentException(
        s"merge: only hash-partitioned tables are supported, got $other")
    }
    require(batch.columns.sorted.sameElements(m.schema.fieldNames.sorted),
      s"merge: batch schema ${batch.columns.sorted.mkString(",")} must equal " +
        s"the table's ${m.schema.fieldNames.sorted.mkString(",")}")
    // cast to the sidecar's DECLARED types: a wider-typed batch (e.g. LONG
    // keys into an INT table) would otherwise widen the union and write
    // files the recorded schema can no longer read
    val (aligned, _) = layout(batch.select(m.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*), scheme, m.bounds)
    val touched = aligned.select(col(c)).distinct().collect().map(_.get(0))
    // partition-pruned read of ONLY the touched directories; batch rows win
    // on key collision (left_anti drops the old versions)
    val merged = loadData(path, Some(m)).filter(col(c).isInCollection(touched))
      .join(aligned.select(col(key).as(key)), Seq(key), "left_anti")
      .unionByName(aligned)
    val base = abs(path)
    val observed = save(ordered(merged, c), Some(c), new Path(swapRoot(base), "staged"), "overwrite")
    // a touched value new to the table has nothing to park
    commit(path, m, Rewrote(swapIn(base)), observed)
  }

  /** compact — rewrite the table so every partition directory holds exactly
    * one file. Many small files per partition are the steady state of
    * incremental ingest (every micro-batch/put appends its own); at 100 TB the
    * namenode/list overhead and per-file open cost dominate reads long before
    * data volume does, so periodic compaction is a first-class catalog op.
    * Compaction cost scales with FRAGMENTATION, not table size: only
    * directories holding 2+ data files are read, rewritten and swapped;
    * already-compact partitions (the vast majority of a daily run at 100 TB)
    * are untouched. A leaf-capped table cannot distinguish "minimal
    * ceil(rows/cap) files" from fragmentation without row counts, so its
    * multi-file dirs are rewritten each run — the cap bounds that work. The
    * rewrite is staged, then park-and-swapped in ([[swapIn]]). It records
    * the partials it observed for every directory it rewrites (the rows of
    * any residue there are folded in), so a table written before partials
    * gains them. */
  def compact(path: String): Unit = exclusive(path) {
    val (m, scheme) = writable(path, "compact")
    val base = abs(path)
    val partCol = partitionColumn(scheme)
    // a partitioned table's directories, or an unpartitioned one's root ("")
    val frag = byDir(listLeaves(path)).filter { case (d, files) =>
      files.size > 1 && d.nonEmpty == partCol.isDefined
    }
    if (frag.nonEmpty) { // else nothing fragmented: a metadata-only no-op
      val staged = new Path(swapRoot(base), "staged")
      val observed = partCol match {
        case Some(c) =>
          save(ordered(loadData(path, Some(m), Some(frag.keys.toSeq.map(new Path(base, _)))), c),
            Some(c), staged, "overwrite")
        case None => save(loadData(path, Some(m)).coalesce(1), None, staged, "overwrite")
      }
      swapIn(base, frag.get("").toSeq.flatMap(_.keys))
      commit(path, m, Rewrote(frag.keySet), observed)
    }
  }

  // ----- A22: vacuum + snapshot expiration (lakehouse maintenance) -----

  /** Manifests written before `__graft_bucket=<n>` directories were listed
    * name none of a bucketed/range table's files. Such a manifest must not
    * define liveness (vacuum) or a snapshot (readVersion): refuse when it
    * lists no bucket-directory file while the table holds some. */
  private def requireBucketFilesListed(op: String, path: String, live: Set[String],
    onDisk: => Seq[String]): Unit = {
    def inBucketDir(rel: String) = rel.split('/').exists(_.startsWith("_"))
    require(live.exists(inBucketDir) || !onDisk.exists(inBucketDir),
      s"$op: the manifest of $path lists no bucket-directory file; re-put the table")
  }

  /** vacuum — delete everything in and around the table that no snapshot
    * references: leaf files absent from the manifest union (residue of a
    * write that died after task commit but before its delta was recorded),
    * partition directories left empty by those deletes, and the swap root a
    * crashed compact/merge leaves behind ([[swapRoot]] — a finished swap
    * deletes it, so its existence IS the crash marker). Returns the number
    * of paths removed.
    *
    * Safety model: one writer per table at a time — writes in this JVM
    * serialize on the table's lock, which vacuum takes too; writers in other
    * JVMs are not coordinated. An in-flight Spark write stages under
    * `_temporary`, which the `_`-prefix rule already excludes from listing.
    * Time-based retention (Delta's RETAIN n HOURS) exists to protect
    * concurrent READERS of just-rewritten files; manifest-driven reads here
    * pin exact file lists at plan time, so the window is the plan-to-scan gap
    * — vacuum during an active read is the same hazard as compact during one.
    * Cost: one recursive listing + one namenode op per orphan — maintenance
    * is metadata-class work, proportional to residue, never to table size.
    * Works on replicated tables too: the shared manifest is resolved under
    * each replica root. */
  def vacuum(path: String): Long = exclusive(path) {
    val m = readMeta(path).getOrElse(sys.error(s"vacuum: no sidecar at $path"))
    require(m.versions.nonEmpty,
      s"vacuum: $path has no snapshot history — untracked tables have no " +
        "manifest to define liveness against")
    val live: Set[String] =
      if (m.replication > 1)
        ReplicaDirs.flatMap(d => m.versions.flatten.map(rel => s"$d/$rel")).toSet
      else m.versions.flatten.toSet
    val base = abs(path)
    var removed = 0L
    val onDisk = listLeafFiles(path)
    // refuse rather than delete the whole table as orphans
    requireBucketFilesListed("vacuum", path, live, onDisk)
    val orphans = onDisk.filterNot(live)
    orphans.foreach { rel =>
      if (fs.delete(new Path(base, rel), false)) removed += 1
    }
    // sweep now-empty data directories bottom-up (a partition dir whose every
    // file was orphaned — e.g. the uncommitted partition of a crashed write);
    // metadata names are never data and never counted
    def sweepEmpty(p: Path): Boolean = { // returns "p is (now) removable"
      val children = fs.listStatus(p)
      val keep = children.filterNot { st =>
        st.isDirectory && isDataName(st.getPath.getName) && sweepEmpty(st.getPath)
      }
      if (keep.isEmpty && p != base) { fs.delete(p, false); removed += 1; true }
      else false
    }
    sweepEmpty(base)
    if (fs.exists(swapRoot(base)) && fs.delete(swapRoot(base), true)) removed += 1
    removed
  }

  /** expireSnapshots — bound history growth: fold the oldest deltas into one
    * base so only the most recent `keepLast` snapshots stay readable. Pure
    * sidecar metadata (append-only deltas mean every old file is still part
    * of the CURRENT snapshot — no data becomes deletable, so expiration
    * deletes none); what it bounds is manifest count, the thing that
    * otherwise grows one delta per commit forever. readVersion(i) afterwards
    * addresses the i-th SURVIVING snapshot, oldest first. */
  def expireSnapshots(path: String, keepLast: Int): Unit = exclusive(path) {
    require(keepLast >= 1, s"expireSnapshots: keepLast must be >= 1, got $keepLast")
    val m = readMeta(path).getOrElse(sys.error(s"expireSnapshots: no sidecar at $path"))
    require(m.versions.nonEmpty, s"expireSnapshots: $path has no snapshot history")
    if (keepLast < m.versions.length) {
      val fold = m.versions.length - keepLast + 1
      writeSidecar(path, m.copy(versions =
        m.versions.take(fold).flatten +: m.versions.drop(fold)))
    }
  }

  /** TEST/SIMULATION hook — fabricate the residue of a writer that died
    * mid-protocol: an orphan data file inside a live partition (task output
    * promoted but its delta never recorded — directory-discovery reads would
    * double-count it), an entire uncommitted partition directory, and a
    * parked entry in the swap root of a crashed compact/merge. Exactly the
    * states [[vacuum]] exists to clean. */
  def plantCrashResidue(path: String): Unit = {
    val base = abs(path)
    val first = listLeafFiles(path).headOption
      .getOrElse(sys.error(s"plantCrashResidue: $path has no data files"))
    val src = new Path(base, first)
    val orphan = new Path(src.getParent, "part-00999-uncommitted.snappy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false, true, fs.getConf)
    if (src.getParent != base) { // partitioned: also a whole stray directory
      // the stray value must parse under ANY declared partition-column type,
      // so it is numeric (a non-numeric marker would fail an INT column's
      // partition discovery outright instead of over-counting)
      val strayDir = new Path(base, src.getParent.getName.takeWhile(_ != '=') + "=999999")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new Path(strayDir, "part-00000.snappy.parquet"), false, true, fs.getConf)
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new Path(swapRoot(base), "parked/leftover.parquet"), false, true, fs.getConf)
  }

  // ----- A21: 2× replication with per-file failover reads -----

  /** putReplicated — ingest with the reference's 2× replication
    * (init.sql:27-30: every block records a replica1 and replica2 location;
    * proj-firebase-flask.py:496 writes each block to two of three datanodes).
    * Spark-native form: the partitioned layout is COMPUTED AND WRITTEN ONCE
    * under `replica-1/`, then the committed bytes are cloned to `replica-2/`
    * by a distributed per-file copy job (the distcp shape — replication is a
    * storage-layer byte copy, never a second execution of the query, so a
    * nondeterministic input can't produce diverging replicas). The table-root
    * sidecar records the shared replica-relative manifest; on a real cluster
    * the two subtrees would map to different failure domains the way the
    * reference spreads replicas across datanodes. */
  def putReplicated(df: DataFrame, path: String, scheme: PartitionScheme): Unit = exclusive(path) {
    val r1 = s"$path/${ReplicaDirs(0)}"
    val r2 = s"$path/${ReplicaDirs(1)}"
    put(df, r1, scheme)
    // clear any stale second replica BEFORE cloning: manifest-driven reads
    // would never touch leftovers, but dead bytes are storage leaks
    fs.delete(abs(r2), true)
    val m = readMeta(r1).getOrElse(sys.error(s"putReplicated: no sidecar at $r1"))
    val files = m.versions.flatten
    val srcRoot = abs(r1).toString
    val dstRoot = abs(r2).toString
    // one copy task per leaf file, executor-side streams, nothing routes
    // through the driver — at 100 TB this is exactly distcp's plan. The
    // Hadoop conf travels as serialized entries (Configuration itself is not
    // serializable), so s3a/hdfs credentials reach the tasks.
    val confPairs = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => (e.getKey, e.getValue)).toSeq
    }
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 32)))
      .foreach { rel =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confPairs.foreach { case (k, v) => conf.set(k, v) }
        val src = new Path(srcRoot, rel)
        val dst = new Path(dstRoot, rel)
        org.apache.hadoop.fs.FileUtil.copy(
          src.getFileSystem(conf), src, dst.getFileSystem(conf), dst,
          false, true, conf)
      }
    // the manifest is replica-1's own, from its commit; the partials stay
    // with replica-1's sidecar, as the replicated root is read through
    // catReplicated's union and never served from partials
    writeSidecar(path, m.copy(replication = 2, partials = Map.empty))
  }

  /** The files of `rels` (relative to `root`) that exist, by ONE listStatus
    * per parent directory diffed against the names — O(#dirs) driver RPCs,
    * the same listing a file index pays, where a per-file exists() was
    * O(#files) serial round-trips (minutes of driver stalling at
    * object-store latency once a table holds 10⁶-10⁷ files). */
  private def survivors(root: Path, rels: Seq[String]): Set[String] =
    rels.map(dirOf).distinct.iterator.flatMap { d =>
      val dir = if (d.isEmpty) root else new Path(root, d)
      val listed =
        try fs.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      listed.filter(_.isFile).map(st =>
        if (d.isEmpty) st.getPath.getName else s"$d/${st.getPath.getName}")
    }.toSet

  /** Each manifest file of a replicated table with the replica that serves
    * it: 1 when it survives in replica-1, else 2 when it survives in
    * replica-2, else 0 (lost from both). */
  private def servingReplica(path: String, m: Sidecar): Seq[(String, Int)] = {
    val manifest = m.versions.flatten
    val roots = ReplicaDirs.map(d => new Path(abs(path), d))
    val r1 = survivors(roots(0), manifest)
    val r2 = survivors(roots(1), manifest.filterNot(r1))
    manifest.map(rel => rel -> (if (r1(rel)) 1 else if (r2(rel)) 2 else 0))
  }

  /** catReplicated — read a replicated table with per-file failover: the
    * manifest resolves each file to replica-1 when it survives, replica-2
    * otherwise — `IFNULL(replica1, replica2)` (combined_flask.py:284,:522)
    * lifted from a per-block SQL coalesce to manifest resolution
    * ([[servingReplica]]). Data files are scanned exactly once, each replica
    * subset under its own basePath so partition discovery and pruning
    * behave exactly as on an unreplicated read, then unioned — scan ∪ scan,
    * no shuffle. Files lost from BOTH replicas fail loudly with names (the
    * reference would silently emit NULL content). */
  def catReplicated(path: String): DataFrame = {
    val m = readMeta(path).getOrElse(sys.error(s"catReplicated: no sidecar at $path"))
    require(m.replication > 1,
      s"catReplicated: $path is not a replicated table (replication=${m.replication})")
    val served = servingReplica(path, m)
    val lost = served.collect { case (rel, 0) => rel }
    require(lost.isEmpty,
      s"catReplicated: ${lost.size} file(s) of $path lost from BOTH replicas " +
        s"(e.g. ${lost.head}) — data loss, refusing to return a partial table")
    ReplicaDirs.indices
      .map(i => new Path(abs(path), ReplicaDirs(i)) -> served.collect { case (rel, r) if r == i + 1 => rel })
      .filter(_._2.nonEmpty)
      .map { case (root, rels) =>
        scanReplica(root, rels.map(new Path(root, _)), m) }
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema))
      .drop(BucketCol)
  }

  /** One replica subtree's surviving subset, schema'd from the table-root
    * sidecar (same authority rules as loadData). */
  private def scanReplica(root: Path, files: Seq[Path], m: Sidecar): DataFrame = {
    val reader = spark.read.format(m.format).option("basePath", root.toString)
    (if (m.schema.nonEmpty) reader.schema(m.schema)
     else reader.option("mergeSchema", "true"))
      .load(files.map(_.toString): _*)
  }

  /** Per-manifest-file serving report — the namenode's replica map
    * (reference getPartitionLocations joins both replica columns,
    * combined_flask.py:254-259): 1 = primary serves, 2 = failed over,
    * 0 = lost from both. Driver-side metadata only. */
  def replicaStatus(path: String): DataFrame = {
    val m = readMeta(path).getOrElse(sys.error(s"replicaStatus: no sidecar at $path"))
    val rows = servingReplica(path, m).map { case (rel, r) => Row(rel, r) }
    val schema = StructType(Seq(
      StructField("file", StringType), StructField("served_by", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** TEST/SIMULATION hook — knock out one partition directory of one replica,
    * emulating the loss of the datanode holding those blocks. Returns whether
    * anything was deleted. */
  def failReplicaPartition(path: String, replica: Int, dirName: String): Boolean = {
    require(replica >= 1 && replica <= ReplicaDirs.length, s"no replica $replica")
    fs.delete(new Path(new Path(abs(path), ReplicaDirs(replica - 1)), dirName), true)
  }

  /** Does any string column of the batch carry an embedded newline? One cheap
    * early-out scan (stops at the first hit) paid only on csv writes — the
    * price of splittable reads for the common clean table, instead of taxing
    * every read with `multiLine=true` for a rare property. */
  private def hasEmbeddedNewlines(df: DataFrame): Boolean = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    strCols.nonEmpty && df
      .filter(strCols.map(c => instr(col(c), "\n") > 0 || instr(col(c), "\r") > 0)
        .reduce(_ || _))
      .take(1).nonEmpty
  }

  /** Does a written table already exist (committed)? */
  def exists(path: String): Boolean = isTable(path)

  /** Atomic sidecar update: write the full new content to a temp name, then
    * delete + rename into place. A crash mid-write can never leave a
    * TRUNCATED `_graft.json`: either the old file is still whole, or it is
    * gone and the complete `.__new` survives — readMetaRaw falls back to
    * it. */
  private def writeSidecar(path: String, m: Sidecar): Unit = {
    val dir = abs(path)
    fs.mkdirs(dir)
    val tmp = new Path(dir, MetaTmp)
    val out = fs.create(tmp, true)
    try out.write(renderSidecar(m).getBytes("UTF-8")) finally out.close()
    val dest = new Path(dir, MetaFile)
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"sidecar swap failed at $path")
  }

  private def readMeta(path: String): Option[Sidecar] =
    readMetaRaw(path).map(parseSidecar(_, format))

  /** describe — the table's catalog metadata as (key, value) rows: the ls -l /
    * namenode-inode view of a table. */
  def describe(path: String): DataFrame = {
    val meta = readMeta(path)
    val (kind, column, _) = meta.map(m => schemeFields(m.scheme)).getOrElse(("?", "", 0))
    val rows = Seq(
      Row("path", path), Row("scheme", kind), Row("partition_column", column),
      Row("committed", isTable(path).toString),
      Row("num_partitions", partitionLocations(path).count().toString))
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private val IndexCol = "__graft_index"

  /** putCsv — ingest a CSV file (the reference's actual put input,
    * combined_flask.py:324: header row, schema inference) with an ingest-order
    * index column, so `catOrdered` can reproduce the original file order the
    * way the reference's `index` column does (:313). */
  def putCsv(csvPath: String, path: String, scheme: PartitionScheme): Unit = {
    val df = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(csvPath)
      .withColumn(IndexCol, org.apache.spark.sql.functions.monotonically_increasing_id())
    put(df, path, scheme)
  }

  /** Read the table's data; an empty table (no data files — e.g. an empty
    * DataFrame was put) falls back to the sidecar's recorded schema instead of
    * failing schema inference, so cat of an empty table is an empty DataFrame
    * with the right columns. */
  private def loadTable(path: String): DataFrame = loadData(path, readMeta(path))

  /** The data of the table at `path` whose sidecar is `meta`, optionally
    * restricted to a subset of partition directories or files (basePath
    * keeps partition-column discovery intact) — compact reads only the
    * fragmented directories through this. */
  private def loadData(path: String, meta: Option[Sidecar],
    subset: Option[Seq[Path]] = None): DataFrame = {
    val targets: Seq[String] =
      subset.map(_.map(_.toString)).getOrElse(Seq(abs(path).toString))
    def withBase(r: org.apache.spark.sql.DataFrameReader) =
      if (subset.isDefined) r.option("basePath", abs(path).toString) else r
    try {
      if (format == "csv") {
        // CSV files are not self-describing: the sidecar schema is the
        // authority, so the read is typed (not all-strings inference). The
        // FULL sidecar schema is the user schema — Spark itself subtracts
        // discovered partition columns from the file-parsing schema and
        // types directory values with the DECLARED type (a string hash key
        // "007" stays "007" instead of int 7), and an empty table keeps its
        // complete shape. multiLine is driven by the sidecar's
        // embedded_newlines flag, recorded at write time: the common clean
        // table reads with multiLine=false, so every leaf file SPLITS into
        // parallel tasks at scale; only a table that actually stored quoted
        // newlines pays the unsplittable whole-file parse (then bounded by
        // the leaf-file cap — the reference's MAX_PARTITION_SIZE regime).
        // Known limitation: empty string and null are indistinguishable.
        val multiLine = meta.forall(_.embeddedNewlines)
        val reader = withBase(spark.read.option("header", "true")
          .option("multiLine", multiLine.toString))
        meta.map(_.schema).filter(_.nonEmpty)
          .fold(reader.option("inferSchema", "true"))(reader.schema)
          .csv(targets: _*)
      } else {
        // The sidecar schema is authoritative: it is the union of every
        // written batch (append maintains it), with partition-column types as
        // DECLARED at put rather than re-inferred from directory names. Reading
        // with it keeps `cat` O(1) in metadata — the mergeSchema fallback
        // (foreign tables only) reads EVERY file footer, a full metadata scan
        // per query at 100 TB. Files predating an evolved column surface it as
        // nulls, same as the footer-merge read.
        val reader = withBase(spark.read.format(format))
        meta.map(_.schema).filter(_.nonEmpty)
          .fold(reader.option("mergeSchema", "true"))(reader.schema)
          .load(targets: _*)
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          meta.getOrElse(sys.error(s"no sidecar at $path")).schema)
    }
  }

  /** cat — reassemble the full table. Partition discovery merges all partition
    * directories; original row order is the caller's to restore via a sort key
    * (the reference kept an explicit `index` column for the same reason). */
  def cat(path: String): DataFrame =
    loadTable(path).drop(BucketCol) // internal bucketing column is not user data

  /** cat in original ingest order — for tables written via putCsv. */
  def catOrdered(path: String): DataFrame =
    loadTable(path).orderBy(col(IndexCol)).drop(BucketCol, IndexCol)

  /** readPartition — read ONE partition. Expressed as a filter on the partition
    * column so Catalyst prunes to the single matching directory (check
    * `.explain`'s PartitionFilters); no other data is touched, exactly like the
    * reference's single-block read, but pushdown-composable. */
  def readPartition(path: String, column: String, value: Any): DataFrame =
    loadTable(path).filter(col(column) === lit(value))

  /** Number of committed snapshots (0 = untracked legacy table). */
  def snapshotCount(path: String): Int =
    readMeta(path).map(_.versions.length).getOrElse(0)

  /** readVersion — time travel (A19): the table EXACTLY as of commit `v`
    * (1-based; v = snapshotCount is the current state). The read plans over
    * the manifest's file list with the table root as basePath, so partition
    * discovery — and partition PRUNING of downstream filters — work exactly
    * as on a current-state read; cost is proportional to the files in the
    * snapshot, never to the table's full history. Append-only writes are
    * what make this O(metadata): an old version is a file subset, not a
    * reconstruction. */
  def readVersion(path: String, v: Int): DataFrame = {
    val m = readMeta(path).getOrElse(sys.error(s"time travel: no sidecar at $path"))
    require(m.versions.nonEmpty,
      s"time travel: $path has no snapshot history (written by a pre-snapshot writer?)")
    require(v >= 1 && v <= m.versions.length,
      s"time travel: version $v out of range 1..${m.versions.length} at $path")
    // only a bucket-directory layout (or one the sidecar no longer names)
    // can hold such a manifest; hash and flat tables skip the listing
    if (m.scheme.forall(s => partitionColumn(s).contains(BucketCol)))
      requireBucketFilesListed("time travel", path, m.versions.flatten.toSet, listLeafFiles(path))
    val rels = m.versions.take(v).flatten
    // loud, diagnosable failure over a runtime FileNotFound mid-scan: a
    // dangling manifest means some physical delete bypassed the truncation
    // hooks (a crash inside compact's swap window, or an out-of-catalog
    // delete). One listing per manifest directory ([[survivors]]).
    val present = survivors(abs(path), rels)
    val missing = rels.filterNot(present).map(new Path(abs(path), _))
    require(missing.isEmpty,
      s"time travel: snapshot $v of $path references ${missing.size} missing " +
        s"file(s) (e.g. ${missing.head}) — history was invalidated by a " +
        "physical delete outside put/append/compact/rm")
    loadData(path, Some(m), Some(rels.map(new Path(abs(path), _)))).drop(BucketCol)
  }

  /** The raw sidecar text, if present. Falls back to the `.__new` temp file
    * when the main one is missing — the only way that happens is a crash
    * between writeSidecar's delete and rename, and the temp is complete. */
  private def readMetaRaw(path: String): Option[String] = {
    def read(name: String): Option[String] =
      try {
        val in = fs.open(new Path(abs(path), name))
        try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    read(MetaFile).orElse(read(MetaTmp))
  }

  /** getPartitionLocations — the partition manifest: value directory, file
    * count, bytes. Driver-side metadata listing, same role as the reference's
    * namenode block map. */
  def partitionLocations(path: String): DataFrame = {
    val base = abs(path)
    val parts = fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        Row(st.getPath.getName, files.length, files.map(_.getLen).sum)
      }
      .sortBy(_.getString(0))
    val schema = StructType(Seq(
      StructField("partition", StringType), StructField("num_files", IntegerType),
      StructField("total_bytes", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(parts, 1), schema)
  }
}

object GraftCatalog {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet,
    Expression, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex,
    LogicalRelation}
  import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

  /** One lock object per qualified table root (see `exclusive`). */
  private val WriteLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val ReplicaDirs = Seq("replica-1", "replica-2")

  private val MetaFile = "_graft.json"
  private val MetaTmp = MetaFile + ".__new"

  private val NoBounds = (0.0, 0.0)

  /** Table-relative directory of a table-relative file ("" = the root). */
  private def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** What a write did to the table's directories, for `commit`. */
  private sealed trait Change
  /** put: the table was written anew. */
  private case object Replaced extends Change
  /** merge, compact, rm: these directories were swapped for rewritten ones. */
  private final case class Rewrote(dirs: Set[String]) extends Change
  /** append: files were added to the table `before` listed. */
  private final case class Appended(before: Seq[(String, Long)]) extends Change

  /** The full sidecar record — the namenode-metadata analog.
    * `scheme` is None when the sidecar names no recoverable scheme
    * (malformed JSON, missing keys, an unknown kind, a bucketed/range scheme
    * without buckets): read paths degrade gracefully on it, layout-dependent
    * writes refuse. `bounds` are a range layout's persisted (lo, hi).
    * `embeddedNewlines` is csv-only splittability metadata: false means no
    * string value in any written batch contained a newline, so reads may use
    * `multiLine=false` and every leaf file SPLITS into parallel tasks. True
    * (also the default when the sidecar predates the flag) forces the safe
    * unsplittable whole-file parse.
    * `versions` is the snapshot history (A19): one DELTA manifest of
    * relative leaf-file paths per committed write — the files that commit
    * ADDED; snapshot v is the union of deltas 1..v. Deltas keep the sidecar
    * linear in total files (a cumulative-per-commit encoding would retain
    * O(commits x files) — the growth curve incremental manifest designs like
    * Iceberg's exist to avoid). Append-only writes make old deltas
    * permanently valid; merge, compact and rm-inside-a-table are physical
    * deletes, so they truncate history to the single current snapshot. Nil =
    * an untracked legacy table: time travel refuses rather than guessing
    * v1.
    * `replication` > 1 marks a table written by `putReplicated`: the data
    * lives under `replica-1/` and `replica-2/` subtrees and `versions` holds
    * the REPLICA-RELATIVE manifest both copies share.
    * `partials` holds, per partition directory (table-relative, "" for an
    * unpartitioned table), the write-time [[DirPartial]] of its committed
    * files: every write records them in its commit, and `Pmr`'s stats are
    * answered from them when the listing a read holds still matches. */
  private[graft] final case class Sidecar(schema: StructType, scheme: Option[PartitionScheme],
    bounds: (Double, Double), permission: String, format: String,
    embeddedNewlines: Boolean = true, versions: Seq[Seq[String]] = Nil,
    replication: Int = 1, partials: Map[String, DirPartial] = Map.empty)

  /** A scheme's sidecar fields (kind, column, buckets); kind "unknown" for
    * an unrecoverable one. */
  private def schemeFields(s: Option[PartitionScheme]): (String, String, Int) = s match {
    case None => ("unknown", "", 0)
    case Some(Unpartitioned) => ("none", "", 0)
    case Some(HashPartition(c)) => ("hash", c, 0)
    case Some(BucketedHashPartition(c, n)) => ("bucketed_hash", c, n)
    case Some(RangePartition(c, n)) => ("range", c, n)
  }

  // Jackson (on Spark's classpath) — a real (de)serializer, not string
  // surgery: a partition column literally named "scheme", or names with
  // quotes/backslashes, must round-trip.
  private def mapper = Partials.mapper

  private[graft] def renderSidecar(m: Sidecar): String = {
    val root = mapper.createObjectNode()
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(m.schema.json))
    val (kind, column, buckets) = schemeFields(m.scheme)
    val sc = root.putObject("scheme")
    sc.put("kind", kind)
    sc.put("column", column)
    sc.put("buckets", buckets)
    if (m.scheme.exists(_.isInstanceOf[RangePartition])) {
      sc.put("range_lo", m.bounds._1)
      sc.put("range_hi", m.bounds._2)
    }
    root.put("permission", m.permission)
    root.put("format", m.format)
    if (m.format == "csv") root.put("embedded_newlines", m.embeddedNewlines)
    if (m.partials.nonEmpty) Partials.renderDirs(root.putObject("partials"), m.partials)
    if (m.versions.nonEmpty) {
      val va = root.putArray("versions")
      m.versions.foreach { files =>
        val fa = va.addArray()
        files.foreach(fa.add)
      }
    }
    if (m.replication > 1) root.put("replication", m.replication)
    root.toString
  }

  /** Inverse of [[renderSidecar]]. Malformed JSON or missing keys degrade
    * to defaults (the scheme to None) rather than throwing: a foreign,
    * hand-edited, or pre-atomic-writer-truncated sidecar weakens
    * describe()/cat(), and the layout-dependent writers refuse. A genuine
    * unpartitioned table records kind "none" explicitly. */
  private[graft] def parseSidecar(raw: String, defaultFormat: String): Sidecar = {
    def optNode(node: Option[com.fasterxml.jackson.databind.JsonNode], f: String) =
      node.flatMap(x => Option(x.get(f)))
    val top = scala.util.Try(mapper.readTree(raw)).toOption.flatMap(Option(_))
    val sc = optNode(top, "scheme")
    val column = optNode(sc, "column").map(_.asText).getOrElse("")
    val buckets = optNode(sc, "buckets").map(_.asInt).getOrElse(0)
    Sidecar(
      optNode(top, "schema")
        .flatMap(s => scala.util.Try(
          DataType.fromJson(s.toString).asInstanceOf[StructType]).toOption)
        .getOrElse(new StructType()),
      optNode(sc, "kind").map(_.asText).collect {
        case "none" => Unpartitioned
        case "hash" if column.nonEmpty => HashPartition(column)
        case "bucketed_hash" if column.nonEmpty && buckets > 0 => BucketedHashPartition(column, buckets)
        case "range" if column.nonEmpty && buckets > 0 => RangePartition(column, buckets)
      },
      (optNode(sc, "range_lo").map(_.asDouble).getOrElse(0.0),
        optNode(sc, "range_hi").map(_.asDouble).getOrElse(0.0)),
      optNode(top, "permission").map(_.asText).getOrElse("644"),
      optNode(top, "format").map(_.asText).getOrElse(defaultFormat),
      optNode(top, "embedded_newlines").map(_.asBoolean).getOrElse(true),
      optNode(top, "versions").map { v =>
        import scala.jdk.CollectionConverters._
        v.elements().asScala.map(arr =>
          arr.elements().asScala.map(_.asText).toSeq).toSeq
      }.getOrElse(Nil),
      optNode(top, "replication").map(_.asInt).getOrElse(1),
      optNode(top, "partials").flatMap(Partials.parseDirs).getOrElse(Map.empty))
  }

  /** The partials of `column` over exactly the rows `df` yields, one per
    * directory its scan reads, or None. It needs: `df` is a plain
    * parquet/orc scan of a catalog table root (`cat`, `readPartition`),
    * under nothing but attribute-only projections and filters on partition
    * columns; the column is a primitive numeric data column; the table is
    * neither replicated nor foreign, and its sidecar has a known scheme and
    * records partials (or the scan reads no file). The directories are
    * pruned by the relation's own file index, exactly as the scan prunes
    * them. A clean directory, whose listed files (name, length) equal the
    * ones its partial covers, gives that partial; the others (residue, a
    * rewritten file, a column the partial lacks) get theirs from one job
    * over just their directories. Nothing is written back. */
  def dirPartials(df: DataFrame, column: String): Option[ScanPartials] = {
    def scan(p: LogicalPlan, filters: Seq[Expression])
      : Option[(LogicalRelation, HadoopFsRelation, Seq[Expression])] = p match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        scan(child, filters)
      case Filter(cond, child) => scan(child, cond +: filters)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Some((l, h, filters))
        case _ => None
      }
      case _ => None
    }
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    for {
      target <- plan.resolveQuoted(column, spark.sessionState.analyzer.resolver)
      (rel, fsRel, filters) <- scan(plan, Nil)
      root <- fsRel.location match {
        case i: InMemoryFileIndex if i.rootPaths.size == 1 && fsRel.bucketSpec.isEmpty =>
          Some(i.rootPaths.head)
        case _ => None
      }
      fmt <- fsRel.fileFormat match {
        case _: ParquetFileFormat => Some("parquet")
        case _: OrcFileFormat => Some("orc")
        case _ => None
      }
      partCols = fsRel.partitionSchema.fieldNames.toSeq
      if partCols.size <= 1
      partAttrs = AttributeSet(rel.output.filter(a => partCols.contains(a.name)))
      attr <- rel.output.find(_.exprId == target.exprId)
      if !partAttrs.contains(attr) && Partials.isPrimitive(attr.dataType)
      if filters.forall(f => f.deterministic && !SubqueryExpression.hasSubquery(f) &&
        f.references.subsetOf(partAttrs))
      // a one-file snapshot read is rooted at that file: no sidecar below it
      cat = new GraftCatalog(spark, root.toString, fmt)
      m <- scala.util.Try(cat.readMeta("")).toOption.flatten
      if m.replication == 1 && m.format == fmt && m.scheme.isDefined
      served <- {
        val rootPath = root.toUri.getPath
        // the index drops zero-length files; they hold no rows
        val listed = fsRel.location.listFiles(filters, Nil).flatMap(_.files)
          .groupBy(f => f.getPath.getParent.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"))
        val recorded = listed.map { case (d, files) =>
          d -> m.partials.get(d)
            .filter(_.files.filter(_._2 > 0) == files.map(f => f.getPath.getName -> f.getLen).toMap)
            .flatMap(p => p.cols.get(attr.name).filter(_.dataType == attr.dataType)
              .map(p.rows -> _))
        }
        val dirty = recorded.collect { case (d, None) => d }.toSet
        val fresh =
          if (dirty.isEmpty) Some(Map.empty[String, (Long, ColPartial)])
          else if (m.partials.isEmpty) None // written without partials: scanned
          else Partials.compute(
            cat.loadData("", Some(m), Some(dirty.toSeq.map(listed(_).head.getPath.getParent))),
            partCols.headOption, attr.name).map(_.dirs)
            // a directory name the aggregate does not reproduce is no proof
            .filter(_.keySet.subsetOf(dirty))
        // a dirty directory the aggregate saw no row of holds none
        fresh.map(f => ScanPartials(attr.dataType,
          recorded.flatMap { case (d, p) => p.orElse(f.get(d)).map(d -> _) }))
      }
    } yield served
  }
}
