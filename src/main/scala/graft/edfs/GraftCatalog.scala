package graft.edfs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * Reference anchors: mkdir combined_flask.py:85, ls :140, rm :214, cat :270,
  * put :324, getPartitionLocations :438, readPartition :492.
  */
class GraftCatalog(spark: SparkSession, root: String,
  val format: String = "parquet",
  val maxRecordsPerFile: Long = 0) {

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

  /** mkdir -p — create a directory chain in the namespace. */
  def mkdir(path: String): Boolean = fs.mkdirs(abs(path))

  /** rm — remove a file/dir; like the reference, refuses non-empty directories
    * unless `recursive`. */
  def rm(path: String, recursive: Boolean = false): Boolean = {
    val p = abs(path)
    if (!fs.exists(p)) false
    else if (!recursive && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).nonEmpty && !isTable(path)) false
    else {
      val deleted = fs.delete(p, true)
      // a physical delete INSIDE a tracked table invalidates every snapshot
      // manifest naming the deleted files — truncate history to the current
      // state (same policy as compact, which is also a physical rewrite)
      if (deleted) truncateHistoryOfEnclosingTable(path)
      deleted
    }
  }

  /** Nearest enclosing committed table of a just-deleted subpath, if any:
    * its snapshot history now names missing files, so reset it to the single
    * current snapshot. A deleted TABLE ROOT took its sidecar with it and
    * needs nothing. */
  private def truncateHistoryOfEnclosingTable(path: String): Unit = {
    val parts = path.split("/").filter(_.nonEmpty)
    (parts.length - 1 to 1 by -1).map(i => parts.take(i).mkString("/"))
      .find(isTable)
      .foreach { t =>
        readMeta(t).filter(_.versions.nonEmpty).foreach { m =>
          writeSidecar(t, m.copy(versions = Seq(listLeafFiles(t))))
        }
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

  /** Whether this catalog's writes record partials for stat reads. */
  private def servesPartials: Boolean = Partials.ServedFormats(format)

  /** Spark's own rule for what a file index reads: `.`/`_` names are
    * metadata, except `_`-prefixed partition directories such as the
    * internal `__graft_bucket=<n>`. */
  private def isDataName(name: String): Boolean =
    !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))

  /** Table-relative directory of a table-relative file ("" = the root). */
  private def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Listed files grouped by directory: dir → (file name → length). */
  private def byDir(leaves: Seq[(String, Long)]): Map[String, Map[String, Long]] =
    leaves.groupBy(l => dirOf(l._1)).map { case (d, fs) =>
      d -> fs.map { case (rel, len) => rel.substring(rel.lastIndexOf('/') + 1) -> len }.toMap
    }

  /** put — ingest a DataFrame as a partitioned parquet table. The partition
    * column layout gives readPartition/pruned-PMR their pruning for free.
    * A `_graft.json` sidecar records schema + scheme + permissions — the
    * namenode-metadata analog (reference keeps these in the Namenode table /
    * Firebase inodes). */
  def put(df: DataFrame, path: String, scheme: PartitionScheme): Unit = {
    val target = abs(path).toString
    // splittability metadata is decided BEFORE the write so the sidecar lands
    // with the data; non-csv formats skip the scan entirely
    val embeddedNl = format == "csv" && hasEmbeddedNewlines(df)
    val (frame, partCol, rangeBounds) = scheme match {
      case Unpartitioned => (df, None, None)
      case HashPartition(c) => (coerceNullKey(df, c), Some(c), None)
      case BucketedHashPartition(c, n) =>
        (df.withColumn(BucketCol, pmod(hash(col(c)), lit(n))), Some(BucketCol), None)
      case RangePartition(c, n) =>
        // Equi-width bins like the reference's pd.cut: one extra pass for
        // min/max (a metadata-only read when parquet stats suffice), then a
        // deterministic bucket id. The top edge folds into the last bucket.
        // An empty/all-null column has no range: everything (i.e. nothing, or
        // the null rows) lands in bucket 0 instead of a MatchError.
        val bounds = df.agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        val (lo, hi) =
          if (bounds.isNullAt(0) || bounds.isNullAt(1)) (0.0, 0.0)
          else (bounds.getDouble(0), bounds.getDouble(1))
        (df.withColumn(BucketCol, rangeBucket(c, lo, hi, n)), Some(BucketCol), Some((lo, hi)))
    }
    val observed = Partials.observe(frame, partCol, servesPartials)
    val w = observed.frame.write
    capped(partCol.fold(w)(w.partitionBy(_))).mode("overwrite").format(format).save(target)
    // after the data write: overwrite mode clears the directory first
    val leaves = listLeaves(path)
    writeSidecar(path, toSidecar(df.schema, scheme, rangeBounds, embeddedNl)
      .copy(versions = Seq(leaves.map(_._1)),
        partials = withFiles(observed.collect(), byDir(leaves))))
  }

  /** Attach each observed directory partial to the files that directory
    * now holds; a listed directory without a partial gets none (and is
    * then never served). */
  private def withFiles(observed: Option[Map[String, DirPartial]],
    files: Map[String, Map[String, Long]]): Map[String, DirPartial] =
    observed.fold(Map.empty[String, DirPartial]) { dirs =>
      files.flatMap { case (d, fs) => dirs.get(d).map(p => d -> p.copy(files = fs)) }
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

  /** The deterministic equi-width bucket id for a range layout. The bounds
    * are FIXED at first put and persisted in the sidecar, so appended batches
    * land in the same bins (out-of-range values clamp to the edge buckets). */
  private def rangeBucket(c: String, lo: Double, hi: Double, n: Int): Column = {
    val width = (hi - lo) / n
    val bucket =
      if (width == 0) lit(0)
      else greatest(least(floor((col(c).cast("double") - lit(lo)) / lit(width)),
        lit(n - 1)), lit(0))
    coalesce(bucket.cast("int"), lit(0))
  }

  /** append — add a batch to an existing table (the incremental-ingest write
    * path; `put` is the full rewrite). The batch may carry NEW columns —
    * parquet's per-file schema plus a merged-schema read makes that a
    * metadata-only evolution, no rewrite of old files (the property that
    * matters when the table is 100 TB and the schema grows a column). The
    * sidecar schema is refreshed to the union so `cat` of an empty-after-rm
    * table still knows the full shape. Partition layout must match the
    * original scheme; the same scheme column is reused. */
  def append(df: DataFrame, path: String): Unit = {
    require(isTable(path), s"append target $path is not a committed table")
    requireCoherentScheme(path, "append")
    val target = abs(path).toString
    val meta0 = readMeta(path)
    // A range table whose persisted bounds are degenerate (lo == hi: the
    // first put was empty, all-null, or single-valued) would route every
    // appended row to bucket 0 forever — heal it by adopting real bounds from
    // the first batch that has them. Persisted BEFORE the data write so the
    // rows below and all future appends bin identically; the rows already in
    // bucket 0 stay readable (bounds only route writes, never reads).
    val meta = meta0.map {
      case m if m.scheme.kind == "range" && m.scheme.lo == m.scheme.hi =>
        val c = m.scheme.column
        val b = df.agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        if (!b.isNullAt(0) && !b.isNullAt(1) && b.getDouble(0) != b.getDouble(1)) {
          val healed = m.copy(scheme =
            m.scheme.copy(lo = b.getDouble(0), hi = b.getDouble(1)))
          writeSidecar(path, healed)
          healed
        } else m
      case m => m
    }
    // CSV is positional: every leaf file must carry exactly the sidecar's
    // column layout (one global schema parses all files), so a batch is
    // reordered to that layout and schema evolution is refused loudly — it
    // is a self-describing-format (parquet/orc) feature, not a CSV one.
    val aligned =
      if (format != "csv") df
      else meta.map(_.schema).filter(_.nonEmpty).map { s =>
        val extra = df.columns.filterNot(c =>
          s.fieldNames.contains(c) || c == BucketCol)
        require(extra.isEmpty,
          s"append: csv tables cannot evolve schema; unknown columns ${extra.mkString(", ")}")
        val missing = s.fieldNames.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"append: csv batch is missing columns ${missing.mkString(", ")}")
        df.select(s.fieldNames.map(col).toIndexedSeq: _*)
      }.getOrElse(df)
    // Reproduce the table's physical layout for the new rows — an appended
    // batch written flat into a bucketed table would corrupt partition
    // discovery (leaf files at the root next to bucket directories).
    val (frame, partCol) = meta.map(_.scheme) match {
      case Some(SidecarScheme("hash", c, _, _, _)) => (coerceNullKey(aligned, c), Some(c))
      case Some(SidecarScheme("bucketed_hash", c, n, _, _)) =>
        (aligned.withColumn(BucketCol, pmod(hash(col(c)), lit(n))), Some(BucketCol))
      case Some(SidecarScheme("range", c, n, lo, hi)) =>
        (aligned.withColumn(BucketCol, rangeBucket(c, lo, hi, n)), Some(BucketCol))
      case _ => (aligned, None)
    }
    // a so-far-clean csv table is re-checked against THIS batch only: once
    // any batch carries a newline the flag is sticky-true (old files are
    // never rescanned); a clean steady-state append pays one early-out scan.
    // Checked BEFORE the data write and flipped dirty-first: a crash between
    // the two writes degrades to the safe multiLine=true read path — the
    // reverse order could leave a clean flag over newline-bearing files and
    // reads would then split records mid-row.
    val nlUpgrade = format == "csv" && meta.exists(!_.embeddedNewlines) &&
      hasEmbeddedNewlines(aligned)
    if (nlUpgrade) meta.foreach(m => writeSidecar(path, m.copy(embeddedNewlines = true)))
    // No flag rollback on a thrown save: a commitJob that fails PARTWAY
    // through its sequential task-file promotion can leave some of the
    // batch's newline-bearing rows in the table, and a restored clean flag
    // over those rows would split records mid-row on read. A failed
    // newline-bearing append therefore leaves the table conservatively
    // dirty (slower whole-file reads, never corrupt ones) — the same
    // degradation an actual crash produces.
    // A tracked table's commit delta is exactly the files THIS write added:
    // the post-write listing minus the pre-write one. Files already on disk
    // but never committed (a dead writer's residue) stay out of the manifest
    // and out of every partial, so vacuum still sees them as orphans.
    val tracked = meta.exists(_.versions.nonEmpty)
    val before = if (tracked) listLeaves(path) else Nil
    val observed = Partials.observe(frame, partCol, tracked && servesPartials)
    val w = observed.frame.write
    capped(partCol.fold(w)(w.partitionBy(_))).mode("append").format(format).save(target)
    // Sidecar schema := recorded schema ∪ the BATCH's newly declared columns.
    // NOT the merged read schema: that re-types partition columns from
    // directory-name inference (BIGINT → INT), reorders them to the end, and
    // records the internal bucket column as if it were user data.
    // Snapshot history: append only ADDS files, so this commit's delta is
    // appended and older deltas stay valid untouched. An untracked legacy
    // table (versions empty) stays untracked — starting history mid-life
    // would fabricate a v1 that never existed.
    meta.foreach { m =>
      val newFields = df.schema.fields.filterNot(f =>
        f.name == BucketCol || m.schema.fieldNames.contains(f.name))
      val added = if (tracked) listLeaves(path).filterNot(before.toSet) else Nil
      writeSidecar(path, m.copy(
        schema = StructType(m.schema.fields ++ newFields),
        embeddedNewlines = m.embeddedNewlines || nlUpgrade,
        versions = if (tracked) m.versions :+ added.map(_._1) else Nil,
        partials = if (tracked) appendPartials(m.partials, observed.collect(),
          byDir(before).keySet, byDir(added)) else Map.empty))
    }
  }

  /** Partials after an append: a directory the batch wrote into combines its
    * old partial with the batch's (rows and files both add); a directory new
    * to the table takes the batch's. A written directory that existed
    * without a partial, or whose batch partial is missing, gets none.
    * Untouched directories keep theirs. */
  private def appendPartials(old: Map[String, DirPartial],
    batch: Option[Map[String, DirPartial]], existed: Set[String],
    added: Map[String, Map[String, Long]]): Map[String, DirPartial] = {
    val touched = added.keySet ++ batch.fold(Set.empty[String])(_.filter(_._2.rows > 0).keySet)
    old.filterNot(e => touched(e._1)) ++ touched.flatMap { d =>
      for {
        b <- batch.flatMap(_.get(d))
        files <- added.get(d)
        fresh = b.copy(files = files)
        p <- if (existed(d)) old.get(d).map(_ + fresh) else Some(fresh)
      } yield d -> p
    }
  }

  /** merge — upsert a batch by key (Delta/Iceberg MERGE semantics: matched
    * keys are replaced by the batch row, unmatched batch rows insert). The
    * property that matters at 100 TB: only partitions the batch TOUCHES are
    * read, merged and rewritten — a 1%-of-partitions batch costs 1% of the
    * table, not a full rewrite. Protocol per touched partition mirrors
    * compact's park-and-swap (no point loses both copies). The touched-value
    * list is driver-side metadata (bounded by partition count, like every
    * partition listing here). A physical rewrite ⇒ snapshot history
    * truncates, same policy as compact/rm. Hash-partitioned tables only —
    * range/bucketed layouts route through their bucket column the same way,
    * but the query surface only needs the reference's hash scheme. */
  def merge(batch: DataFrame, path: String, key: String): Unit = {
    require(isTable(path), s"merge target $path is not a committed table")
    requireCoherentScheme(path, "merge")
    val meta = readMeta(path).getOrElse(sys.error(s"merge: no sidecar at $path"))
    require(meta.scheme.kind == "hash",
      s"merge: only hash-partitioned tables are supported, got ${meta.scheme.kind}")
    val c = meta.scheme.column
    require(batch.columns.sorted.sameElements(meta.schema.fieldNames.sorted),
      s"merge: batch schema ${batch.columns.sorted.mkString(",")} must equal " +
        s"the table's ${meta.schema.fieldNames.sorted.mkString(",")}")
    // cast to the sidecar's DECLARED types: a wider-typed batch (e.g. LONG
    // keys into an INT table) would otherwise widen the union and write
    // files the recorded schema can no longer read
    val aligned = coerceNullKey(
      batch.select(meta.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*), c)
    val touched = aligned.select(col(c)).distinct().collect().map(_.get(0))
    // partition-pruned read of ONLY the touched directories; batch rows win
    // on key collision (left_anti drops the old versions)
    val current = loadTable(path).filter(col(c).isInCollection(touched))
    val merged = current
      .join(aligned.select(col(key).as(key)), Seq(key), "left_anti")
      .unionByName(aligned)
    val base = abs(path)
    val tmp = new Path(base.getParent, base.getName + "__merging")
    fs.delete(tmp, true)
    val observed = Partials.observe(merged.repartition(col(c)), Some(c), servesPartials)
    capped(observed.frame.write.partitionBy(c))
      .mode("overwrite").format(format).save(tmp.toString)
    val oldRoot = new Path(base.getParent, base.getName + "__old")
    fs.delete(oldRoot, true)
    fs.mkdirs(oldRoot)
    val swapped = fs.listStatus(tmp)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    swapped.foreach { d =>
      val name = d.getPath.getName
      val dest = new Path(base, name)
      // park-and-swap; a touched value new to the table has nothing to park
      if (fs.exists(dest))
        require(fs.rename(dest, new Path(oldRoot, name)),
          s"merge: park $name failed")
      require(fs.rename(d.getPath, dest), s"merge: swap $name failed")
    }
    fs.delete(oldRoot, true)
    fs.delete(tmp, true)
    // each swapped directory holds exactly the observed rows; the untouched
    // ones keep their partials
    if (meta.versions.nonEmpty) {
      val leaves = listLeaves(path)
      val names = swapped.map(_.getPath.getName).toSet
      writeSidecar(path, meta.copy(versions = Seq(leaves.map(_._1)),
        partials = meta.partials.filterNot(e => names(e._1)) ++
          withFiles(observed.collect(), byDir(leaves).filter(e => names(e._1)))))
    }
  }

  // ----- A22: vacuum + snapshot expiration (lakehouse maintenance) -----

  /** vacuum — delete everything in and around the table that no snapshot
    * references: leaf files absent from the manifest union (residue of a
    * write that died after task commit but before its delta was recorded),
    * partition directories left empty by those deletes, and the parked
    * sibling roots a crashed compact/merge leaves behind (`<name>__old`,
    * `__compacting`, `__merging` — their swap protocols delete them on
    * success, so their existence IS the crash marker). Returns the number of
    * paths removed.
    *
    * Safety model: single writer (the catalog's standing assumption — every
    * swap protocol here parks-and-renames rather than locking). An in-flight
    * Spark write stages under `_temporary`, which the `_`-prefix rule already
    * excludes from listing, so vacuum cannot eat a running job's output.
    * Time-based retention (Delta's RETAIN n HOURS) exists to protect
    * concurrent READERS of just-rewritten files; manifest-driven reads here
    * pin exact file lists at plan time, so the window is the plan-to-scan gap
    * — vacuum during an active read is the same hazard as compact during one.
    * Cost: one recursive listing + one namenode op per orphan — maintenance
    * is metadata-class work, proportional to residue, never to table size.
    * Works on replicated tables too: the shared manifest is resolved under
    * each replica root. */
  def vacuum(path: String): Long = {
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
    val orphans = listLeafFiles(path).filterNot(live)
    // manifests written before `__graft_bucket=<n>` directories were listed
    // name none of a bucketed/range table's files: refuse rather than delete
    // the whole table as orphans
    def inBucketDir(rel: String) = rel.split('/').exists(_.startsWith("_"))
    require(!orphans.exists(inBucketDir) || live.exists(inBucketDir),
      s"vacuum: the manifest of $path lists no bucket-directory file; re-put the table")
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
    // crashed-swap residue parks OUTSIDE the table root
    Seq("__old", "__compacting", "__merging").foreach { suffix =>
      val parked = new Path(base.getParent, base.getName + suffix)
      if (fs.exists(parked) && fs.delete(parked, true)) removed += 1
    }
    removed
  }

  /** expireSnapshots — bound history growth: fold the oldest deltas into one
    * base so only the most recent `keepLast` snapshots stay readable. Pure
    * sidecar metadata (append-only deltas mean every old file is still part
    * of the CURRENT snapshot — no data becomes deletable, so expiration
    * deletes none); what it bounds is manifest count, the thing that
    * otherwise grows one delta per commit forever. readVersion(i) afterwards
    * addresses the i-th SURVIVING snapshot, oldest first. */
  def expireSnapshots(path: String, keepLast: Int): Unit = {
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
    * parked `__old` root from a crashed compact/merge swap. Exactly the
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
    val parked = new Path(base.getParent, base.getName + "__old")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new Path(parked, "leftover.parquet"), false, true, fs.getConf)
  }

  // ----- A21: 2× replication with per-file failover reads -----

  private val ReplicaDirs = Seq("replica-1", "replica-2")

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
  def putReplicated(df: DataFrame, path: String, scheme: PartitionScheme): Unit = {
    val r1 = s"$path/${ReplicaDirs(0)}"
    val r2 = s"$path/${ReplicaDirs(1)}"
    put(df, r1, scheme)
    // clear any stale second replica BEFORE cloning: manifest-driven reads
    // would never touch leftovers, but dead bytes are storage leaks
    fs.delete(abs(r2), true)
    val files = listLeafFiles(r1)
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
    val m = readMeta(r1).getOrElse(sys.error(s"putReplicated: no sidecar at $r1"))
    // the partials stay with replica-1's own sidecar; the replicated root is
    // read through catReplicated's union and never served from partials
    writeSidecar(path, m.copy(replication = 2, versions = Seq(files), partials = Map.empty))
  }

  /** catReplicated — read a replicated table with per-file failover: the
    * manifest resolves each file to replica-1 when it survives, replica-2
    * otherwise — `IFNULL(replica1, replica2)` (combined_flask.py:284,:522)
    * lifted from a per-block SQL coalesce to manifest resolution. Survival
    * is checked with ONE listStatus per partition directory diffed against
    * the manifest — O(#dirs) driver RPCs, the same listing a file index
    * pays, where a per-file exists() was O(#files) serial round-trips
    * (minutes of driver stalling at object-store latency once a table holds
    * 10⁶-10⁷ files). Data files are scanned exactly once, each replica
    * subset under its own basePath so partition discovery and pruning
    * behave exactly as on an unreplicated read, then unioned — scan ∪ scan,
    * no shuffle. Files lost from BOTH replicas fail loudly with names (the
    * reference would silently emit NULL content). */
  def catReplicated(path: String): DataFrame = {
    val m = readMeta(path).getOrElse(sys.error(s"catReplicated: no sidecar at $path"))
    require(m.replication > 1,
      s"catReplicated: $path is not a replicated table (replication=${m.replication})")
    val manifest = m.versions.flatten
    val roots = ReplicaDirs.map(d => new Path(abs(path), d))
    // manifest-relative parent dir ("" = table root) → one listing each
    def survivors(root: Path, rels: Seq[String]): Set[String] =
      rels.map(dirOf).distinct.iterator.flatMap { d =>
        val dir = if (d.isEmpty) root else new Path(root, d)
        val listed =
          try fs.listStatus(dir).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        listed.filter(_.isFile).map(st =>
          if (d.isEmpty) st.getPath.getName else s"$d/${st.getPath.getName}")
      }.toSet
    val r1 = survivors(roots(0), manifest)
    val (fromR1, rest) = manifest.partition(r1.contains)
    val fromR2 = rest.filter(survivors(roots(1), rest).contains)
    val lost = rest.filterNot(fromR2.contains)
    require(lost.isEmpty,
      s"catReplicated: ${lost.size} file(s) of $path lost from BOTH replicas " +
        s"(e.g. ${lost.head}) — data loss, refusing to return a partial table")
    Seq((roots(0), fromR1), (roots(1), fromR2))
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
    val roots = ReplicaDirs.map(d => new Path(abs(path), d))
    val rows = m.versions.flatten.map { rel =>
      val served =
        if (fs.exists(new Path(roots(0), rel))) 1
        else if (fs.exists(new Path(roots(1), rel))) 2
        else 0
      Row(rel, served)
    }
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

  /** The sidecar's scheme descriptor. */
  private case class SidecarScheme(kind: String, column: String, buckets: Int,
    lo: Double, hi: Double)

  /** The full sidecar record — the namenode-metadata analog.
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
    * permanently valid; compact and rm-inside-a-table are physical
    * deletes, so they truncate history to the single current snapshot. Nil =
    * an untracked legacy table: time travel refuses rather than guessing
    * v1.
    * `replication` > 1 marks a table written by [[putReplicated]]: the data
    * lives under `replica-1/` and `replica-2/` subtrees and `versions` holds
    * the REPLICA-RELATIVE manifest both copies share.
    * `partials` holds, per partition directory (table-relative, "" for an
    * unpartitioned table), the write-time [[DirPartial]] of its committed
    * files: every write that commits rows records them in the same sidecar
    * commit, and `Pmr`'s stats are answered from them when the listing a
    * read holds still matches. */
  private case class Sidecar(schema: StructType, scheme: SidecarScheme,
    permission: String, format: String, embeddedNewlines: Boolean = true,
    versions: Seq[Seq[String]] = Nil, replication: Int = 1,
    partials: Map[String, DirPartial] = Map.empty)

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

  private val MetaFile = "_graft.json"
  private val MetaTmp = MetaFile + ".__new"

  // Jackson (on Spark's classpath) — a real (de)serializer, not string
  // surgery: a partition column literally named "scheme", or names with
  // quotes/backslashes, must round-trip.
  private def mapper = Partials.mapper

  private def renderSidecar(m: Sidecar): String = {
    val root = mapper.createObjectNode()
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(m.schema.json))
    val sc = root.putObject("scheme")
    sc.put("kind", m.scheme.kind)
    sc.put("column", m.scheme.column)
    sc.put("buckets", m.scheme.buckets)
    if (m.scheme.kind == "range") {
      sc.put("range_lo", m.scheme.lo)
      sc.put("range_hi", m.scheme.hi)
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

  /** Sentinel kind for a sidecar whose scheme can't be recovered (malformed
    * JSON, or the "scheme"/"kind" keys are missing). READ paths degrade
    * gracefully on it; WRITE paths that would have to guess the physical
    * layout (append, compact) refuse loudly instead — a defaulted scheme
    * writing flat files into a partitioned table would corrupt partition
    * discovery for the whole table. A genuine unpartitioned table records
    * kind "none" explicitly and is unaffected. */
  private val UnknownScheme = "unknown"

  private def parseSidecar(raw: String): Sidecar = {
    // malformed JSON or missing keys degrade to defaults (scheme → the
    // UnknownScheme sentinel) rather than throwing: a foreign, hand-edited,
    // or pre-atomic-writer-truncated sidecar weakens describe()/cat(), and
    // the layout-dependent writers check the sentinel and refuse
    def optNode(node: Option[com.fasterxml.jackson.databind.JsonNode], f: String) =
      node.flatMap(x => Option(x.get(f)))
    val top = scala.util.Try(mapper.readTree(raw)).toOption.flatMap(Option(_))
    val sc = optNode(top, "scheme")
    Sidecar(
      optNode(top, "schema")
        .flatMap(s => scala.util.Try(
          DataType.fromJson(s.toString).asInstanceOf[StructType]).toOption)
        .getOrElse(new StructType()),
      SidecarScheme(
        optNode(sc, "kind").map(_.asText).getOrElse(UnknownScheme),
        optNode(sc, "column").map(_.asText).getOrElse(""),
        optNode(sc, "buckets").map(_.asInt).getOrElse(0),
        optNode(sc, "range_lo").map(_.asDouble).getOrElse(0.0),
        optNode(sc, "range_hi").map(_.asDouble).getOrElse(0.0)),
      optNode(top, "permission").map(_.asText).getOrElse("644"),
      optNode(top, "format").map(_.asText).getOrElse(format),
      optNode(top, "embedded_newlines").map(_.asBoolean).getOrElse(true),
      optNode(top, "versions").map { v =>
        import scala.jdk.CollectionConverters._
        v.elements().asScala.map(arr =>
          arr.elements().asScala.map(_.asText).toSeq).toSeq
      }.getOrElse(Nil),
      optNode(top, "replication").map(_.asInt).getOrElse(1),
      optNode(top, "partials").map(Partials.parseDirs).getOrElse(Map.empty))
  }

  /** Refuse layout-dependent writes when the recorded scheme is incoherent —
    * better a loud failure than silently guessing a layout and corrupting
    * partition discovery. */
  private def requireCoherentScheme(path: String, op: String): Unit =
    readMeta(path).foreach { m =>
      require(m.scheme.kind != UnknownScheme,
        s"$op: sidecar at $path has no recoverable scheme — refusing to guess the layout")
      require(!(Set("bucketed_hash", "range")(m.scheme.kind) && m.scheme.buckets <= 0),
        s"$op: sidecar at $path declares ${m.scheme.kind} with buckets=${m.scheme.buckets}")
    }

  private def toSidecar(schema: StructType, scheme: PartitionScheme,
    rangeBounds: Option[(Double, Double)],
    embeddedNewlines: Boolean): Sidecar = {
    val (kind, column, buckets) = scheme match {
      case Unpartitioned => ("none", "", 0)
      case HashPartition(c) => ("hash", c, 0)
      case BucketedHashPartition(c, n) => ("bucketed_hash", c, n)
      case RangePartition(c, n) => ("range", c, n)
    }
    Sidecar(schema, SidecarScheme(kind, column, buckets,
      rangeBounds.map(_._1).getOrElse(0.0), rangeBounds.map(_._2).getOrElse(0.0)),
      "644", format, embeddedNewlines)
  }

  /** Atomic sidecar update: write the full new content to a temp name, then
    * delete + rename into place (mirrors compact()'s swap discipline). A crash
    * mid-write can never leave a TRUNCATED `_graft.json`: either the old file
    * is still whole, or it is gone and the complete `.__new` survives —
    * readMetaRaw falls back to it. */
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
    readMetaRaw(path).map(parseSidecar)

  /** describe — the table's catalog metadata as (key, value) rows: the ls -l /
    * namenode-inode view of a table. */
  def describe(path: String): DataFrame = {
    val meta = readMeta(path)
    val kind = meta.map(_.scheme.kind).getOrElse("?")
    val column = meta.map(_.scheme.column).getOrElse("")
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
  private def loadTable(path: String): DataFrame = loadData(path, None)

  /** loadTable, optionally restricted to a subset of partition directories
    * (basePath keeps partition-column discovery intact) — compact reads only
    * the fragmented directories through this. */
  private def loadData(path: String, subset: Option[Seq[Path]]): DataFrame = {
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
        val meta = readMeta(path)
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
        readMeta(path).map(_.schema).filter(_.nonEmpty)
          .fold(reader.option("mergeSchema", "true"))(reader.schema)
          .load(targets: _*)
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sidecarSchema(path))
    }
  }

  /** The schema recorded in the `_graft.json` sidecar at put time. */
  private def sidecarSchema(path: String): StructType =
    readMeta(path).getOrElse(sys.error(s"no sidecar at $path")).schema

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
    val files = m.versions.take(v).flatten.map(rel => new Path(abs(path), rel))
    // loud, diagnosable failure over a runtime FileNotFound mid-scan: a
    // dangling manifest means some physical delete bypassed the truncation
    // hooks (a crash inside compact's swap window, or an out-of-catalog
    // delete). One driver-side stat per manifest file — the same stats the
    // scan's file index would pay anyway.
    val missing = files.filterNot(fs.exists)
    require(missing.isEmpty,
      s"time travel: snapshot $v of $path references ${missing.size} missing " +
        s"file(s) (e.g. ${missing.head}) — history was invalidated by a " +
        "physical delete outside put/append/compact/rm")
    loadData(path, Some(files)).drop(BucketCol)
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

  /** The physical partition column of a table, from its sidecar: the user's
    * column for hash layout, the internal bucket column for bucketed/range,
    * none for unpartitioned. */
  private def physicalPartitionColumn(path: String): Option[String] =
    readMeta(path).map(_.scheme).flatMap {
      case SidecarScheme("hash", c, _, _, _) => Some(c)
      case SidecarScheme("bucketed_hash" | "range", _, _, _, _) => Some(BucketCol)
      case _ => None
    }

  /** compact — rewrite the table so every partition directory holds exactly
    * one file. Many small files per partition are the steady state of
    * incremental ingest (every micro-batch/put appends its own); at 100 TB the
    * namenode/list overhead and per-file open cost dominate reads long before
    * data volume does, so periodic compaction is a first-class catalog op.
    * `repartition(partitionCol)` routes each value to exactly one task, so
    * `partitionBy` emits exactly one file per directory. The rewrite lands
    * complete (data + sidecar) in a temp dir, then swaps in via two renames
    * with the old data parked at `<name>__old` until the new copy is in
    * place — no point in the sequence loses both copies; a crash between the
    * renames leaves the table briefly absent but fully recoverable from
    * either directory. */
  def compact(path: String): Unit = {
    requireCoherentScheme(path, "compact")
    val base = abs(path)
    def dataFiles(p: Path) = fs.listStatus(p).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    def named(files: Seq[org.apache.hadoop.fs.FileStatus]) =
      files.map(f => f.getPath.getName -> f.getLen).toMap
    // directory → its data files before the rewrite
    val rewritten: Map[String, Map[String, Long]] = physicalPartitionColumn(path) match {
      case Some(c) =>
        // Compaction cost scales with FRAGMENTATION, not table size: only
        // directories holding 2+ data files are read, rewritten and swapped;
        // already-compact partitions (the vast majority of a daily run at
        // 100 TB) are untouched. A leaf-capped table cannot distinguish
        // "minimal ceil(rows/cap) files" from fragmentation without row
        // counts, so its multi-file dirs are rewritten each run — the cap
        // bounds that work.
        val frag = fs.listStatus(base).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .map(st => st -> dataFiles(st.getPath).toSeq)
          .filter(_._2.length > 1)
        if (frag.isEmpty) return // nothing fragmented: metadata-only no-op
        val tmp = new Path(base.getParent, base.getName + "__compacting")
        fs.delete(tmp, true)
        // one task per partition value → one file per directory, unless the
        // leaf-file cap splits an oversized value into ceil(rows/cap) files
        capped(loadData(path, Some(frag.map(_._1.getPath)))
            .repartition(col(c)).write.partitionBy(c))
          .mode("overwrite").format(format).save(tmp.toString)
        // swap per fragmented directory (park outside the table root — a
        // parked name containing '=' INSIDE it would be rediscovered as a
        // partition after a crash): no point loses both copies, the root and
        // sidecar are never touched, and a crash strands at most one
        // partition in the parked root, recoverable by rename.
        val oldRoot = new Path(base.getParent, base.getName + "__old")
        fs.delete(oldRoot, true)
        fs.mkdirs(oldRoot)
        frag.foreach { case (d, _) =>
          val name = d.getPath.getName
          val fresh = new Path(tmp, name)
          require(fs.exists(fresh), s"compact: rewrite missing partition $name")
          require(fs.rename(d.getPath, new Path(oldRoot, name)),
            s"compact: park $name failed")
          require(fs.rename(fresh, d.getPath), s"compact: swap $name failed")
        }
        fs.delete(oldRoot, true)
        fs.delete(tmp, true)
        frag.map { case (d, files) => d.getPath.getName -> named(files) }.toMap
      case None =>
        val files = dataFiles(base).toSeq
        if (files.length <= 1) return // already a single file
        val meta = readMetaRaw(path)
        val tmp = new Path(base.getParent, base.getName + "__compacting")
        fs.delete(tmp, true)
        capped(loadTable(path).coalesce(1).write)
          .mode("overwrite").format(format).save(tmp.toString)
        // complete the replacement (sidecar included) BEFORE the original
        meta.foreach { raw =>
          val out = fs.create(new Path(tmp, MetaFile), true)
          try out.write(raw.getBytes("UTF-8")) finally out.close()
        }
        val old = new Path(base.getParent, base.getName + "__old")
        fs.delete(old, true)
        require(fs.rename(base, old), s"compact: park $base -> $old failed")
        require(fs.rename(tmp, base), s"compact: swap $tmp -> $base failed")
        fs.delete(old, true)
        Map("" -> named(files))
    }
    // compact REWRITES files, so every pre-compact manifest now names paths
    // that no longer exist: truncate history to the single current snapshot
    // (production lakehouses either rewrite old manifests or GC snapshots on
    // rewrite — truncation is the honest minimal form). Tables that early-
    // returned above changed nothing and keep their full history.
    // A rewritten directory holds the same rows, so its partial stays and
    // only its file list is refreshed — unless the directory held files its
    // partial never covered (residue), whose rows are now folded in.
    readMeta(path).filter(_.versions.nonEmpty).foreach { m =>
      val leaves = listLeaves(path)
      val now = byDir(leaves)
      writeSidecar(path, m.copy(versions = Seq(leaves.map(_._1)),
        partials = m.partials.flatMap { case (d, p) =>
          rewritten.get(d) match {
            case None => Some(d -> p)
            case Some(pre) if pre == p.files => now.get(d).map(f => d -> p.copy(files = f))
            case _ => None
          }
        }))
    }
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

  /** The write-time partial of `column` over exactly the rows `df` yields,
    * with their row count — or None unless that is provable from metadata
    * alone. Provable means: `df` is a plain parquet/orc scan of a catalog
    * table root (`cat`, `readPartition`), under nothing but attribute-only
    * projections and filters on partition columns; the column is a
    * primitive numeric data column; and for every directory the scan would
    * read, the sidecar records a partial whose file list (name, length)
    * equals the listing the scan holds. The directories are pruned by the
    * relation's own file index, in memory, exactly as the scan would prune
    * them. Crash residue, a rewritten file, a replicated table, a snapshot
    * read (`readVersion`) or a foreign table all yield None. */
  def partialOf(df: DataFrame, column: String): Option[(Long, ColPartial)] = {
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
      partAttrs = AttributeSet(
        rel.output.filter(a => fsRel.partitionSchema.fieldNames.contains(a.name)))
      attr <- rel.output.find(_.exprId == target.exprId)
      if !partAttrs.contains(attr) && Partials.isPrimitive(attr.dataType)
      if filters.forall(f => f.deterministic && !SubqueryExpression.hasSubquery(f) &&
        f.references.subsetOf(partAttrs))
      // a one-file snapshot read is rooted at that file: no sidecar below it
      m <- scala.util.Try(new GraftCatalog(spark, root.toString, fmt).readMeta("")).toOption.flatten
      if m.replication == 1 && m.format == fmt
      served <- {
        val rootPath = root.toUri.getPath
        val listed = fsRel.location.listFiles(filters, Nil).flatMap(_.files)
          .groupBy(f => f.getPath.getParent.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"))
          .map { case (d, fs) => d -> fs.map(f => f.getPath.getName -> f.getLen).toMap }
        // the index drops zero-length files; they hold no rows
        val dirs = listed.toSeq.map { case (d, files) =>
          m.partials.get(d).filter(_.files.filter(_._2 > 0) == files) }
        val cols = dirs.map(_.flatMap(_.cols.get(attr.name).filter(_.dataType == attr.dataType)))
        if (!cols.forall(_.isDefined)) None
        else Some((dirs.flatten.map(_.rows).sum, cols.flatten.reduceOption(_ + _)
          .getOrElse(ColPartial(attr.dataType, 0, 0, None, None, Some(java.math.BigDecimal.ZERO)))))
      }
    } yield served
  }
}
