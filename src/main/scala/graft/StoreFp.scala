package graft

import org.apache.spark.sql.SparkSession

/** On-disk fingerprints for persisted derived stores (round-13 directive):
  * every `ensure*` builder that writes a reusable artifact — the bucketed
  * digest/band/signature tables, the IVF path layouts, the bucketed
  * ANN-join tables — records the SOURCE fingerprint it was built from
  * (Tables.fingerprint) WITH the artifact, so a brand-new JVM can validate
  * and REUSE a store a previous session built instead of dropping and
  * rebuilding it. At 100 TB the band store IS the dedup index and the IVF
  * layout IS the ANN index; a per-session rebuild is exactly the cost those
  * stores exist to amortize. Previously the fingerprints lived only in
  * in-memory TrieMaps, so a fresh session always found them "stale".
  *
  * Two store shapes, one sidecar convention (every sidecar file name ends
  * with [[SidecarName]], so cold-measurement tooling can invalidate ALL of
  * them with one scratch-root walk):
  *
  *  - TABLE stores (saveAsTable + bucketBy): the sidecar lives INSIDE the
  *    table directory (underscore-prefixed — invisible to Spark's file
  *    index, like _SUCCESS) and records the fingerprint plus the schema DDL
  *    and bucket spec, because bucketing metadata exists only in the
  *    session catalog, not in the parquet files: re-registration must
  *    re-declare it or the bucketed-scan plans (zero-exchange joins) would
  *    silently degrade. Adoption registers an EXTERNAL table over the
  *    existing location; rebuild paths therefore always pair DROP TABLE
  *    with an explicit directory delete.
  *  - PATH-layout stores (partitionBy parquet dirs): the sidecar lives
  *    inside the layout directory and records the fingerprint alone (the
  *    reader re-declares nothing — partition discovery is self-describing).
  *
  * The sidecar is written AFTER the build completes (commit marker: a
  * crashed build leaves no sidecar and the next session rebuilds), and a
  * fingerprint MISMATCH rebuilds loudly on stderr — never silently serves
  * a store of the old data.
  */
object StoreFp {

  /** Canonical sidecar file-name suffix — [[invalidateAll]] keys on it. */
  private[graft] val SidecarName = "_graft_store_fp"

  private def warehouseTableDir(spark: SparkSession, tbl: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(GraftConf.warehouseDir(spark),
      tbl.toLowerCase(java.util.Locale.ROOT))

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def readLines(spark: SparkSession,
    p: org.apache.hadoop.fs.Path): Option[Map[String, String]] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val text = new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        Some(text.split('\n').filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap)
      } finally in.close()
    }
  }

  private def writeLines(spark: SparkSession, p: org.apache.hadoop.fs.Path,
    kv: Seq[(String, String)]): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(kv.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---------- TABLE stores ----------

  private def tableSidecar(spark: SparkSession, tbl: String) =
    new org.apache.hadoop.fs.Path(warehouseTableDir(spark, tbl), SidecarName)

  /** Record the source fingerprint + re-registration metadata for a table
    * this session just built (call AFTER saveAsTable returns). */
  def commitTable(spark: SparkSession, tbl: String, fp: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val bs = meta.bucketSpec
    writeLines(spark, tableSidecar(spark, tbl), Seq(
      "fp" -> fp,
      "schema" -> meta.schema.toDDL,
      "numBuckets" -> bs.map(_.numBuckets.toString).getOrElse("0"),
      "bucketCols" -> bs.map(_.bucketColumnNames.mkString(",")).getOrElse(""),
      "sortCols" -> bs.map(_.sortColumnNames.mkString(",")).getOrElse("")))
  }

  /** The fingerprint recorded on disk for `tbl`, if a committed sidecar
    * exists. */
  def tableFp(spark: SparkSession, tbl: String): Option[String] =
    readLines(spark, tableSidecar(spark, tbl)).flatMap(_.get("fp"))

  /** Adopt an on-disk table a PREVIOUS session built: when the sidecar's
    * fingerprint matches `fp`, register an external table over the existing
    * location with the recorded schema and bucket spec and return true.
    * False (no action) when the directory, sidecar or fingerprint doesn't
    * match — the caller rebuilds. */
  def adoptTable(spark: SparkSession, tbl: String, fp: String): Boolean =
    readLines(spark, tableSidecar(spark, tbl)).exists { m =>
      m.get("fp").contains(fp) && m.contains("schema") && {
        val clustered = m.get("numBuckets").filter(_ != "0").map { n =>
          val sorted = m.get("sortCols").filter(_.nonEmpty)
            .map(s => s" SORTED BY (${s.split(',').map(c => s"`$c`").mkString(", ")})")
            .getOrElse("")
          s"CLUSTERED BY (${m("bucketCols").split(',').map(c => s"`$c`").mkString(", ")})" +
            s"$sorted INTO $n BUCKETS"
        }.getOrElse("")
        val loc = warehouseTableDir(spark, tbl).toUri.toString
        spark.sql(s"CREATE TABLE `$tbl` (${m("schema")}) USING PARQUET " +
          s"$clustered LOCATION '$loc'")
        true
      }
    }

  /** ONE build-or-reuse guard for every fingerprinted TABLE store:
    *  - registered + on-disk fingerprint matches → reuse as-is;
    *  - unregistered (fresh JVM) + sidecar matches → ADOPT, no rebuild;
    *  - anything else (missing, crashed build, source data changed) →
    *    drop/delete and rebuild, loudly when a stale store existed.
    * The caller's in-memory memo sits ABOVE this (skips even the sidecar
    * read on the session-hot path). */
  def ensureTable(spark: SparkSession, tbl: String, fp: String)(
    build: => Unit): Unit = {
    if (spark.catalog.tableExists(tbl)) {
      if (tableFp(spark, tbl).contains(fp)) return
      System.err.println(s"[graft] store table $tbl: source fingerprint " +
        "changed — dropping and rebuilding from current data")
      spark.sql(s"DROP TABLE `$tbl`")
      // adopted tables are EXTERNAL — drop leaves the directory behind
      GraftConf.deleteOrphanTableDir(spark, tbl)
    } else if (adoptTable(spark, tbl, fp)) {
      return
    } else {
      // orphan dir with no/stale sidecar (crashed build, old data)
      GraftConf.deleteOrphanTableDir(spark, tbl)
    }
    build
    commitTable(spark, tbl, fp)
  }

  // ---------- PATH-layout stores ----------

  private def dirSidecar(dir: String) = new java.io.File(dir, SidecarName)

  /** Record the source fingerprint inside a just-written layout dir. */
  def commitDir(dir: String, fp: String): Unit = {
    java.nio.file.Files.write(dirSidecar(dir).toPath,
      s"fp=$fp".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** The fingerprint recorded for a path-layout store, if committed. */
  def dirFp(dir: String): Option[String] = {
    val f = dirSidecar(dir)
    if (!f.isFile) None
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').find(_.startsWith("fp=")).map(_.stripPrefix("fp="))
  }

  // ---------- MODEL blobs ----------

  /** TRAINED-MODEL stores (round-14 directive #2): Lloyd centroids, PQ
    * books, the semantic codebook and the LM count blobs are tiny
    * (K×dim / M×Ks×dsub doubles, vocab-sized count lines), bit-deterministic
    * functions of a fingerprinted source — exactly what the sidecar
    * contract covers. Previously only the DERIVED tables persisted while
    * the models lived in session memos, so a fresh JVM re-trained them (and
    * re-derived everything downstream) to get the broadcast literals the
    * plans and oracles need — ColdWarm's jvmwarm lane re-paid most of the
    * cold build for the pq/semantic/ivf families. Stored as text lines
    * (`Double.toString` round-trips bit-exactly, so an adopted model is
    * bit-identical to a retrain — StoreFpSpec pins it); same commit-marker
    * semantics as the layouts: data file first, sidecar second, so a
    * crashed write leaves no sidecar and the next session retrains. The
    * sidecar reuses [[SidecarName]], so [[invalidateAll]] (the genuine-cold
    * hook) forces retraining along with every other store rebuild. */
  private def modelDir(name: String) =
    new java.io.File(s"${GraftConf.localRoot}/graft_models/$name")

  /** The model's data lines, iff a committed sidecar records exactly `fp`. */
  def loadModel(name: String, fp: String): Option[Seq[String]] = {
    val dir = modelDir(name)
    val data = new java.io.File(dir, "model.txt")
    if (data.isFile && dirFp(dir.getAbsolutePath).contains(fp)) {
      import scala.jdk.CollectionConverters._
      Some(java.nio.file.Files.readAllLines(data.toPath,
        java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq)
    } else None
  }

  /** Persist a just-trained model (data, THEN the commit-marker sidecar). */
  def commitModel(name: String, fp: String, lines: Seq[String]): Unit = {
    val dir = modelDir(name)
    dir.mkdirs()
    // RETRAIN crash window: drop the OLD sidecar BEFORE touching model.txt —
    // otherwise a crash between the data write and commitDir leaves the old
    // fp paired with NEW data, and a later session asking for the old fp
    // (e.g. a reverted K budget) would adopt the wrong centroids as
    // bit-valid. With the delete first, every crash state fails safe to
    // "no sidecar → retrain".
    java.nio.file.Files.deleteIfExists(dirSidecar(dir.getAbsolutePath).toPath)
    java.nio.file.Files.write(new java.io.File(dir, "model.txt").toPath,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    commitDir(dir.getAbsolutePath, fp)
  }

  /** Load-or-train: the ensureTable contract for model blobs. */
  def ensureModel(name: String, fp: String)(train: => Seq[String]): Seq[String] =
    loadModel(name, fp).getOrElse {
      val lines = train
      commitModel(name, fp, lines)
      lines
    }

  // ---------- cold-path invalidation ----------

  /** Delete EVERY store fingerprint under the scratch root — the genuine
    * cold-path hook (tools.ColdWarm): with the sidecars gone, every
    * ensure* builder rebuilds from source data even though the store bytes
    * are still on disk. Clearing the in-memory memos alone no longer forces
    * that (by design — that is the fresh-JVM REUSE path this object
    * exists to enable). */
  def invalidateAll(): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(walk)
      else if (f.getName.endsWith(SidecarName))
        org.apache.commons.io.FileUtils.deleteQuietly(f)
    walk(new java.io.File(GraftConf.localRoot))
  }
}
