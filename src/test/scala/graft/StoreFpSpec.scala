package graft

import org.apache.spark.sql.functions._

/** Persisted store fingerprints (StoreFp): a valid on-disk store must
  * survive the session that built it — a brand-new JVM (simulated here by
  * clearing the in-memory memos / using a never-registered table name)
  * validates the sidecar fingerprint and ADOPTS the store instead of
  * dropping and rebuilding it; a MISMATCHED fingerprint rebuilds. */
class StoreFpSpec extends SparkSpec {

  private def digestTbl =
    s"corpus_digests${sfDir.replaceAll("[^A-Za-z0-9]+", "_")}"

  private def tableDir(tbl: String) =
    new java.io.File(s"${GraftConf.localRoot}/graft_warehouse/$tbl")

  /** name:mtime listing — unchanged listing == nothing was rewritten. */
  private def listing(d: java.io.File): Set[String] =
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(f => s"${f.getName}:${f.lastModified}").toSet

  test("store table reuse survives in-memory memo eviction (no rebuild)") {
    // build (or adopt) the C16 digest store, then simulate the fresh-session
    // memo state: with the sidecar fingerprint intact the second call must
    // consume the table AS-IS — byte-for-byte, no file rewritten
    val r1 = operators.Dedup.dedupIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val dir = tableDir(digestTbl)
    assert(new java.io.File(dir, "_graft_store_fp").isFile,
      "store build did not commit its fingerprint sidecar")
    val l1 = listing(dir)
    operators.Dedup.clear()
    val r2 = operators.Dedup.dedupIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(r2 == r1, "post-eviction run drifted")
    assert(listing(dir) == l1,
      "a valid persisted store was rebuilt after memo eviction — the " +
        "on-disk fingerprint should have validated it")
  }

  test("minhash signature and media-hash stores persist and adopt bit-exactly (r15 #3)") {
    // the last two memo-only derived stores joined the doctrine this round:
    // one signature pass / one decode+hash pass per corpus generation,
    // adopted as-is (no file rewritten) by a fresh-memo session, with
    // bit-identical query results on top
    val slug = sfDir.replaceAll("[^A-Za-z0-9]+", "_")
    for ((tbl, q) <- Seq(
        ("minhash_sigs" + slug, "dedup_minhash"),
        ("media_hashes" + slug, "dedup_media"),
        ("wav_hashes" + slug, "dedup_media_wav"))) {
      val r1 = SparkEntry.queries(q)(spark, sfDir).collect().map(_.toSeq).toSeq
      val dir = tableDir(tbl)
      assert(new java.io.File(dir, "_graft_store_fp").isFile,
        s"$tbl build did not commit its fingerprint sidecar")
      val l1 = listing(dir)
      operators.Dedup.clear()
      operators.Similarity.clearCaches()
      val r2 = SparkEntry.queries(q)(spark, sfDir).collect().map(_.toSeq).toSeq
      assert(r2 == r1, s"$q drifted after memo eviction")
      assert(listing(dir) == l1,
        s"a valid persisted $tbl store was rebuilt after memo eviction")
    }
  }

  test("a never-registered table with a matching sidecar is adopted, with its bucket spec") {
    // the true fresh-JVM path: the catalog has NEVER seen this name, only
    // the directory + sidecar exist (here: a byte-copy of the real store)
    operators.Dedup.dedupIncremental(spark, sfDir).collect()
    val fp = Tables.fingerprint(sfDir, "documents")
    val tbl2 = digestTbl + "_adopt_probe"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl2`")
    org.apache.commons.io.FileUtils.deleteQuietly(tableDir(tbl2))
    org.apache.commons.io.FileUtils.copyDirectory(
      tableDir(digestTbl), tableDir(tbl2))
    try {
      assert(StoreFp.adoptTable(spark, tbl2, fp), "adoption refused a valid store")
      // content equals the original store
      val orig = spark.table(digestTbl).orderBy(col("corpus_id"))
        .collect().map(_.toSeq).toSeq
      val adopted = spark.table(tbl2).orderBy(col("corpus_id"))
        .collect().map(_.toSeq).toSeq
      assert(adopted == orig, "adopted table content diverged")
      // the BUCKET SPEC must survive re-registration — it exists only in
      // catalog metadata, and without it every zero-exchange join plan the
      // store exists for silently degrades
      val bs = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl2)).bucketSpec
      assert(bs.exists(b => b.numBuckets == 8 && b.bucketColumnNames == Seq("h")),
        s"adopted bucket spec wrong: $bs")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$tbl2`")
      org.apache.commons.io.FileUtils.deleteQuietly(tableDir(tbl2))
    }
  }

  test("fingerprint mismatch rebuilds; missing sidecar refuses adoption") {
    operators.Dedup.dedupIncremental(spark, sfDir).collect()
    val tbl3 = digestTbl + "_mismatch_probe"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl3`")
    org.apache.commons.io.FileUtils.deleteQuietly(tableDir(tbl3))
    org.apache.commons.io.FileUtils.copyDirectory(
      tableDir(digestTbl), tableDir(tbl3))
    try {
      // stale fingerprint (source data "changed") → adoption must refuse
      // and ensureTable must run the build
      assert(!StoreFp.adoptTable(spark, tbl3, "other-fingerprint"),
        "adoption accepted a mismatched fingerprint")
      var built = false
      StoreFp.ensureTable(spark, tbl3, "other-fingerprint") {
        built = true
        spark.range(1).select(col("id").as("h"))
          .write.bucketBy(2, "h").mode("overwrite").saveAsTable(tbl3)
      }
      assert(built, "ensureTable served a store with a mismatched fingerprint")
      // ...and the new sidecar now validates without rebuilding
      var rebuilt = false
      StoreFp.ensureTable(spark, tbl3, "other-fingerprint") { rebuilt = true }
      assert(!rebuilt, "ensureTable rebuilt a just-committed store")
      // crashed-build shape: directory without a sidecar → refuse adoption
      spark.sql(s"DROP TABLE `$tbl3`")
      GraftConf.deleteOrphanTableDir(spark, tbl3)
      org.apache.commons.io.FileUtils.copyDirectory(
        tableDir(digestTbl), tableDir(tbl3))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tableDir(tbl3), "_graft_store_fp"))
      assert(!StoreFp.adoptTable(spark, tbl3, Tables.fingerprint(sfDir, "documents")),
        "adoption accepted a store with no committed sidecar")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$tbl3`")
      org.apache.commons.io.FileUtils.deleteQuietly(tableDir(tbl3))
    }
  }

  test("kNN graph store is adopted across memo eviction; consumers never re-score") {
    // the r14 store doctrine applied to the graph: after every in-memory
    // memo is evicted (what a brand-new JVM starts with), both the
    // presentation query and the SemDeDup consumer must ADOPT the
    // persisted edge table — same rows, not one parquet file rewritten
    // (a rewrite would mean the ~N²·nProbe/K edge scoring ran again)
    val out1 = operators.Similarity.knnGraph(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val dup1 = operators.Similarity.dedupSemanticKnn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val dir = tableDir("knn_graph_ivf" + sfDir.replaceAll("[^A-Za-z0-9]+", "_"))
    assert(new java.io.File(dir, "_graft_store_fp").isFile,
      "graph store build did not commit its fingerprint sidecar")
    val m1 = listing(dir)
    assert(m1.nonEmpty, "graph store table dir is empty")
    operators.Similarity.clearCaches()
    operators.Dedup.clear()
    val out2 = operators.Similarity.knnGraph(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(out2 == out1, "graph read over the adopted store drifted")
    assert(listing(dir) == m1,
      "a valid persisted graph store was rewritten after memo eviction")
    operators.Similarity.clearCaches()
    operators.Dedup.clear()
    val dup2 = operators.Similarity.dedupSemanticKnn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(dup2 == dup1, "SemDeDup verdicts over the adopted store drifted")
    assert(listing(dir) == m1,
      "the verdict consumer rebuilt a valid persisted graph store")
  }

  test("trained models persist and adopt bit-for-bit (no retrain after memo eviction)") {
    // the r14 directive-#2 pin: Lloyd centroids, PQ books, the semantic
    // codebook and the LM blobs are persisted StoreFp model blobs — after
    // every in-memory memo is evicted (a brand-new JVM's state), each
    // trainer must ADOPT its model file (mtime unchanged — no rewrite)
    // and the adopted values must equal the trained ones BIT-FOR-BIT
    // (raw IEEE bits, not numeric ==), because those exact doubles are
    // inlined into plans and oracles
    def modelFile(name: String) = new java.io.File(
      s"${GraftConf.localRoot}/graft_models/$name${sfDir.replaceAll("[^A-Za-z0-9]+", "_")}/model.txt")
    def bits(v: Array[Double]): Seq[Long] =
      v.map(java.lang.Double.doubleToRawLongBits).toSeq
    def cbBits(cb: Array[(Int, Array[Double])]): Seq[(Int, Seq[Long])] =
      cb.map { case (c, v) => (c, bits(v)) }.toSeq
    val cb1 = cbBits(operators.Similarity.trainCodebook(spark, sfDir))
    val corpus1 = cbBits(operators.Similarity.corpusCodebook(spark, sfDir))
    val pq1 = operators.Similarity.trainPqCodebooks(spark, sfDir)
      .map(_.map(bits).toSeq).toSeq
    val sem1 = cbBits(operators.Similarity.trainSemanticCodebook(spark, sfDir))
    val lm1 = operators.TextAnalysis.lmModel(spark, sfDir)
    val names = Seq("ivf_codebook", "ivf_corpus_codebook", "pq_books",
      "semantic_codebook", "lm_uni", "lm_bi")
    names.foreach(n => assert(modelFile(n).isFile, s"model blob $n missing"))
    val mtimes = names.map(n => n -> modelFile(n).lastModified).toMap
    operators.Similarity.clearCaches()
    operators.TextAnalysis.clearLmCache()
    operators.Dedup.clear()
    assert(cbBits(operators.Similarity.trainCodebook(spark, sfDir)) == cb1,
      "adopted IVF codebook != trained bits")
    assert(cbBits(operators.Similarity.corpusCodebook(spark, sfDir)) == corpus1,
      "adopted corpus codebook != trained bits")
    assert(operators.Similarity.trainPqCodebooks(spark, sfDir)
        .map(_.map(bits).toSeq).toSeq == pq1,
      "adopted PQ books != trained bits")
    assert(cbBits(operators.Similarity.trainSemanticCodebook(spark, sfDir)) == sem1,
      "adopted semantic codebook != trained bits")
    assert(operators.TextAnalysis.lmModel(spark, sfDir) == lm1,
      "adopted LM blobs != trained")
    names.foreach(n => assert(modelFile(n).lastModified == mtimes(n),
      s"model blob $n was rewritten after memo eviction — adoption should " +
        "have served it"))
  }

  test("IVF path layout is adopted across memo eviction") {
    val out1 = operators.Similarity.simIvfPruned(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val dir = new java.io.File(
      s"${GraftConf.localRoot}/graft_ivf/${sfDir.replaceAll("[^A-Za-z0-9]+", "_")}")
    assert(new java.io.File(dir, "_graft_store_fp").isFile,
      "IVF layout build did not commit its fingerprint sidecar")
    def mtimes(): Set[String] = {
      val s = java.nio.file.Files.walk(dir.toPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString + ":" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toSet
      } finally s.close()
    }
    val m1 = mtimes()
    operators.Similarity.clearCaches()
    operators.Dedup.clear()
    val out2 = operators.Similarity.simIvfPruned(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(out2 == out1, "probe over the adopted layout drifted")
    assert(mtimes() == m1,
      "a valid persisted IVF layout was rewritten after memo eviction")
  }

  test("IVF adoption in a cleared session learns the K tag with no Spark job") {
    // stores built or adopted, and the embeddings schema resolved
    operators.Similarity.simIvfPruned(spark, sfDir).collect()
    operators.Similarity.clearCaches()
    val (_, adoptJobs) = jobsDuring(operators.Similarity.ensureIvfIndex(spark, sfDir))
    assert(adoptJobs == 0, s"adoption ran $adoptJobs job(s)")
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(operators.Similarity.ivfKFor(spark, sfDir) == operators.Similarity.ivfK(n))
    // the probe builder's only eager job left is the query-vector lookup
    operators.Similarity.clearCaches()
    val (_, buildJobs) = jobsDuring(operators.Similarity.simIvfPruned(spark, sfDir))
    assert(buildJobs <= 1, s"adoption plus the probe build ran $buildJobs job(s)")
  }

  test("an added embeddings file still forces the IVF stores to rebuild") {
    val src = new java.io.File(s"${GraftConf.localRoot}/test_ivf_src")
    val slug = src.getAbsolutePath.replaceAll("[^A-Za-z0-9]+", "_")
    val layout = new java.io.File(s"${GraftConf.localRoot}/graft_ivf/$slug")
    val model = new java.io.File(s"${GraftConf.localRoot}/graft_models/ivf_codebook$slug")
    def clean(): Unit = Seq(src, layout, model)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    clean()
    val table = new java.io.File(src, "embeddings.parquet").getAbsolutePath
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    e.coalesce(1).write.parquet(table)
    try {
      operators.Similarity.clearCaches()
      operators.Similarity.ensureIvfIndex(spark, src.getAbsolutePath)
      val fp1 = StoreFp.dirFp(layout.getAbsolutePath)
      assert(fp1.exists(_.startsWith(Tables.fingerprint(src.getAbsolutePath, "embeddings"))))
      val n1 = spark.read.parquet(layout.getAbsolutePath).count()
      val top = e.agg(max(col("vec_id"))).head().getAs[Number](0).longValue
      e.filter(col("vec_id") < 40)
        .withColumn("vec_id", (col("vec_id") + top + 1).cast(e.schema("vec_id").dataType))
        .coalesce(1).write.mode("append").parquet(table)
      operators.Similarity.clearCaches()
      operators.Similarity.ensureIvfIndex(spark, src.getAbsolutePath)
      val fp2 = StoreFp.dirFp(layout.getAbsolutePath)
      assert(fp2 != fp1, "an added source file left the layout's fingerprint unchanged")
      assert(fp2.exists(_.startsWith(Tables.fingerprint(src.getAbsolutePath, "embeddings"))))
      assert(spark.read.parquet(layout.getAbsolutePath).count() == n1 + 40,
        "the layout was adopted instead of rebuilt from the changed source")
    } finally {
      operators.Similarity.clearCaches()
      clean()
    }
  }

  test("the footer row count equals count() beside _SUCCESS, .crc and empty part files") {
    val dir = new java.io.File(s"${GraftConf.localRoot}/test_footer_rows")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val table = new java.io.File(dir, "embeddings.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    e.repartition(2).write.parquet(table.getAbsolutePath)
    // a part file with a footer and no row, and one of zero bytes
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], e.schema)
      .write.mode("append").parquet(table.getAbsolutePath)
    java.nio.file.Files.createFile(new java.io.File(table, "part-99999-empty.parquet").toPath)
    val names = table.list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(names.count(_.startsWith("part-")) == 4, names)
    val df = Tables.load(spark, dir.getAbsolutePath, "embeddings")
    assert(operators.Similarity.footerRows(df) == df.count())
    assert(df.count() == e.count())
  }
}
