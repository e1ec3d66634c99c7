package graft

import org.apache.spark.sql.functions._

import graft.edfs.{GraftCatalog, HashPartition, RangePartition, BucketedHashPartition, Unpartitioned}

class CatalogSpec extends SparkSpec {

  private def freshCatalog(name: String, format: String = "parquet",
    maxRecordsPerFile: Long = 0): GraftCatalog = {
    val root = s"${GraftConf.localRoot}/test_edfs/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    new GraftCatalog(spark, root, format, maxRecordsPerFile)
  }

  test("mkdir/ls/rm namespace semantics") {
    val cat = freshCatalog("ns")
    assert(cat.mkdir("a/b/c"))
    val names = cat.ls("a").collect().map(_.getString(0)).toSeq
    assert(names == Seq("b"))
    // rm refuses non-empty dir without recursive (reference rm behavior)
    assert(!cat.rm("a"))
    assert(cat.rm("a/b/c"))
    assert(cat.rm("a", recursive = true))
  }

  test("hash-partitioned put/cat round trip is lossless") {
    val cat = freshCatalog("roundtrip")
    val src = Tables.load(spark, sfDir, "customer")
    cat.put(src, "t", HashPartition("c_nationkey"))
    val back = cat.cat("t")
    assert(back.count() == src.count())
    assert(back.select(sum("c_custkey")).head().getLong(0) ==
      src.select(sum("c_custkey")).head().getLong(0))
  }

  test("time travel reads each snapshot exactly; compact truncates history") {
    val cat = freshCatalog("timetravel")
    val nation = Tables.load(spark, sfDir, "nation")
    val v1 = nation.filter(col("n_nationkey") < 10)
    val v2batch = nation.filter(col("n_nationkey") >= 10)
    cat.put(v1.repartition(4), "t", HashPartition("n_regionkey"))
    assert(cat.snapshotCount("t") == 1)
    cat.append(v2batch, "t")
    assert(cat.snapshotCount("t") == 2)
    // each snapshot is exact: v1 excludes the appended rows, v2 is current
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("n_nationkey").collect()
        .map(_.getAs[Number](0).longValue).toSet
    assert(keys(cat.readVersion("t", 1)) == keys(v1))
    assert(keys(cat.readVersion("t", 2)) == keys(nation))
    // a third append keeps all history valid
    cat.append(nation.filter(col("n_nationkey") === 0)
      .withColumn("n_nationkey", col("n_nationkey") + 100), "t")
    assert(cat.snapshotCount("t") == 3)
    assert(keys(cat.readVersion("t", 1)) == keys(v1))
    // out-of-range versions refuse loudly
    intercept[IllegalArgumentException](cat.readVersion("t", 4))
    intercept[IllegalArgumentException](cat.readVersion("t", 0))
    // compact rewrites files -> history truncates to the current snapshot,
    // which still reads the full current state
    cat.compact("t")
    assert(cat.snapshotCount("t") == 1)
    assert(keys(cat.readVersion("t", 1)) ==
      keys(nation) + 100L)
    // a snapshot read prunes partitions like a current read
    val pruned = cat.readVersion("t", 1).filter(col("n_regionkey") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[\\w".r.findFirstIn(plan).nonEmpty,
      s"snapshot read lost partition pruning:\n${plan.take(1500)}")
    assert(pruned.count() ==
      nation.filter(col("n_regionkey") === 1).count())
    // rm INSIDE the table is a physical delete: history truncates to the
    // current state (dangling manifests would otherwise name deleted files)
    cat.append(nation.filter(col("n_nationkey") === 1)
      .withColumn("n_nationkey", col("n_nationkey") + 200), "t")
    assert(cat.snapshotCount("t") == 2)
    assert(cat.rm("t/n_regionkey=1", recursive = true))
    assert(cat.snapshotCount("t") == 1)
    val survivors = cat.readVersion("t", 1)
    assert(survivors.filter(col("n_regionkey") === 1).count() == 0,
      "rm'd partition rows must be gone from the surviving snapshot")
    assert(survivors.count() == cat.cat("t").count(),
      "the surviving snapshot must equal the current state")
  }

  test("merge upserts by key and rewrites ONLY the touched partitions") {
    val cat = freshCatalog("merge")
    val nation = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    cat.put(nation, "t", HashPartition("n_regionkey"))
    val root = new java.io.File(s"${GraftConf.localRoot}/test_edfs/merge/t")
    def files(region: Int): Map[String, Long] = {
      val d = new java.io.File(root, s"n_regionkey=$region")
      d.listFiles().filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = files(4)
    // batch: update nation 0 (region 0), insert key 500 into region 1
    import spark.implicits._
    val batch = Seq((0L, "RENAMED", 0L), (500L, "NEWLAND", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    cat.merge(batch, "t", "n_nationkey")
    val back = cat.cat("t").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[String]("n_name")).toMap
    assert(back.size == nation.count() + 1, "one insert expected")
    assert(back(0L) == "RENAMED", "matched key must take the batch row")
    assert(back(500L) == "NEWLAND", "unmatched batch key must insert")
    assert(back(5L) == nation.filter(col("n_nationkey") === 5)
      .head().getString(1), "unrelated rows unchanged")
    // the partition-scoped-rewrite property: untouched region 4's files are
    // byte-for-byte the same (names AND mtimes)
    assert(files(4) == untouchedBefore,
      "merge rewrote an untouched partition")
    // physical rewrite of touched partitions truncates snapshot history
    assert(cat.snapshotCount("t") == 1)
    // schema mismatch refuses loudly
    intercept[IllegalArgumentException](
      cat.merge(batch.withColumn("extra", lit(1)), "t", "n_nationkey"))
  }

  test("readPartition prunes to the single matching directory") {
    val cat = freshCatalog("prune")
    cat.put(Tables.load(spark, sfDir, "customer"), "t", HashPartition("c_nationkey"))
    val part = cat.readPartition("t", "c_nationkey", 3)
    assert(part.select("c_nationkey").distinct().collect().map(_.get(0)).toSeq == Seq(3))
    // partition pruning must show up in the physical plan
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("c_nationkey"),
      s"expected partition filters in plan:\n$plan")
  }

  test("range partitioning buckets cover all rows and bound each bucket") {
    val cat = freshCatalog("range")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src, "t", RangePartition("o_totalprice", 8))
    assert(cat.cat("t").count() == src.count())
    val nParts = cat.partitionLocations("t").count()
    assert(nParts >= 1 && nParts <= 8, s"got $nParts range buckets")
  }

  test("range partitioning survives empty and all-null inputs") {
    val cat = freshCatalog("range_edge")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src.filter(lit(false)), "empty", RangePartition("o_totalprice", 8))
    assert(cat.cat("empty").count() == 0)
    val nulls = src.limit(7).withColumn("o_totalprice", lit(null).cast("double"))
    cat.put(nulls, "nulls", RangePartition("o_totalprice", 8))
    assert(cat.cat("nulls").count() == 7)
  }

  test("compact collapses multi-file partitions to one file, losslessly") {
    val cat = freshCatalog("compact")
    val src = Tables.load(spark, sfDir, "customer")
    cat.put(src.repartition(4), "t", HashPartition("c_nationkey"))
    val before = cat.partitionLocations("t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(before.values.exists(_ > 1), s"fixture should start multi-file: $before")
    cat.compact("t")
    val after = cat.partitionLocations("t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(after.keySet == before.keySet, "partition set must be preserved")
    assert(after.values.forall(_ == 1), s"expected 1 file per partition: $after")
    assert(cat.cat("t").count() == src.count())
    assert(cat.describe("t").collect().map(r => r.getString(0) -> r.getString(1))
      .toMap.apply("scheme") == "hash") // sidecar survived the swap
  }

  test("compact skips already-compact partitions (fragmentation-proportional)") {
    val root = s"${GraftConf.localRoot}/test_edfs/compact_skip"
    val cat = freshCatalog("compact_skip")
    cat.put(Tables.load(spark, sfDir, "customer").repartition(4),
      "t", HashPartition("c_nationkey"))
    cat.compact("t")
    // second compact must be a metadata-only no-op: every leaf file keeps its
    // exact path and mtime (a rewrite would mint new part-file names)
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/t")).filterNot(_.getName.startsWith("."))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = snapshot()
    cat.compact("t")
    assert(snapshot() == before, "re-compacting a compact table must not rewrite")
  }

  test("append reproduces bucketed and range layouts (no flat files at the root)") {
    val cat = freshCatalog("append_layout")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src, "b", BucketedHashPartition("o_orderkey", 8))
    cat.append(src.limit(20), "b")
    assert(cat.cat("b").count() == src.count() + 20)
    assert(cat.partitionLocations("b").count() <= 8)
    cat.put(src, "r", RangePartition("o_totalprice", 8))
    val binsBefore = cat.partitionLocations("r").collect().map(_.getString(0)).toSet
    cat.append(src.limit(20), "r")
    assert(cat.cat("r").count() == src.count() + 20)
    // appended rows land in the ORIGINAL bins (bounds persisted in sidecar)
    val binsAfter = cat.partitionLocations("r").collect().map(_.getString(0)).toSet
    assert(binsAfter == binsBefore, s"new bins appeared: ${binsAfter -- binsBefore}")
  }

  test("compact after schema evolution preserves the evolved shape") {
    val cat = freshCatalog("evolve_compact")
    val src = Tables.load(spark, sfDir, "nation")
    cat.put(src, "t", HashPartition("n_regionkey"))
    cat.append(src.withColumn("n_flag", col("n_nationkey") * 10), "t")
    cat.compact("t")
    val back = cat.cat("t")
    assert(back.count() == src.count() * 2)
    assert(back.columns.contains("n_flag"))
    // old rows surface the evolved column as null, new rows carry values
    assert(back.filter(col("n_flag").isNull).count() == src.count())
    assert(back.filter(col("n_flag").isNotNull).count() == src.count())
    assert(cat.partitionLocations("t").collect().forall(_.getInt(1) == 1))
  }

  test("orc and json backends read evolved schemas through the sidecar") {
    // the sidecar-schema read path must null-fill files that predate an
    // evolved column for every self-describing format, not just parquet
    for (fmt <- Seq("orc", "json")) {
      val cat = freshCatalog(s"evolve_$fmt", format = fmt)
      val src = Tables.load(spark, sfDir, "nation")
      cat.put(src, "t", HashPartition("n_regionkey"))
      cat.append(src.withColumn("n_flag", col("n_nationkey") * 10), "t")
      val back = cat.cat("t")
      assert(back.columns.contains("n_flag"), s"$fmt: evolved column missing")
      assert(back.count() == src.count() * 2)
      assert(back.filter(col("n_flag").isNull).count() == src.count(),
        s"$fmt: old files must surface the new column as null")
      assert(back.filter(col("n_flag").isNotNull).count() == src.count())
    }
  }

  test("putCsv ingests a headered CSV and catOrdered restores file order") {
    val cat = freshCatalog("csv")
    val csvDir = s"${GraftConf.localRoot}/test_edfs/csv_src"
    Tables.load(spark, sfDir, "region")
      .orderBy("r_regionkey")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    cat.putCsv(csvDir, "t", HashPartition("r_regionkey"))
    val back = cat.catOrdered("t").collect()
    assert(back.length == 5)
    // ingest order restored despite hash-partitioned storage
    assert(back.map(_.getAs[Any]("r_regionkey").toString.toInt).toSeq == Seq(0, 1, 2, 3, 4))
    assert(!back.head.schema.fieldNames.exists(_.startsWith("__graft")))
  }

  test("describe exposes the metadata sidecar of a written table") {
    val cat = freshCatalog("meta")
    cat.put(Tables.load(spark, sfDir, "customer"), "t", HashPartition("c_nationkey"))
    val kv = cat.describe("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("scheme") == "hash")
    assert(kv("partition_column") == "c_nationkey")
    assert(kv("committed") == "true")
    assert(kv("num_partitions").toInt > 1)
  }

  test("bucketed hash partitioning bounds fan-out for high-cardinality keys") {
    val cat = freshCatalog("bucketed")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src, "t", BucketedHashPartition("o_orderkey", 16))
    assert(cat.partitionLocations("t").count() <= 16)
    assert(cat.cat("t").count() == src.count())
    // internal bucket column must not leak into user data
    assert(!cat.cat("t").columns.exists(_.startsWith("__graft")))
  }

  test("null hash keys land in a declared sentinel partition and round-trip") {
    val cat = freshCatalog("nullkey")
    import spark.implicits._
    // numeric key: nulls coerce to 0 (reference put, combined_flask.py:406)
    val df = Seq(("a", Option(1)), ("b", Option.empty[Int]),
      ("c", Option(2)), ("d", Option.empty[Int])).toDF("name", "k")
    cat.put(df, "t", HashPartition("k"))
    assert(cat.cat("t").count() == 4)
    assert(cat.readPartition("t", "k", 0).collect().map(_.getString(0)).toSet ==
      Set("b", "d"))
    val parts = cat.partitionLocations("t").collect().map(_.getString(0)).toSet
    assert(parts.contains("k=0"), s"expected declared k=0 partition: $parts")
    assert(!parts.exists(_.contains("HIVE_DEFAULT")),
      s"null keys must not fall into the engine default partition: $parts")
    // string key: nulls coerce to "NULL"
    val sdf = Seq(("a", "x"), ("b", null), ("c", "y")).toDF("name", "s")
    cat.put(sdf, "ts", HashPartition("s"))
    assert(cat.cat("ts").count() == 3)
    assert(cat.readPartition("ts", "s", "NULL").collect()
      .map(_.getString(0)).toSeq == Seq("b"))
  }

  test("leaf-file cap bounds rows per file through put and compact") {
    val cat = freshCatalog("cap", maxRecordsPerFile = 10)
    // one upstream task per partition dir isolates the cap as the only reason
    // a directory can hold more than one file
    val src = Tables.load(spark, sfDir, "customer").repartition(1)
    cat.put(src, "t", HashPartition("c_mktsegment"))
    val files = cat.partitionLocations("t").collect()
      .map(r => r.getString(0) -> r.getInt(1))
    assert(files.nonEmpty && files.forall(_._2 > 1),
      s"a 10-record cap must split each ~30-row segment partition: ${files.toSeq}")
    assert(cat.cat("t").count() == src.count())
    cat.compact("t")
    val after = cat.partitionLocations("t").collect()
      .map(r => r.getString(0) -> r.getInt(1))
    assert(after.forall(_._2 > 1), s"compact must respect the cap: ${after.toSeq}")
    assert(after.map(_._1).toSet == files.map(_._1).toSet)
    assert(cat.cat("t").count() == src.count())
  }

  test("sidecar survives a partition column named 'scheme' and quoted names") {
    val cat = freshCatalog("sidecar_names")
    import spark.implicits._
    // "scheme" collides with the sidecar's own top-level key; the value
    // column name contains a quote and a backslash — both would mis-slice a
    // string-surgery parser
    val df = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0))
      .toDF("id", "scheme", "va\"l\\ue")
    cat.put(df, "t", HashPartition("scheme"))
    assert(cat.cat("t").count() == 3)
    assert(cat.readPartition("t", "scheme", "a").count() == 2)
    val batch = Seq((4, "c", 4.0, true)).toDF("id", "scheme", "va\"l\\ue", "new\"col")
    cat.append(batch, "t") // schema-evolving append re-reads + rewrites the sidecar
    val back = cat.cat("t")
    assert(back.count() == 4)
    assert(back.columns.contains("new\"col"))
    val kv = cat.describe("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("scheme") == "hash" && kv("partition_column") == "scheme")
  }

  test("csv backend: typed reads, partition pruning, compaction, empty cat") {
    val cat = freshCatalog("csv_backend", format = "csv")
    val src = Tables.load(spark, sfDir, "supplier")
    cat.put(src.repartition(4), "t", HashPartition("s_nationkey"))
    // types come from the sidecar, not all-strings inference
    val back = cat.cat("t")
    assert(back.schema("s_acctbal").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(back.count() == src.count())
    // partition pruning works through the explicit-schema csv read
    val part = cat.readPartition("t", "s_nationkey", 3)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("s_nationkey"),
      s"expected csv partition pruning:\n${plan.take(1200)}")
    // compact keeps the csv format and stays lossless
    cat.compact("t")
    assert(cat.cat("t").count() == src.count())
    assert(cat.partitionLocations("t").collect().forall(_.getInt(1) == 1))
    // empty table: the full sidecar schema survives, partition column included
    cat.put(src.filter(lit(false)), "empty", HashPartition("s_nationkey"))
    assert(cat.cat("empty").count() == 0)
    assert(cat.cat("empty").columns.contains("s_nationkey"))
  }

  test("csv append aligns shuffled batch columns and refuses evolution") {
    val cat = freshCatalog("csv_append", format = "csv")
    import spark.implicits._
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "v")
    cat.put(df, "t", HashPartition("id"))
    // a batch with the SAME columns in a different order must land with
    // values in the right columns — csv is positional, so append reorders
    cat.append(Seq((7.5, 3L, "z")).toDF("v", "id", "name"), "t")
    // partition columns surface at the END of the read schema (same as the
    // parquet backend) — select by name, as every catalog query does
    val back = cat.cat("t").select(col("id"), col("name"), col("v"))
      .orderBy(col("id")).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 7.5)))
    // schema evolution is a self-describing-format feature: refuse for csv
    intercept[IllegalArgumentException](
      cat.append(Seq((4L, "w", 9.9, true)).toDF("id", "name", "v", "extra"), "t"))
    // embedded newlines round-trip through quoting + multiLine read
    val cat2 = freshCatalog("csv_newline", format = "csv")
    cat2.put(Seq((1L, "line one\nline two"), (2L, "plain")).toDF("id", "text"),
      "t", HashPartition("id"))
    val texts = cat2.cat("t").orderBy(col("id"))
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.toSeq == Seq("line one\nline two", "plain"))
  }

  test("corrupted sidecar: reads degrade, layout-dependent writes refuse") {
    val cat = freshCatalog("sidecar_corrupt")
    val src = Tables.load(spark, sfDir, "customer")
    cat.put(src, "t", HashPartition("c_nationkey"))
    // corrupt the sidecar two ways: valid JSON missing the scheme, and
    // truncated mid-object (the pre-atomic-writer crash shape)
    val hp = new org.apache.hadoop.fs.Path(
      s"${GraftConf.localRoot}/test_edfs/sidecar_corrupt/t/_graft.json")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (bad <- Seq("""{"permission": "644"}""", """{"schema": {"type""")) {
      // through the Hadoop FS API so the local .crc checksum stays consistent
      val w = hfs.create(hp, true)
      try w.write(bad.getBytes("UTF-8")) finally w.close()
      // reads still work: the data itself is intact
      assert(cat.cat("t").count() == src.count())
      assert(cat.describe("t").collect().map(r => r.getString(0) -> r.getString(1))
        .toMap.apply("scheme") == "unknown")
      // append/compact must refuse rather than guess a layout and write
      // flat files into a partitioned table
      intercept[IllegalArgumentException](cat.append(src.limit(5), "t"))
      intercept[IllegalArgumentException](cat.compact("t"))
    }
  }

  test("ls surfaces permission and mtime (reference metadata parity)") {
    val cat = freshCatalog("ls_meta")
    cat.mkdir("dir1")
    cat.put(Tables.load(spark, sfDir, "region"), "t", HashPartition("r_regionkey"))
    val rows = cat.ls("/").collect()
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("name", "node_type", "permission", "size_bytes", "mtime", "is_table"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // a committed table surfaces its sidecar permission (namenode-inode analog)
    assert(byName("t").getString(2) == "644")
    assert(byName("t").getBoolean(5))
    assert(byName("dir1").getString(1) == "d")
    // plain directories fall back to filesystem permission octal
    assert(byName("dir1").getString(2).matches("[0-7]{3,4}"))
    // mtime renders as a parseable UTC timestamp for every entry
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    rows.foreach(r => java.time.LocalDateTime.parse(r.getString(4), fmt))
  }

  test("csv sidecar records embedded newlines; clean tables read splittable") {
    val cat = freshCatalog("csv_split", format = "csv")
    import spark.implicits._
    val clean = (1 to 400).map(i => (i.toLong, s"row $i payload text")).toDF("id", "text")
    cat.put(clean.coalesce(1), "clean", Unpartitioned)
    assert(cat.cat("clean").count() == 400)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      // clean table: multiLine=false → ONE leaf file splits into many tasks
      val nClean = cat.cat("clean").rdd.getNumPartitions
      assert(nClean > 1, s"clean csv should split a leaf file, got $nClean partition(s)")
      // newline-bearing table: flag forces the whole-file parse, values intact
      val dirty = Seq((1L, "line1\nline2"), (2L, "plain")).toDF("id", "text")
      cat.put(dirty.coalesce(1), "dirty", Unpartitioned)
      assert(cat.cat("dirty").orderBy(col("id")).select(col("text"))
        .collect().map(_.getString(0)).toSeq == Seq("line1\nline2", "plain"))
      assert(cat.cat("dirty").rdd.getNumPartitions == 1,
        "a newline-bearing csv leaf must be read whole (unsplittable by design)")
      // appending a newline batch to a clean table flips the flag sticky-true
      cat.append(Seq((401L, "a\nb")).toDF("id", "text"), "clean")
      assert(cat.cat("clean").count() == 401)
      assert(cat.cat("clean").filter(col("text").contains("\n")).count() == 1)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("append heals degenerate range bounds from the first real batch") {
    val cat = freshCatalog("range_heal")
    val src = Tables.load(spark, sfDir, "orders")
    cat.put(src.filter(lit(false)), "t", RangePartition("o_totalprice", 8))
    assert(cat.partitionLocations("t").count() <= 1)
    cat.append(src, "t")
    assert(cat.cat("t").count() == src.count())
    val n1 = cat.partitionLocations("t").count()
    assert(n1 > 1, "bounds must be adopted from the first non-empty batch " +
      "instead of routing every row to bucket 0 forever")
    // later appends bin with the SAME healed bounds — no re-heal, no drift
    cat.append(src.limit(50), "t")
    assert(cat.cat("t").count() == src.count() + 50)
    assert(cat.partitionLocations("t").count() == n1)
  }

  test("vacuum removes exactly the crash residue; expire folds history") {
    val cat = freshCatalog("vacuum")
    val src = Tables.load(spark, sfDir, "nation")
    val v1 = src.filter(col("n_nationkey") < 10)
    cat.put(v1, "t", HashPartition("n_regionkey"))
    cat.append(src.filter(col("n_nationkey") >= 10), "t")
    val cleanCount = cat.cat("t").count()
    assert(cleanCount == src.count())
    // residue makes directory-discovery reads over-count...
    cat.plantCrashResidue("t")
    assert(cat.cat("t").count() > cleanCount, "planted residue must be visible")
    // ...vacuum restores exactness and reports what it removed
    val removed = cat.vacuum("t")
    assert(removed >= 3, s"orphan + stray dir + parked root, got $removed")
    assert(cat.cat("t").count() == cleanCount)
    // a second vacuum finds nothing
    assert(cat.vacuum("t") == 0)
    // live data, history and time travel all intact
    assert(cat.snapshotCount("t") == 2)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    assert(keys(cat.readVersion("t", 1)) == keys(v1))
    // expiration folds the oldest deltas: v1 becomes unreadable, the current
    // snapshot is untouched, and no data files are deleted (append-only
    // deltas mean every old file is still live)
    cat.expireSnapshots("t", keepLast = 1)
    assert(cat.snapshotCount("t") == 1)
    assert(keys(cat.readVersion("t", 1)) == keys(src))
    intercept[IllegalArgumentException](cat.readVersion("t", 2))
    assert(cat.cat("t").count() == cleanCount)
    // untracked tables refuse both ops
    cat.put(src, "legacy", HashPartition("n_regionkey"))
    val m = new java.io.File(s"${GraftConf.localRoot}/test_edfs/vacuum/legacy/_graft.json")
    // strip the versions array to simulate a pre-snapshot writer
    val raw = new String(java.nio.file.Files.readAllBytes(m.toPath))
    java.nio.file.Files.write(m.toPath,
      raw.replaceAll(""","versions":\[.*]""", "").getBytes)
    // the edit bypassed the checksummed fs: drop the stale .crc sidecar-sidecar
    java.nio.file.Files.deleteIfExists(
      new java.io.File(m.getParentFile, "._graft.json.crc").toPath)
    intercept[RuntimeException](cat.vacuum("legacy"))
    intercept[RuntimeException](cat.expireSnapshots("legacy", 1))
  }

  test("replicated put survives single-replica loss; double loss is loud") {
    val cat = freshCatalog("replica")
    val src = Tables.load(spark, sfDir, "nation")
    cat.putReplicated(src, "t", HashPartition("n_regionkey"))
    // undamaged: everything serves from the primary and reads back lossless
    val st0 = cat.replicaStatus("t").collect()
    assert(st0.nonEmpty && st0.forall(_.getInt(1) == 1))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    assert(keys(cat.catReplicated("t")) == keys(src))
    // knock out one partition on the primary -> failover MUST fire
    assert(cat.failReplicaPartition("t", 1, "n_regionkey=2"))
    val st1 = cat.replicaStatus("t").collect()
    assert(st1.exists(_.getInt(1) == 2), "some files must serve from replica 2")
    assert(st1.forall(_.getInt(1) != 0))
    assert(keys(cat.catReplicated("t")) == keys(src))
    // knock out a DIFFERENT partition on the secondary -> still complete
    assert(cat.failReplicaPartition("t", 2, "n_regionkey=4"))
    assert(keys(cat.catReplicated("t")) == keys(src))
    // lose the SAME partition from both replicas -> refuse loudly, with names
    assert(cat.failReplicaPartition("t", 2, "n_regionkey=2"))
    val e = intercept[IllegalArgumentException](cat.catReplicated("t"))
    assert(e.getMessage.contains("BOTH replicas"))
    assert(cat.replicaStatus("t").collect().exists(_.getInt(1) == 0))
    // an unreplicated table refuses the replicated read path
    cat.put(src, "plain", HashPartition("n_regionkey"))
    intercept[IllegalArgumentException](cat.catReplicated("plain"))
  }

  test("PMR stats serve from partials, fall back on residue, and serve again after vacuum") {
    import graft.operators.Pmr
    val cat = freshCatalog("partials_residue")
    val src = Tables.load(spark, sfDir, "nation")
    cat.put(src.filter(col("n_nationkey") < 10), "t", HashPartition("n_regionkey"))
    cat.append(src.filter(col("n_nationkey") >= 10), "t")
    // the pre-partials answer: the decimal-exact mean as one aggregate over
    // whatever the directory read returns
    def dirRead(df: org.apache.spark.sql.DataFrame) = df.agg(
      (sum(col("n_nationkey").cast("decimal(12,2)")).cast("double") /
        count(col("n_nationkey"))).as("avg_val"), count(col("n_nationkey")).as("n")).head()
    val clean = Pmr.statAvg(cat.cat("t"), "n_nationkey")
    assert(served(clean))
    val cleanRow = clean.head()
    assert(cleanRow == dirRead(cat.cat("t")) && cleanRow.getLong(1) == src.count())
    cat.plantCrashResidue("t")
    val dirty = Pmr.statAvg(cat.cat("t"), "n_nationkey")
    assert(!served(dirty), "residue must force the aggregate")
    val dirtyRow = dirty.head()
    assert(dirtyRow == dirRead(cat.cat("t")) && dirtyRow.getLong(1) > src.count(),
      s"orphan rows must count as the directory read counts them: $dirtyRow")
    cat.vacuum("t")
    val again = Pmr.statAvg(cat.cat("t"), "n_nationkey")
    assert(served(again) && again.head() == cleanRow)
  }

  test("PMR stats fall back on a corrupted sidecar, a snapshot read and a replicated table") {
    import graft.operators.Pmr
    val cat = freshCatalog("partials_fallback")
    val src = Tables.load(spark, sfDir, "nation")
    cat.put(src.filter(col("n_nationkey") < 10), "t", HashPartition("n_regionkey"))
    cat.append(src.filter(col("n_nationkey") >= 10), "t")
    assert(served(Pmr.statMax(cat.cat("t"), "n_nationkey")))
    // an older snapshot is a file list, not the table root
    val v1 = Pmr.statMax(cat.readVersion("t", 1), "n_nationkey")
    assert(!served(v1) && v1.head().getInt(0) == 9)
    val want = Pmr.statMax(cat.cat("t"), "n_nationkey").head()
    val hp = new org.apache.hadoop.fs.Path(
      s"${GraftConf.localRoot}/test_edfs/partials_fallback/t/_graft.json")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = hfs.create(hp, true)
    try w.write("""{"permission": "644"}""".getBytes("UTF-8")) finally w.close()
    val corrupt = Pmr.statMax(cat.cat("t"), "n_nationkey")
    assert(!served(corrupt) && corrupt.head() == want)
    cat.putReplicated(src, "r", HashPartition("n_regionkey"))
    val rep = Pmr.statMax(cat.catReplicated("r"), "n_nationkey")
    assert(!served(rep) && rep.head() == want)
  }

  private def served(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
}
