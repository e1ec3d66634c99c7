package graft

import org.apache.spark.sql.functions._

/** Loader portability: the driver regenerates /root/testdata between rounds
  * and has already shipped events.ts in two physical encodings (int64 nanos in
  * rounds 1-5, TIMESTAMP(MICROS, isAdjustedToUTC=false) since round 6). These
  * specs pin BOTH encodings locally — so a regeneration can never silently
  * break one path again — and run an acceptance canary over every live
  * testdata table so NEW drift fails fast with a named diagnostic instead of
  * scattered downstream errors. */
class TablesSpec extends SparkSpec {

  /** Write `rows` as <dir>/events.parquet with ts produced by `tsCol` applied
    * to the raw µs epoch column, mimicking one driver encoding. */
  private def writeEncoded(tag: String, tsCol: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    val dir = new java.io.File(s"/root/repo/target/test_events_enc_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    Seq(
      (1L, 1700000000000000L, 10L, "click", 1.5, "{}"),
      (2L, 1700000123456789L, 11L, "purchase", 2.5, "{}"),
      (3L, 1700003600000001L, 10L, "view", 0.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  test("events loader normalizes every shipped ts encoding to the same µs instants") {
    val nanosDir = writeEncoded("nanos", col("us") * 1000L) // plain unannotated int64
    val ntzDir = writeEncoded("ntz", // round 6+: TIMESTAMP_NTZ micros
      timestamp_micros(col("us")).cast("timestamp_ntz"))
    val tsDir = writeEncoded("tz", timestamp_micros(col("us"))) // plain µs TimestampType
    // rounds 1-5's REAL encoding: int64 annotated TIMESTAMP(NANOS,
    // isAdjustedToUTC=false). Spark cannot write that annotation, so the
    // committed fixture was produced once outside Spark
    // (tools/make_nanos_fixture.py) — without it the nanosAsLong branch
    // would only ever be exercised over unannotated int64, and a Spark
    // upgrade breaking annotated-NANOS reads would surface only in the field
    val realNanosDir = new java.io.File(
      getClass.getResource("/nanos_events/events.parquet").toURI)
      .getParentFile.getAbsolutePath
    val want = Seq(1700000000000000L, 1700000123456789L, 1700003600000001L)
    for (dir <- Seq(nanosDir, ntzDir, tsDir, realNanosDir)) {
      val got = Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy(col("event_id")).collect().map(_.getLong(1)).toSeq
      assert(got == want, s"encoding at $dir decoded to $got, want $want")
      assert(Tables.events(spark, dir).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"loader must normalize ts to TimestampType (dir $dir)")
    }
  }

  test("events loader pins the UTC session its NTZ cast depends on") {
    // the NTZ→Timestamp cast reads wall-clock AS the session zone: under a
    // driver-built non-UTC session every instant would shift by the zone
    // offset (moving window/session boundaries vs the oracle). The loader
    // must enforce UTC itself, like it enforces nanosAsLong.
    val dir = writeEncoded("ntz_nonutc",
      timestamp_micros(col("us")).cast("timestamp_ntz"))
    val want = Seq(1700000000000000L, 1700000123456789L, 1700003600000001L)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val got = Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy(col("event_id")).collect().map(_.getLong(1)).toSeq
      assert(got == want,
        s"NTZ instants shifted under a non-UTC driver session: $got, want $want")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "loader did not pin the session to UTC")
      // the harder ordering: zone changed AFTER the DataFrame is built but
      // BEFORE it executes — a load-time conf pin cannot protect this (the
      // cast resolves its zone at execution), only the session-independent
      // re-zoning expression can
      val df = Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy(col("event_id"))
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val late = df.collect().map(_.getLong(1)).toSeq
      assert(late == want,
        s"NTZ instants shifted when the zone changed between plan and run: $late")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("an unrecognized events.ts type fails fast with a named diagnostic") {
    val dir = writeEncoded("bad", col("us").cast("string"))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"), s"diagnostic must name the column: ${e.getMessage}")
  }

  test("driver-format drift canary: loaders accept every live testdata table") {
    // acceptance check, not a frozen schema: whatever types the current
    // regeneration shipped, every loader must read them and the normalized
    // events.ts must come out as µs TimestampType
    // the raw-footer probe is itself best-effort: if the file is so far gone
    // that Spark can't even infer a schema, the canary's named diagnostic
    // must still surface rather than being replaced by the probe's exception
    def rawSchema(t: String): String =
      scala.util.Try(spark.read.parquet(s"$sfDir/$t.parquet").schema.treeString)
        .getOrElse("<unreadable footer>")
    Tables.all.foreach { t =>
      val df =
        try Tables.load(spark, sfDir, t)
        catch { case e: Throwable => fail(
          s"loader rejected $sfDir/$t.parquet — driver format drift? " +
            s"physical schema: ${rawSchema(t)}", e)
        }
      try df.limit(1).collect()
      catch { case e: Throwable => fail(
        s"reading $sfDir/$t.parquet failed — driver format drift in a column type? " +
          s"loaded schema: ${scala.util.Try(df.schema.treeString).getOrElse(rawSchema(t))}", e)
      }
    }
    assert(Tables.events(spark, sfDir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  /** A fresh dir under the test root holding `<name>.parquet` with
    * `cols` integer columns and 3 rows. */
  private def writeTable(dir: java.io.File, name: String, cols: Seq[String]): Unit =
    spark.range(3).select(cols.map(c => col("id").as(c)): _*)
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, s"$name.parquet").getAbsolutePath)

  private def freshDir(tag: String): java.io.File = {
    val dir = new java.io.File(s"${GraftConf.localRoot}/test_tables_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir
  }

  test("a warm load launches no job; a rewrite with an added column serves the new schema") {
    val dir = freshDir("resolver")
    writeTable(dir, "t", Seq("a", "b"))
    val (cold, coldJobs) = jobsDuring(Tables.load(spark, dir.getPath, "t"))
    assert(coldJobs >= 1, "the first load should infer the schema with a job")
    val (warm, warmJobs) = jobsDuring(Tables.load(spark, dir.getPath, "t"))
    assert(warmJobs == 0, s"a warm load launched $warmJobs job(s)")
    assert(warm.schema == cold.schema)
    assert(warm.queryExecution.analyzed.sameResult(cold.queryExecution.analyzed))
    val fp = Tables.fingerprint(dir.getPath, "t")
    writeTable(dir, "t", Seq("a", "b", "c"))
    assert(Tables.fingerprint(dir.getPath, "t") != fp)
    val after = Tables.load(spark, dir.getPath, "t")
    assert(after.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(after.select(sum("c")).head().getLong(0) == 3L)
  }

  test("fingerprints go through the path's filesystem: a file: URI fingerprints and invalidates") {
    val dir = freshDir("uri")
    writeTable(dir, "t", Seq("a"))
    // the string java.io.File gave for a local path, which persisted store
    // sidecars record: files directly under the dir, metadata files included
    def legacy(): String = {
      val leaves = new java.io.File(dir, "t.parquet").listFiles().filter(_.isFile)
      s"${leaves.length}:${leaves.map(_.length).sum}:${leaves.map(_.lastModified).max}"
    }
    val uri = "file:" + dir.getAbsolutePath
    val fp = Tables.fingerprint(uri, "t")
    assert(fp == legacy() && Tables.fingerprint(dir.getPath, "t") == fp)
    assert(fp.split(':')(0).toInt >= 3, s"_SUCCESS and .crc files must count: $fp")
    assert(Tables.fingerprint(uri, "missing") == "1:0:0")
    assert(Tables.load(spark, uri, "t").schema.fieldNames.toSeq == Seq("a"))
    writeTable(dir, "t", Seq("a", "b"))
    assert(Tables.fingerprint(uri, "t") != fp)
    assert(Tables.load(spark, uri, "t").schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("a table dir with subdirectories is never served a cached schema") {
    // the fingerprint sees only the top-level files, so a change inside a
    // partition directory would go unseen: every load infers again
    val dir = freshDir("nested")
    spark.range(4).select(col("id").as("a"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(new java.io.File(dir, "t.parquet").getAbsolutePath)
    Tables.load(spark, dir.getPath, "t")
    val (df, jobs) = jobsDuring(Tables.load(spark, dir.getPath, "t"))
    assert(jobs >= 1, "a partitioned table's schema was served from the cache")
    assert(df.count() == 4)
  }
}
