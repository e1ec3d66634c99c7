package graft

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. EDFS catalog tables are pre-created before timing so
  * PMR entries measure query latency; the explicit write benchmarks
  * (edfs_put_hash/edfs_put_range) still re-write and report ingest cost. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // validate BEFORE the warm-up block — a bad value must fail fast, not
    // minutes into catalog staging
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    // Host-noise probe (r16 directive #4): a FIXED ~5 s IO+CPU
    // microbenchmark — write, read back and fully sort a constant 16M-row
    // synthetic table — run before the sweep and reported as probe_sec in
    // the JSON, so a noisy host epoch is flagged by DATA at sweep time
    // (the r16 sf0.1 sweeps spread ±19% on identical code and the noise
    // had to be inferred after the fact). Sweeps whose probe deviates
    // >10% from the round's median are classified noisy in SCALE_rN and
    // excluded from cross-round narratives. Constant workload, no SF
    // dependence; the shuffle/sort mix mirrors the query fleet's.
    val probeSec = {
      import org.apache.spark.sql.functions._
      val dir = new java.io.File("target/graft_bench_probe")
      def lap(rows: Long): Double = {
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        val t0 = System.nanoTime()
        spark.range(0L, rows, 1L, 32)
          .select(col("id"), (col("id") * 2654435761L % 1000003L).as("h"),
            concat(lit("probe-"), col("id") % 9973).as("s"))
          .write.mode("overwrite").parquet(dir.getAbsolutePath)
        spark.read.parquet(dir.getAbsolutePath).orderBy(col("h"), col("id"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      lap(2000000L) // untimed JIT/codegen lap: the probe measures the HOST,
                    // not first-job compilation
      val t = lap(16000000L)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      t
    }
    // Warm-up: materialize catalog tables, the memoized store families and
    // JIT/codegen caches BEFORE the timed loop, and report its cost as its
    // own field (warmup_sec). Store builds are one-time corpus-generation
    // cost (ColdWarm measures them separately); letting them land inside
    // the first timed rep made the round-12 driver headline read 118.7 s
    // against a 72.7 s warmed sweep of the same code — a ~36 s phantom
    // regression. The representative queries below are ColdWarm's family
    // list: their first run builds every derived store the bench touches.
    val warmT0 = System.nanoTime()
    // per-step isolation: one flaky store build must not abort the REST of
    // the warm-up (a skipped family's build would land inside the timed
    // loop — the exact phantom regression this block exists to prevent)
    def warm(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $label: ${e.getMessage}")
      }
    warm("edfs_customer")(operators.Pmr.ensureCustomerByNation(spark, sfDir))
    warm("edfs_orders")(operators.Pmr.ensureOrdersByPriceRange(spark, sfDir))
    warm("signatures")(operators.Dedup.warmSignatures(spark, sfDir))
    warm("codebook")(operators.Similarity.trainCodebook(spark, sfDir))
    warm("semantic_codebook")(operators.Similarity.trainSemanticCodebook(spark, sfDir))
    warm("ivf_index")(operators.Similarity.ensureIvfIndex(spark, sfDir))
    warm("ivf_append")(operators.Similarity.ensureIvfAppendIndex(spark, sfDir))
    warm("lm_model")(operators.TextAnalysis.lmModel(spark, sfDir))
    warm("stream_stage")(streaming.Streams.stage(spark, sfDir))
    // one cold run per memoized store family not covered above (the
    // ColdWarm registry): semantic assignment, cid-bucketed IVF join
    // table, PQ books + coded + rerank stores, media hash table, the
    // streaming ingest/append stores
    // (r14: the C16/C16b corpus digest + band/signature stores joined the
    // list — the one store family whose build cost previously landed inside
    // the first timed rep, distorting dedup_incremental* sweep readings)
    // (r14: the persisted kNN-graph stores joined — the graph is built once
    // per corpus generation; C52/C52b/C54 consume it)
    // (r16: bpe_train's merges blob and D21's stream-replayed graph store
    // joined — both one-time builds their first timed rep must not absorb)
    Seq("dedup_semantic", "knn_join_ivf", "knn_join_pq", "dedup_media",
      "stream_dedup_semantic", "stream_ivf_append",
      "dedup_incremental", "dedup_incremental_near",
      "knn_graph", "knn_graph_pq", "knn_graph_append",
      "bpe_train", "stream_knn_graph_append").foreach { name =>
      warm(name)(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    }
    warm("jit")(operators.Relational.q1PricingSummary(spark, sfDir).count())
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    // Fixed (sorted) execution order and n=2 repetitions with min reported:
    // Map-iteration order made cross-round per-query diffs noisy, and a single
    // rep conflates first-run codegen/JIT cost with steady-state latency. The
    // min of 2 is the reproducible per-query number (±10% across rounds).
    // Optional targeted run (same env contract as Verify); driver-unset →
    // the full sorted sweep. A typo'd name must fail, not time nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1))).map { case (name, fn) =>
      // noop sink: every column and the output ordering are actually computed —
      // count() would let the optimizer drop final sorts and prune all columns
      // (parquet count-star pushdown), understating real query cost.
      // A failed query records -1 — a fast crash must not read as a fast run.
      // Streaming keys get min-of-4: their latency floor is micro-batch
      // machinery (state-store open/commit, trigger setup) whose draw range
      // was MEASURED at ±50% on identical code (SCALE_r13 §watch-items:
      // stream_dedup_semantic drew 1.39-2.07 s in one JVM) — min-of-2
      // under-samples that floor and round-over-round deltas read as
      // phantom regressions.
      // Three sentinel-driven event-stream keys still drew ±50% at min-of-4
      // (SCALE_r14 §streaming-stability: stream_window read 1.99 vs 3.50 s
      // on identical code) — they get min-of-8 so their cross-round deltas
      // are signal, per the r14 verdict's directive #6.
      val floorDraw = Set("stream_window", "stream_decontam_gate", "stream_dedup")
      val nReps =
        if (floorDraw(name)) math.max(reps, 8)
        else if (name.startsWith("stream_")) math.max(reps, 4)
        else reps
      val times = (1 to nReps).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name: ${e.getMessage}"); None
        }
      }
      name -> (if (times.size == nReps) times.min else -1.0)
    }
    def r3(v: Double): java.math.BigDecimal =
      new java.math.BigDecimal(v).setScale(3, java.math.RoundingMode.HALF_UP)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // total sums only successful runs; the -1 markers stay visible per-query
    // but must not shrink (or negate) the headline number
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0).map(_._1)
    // The FULL per-query map goes to the sidecar only. Even at 3 decimals the
    // 108-entry map is ~3.3 KB, past the driver's bounded stdout-tail capture:
    // r7 AND r8 both arrived with the line's front truncated mid-map
    // ("parsed": null). stdout therefore gets a COMPACT line — headline total
    // plus the failure list (the two signals the driver must never lose) and
    // a pointer to the sidecar — that stays under ~200 bytes at any surface
    // size, so its FIRST byte survives every tail window.
    // n_queries rides in BOTH lines so a consumer following the compact
    // line's sidecar pointer can verify the sidecar is THIS run's (the
    // fixed path is last-writer-wins across bench invocations)
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""warmup_sec":${r3(warmupSec)},"probe_sec":${r3(probeSec)},""" +
        s""""queries":$qs,"sf":"$sfDir"}"""
    // "queries" stays in the compact line for schema compatibility but
    // carries only the FAILED entries (normally empty — the success map is
    // what blew the capture window)
    val failedQs = results.filter(_._2 < 0)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // sidecar: the one complete copy, immune to any capture window
    // (create target/ first — a cwd without it must not lose that copy).
    // The compact line advertises the sidecar path ONLY when this run's
    // write actually landed — otherwise a stale bench_last.json from a
    // previous run would be consumed as this round's per-query map with
    // nothing flagging the swap; on failure the pointer is null and the
    // consumer knows the per-query detail is gone, not merely elsewhere.
    val sidecarOk =
      try {
        val p = java.nio.file.Paths.get("target/bench_last.json")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, fullLine + "\n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sidecar: ${e.getMessage}"); false
      }
    val sidecarField =
      if (sidecarOk) "\"target/bench_last.json\"" else "null"
    val compactLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""warmup_sec":${r3(warmupSec)},"probe_sec":${r3(probeSec)},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""queries":$failedQs,"queries_file":$sidecarField,"sf":"$sfDir"}"""
    operators.Dedup.clear()
    spark.stop()
    // the JSON line is the LAST stdout line of the process (after stop(), so
    // no late Spark shutdown chatter can land beneath it in the tail)
    println(compactLine)
  }
}
