package graft.tools

/** Cold-vs-warm cost of the memoized derived stores (the round-9 bench-
  * honesty directive): the per-round bench runs with signature tables,
  * trained codebooks and IVF layouts already warm, so the amortized number
  * alone overstates steady-state-only thinking — a production pipeline pays
  * the build once per corpus generation, and that cost should be MEASURED,
  * not assumed.
  *
  * For each memoized family this tool evicts the relevant caches, times one
  * representative query COLD (query + full store build: signature pass /
  * Lloyd training + assignment / index write), then times it again WARM
  * (store served from memo), and prints one JSON line per family plus a
  * sidecar at target/coldwarm_last.json. Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ColdWarm"
  */
object ColdWarm {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit = {
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // lm_model's probe: acquire the trained model artifact and score a
    // BOUNDED slice through it. The natural representative query
    // (text_perplexity) scores the WHOLE corpus — a Θ(N) pure-map kernel
    // pass whose warm time is linear compute, not store economics (r11's
    // "warm ×5.8" read was exactly this conflation: the model fetch itself
    // is a 0-ms fingerprint-checked cache hit). The bench lane keeps the
    // full-corpus number; THIS table measures the store.
    def lmStoreProbe(): Unit = {
      val (u, b) = graft.operators.TextAnalysis.lmModel(spark, sfDir)
      graft.operators.TextAnalysis.lmProjection(spark,
          graft.Tables.load(spark, sfDir, "documents")
            .filter(org.apache.spark.sql.functions.col("doc_id") < 1000),
          u, b)
        .write.format("noop").mode("overwrite").save()
    }
    def time(probe: () => Unit): Double = {
      val t0 = System.nanoTime(); probe(); (System.nanoTime() - t0) / 1e9
    }
    // memory-only eviction — what a brand-new JVM starts with (the on-disk
    // stores and their StoreFp sidecars survive, so ensure* builders ADOPT
    // instead of rebuilding): the jvmwarm lane's hook
    def clearMemos(): Unit = {
      graft.operators.Dedup.clear()
      graft.operators.Similarity.clearCaches()
      graft.operators.TextAnalysis.clearLmCache()
      graft.operators.TextAnalysis.clearBpeCache()
      graft.operators.TextAnalysis.clearClfCache()
      graft.streaming.Streams.clearIngestStores()
    }
    // genuine cold: memos AND the persisted store fingerprints go — without
    // the sidecar invalidation a store built by any previous session (or the
    // previous family row) would be adopted and the "cold" number would be
    // the warm path in disguise
    def clearAll(): Unit = { clearMemos(); graft.StoreFp.invalidateAll() }

    // one warm-up query first so JVM/codegen startup cost doesn't masquerade
    // as the first family's store-build cost
    run("q1_pricing_summary")

    // family -> the representative query whose first run pays the store
    // build: MinHash signature table (C2), semantic codebook training +
    // corpus assignment (C29), IVF codebook + cid-partitioned index write
    // (C7c), media decode+dHash table (C37, shared with D12)
    // (r10 additions: the cid-BUCKETED index table behind the kNN join —
    // cold pays codebook + path layout + bucketed write; and C40's
    // reference-LM blob build. r11: the fingerprint-reused streaming
    // stores — the dedup ingest store and the cid-partitioned append
    // layout — whose cold run pays the full micro-batch replay)
    // r14: the C16/C16b incremental-dedup store family (bucketed corpus
    // digest table + band-key/signature stores) — previously the ONE store
    // family whose build cost was never measured separately; its cold run
    // pays the digest write plus the corpus signature pass and both
    // bucketed band/sig table writes.
    val families: Seq[(String, String, () => Unit)] = Seq(
      ("digest_band_store", "dedup_incremental_near",
        () => { run("dedup_incremental"); run("dedup_incremental_near") }),
      ("signatures", "dedup_minhash", () => run("dedup_minhash")),
      ("semantic_assignment", "dedup_semantic", () => run("dedup_semantic")),
      ("ivf_index", "sim_ivf_pruned", () => run("sim_ivf_pruned")),
      ("ivf_bucketed", "knn_join_ivf", () => run("knn_join_ivf")),
      // r12: the IVFADC artifacts — PQ books + coded bucketed table +
      // vec_id-bucketed rerank store — all built by the C38c query's cold run
      ("pq_coded_index", "knn_join_pq", () => run("knn_join_pq")),
      ("media_hashes", "dedup_media", () => run("dedup_media")),
      // r17: the audio-fingerprint store — cold pays the WAV decode +
      // delta-hash pass; warm/jvmwarm serve the persisted hash table
      ("wav_hashes", "dedup_media_wav", () => run("dedup_media_wav")),
      // r14: the persisted kNN-graph stores — the full-corpus edge scoring
      // (quadratic with the IVF discount) IS the corpus-generation cost
      // these two lanes exist to surface; consumers (C52/C52b/C54) read
      ("knn_graph_store", "knn_graph", () => run("knn_graph")),
      ("knn_graph_pq_store", "knn_graph_pq", () => run("knn_graph_pq")),
      // r15: the append-maintained graph — cold pays corpus codebook +
      // merged bucketed index + base graph + the O(batch) append legs
      ("knn_graph_append_store", "knn_graph_append", () => run("knn_graph_append")),
      ("lm_model", "lm_store_probe", () => lmStoreProbe()),
      // r16: the trained BPE merges blob — cold pays the word-frequency
      // shuffle plus k top-pair rounds; warm/jvmwarm are a model-blob load
      ("bpe_model", "bpe_train", () => run("bpe_train")),
      // r17: the trained classifier weight blob — cold pays the broadcast-
      // scored perceptron rounds; warm/jvmwarm are a model-blob load
      ("clf_model", "classifier_train", () => run("classifier_train")),
      ("stream_ingest_store", "stream_dedup_semantic", () => run("stream_dedup_semantic")),
      ("ivf_append_store", "stream_ivf_append", () => run("stream_ivf_append")))
    def r3(v: Double) =
      new java.math.BigDecimal(v).setScale(3, java.math.RoundingMode.HALF_UP)
    // three lanes per family: cold (store build from source), warm (served
    // from the in-memory memo), jvmwarm (memos cleared, disk fingerprints
    // intact — the cost a BRAND-NEW JVM pays to validate and adopt the
    // persisted store instead of rebuilding it; trained-in-memory artifacts
    // like codebooks/LM blobs still retrain, exactly as a real fresh JVM
    // would)
    // COLD lanes are min-of-2 (r15 directive #6: one-shot cold draws
    // differed ~2× between same-code runs — knn_graph_pq_store read 40.7 vs
    // 81.8 s; a cross-round cold narrative must cite a min, and both draws
    // stay visible in the sidecar)
    val lines = families.map { case (family, q, probe) =>
      clearAll()
      val cold1 = time(probe)
      clearAll()
      val cold2 = time(probe)
      val warm = time(probe)
      clearMemos()
      val jvmWarm = time(probe)
      s"""{"family":"$family","query":"$q","cold_sec":${r3(math.min(cold1, cold2))},""" +
        s""""cold_draws":[${r3(cold1)},${r3(cold2)}],"warm_sec":${r3(warm)},""" +
        s""""jvmwarm_sec":${r3(jvmWarm)},"sf":"$sfDir"}"""
    }
    try {
      val p = java.nio.file.Paths.get("target/coldwarm_last.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
    } catch { case e: Throwable => System.err.println(s"[coldwarm] sidecar: ${e.getMessage}") }
    clearAll()
    spark.stop()
    lines.foreach(println)
  }
}
