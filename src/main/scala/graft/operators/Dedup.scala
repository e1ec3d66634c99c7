package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for training-data pipelines (SURVEY §2 C1-C5) over
  * the `documents` table.
  *
  * Scale posture (the part that matters at 100 TB): no operator ever forms the
  * full O(n²) pair space. Candidate pairs come only from equality joins on
  * LSH-style keys — minhash band signatures (C2), simhash chunk blocks (C3),
  * hyperplane sign buckets (C5) — so the shuffle carries (key, doc) pairs and
  * the pairwise work is confined to collision buckets. Signatures are computed
  * with built-in codegen'd expressions (md5/conv multiply-mod for minhash,
  * md5-derived 64-bit bit-votes for simhash — both portable to the DuckDB
  * oracle), not UDFs.
  */
object Dedup {

  // ----- shared signature plumbing -----

  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = NumHashes / Bands // 4

  /** Portable MinHash hash family: base = md5-derived 31-bit gram hash, member
    * i = (a_i·x + b_i) mod P with P = 2³¹−1. Every step is expressible in both
    * Spark and DuckDB (md5 hex + integer multiply-mod; products stay < 2⁶² so
    * ANSI-mode longs never overflow), which is what turns C2/C4 from
    * rows-only checks into full cross-engine SQL oracles. The previous family
    * (xxhash64 base remixed by xxhash64(b, i)) was Spark-only; per-gram cost
    * is one digest either way and the 64 multiply-mods are cheaper than 64
    * xxhash64 rounds (FunctionsSpec has no stake here; the sf-bench gates the
    * swap — see SCALE_r6).  */
  private val P = graft.functions.MinHashFamily.P
  private[operators] val hashA = graft.functions.MinHashFamily.a
  private[operators] val hashB = graft.functions.MinHashFamily.b

  /** First `hexLen` hex chars of md5 as a long — identical in DuckDB as
    * CAST(('0x' || substr(md5(s), 1, hexLen)) AS BIGINT). ≤15 chars keeps the
    * value inside a signed 64-bit long. */
  private def md5Long(c: Column, hexLen: Int): Column =
    conv(substring(md5(c), 1, hexLen), 16, 10).cast("long")

  private def tokens(c: Column): Column = split(c, " ")

  /** Word 3-shingles (order-sensitive); short docs fall back to the whole text
    * as a single shingle. */
  private def shingles(c: Column): Column = {
    val t = tokens(c)
    array_distinct(
      when(size(t) >= 3,
        transform(sequence(lit(0), size(t) - 3),
          i => concat_ws(" ", slice(t, i + lit(1), lit(3)))))
        .otherwise(array(c)))
  }

  /** Degenerate-bucket guard: an LSH bucket with more than this many members
    * yields quadratic candidate pairs (the LSH analog of a skewed join key —
    * e.g. boilerplate/empty documents all sharing one signature). Such buckets
    * are near-identical clusters anyway; they are handled by exact-hash dedup
    * (C1), so the near-dup pass skips them instead of detonating. Without this
    * cap, sf0.1's tiny synthetic vocabulary produced ~100s of pairwise verify
    * work from a handful of mega-buckets — at 100 TB it would be unbounded. */
  private[graft] val MaxBucket = 64

  /** Round cap for C5b's min-label propagation — bounds pathological
    * chain-shaped dup components (graph diameter > rounds). Real near-dup
    * graphs are dense-cluster-shaped (diameter 2-3); a corpus with a
    * legitimately deeper component raises this via `-Dgraft.cluster.rounds`
    * instead of editing code (the convergence `require` names the knob). */
  private[graft] def ClusterRoundCap: Int =
    sys.props.get("graft.cluster.rounds").map(_.toInt).getOrElse(10)

  /** sigs(doc_id, sig) → one row per (doc, band) with the band's portable
    * 60-bit key (md5 of "<band index>,<comma-joined signature slice>" — the
    * band index is FOLDED INTO the hash, so one column is the complete join
    * key; a single-column key is what lets the C16b band store's bucket
    * layout satisfy the join's distribution outright, where a composite
    * (band_id, band_key) join would re-shuffle the bucketed corpus under
    * spark.sql.requireAllClusterKeysForCoPartition). Shared by the ad-hoc
    * band self-join (C2/C4) and the persisted corpus band store (C16b). */
  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(bandKeyArray(col("sig"))).as("band_key"))

  /** The 16 band keys of a signature as an array column (stateless — usable
    * inside a streaming projection, where D5 banding happens). */
  private[graft] def bandKeyArray(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => md5Long(concat(b.cast("string"), lit(","), concat_ws(",",
        transform(slice(sig, b * lit(RowsPerBand) + lit(1), lit(RowsPerBand)),
          v => v.cast("string")))), 15))

  /** docs(doc_id, sig) → candidate pairs (doc_a < doc_b) that collide in ≥1
    * LSH band. The self-join is on (band_id, band_key) — bucket-confined, with
    * oversized buckets excluded by the skew guard above. */
  private def bandCandidates(sigs: DataFrame): DataFrame =
    bandCandidates(sigs, materialize = true)

  /** r17: the guarded band relation feeds BOTH sides of the self-join, and
    * Spark plans sibling references as independent subtrees — the band
    * Generate + MaxBucket window ran twice per call. localCheckpoint
    * materializes the slim (doc_id, band_key) relation once (recomputed
    * from the signature store on every invocation); `materialize = false`
    * keeps the declarative plan for the gate that pins the MaxBucket
    * guard (PlanGateSpec's LSH-candidates test). */
  private[graft] def bandCandidates(sigs: DataFrame,
    materialize: Boolean): DataFrame = {
    val bounded0 = boundedBands(bandKeys(sigs))
    val bounded = if (materialize) bounded0.localCheckpoint() else bounded0
    bounded.as("x").join(bounded.as("y"),
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** MaxBucket skew guard over (doc_id, band_key) rows. */
  private def boundedBands(banded: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    banded
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= MaxBucket)
      .drop("bucket_n")
  }

  /** MinHash signatures, computed as explode(shingles) → groupBy(doc) with 64
    * static `min((a_i·x + b_i) mod P)` aggregates over the md5-derived base
    * hash. Each shingle string is built and digested exactly ONCE (the 64
    * family members are two integer ops each); map-side partial aggregation
    * means the shuffle carries 64 longs per doc per task. The tempting
    * one-liner — a lambda over sequence(0,63) re-hashing shingle strings — is
    * ~10× slower because Catalyst inlines the shingle pipeline into all 64
    * lambda bodies (measured with a one-off profiling probe: 20s → 2s at
    * sf0.1). */
  /** One cached table per (session, dir, kind) — repeated query invocations
    * (verify then bench, or a long-lived service) reuse the materialized
    * signatures instead of stacking a fresh unreferenced cache per call, the
    * way a production pipeline shares its persisted signature store. Eager
    * count(): the table feeds several subtrees of one job; without it they
    * race and each recomputes the build before the cache fills (~3×). */
  // CONTRACT: tags must embed the source-table fingerprint (the external
  // callers' mediahash:/semcid: pattern) — an appId:sfDir:kind key alone
  // serves STALE signatures after an in-session regeneration of the dir
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[operators] def memoize(spark: SparkSession, sfDir: String, tag: String)
    (build: => DataFrame): DataFrame =
    memo.computeIfAbsent(s"${spark.sparkContext.applicationId}:$sfDir:$tag", { _ =>
      // r17 (guide §6 file sizing, applied to the in-memory layout): a
      // store table written as one file caches as ONE partition, so every
      // timed consumer's first stage (band explode, chunk window, pair
      // join fronts) ran single-task on idle cores. Fan the cached frame
      // out toward the session's parallelism when the build came back
      // under-split — but only to ≥2k rows per partition (a 500-row media
      // hash table gains nothing from 32 near-empty partitions, and the
      // extra task launches measurably cost). A frame that already carries
      // enough partitions (any real-scale build) is left untouched, so
      // nothing shrinks at scale.
      val built = build.cache()
      val n = built.count()
      val target = math.min(
        math.min(spark.sparkContext.defaultParallelism.toLong, 64L),
        math.max(1L, n / 2000L)).toInt
      // never round-robin away a key-hash layout the build carried (e.g. a
      // bucketed store scan): consumers whose joins/aggs are satisfied by
      // that distribution would silently regain an exchange (r17 ADVICE).
      // Today's memoized stores are unbucketed, so this is a guard for the
      // next store family, not a behavior change.
      val keyPartitioned = built.queryExecution.executedPlan.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
      if (!keyPartitioned && built.rdd.getNumPartitions < target) {
        val sized = built.repartition(target).cache()
        sized.count()
        built.unpersist(false)
        sized
      } else built
    })

  /** Pre-materialize the signature store (Bench warmup — the production analog
    * is the signature table being built once by the ingest pipeline). */
  def warmSignatures(spark: SparkSession, sfDir: String): Unit = {
    withSig(spark, sfDir); ()
  }

  /** Test hook: the memoized signature table (PlanGateSpec audits the
    * un-materialized candidate builder over it). */
  private[graft] def sigTableFor(spark: SparkSession, sfDir: String): DataFrame =
    withSig(spark, sfDir)

  /** Evict every cached table. Long-lived applications that touch many scale
    * dirs call this between corpora (Bench/Verify call it at end of run) so
    * executor storage memory is bounded by one corpus, not the union of all
    * ever seen. */
  def clear(): Unit = {
    memo.values().forEach(df => df.unpersist(false))
    memo.clear()
    // the table-fingerprint memo goes too: the next touch re-validates
    // against the on-disk sidecar (adopt-in-place — cheap) instead of
    // trusting session state the caller just asked us to drop. Keeping it
    // would let a clear()+invalidateAll() pair strand a store with a live
    // memo and no sidecar — served forever, never re-committed.
    digestFingerprint.clear()
  }

  /** The signature table is a PERSISTED derived store (r15 verdict #3 — the
    * last dedup-family artifact outside the store doctrine): the one
    * md5+64-minhash pass over the corpus is the signature build cost a
    * production ingest pipeline pays once per corpus generation, and a
    * fresh JVM must ADOPT it from the StoreFp sidecar instead of re-paying
    * it (ColdWarm's jvmwarm lane). Signatures are integer-exact (multiply-
    * mod over md5-derived longs), so the parquet round-trip is bit-exact —
    * StoreFpSpec pins adoption == build. The session memo (one cached scan)
    * sits above the disk check, as everywhere. */
  private def withSig(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = graft.Tables.fingerprint(sfDir, "documents")
    memoize(spark, sfDir, "minhash:" + fp) {
      spark.table(ensureSigTable(spark, sfDir, fp))
    }
  }

  private[graft] def ensureSigTable(spark: SparkSession, sfDir: String,
    fp: String): String = this.synchronized {
    val tbl = "minhash_sigs" + graft.GraftConf.slug(sfDir)
    graft.StoreFp.ensureTable(spark, tbl, fp) {
      // 3-shingle rows come from the window-lead gram builder (explode once,
      // lead×2), NOT explode(shingles(...)): the array-lambda form re-splits
      // the text per element (interpreted HOF + CollapseProject inlining).
      // Same strings → same md5-derived base hash → identical signatures.
      sigsOf(PipelineOps.gramSet(Tables.load(spark, sfDir, "documents"), 3))
        .write.mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** grams(doc_id, g) → (doc_id, sig[64]): one md5 per gram, 64 multiply-mod
    * family members, map-side partial min aggregation (the shuffle carries 64
    * longs per doc per task). */
  private def sigsOf(grams: DataFrame): DataFrame = {
    val base = grams.select(col("doc_id"), (md5Long(col("g"), 8) % P).as("x"))
    val mins = (0 until NumHashes).map(i =>
      min((col("x") * hashA(i) + hashB(i)) % P).as(s"m$i"))
    base.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  // ----- C1: exact dedup -----

  /** C1 — exact dedup: hash-groupBy on content digest, keep the smallest id.
    * The shuffle key is the 128-bit digest, not the document body. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    d.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** C36 — source-priority dedup: C1 with the keeper chosen by SOURCE RANK
    * instead of min id — when the same text appears in a curated source and
    * a crawl source, keep the curated copy (the RefinedWeb/Dolma "dedup
    * priority" rule; provenance decides which bytes survive). Priority here
    * is the source's numeric rank (src0 most curated); the keeper is the
    * per-hash argmin of (priority, doc_id), computed as ONE `min(struct)`
    * aggregation — structs order lexicographically, so the argmin rides the
    * same single hash-shuffle C1 pays, with map-side partial aggregation
    * (no window, no second pass, no join-back). */
  def dedupPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    // unbounded suffix, exactly like the oracle's substr(source, 4) — a
    // bounded substring would silently diverge on long source ids.
    // HARD INPUT CONTRACT: source ids are `srcN` with a numeric suffix. A
    // non-numeric suffix casts to NULL in Spark (and NULL sorts FIRST in the
    // struct argmin, silently winning the keeper vote) but THROWS in the
    // DuckDB oracle's CAST — so the malformed row must fail here too, loudly,
    // not diverge engines.
    val rawPri =
      col("source").substr(lit(4), length(col("source"))).cast("bigint")
    // NULL source is malformed TOO: a NULL pri would WIN Spark's struct
    // argmin (ASC NULLS FIRST) but rank LAST in the oracle's ORDER BY
    // (NULLS LAST) — the same silent engine divergence as a non-numeric
    // suffix, so both fail loudly
    d.select(md5(col("text").cast("binary")).as("text_hash"),
        when(rawPri.isNull,
          raise_error(concat(lit("dedup_priority: missing or non-numeric "),
            lit("source suffix in '"), coalesce(col("source"), lit("NULL")),
            lit("' (expected srcN)"))))
          .otherwise(rawPri).as("pri"),
        col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(struct(col("pri"), col("doc_id"))).as("k"),
        count(lit(1)).as("n_copies"))
      .select(col("text_hash"), col("k.doc_id").as("keep_id"),
        col("k.pri").as("keep_priority"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  val dedupPrioritySql: String =
    """WITH ranked AS (
      | SELECT md5(text) AS text_hash, doc_id,
      |  CAST(substr(source, 4) AS BIGINT) AS pri,
      |  COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |  ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY
      |   CAST(substr(source, 4) AS BIGINT), doc_id) AS rn
      | FROM documents)
      |SELECT text_hash, doc_id AS keep_id, pri AS keep_priority, n_copies
      |FROM ranked WHERE rn = 1 ORDER BY keep_id""".stripMargin

  /** The persisted corpus digest table for C16, written `bucketBy(8, h)` +
    * sorted (the B18 storage-layout pattern, Joins.scala qBucketedJoin): the
    * steady-state ingest asset a training pipeline maintains. Built once as
    * the offline backfill; every subsequent increment joins against it with
    * ZERO corpus-side work beyond the scan itself — no shuffle, no sort, the
    * join reads each corpus bucket directly. Re-deriving digests from the
    * full corpus per increment (the previous form) re-shuffled the entire
    * corpus every batch — the dominant cost at 100 TB, paid daily. */
  /** Source-data fingerprint (Tables.fingerprint) recorded when the digest
    * table is built: if documents under the same sfDir are regenerated
    * in-session, the memo invalidates and rebuilds instead of silently
    * serving digests of the old data. This map is only the session-hot
    * fast path — the DURABLE fingerprint lives on disk with the table
    * (StoreFp sidecar), so a brand-new JVM adopts a valid persisted store
    * instead of dropping and rebuilding it (the r13 directive: at 100 TB
    * the band store IS the dedup index, and "built once as the offline
    * backfill" must survive the session that built it). */
  private val digestFingerprint =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build-or-reuse a persisted store table keyed on a source fingerprint:
    * the in-memory memo short-circuits the session-hot path; everything
    * else (disk-fingerprint validation, fresh-JVM adoption, loud
    * mismatch rebuild) is StoreFp.ensureTable's one shared contract.
    * Coarse class-level lock: two concurrent builders would race DROP TABLE
    * against saveAsTable on the same table name. */
  private def ensureStoreTable(spark: SparkSession, tbl: String, fp: String)
    (build: => Unit): String = this.synchronized {
    if (!(digestFingerprint.get(tbl).contains(fp) && spark.catalog.tableExists(tbl))) {
      graft.StoreFp.ensureTable(spark, tbl, fp)(build)
      digestFingerprint(tbl) = fp
    }
    tbl
  }

  def ensureCorpusDigests(spark: SparkSession, sfDir: String): String = {
    val tbl = s"corpus_digests${graft.GraftConf.slug(sfDir)}"
    ensureStoreTable(spark, tbl, Tables.fingerprint(sfDir, "documents")) {
      Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("corpus_id"), md5(col("text").cast("binary")).as("h"))
        .write.bucketBy(8, "h").sortBy("h").mode("overwrite").saveAsTable(tbl)
    }
  }

  /** C16 — incremental dedup: the production ingest shape, where a NEW batch
    * (here: doc_id % 10 == 9 stands in for today's crawl) is deduplicated
    * against the already-ingested corpus rather than all-pairs against
    * itself. The batch joins the bucketed corpus digest store on the content
    * digest: only the (small) batch side shuffles — to the corpus's 8-bucket
    * layout — and the corpus streams once from disk with no exchange
    * (DedupFixtureSpec pins the plan). */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = spark.table(ensureCorpusDigests(spark, sfDir))
    val newBatch = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    newBatch.join(corpus, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String =
    """SELECT n.doc_id, MIN(c.doc_id) AS dup_of,
      | MIN(c.doc_id) IS NOT NULL AS is_duplicate
      |FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 9) n
      |LEFT JOIN (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 != 9) c
      | USING (h)
      |GROUP BY n.doc_id
      |ORDER BY n.doc_id""".stripMargin

  // ----- C16b: incremental NEAR-dedup against a persisted signature store -----

  /** The near-dup tier of the daily ingest path: the corpus's MinHash band
    * keys persisted `bucketBy(8, band_key)` + sorted (the C16 digest-store
    * pattern applied to LSH), plus the signatures themselves bucketed by
    * corpus_id for the verify join. A new batch then LSH-joins the corpus
    * with ZERO corpus-side shuffle: band collisions read the corpus band
    * buckets in place, and the signature fetch for the surviving candidates
    * reads the corpus sig buckets in place — only the (small) batch side
    * ever exchanges. Re-banding the corpus per increment (what C2 would do)
    * re-shuffles the entire corpus daily; at 100 TB the band store IS the
    * dedup index. The store build applies the MaxBucket skew guard over
    * corpus bucket sizes at write time (oversized buckets are boilerplate
    * clusters owned by exact dedup, same rationale as bandCandidates). */
  private def ensureCorpusSignatureStore(spark: SparkSession, sfDir: String,
    tag: String, corpusPred: Column): (String, String) = {
    val slug = s"${graft.GraftConf.slug(sfDir)}_$tag"
    val fp = Tables.fingerprint(sfDir, "documents")
    val sigTbl = ensureStoreTable(spark, s"corpus_sigs$slug", fp) {
      sigsOf(PipelineOps.gramSet(
          Tables.load(spark, sfDir, "documents").filter(corpusPred), 3))
        .withColumnRenamed("doc_id", "corpus_id")
        .write.bucketBy(8, "corpus_id").sortBy("corpus_id")
        .mode("overwrite").saveAsTable(s"corpus_sigs$slug")
    }
    val bandTbl = ensureStoreTable(spark, s"corpus_bands$slug", fp) {
      // band keys derive from the persisted sig table, so signatures are
      // computed once per corpus rebuild, not once per derived table
      boundedBands(bandKeys(spark.table(s"corpus_sigs$slug")
          .withColumnRenamed("corpus_id", "doc_id")))
        .withColumnRenamed("doc_id", "corpus_id")
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .mode("overwrite").saveAsTable(s"corpus_bands$slug")
    }
    (bandTbl, sigTbl)
  }

  /** C16b — incremental near-dedup: today's batch against the persisted
    * corpus signature store. Batch-internal near-duplicates are out of scope
    * by design (they are C2's job over the batch alone); this operator
    * answers "is the new document a near-copy of anything already ingested".
    * DedupFixtureSpec pins both the cross-boundary planted-pair recall and
    * the no-corpus-exchange plan. */
  def dedupIncrementalNear(spark: SparkSession, sfDir: String): DataFrame =
    incrementalNearSplit(spark, sfDir, "m10", col("doc_id") % 10 =!= 9)

  private[graft] def incrementalNearSplit(spark: SparkSession, sfDir: String,
    tag: String, corpusPred: Column): DataFrame = {
    val (bandTbl, sigTbl) = ensureCorpusSignatureStore(spark, sfDir, tag, corpusPred)
    val batch = Tables.load(spark, sfDir, "documents").filter(!corpusPred)
    // batch signatures feed both the band probe and the verify join; the
    // checkpoint materializes them once, bounded by the batch (not corpus)
    val batchSigs = sigsOf(PipelineOps.gramSet(batch, 3)).localCheckpoint()
    val cands = boundedBands(bandKeys(batchSigs))
      .join(spark.table(bandTbl), "band_key")
      .select(col("doc_id"), col("corpus_id"))
      .distinct()
    val est = cands
      .join(spark.table(sigTbl), "corpus_id")
      .join(batchSigs.withColumnRenamed("sig", "bsig"), "doc_id")
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.sigAgreement(spark, col("sig"), col("bsig"))
          .cast("double") / lit(NumHashes))
      .filter(col("est_jaccard") >= 0.5)
    batch.select(col("doc_id"))
      .join(est.groupBy(col("doc_id"))
        .agg(min(col("corpus_id")).as("dup_of"),
          max(col("est_jaccard")).as("max_est_jaccard")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("max_est_jaccard"), lit(0.0)).as("max_est_jaccard"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  // ----- C2: MinHash + LSH -----

  /** C2 — MinHash/LSH near-dedup decision per document: estimated Jaccard from
    * signature agreement over band-collision candidates; a doc is a duplicate
    * if a lower-id candidate matches at ≥ 0.5. Emits one row per doc (500 at
    * sf0.01) so the result shape is stable even on a dup-free corpus. */
  /** Candidate pairs with their signature-estimated Jaccard at/above τ —
    * the shared "near-dup edge set" of C2 and C5b. */
  private def nearDupEdges(spark: SparkSession, sfDir: String, tau: Double): DataFrame =
    nearDupEdgesFrom(spark, withSig(spark, sfDir), tau)

  private def nearDupEdgesFrom(spark: SparkSession, sigs: DataFrame,
    tau: Double): DataFrame = {
    bandCandidates(sigs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        // native fused loop (graft.functions.SigAgreement); FunctionsSpec
        // pins equality with the aggregate(zip_with(...)) composed form
        graft.functions.GraftFunctions.sigAgreement(spark, col("sig_a"), col("sig_b"))
          .cast("double") / lit(NumHashes))
      .filter(col("est_jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashDecisions(spark, sfDir, withSig(spark, sfDir))

  /** C2b — the same near-dup decision over ROW-LOCAL signatures: the native
    * one-pass MinHashSignature kernel computes each document's 64-wide
    * signature inside the scan (no gram Generate, no signature shuffle) —
    * identical output to C2 (FunctionsSpec pins signature equality; the
    * DuckDB oracle is shared verbatim), different 100 TB shape: C2 amortizes
    * a persisted signature store, C2b is the single-pass / streaming-ready
    * form where no store exists yet. */
  def dedupMinhashLocal(spark: SparkSession, sfDir: String): DataFrame =
    minhashDecisions(spark, sfDir, rowLocalSigs(spark, sfDir))

  /** The memoized row-local signature store over the corpus — C2b's input,
    * and the resolve-side store D5's candidate verification probes (ONE
    * signature pass amortized across the batch and streaming near-dup
    * tiers; the production analog is the signature table the ingest
    * pipeline maintains). */
  private[graft] def rowLocalSigs(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, sfDir,
      "minhash_rowlocal:" + graft.Tables.fingerprint(sfDir, "documents")) {
      val d = Tables.load(spark, sfDir, "documents")
      d.select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig(spark, col("text")).as("sig"))
    }

  private def minhashDecisions(spark: SparkSession, sfDir: String,
    sigs: DataFrame): DataFrame = {
    val est = nearDupEdgesFrom(spark, sigs, 0.5)
    val dupOf = est.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"), max(col("est_jaccard")).as("max_est_jaccard"))
    Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("max_est_jaccard"), lit(0.0)).as("max_est_jaccard"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  /** C5b — near-dup cluster extraction: connected components of the near-dup
    * edge graph via min-label propagation, so every document maps to the
    * smallest doc_id in its cluster (the canonical "which copy do we keep").
    * Each round is one join + one aggregate; `localCheckpoint` cuts the
    * iterative lineage so plans stay flat. Near-dup components are shallow in
    * practice (duplicates of duplicates), so a fixed round count converges;
    * DedupSpec asserts the fixpoint (every edge's endpoints share a label). */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val est = nearDupEdges(spark, sfDir, 0.5)
    minLabelComponents(spark, docs.select(col("doc_id").as("id")),
        est.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("cluster_rep"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The bounded min-label-propagation component machinery behind C5b —
    * shared with C57's semantic-tier clusters (`dedup_semantic_clusters`),
    * which feeds it the persisted kNN graph's τ-edges. `ids` is the full
    * (id) vertex universe (isolated vertices come back as singletons);
    * `pairs` is one direction of the undirected candidate edge set. */
  private[graft] def minLabelComponents(spark: SparkSession,
    ids: DataFrame, pairs: DataFrame): DataFrame = {
    // both directions in ONE pass over the candidate pipeline (a union of two
    // selects would recompute the candidate derivation twice), cached for
    // the iteration
    val edges = pairs.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    // Active-vertex restriction: only vertices that appear in an edge can
    // ever change label; the (typically vast) isolated majority keeps its
    // identity label and never enters the iteration — at 100 TB this is the
    // difference between iterating over the corpus and over the dup graph.
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    // Min-label propagation strictly decreases sum(label) until the fixpoint,
    // so an unchanged sum is an exact convergence test (one cheap agg per
    // round); the round cap only bounds pathological chain-shaped components.
    // DECIMAL(38,0) sum: with 64-bit ids over billions of rows a long
    // sum would overflow (and Spark's ANSI mode throws on it).
    var prevSum = ""
    var converged = false
    var round = 0
    while (!converged && round < ClusterRoundCap) {
      val msgs = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      // lazy checkpoint: the convergence-test action below materializes it,
      // so each round runs ONE job, not a checkpoint job plus a sum job
      labels = labels.union(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      // sum over ZERO labels is SQL NULL: an edge-free input (a corpus with
      // no qualifying pairs — C57's τ can legitimately cut every edge) must
      // come back as all-singletons, not an NPE; "0" is a safe stand-in
      // because real label sums are positive and only CONSECUTIVE equality
      // is ever compared
      val s = Option(labels.agg(sum(col("label").cast("decimal(38,0)")))
        .head().getDecimal(0)).map(_.toPlainString).getOrElse("0")
      converged = s == prevSum
      prevSum = s
      round += 1
    }
    // convergence-round telemetry (the r15 dedup_clusters drift watch item:
    // a cost move with MORE rounds is graph-shape growth; same rounds points
    // at per-round plan cost) — one stderr line, no plan impact
    System.err.println(s"[graft] minLabelComponents: converged in $round rounds")
    // the cap exists to bound pathological chain-shaped components (graph
    // diameter > rounds) — but exiting un-converged means WRONG cluster
    // labels (a chain's far end keeps an intermediate rep), which the exact
    // recursive-closure oracle would surface as an opaque hash mismatch;
    // fail loudly at the source instead. Real near-dup graphs are
    // dense-cluster-shaped (diameter 2-3); a deeper corpus raises the cap.
    require(converged,
      s"minLabelComponents: min-label propagation did not converge in $round " +
        "rounds — a dup-graph component has diameter > rounds; raise the " +
        s"cap (-Dgraft.cluster.rounds, currently $ClusterRoundCap)")
    // labels is localCheckpoint'd (materialized, lineage cut), so the edge
    // cache can be released before the final lazy joins run
    edges.unpersist(false)
    // re-attach the isolated vertices as singleton clusters. The labeled
    // vertex frame feeds BOTH the size rollup and the final join; as sibling
    // subtrees each would re-run the ids⋈labels outer join (scan + two
    // exchanges). Materialize it once — exchange-bearing cone, so the
    // checkpoint wins over concurrent re-evaluation (r17 A/B discipline).
    val allLabels = ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint(true)
    val sizes = allLabels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    allLabels.join(sizes, "label")
      .select(col("id"), col("label").as("cluster_rep"), col("cluster_size"))
  }

  // ----- C3: SimHash -----

  /** 64-bit SimHash per document, computed as explode(tokens) → groupBy(doc)
    * with 64 static-shift bit-vote sums. The shuffle carries only 64 partial
    * counters per doc per map task (map-side partial aggregation), and every
    * expression is a codegen'd built-in — this beats a per-row 64-pass array
    * fold by ~5× and scales out with executors. The 64 token-hash bits are
    * two md5-derived 32-bit halves (same portable technique as the minhash
    * base hash; the repeated md5 is eliminated by codegen subexpression
    * elimination), so the DuckDB oracle reproduces every vote — and therefore
    * every signature, chunk key and Hamming distance — integer-exactly. */
  private def simhashSigs(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        md5Long(col("t"), 8).as("h0"),
        conv(substring(md5(col("t")), 9, 8), 16, 10).cast("long").as("h1"))
    val bitVotes = (0 until 64).map { i =>
      val (h, b) = if (i < 32) (col("h0"), i) else (col("h1"), i - 32)
      sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L), 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val voted = tok.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col("doc_id"), sim.as("simhash"))
  }

  /** C3 — SimHash near-dedup: 4×16-bit chunk blocking (a ≤3-bit-different pair
    * must agree on ≥1 chunk), Hamming-distance verify via bit_count(xor). One
    * row per doc. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    dedupSimhash(spark, sfDir, materialize = true)

  /** r17: same double-evaluated-self-join-side fix as [[bandCandidates]] —
    * the guarded chunk relation is localCheckpoint'd once per run instead
    * of running the chunk explode + MaxBucket window on both join sides;
    * `materialize = false` preserves the declarative plan for the gate. */
  private[graft] def dedupSimhash(spark: SparkSession, sfDir: String,
    materialize: Boolean): DataFrame = {
    val sigs = memoize(spark, sfDir,
      "simhash:" + graft.Tables.fingerprint(sfDir, "documents")) {
      simhashSigs(Tables.load(spark, sfDir, "documents"))
    }
    val chunks = array((0 until 4).map { j =>
      shiftrightunsigned(col("simhash"), 16 * j).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val chunkedRaw = sigs.select(col("doc_id"), col("simhash"), posexplode(chunks))
      .toDF("doc_id", "simhash", "chunk_id", "chunk_key")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_id"), col("chunk_key"))
    val chunked0 = chunkedRaw // same skew guard as the minhash bands
      .withColumn("bucket_n", count(lit(1)).over(wc))
      .filter(col("bucket_n") <= MaxBucket)
      .drop("bucket_n")
    val chunked = if (materialize) chunked0.localCheckpoint() else chunked0
    val pairs = chunked.as("x").join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
        col("x.chunk_key") === col("y.chunk_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val dupOf = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"), min(col("hamming")).as("min_hamming"))
    sigs.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"), col("dup_of"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  /** Generated DuckDB oracle for C3: the md5-halved token hash makes every
    * bit-vote portable, so signatures, chunk keys and Hamming distances are
    * integer-exact across engines (arithmetic >> plus the 16-bit mask equals
    * Spark's unsigned shift on the masked bits). */
  def dedupSimhashSql: String = {
    val votes = (0 until 64).map { i =>
      val (h, b) = if (i < 32) ("h0", i) else ("h1", i - 32)
      s"SUM(CASE WHEN ($h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n   ")
    val sim = (0 until 64).map { i =>
      // bit 63 is Long.MinValue — expressible only as the subtraction form
      if (i == 63) "CASE WHEN b63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE 0 END"
      else s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
    }.mkString("\n   + ")
    val chunks = (0 until 4).map { j =>
      s"SELECT doc_id, simhash, $j AS chunk_id, (simhash >> ${16 * j}) & 65535 AS chunk_key FROM sim"
    }.mkString("\n UNION ALL ")
    s"""WITH tok AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (
       | SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h0,
       |  CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS h1 FROM tok),
       |votes AS (
       | SELECT doc_id,
       |   $votes
       | FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $sim AS simhash FROM votes),
       |chunked_all AS (
       | $chunks),
       |chunked AS (
       | SELECT * FROM chunked_all
       | QUALIFY COUNT(*) OVER (PARTITION BY chunk_id, chunk_key) <= $MaxBucket),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.simhash, y.simhash)) AS hamming
       | FROM chunked x JOIN chunked y
       |  ON x.chunk_id = y.chunk_id AND x.chunk_key = y.chunk_key AND x.doc_id < y.doc_id),
       |dup AS (
       | SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of
       | FROM pairs WHERE hamming <= 3 GROUP BY doc_b)
       |SELECT s.doc_id, s.simhash, dup.dup_of, dup.dup_of IS NOT NULL AS is_duplicate
       |FROM sim s LEFT JOIN dup ON s.doc_id = dup.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // ----- C4: n-gram Jaccard verify -----

  /** C4 — exact shingle-Jaccard verification, staged the way a 100 TB dedup
    * pipeline must be: cheap signature-estimate first (64 int compares per
    * pair), exact set-intersection only for the shortlist that survives it.
    * Emits the top-50 pairs by exact Jaccard (stable tie-break on ids). */
  def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val sigs = withSig(spark, sfDir)
    val cands = bandCandidates(sigs)
    // stage 1: rank all candidates by the signature estimate (cheap)
    val shortlist = cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est",
        graft.functions.GraftFunctions.sigAgreement(spark, col("sig_a"), col("sig_b")))
      .select(col("doc_a"), col("doc_b"), col("est"))
      .orderBy(col("est").desc, col("doc_a"), col("doc_b"))
      .limit(500)
      .localCheckpoint() // ≤500 rows, read three times below; no cache leak
    // stage 2: exact verify only the shortlist (bounded work). Shingle sets
    // are computed ONLY for the ≤1000 shortlisted documents — a broadcast
    // semi-join prunes the corpus scan, so exact-verify cost is bounded by
    // the shortlist size, not the corpus size (the property that matters at
    // 100 TB: the expensive exact pass never touches the full corpus).
    val shortIds = shortlist
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sh = d.join(broadcast(shortIds), "doc_id")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    shortlist
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  // ----- generated DuckDB oracles for the MinHash family (C2/C4) -----

  /** Shared CTE chain reproducing the full signature pipeline in DuckDB: same
    * grams, same md5-derived base hash, same multiply-mod family constants,
    * same band keys and bucket skew guard — signatures, candidates and
    * agreement counts are integer-exact across engines, so the previously
    * rows-only C2/C4 estimates are hash-checkable end-to-end. */
  /** The signature pipeline (toks→grams→base→sigs→banded) over an arbitrary
    * document source, CTE names suffixed so one statement can carry two
    * instances (the incremental oracle needs corpus and batch sides). */
  private def sigCtes(src: String, sfx: String): String = {
    val minCols = (0 until NumHashes).map(i =>
      s"MIN((${hashA(i)} * x + ${hashB(i)}) % $P) AS m$i").mkString(",\n   ")
    val bandRows = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(j => s"m${b * RowsPerBand + j}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, CAST(('0x' || substr(md5('$b,' || $cols), 1, 15)) AS BIGINT) AS band_key FROM sigs$sfx"
    }.mkString("\n UNION ALL ")
    s"""toks$sfx AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM $src),
       |grams$sfx AS (
       | SELECT doc_id, CASE WHEN len(t) >= 3
       |  THEN list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
       |  ELSE [text] END AS gs
       | FROM toks$sfx),
       |base$sfx AS (
       | SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $P AS x
       | FROM (SELECT doc_id, unnest(gs) AS g FROM grams$sfx)),
       |sigs$sfx AS (
       | SELECT doc_id,
       |   $minCols
       | FROM base$sfx GROUP BY doc_id),
       |banded_all$sfx AS (
       | $bandRows),
       |banded$sfx AS (
       | SELECT * FROM banded_all$sfx
       | QUALIFY COUNT(*) OVER (PARTITION BY band_key) <= $MaxBucket)""".stripMargin
  }

  private def agreeExpr(a: String, b: String): String =
    (0 until NumHashes).map(i => s"CAST($a.m$i = $b.m$i AS INT)").mkString(" + ")

  private def minhashChain: String =
    s"""${sigCtes("documents", "")},
       |cands AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM banded x JOIN banded y
       |  ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |est AS (
       | SELECT c.doc_a, c.doc_b, ${agreeExpr("sa", "sb")} AS agree
       | FROM cands c
       | JOIN sigs sa ON c.doc_a = sa.doc_id
       | JOIN sigs sb ON c.doc_b = sb.doc_id)""".stripMargin

  private def minhashCtes: String = s"WITH $minhashChain"

  /** Generated DuckDB oracle for C5b: exact connected components via a
    * recursive transitive closure + min-label, over the same est ≥ 0.5 edge
    * set the Spark side uses. This is the strongest possible check on the
    * min-label propagation loop: the oracle is the mathematical fixpoint, so
    * an early-terminating or mis-converging iteration cannot pass. (The
    * closure is O(component² ) per component — fine for an oracle at test
    * scale; the Spark side is the one that runs at 100 TB.) */
  def dedupClustersSql: String =
    s"""WITH RECURSIVE $minhashChain,
       |e2 AS MATERIALIZED (SELECT doc_a, doc_b FROM est WHERE agree >= 32),
       |edges AS MATERIALIZED (
       | SELECT doc_a AS s, doc_b AS d FROM e2
       | UNION
       | SELECT doc_b AS s, doc_a AS d FROM e2),
       |reach(doc_id, n) AS (
       | SELECT s, s FROM edges
       | UNION
       | SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.n = e.s),
       |labels AS (SELECT doc_id, MIN(n) AS label FROM reach GROUP BY doc_id),
       |all_labels AS (
       | SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS label
       | FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
       |sizes AS (SELECT label, COUNT(*) AS cluster_size FROM all_labels GROUP BY label)
       |SELECT a.doc_id, a.label AS cluster_rep, s.cluster_size
       |FROM all_labels a JOIN sizes s ON a.label = s.label
       |ORDER BY a.doc_id""".stripMargin

  /** C16b oracle: the same two-sided pipeline — corpus bands (corpus-side
    * skew guard), batch bands (batch-side guard), collide, verify by
    * signature agreement. */
  def dedupIncrementalNearSql: String =
    s"""WITH ${sigCtes("(SELECT * FROM documents WHERE doc_id % 10 != 9)", "_c")},
       |${sigCtes("(SELECT * FROM documents WHERE doc_id % 10 = 9)", "_b")},
       |cands AS (
       | SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS corpus_id
       | FROM banded_b b JOIN banded_c c ON b.band_key = c.band_key),
       |est AS (
       | SELECT cd.doc_id, cd.corpus_id, (${agreeExpr("sc", "sb")}) / 64.0 AS est_jaccard
       | FROM cands cd
       | JOIN sigs_c sc ON cd.corpus_id = sc.doc_id
       | JOIN sigs_b sb ON cd.doc_id = sb.doc_id),
       |dup AS (
       | SELECT doc_id, MIN(corpus_id) AS dup_of, MAX(est_jaccard) AS max_est_jaccard
       | FROM est WHERE est_jaccard >= 0.5 GROUP BY doc_id)
       |SELECT d.doc_id, dup.dup_of,
       | COALESCE(dup.max_est_jaccard, 0.0) AS max_est_jaccard,
       | dup.dup_of IS NOT NULL AS is_duplicate
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
       |LEFT JOIN dup ON d.doc_id = dup.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def dedupMinhashSql: String =
    s"""$minhashCtes,
       |dup AS (
       | SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of,
       |  MAX(agree / 64.0) AS max_est_jaccard
       | FROM est WHERE agree / 64.0 >= 0.5 GROUP BY doc_b)
       |SELECT d.doc_id, dup.dup_of,
       | COALESCE(dup.max_est_jaccard, 0.0) AS max_est_jaccard,
       | dup.dup_of IS NOT NULL AS is_duplicate
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def dedupJaccardSql: String =
    s"""$minhashCtes,
       |shortlist AS (
       | SELECT doc_a, doc_b FROM est
       | ORDER BY agree DESC, doc_a, doc_b LIMIT 500),
       |j AS (
       | SELECT s.doc_a, s.doc_b,
       |  CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
       |   len(list_distinct(ga.gs || gb.gs)) AS jaccard
       | FROM shortlist s
       | JOIN grams ga ON s.doc_a = ga.doc_id
       | JOIN grams gb ON s.doc_b = gb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM j
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** Generated DuckDB oracle for D5 (streaming near-dedup): the streaming
    * form's per-band state holds the FIRST MaxBucket keepers in doc_id order,
    * and a band that has saturated (MaxBucket keepers) emits nothing for
    * later arrivals — the append analog of C2's drop-the-whole-bucket skew
    * guard (a stream cannot retract already-emitted edges, so it freezes the
    * bucket at the cap instead of disqualifying it retroactively; the batch
    * tier drops such buckets entirely, and both hand the degenerate cluster
    * to the exact tier C1/D4). In closed form: candidate (x, y) iff they
    * share a band, x.doc_id < y.doc_id, and y's rank within the band (by
    * doc_id) is ≤ MaxBucket — which implies x.rk < y.rk ≤ MaxBucket, so the
    * emitter side is bounded too. ROW_NUMBER expresses that exactly, and it
    * caps a band's lifetime emission at C(MaxBucket, 2) pairs. */
  def streamDedupNearSql: String =
    s"""WITH ${sigCtes("documents", "")},
       |rk AS (
       | SELECT doc_id, band_key,
       |  ROW_NUMBER() OVER (PARTITION BY band_key ORDER BY doc_id) AS rk
       | FROM banded_all),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS cand_id, y.doc_id AS doc_id
       | FROM rk x JOIN rk y
       |  ON x.band_key = y.band_key AND x.doc_id < y.doc_id AND y.rk <= $MaxBucket),
       |est AS (
       | SELECT p.doc_id, p.cand_id, ${agreeExpr("sa", "sb")} AS agree
       | FROM pairs p
       | JOIN sigs sa ON p.cand_id = sa.doc_id
       | JOIN sigs sb ON p.doc_id = sb.doc_id),
       |dup AS (
       | SELECT doc_id, MIN(cand_id) AS dup_of, MAX(agree / 64.0) AS max_est_jaccard
       | FROM est WHERE agree >= 32 GROUP BY doc_id)
       |SELECT d.doc_id, dup.dup_of,
       | COALESCE(dup.max_est_jaccard, 0.0) AS max_est_jaccard,
       | dup.dup_of IS NOT NULL AS is_duplicate
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ----- C5: embedding cosine near-dup -----

  /** Deterministic hyperplanes for sign-bucket LSH (seeded; no wall-clock or
    * nondeterministic randomness anywhere near the data path). */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  private def dot(v: Column, p: Array[Double]): Column =
    aggregate(zip_with(v, lit(p), (a, b) => a * b), lit(0.0), (acc, x) => acc + x)

  /** C5 — embedding cosine near-dup: 8-hyperplane sign bucket as the LSH key,
    * exact cosine verify within buckets at τ=0.45 (tuned to this corpus — its
    * max pairwise cosine is ~0.51). One row per vector. */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val planes = hyperplanes(8, 64)
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(dot(col("v"), p) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sigs = memoize(spark, sfDir,
      "embsig:" + graft.Tables.fingerprint(sfDir, "embeddings")) {
      e.select(col("vec_id"), col("v"), bucket.as("bucket"))
    }
    val pairs = sigs.as("x").join(sigs.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosine(spark, col("x.v"), col("y.v")))
      .filter(col("cosine") >= 0.45)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("cosine"))
    val dupOf = pairs.groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"), max(col("cosine")).as("max_cosine"))
    sigs.select(col("vec_id"), col("bucket"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("dup_of"),
        coalesce(col("max_cosine"), lit(0.0)).as("max_cosine"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("vec_id"))
  }

  /** The HOISTED-hyperplane sign-bucket CTEs shared by the C5/C7 oracles
    * (r16 directive: the old form embedded each 64-double plane as a list
    * LITERAL inside the per-index lambda — `(…64 doubles…)[i]` — so DuckDB
    * re-constructed the list per element access, O(dim²) per dot product;
    * at sf1 those two statements were ~270 s of the full oracle pass).
    * Planes live ONCE in a MATERIALIZED VALUES CTE; each (vector, plane)
    * dot keeps the identical sequential fold (list_reduce over a prepended
    * 0 — Spark's aggregate), and the 8 sign terms combine under an integer
    * SUM, exact in any order, so buckets are bit-identical to the inlined
    * form. `castTo` preserves each caller's historical bucket type. */
  private[operators] def hoistedPlanesCtes(castTo: String): String = {
    val planes = hyperplanes(8, 64)
    val values = planes.zipWithIndex
      .map { case (p, i) => s"($i, ${p.mkString("[", ", ", "]")})" }
      .mkString(",\n  ")
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> e.v[i] * pl.pv[i])), (a, b) -> a + b)"
    s"""planes AS MATERIALIZED (
       | SELECT * FROM (VALUES
       |  $values) AS t(pid, pv)),
       |sig AS MATERIALIZED (
       | SELECT e.vec_id, CAST(SUM(CASE WHEN $dot > 0
       |   THEN CAST(1 AS BIGINT) << pl.pid ELSE CAST(0 AS BIGINT) END) AS $castTo) AS bucket
       | FROM e, planes pl GROUP BY e.vec_id)""".stripMargin
  }

  /** Generated DuckDB oracle for C5: the hyperplane literals are inlined from
    * the same seeded array the Spark side uses (hoisted into a VALUES CTE —
    * see [[hoistedPlanesCtes]]), and every float fold is sequential
    * (list_reduce with a prepended 0 ≡ Spark's aggregate/native
    * single-pass), so buckets and cosines are bit-identical across engines. */
  def dedupEmbeddingSql: String = {
    // NORM-FACTORED within-bucket pairs (ivfGraphSqlTemplate's convention:
    // same IEEE multiply tree, one fold per pair instead of three)
    val cosine = s"${Similarity.sqlDot("x.v", "y.v")} / (x.nrm * y.nrm)"
    s"""WITH e AS (
       | SELECT vec_id, list_transform(embedding, z -> CAST(z AS DOUBLE)) AS v
       | FROM embeddings),
       |${hoistedPlanesCtes("BIGINT")},
       |b AS MATERIALIZED (SELECT e.vec_id, e.v AS v,
       |  sqrt(${Similarity.sqlSq("e.v")}) AS nrm, s.bucket AS bucket
       | FROM e JOIN sig s ON e.vec_id = s.vec_id),
       |pairs AS (
       | SELECT y.vec_id AS vec_id, x.vec_id AS va, $cosine AS cosine
       | FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |agg AS (
       | SELECT vec_id, MIN(va) AS dup_of, MAX(cosine) AS max_cosine
       | FROM pairs WHERE cosine >= 0.45 GROUP BY vec_id)
       |SELECT b.vec_id, b.bucket, a.dup_of,
       | COALESCE(a.max_cosine, 0.0) AS max_cosine,
       | a.dup_of IS NOT NULL AS is_duplicate
       |FROM b LEFT JOIN agg a ON b.vec_id = a.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_priority" -> (dedupPriority _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_near" -> (dedupIncrementalNear _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_minhash_local" -> (dedupMinhashLocal _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_embedding" -> (dedupEmbedding _))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_priority" -> dedupPrioritySql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_near" -> dedupIncrementalNearSql,
    "dedup_minhash" -> dedupMinhashSql,
    // C2b computes identical signatures row-locally → same oracle verbatim
    "dedup_minhash_local" -> dedupMinhashSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_embedding" -> dedupEmbeddingSql)
}
