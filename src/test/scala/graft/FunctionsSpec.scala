package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

class FunctionsSpec extends SparkSpec {

  test("graft_cosine matches the composed column form bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0, 2.5), Array(-0.5, 1.0, -2.5)),
      (Array(1.0, 0.0), Array(0.0, 1.0))
    ).toDF("a", "b")
    val composed = df.select(
      (aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, z) => s + z) /
        (sqrt(aggregate(transform(col("a"), x => x * x), lit(0.0), (s, z) => s + z)) *
          sqrt(aggregate(transform(col("b"), x => x * x), lit(0.0), (s, z) => s + z))))
        .as("c")).collect().map(_.getDouble(0))
    val native = df.select(GraftFunctions.cosine(spark, col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(native.toSeq == composed.toSeq)
    assert(math.abs(native(2)) < 1e-15) // orthogonal vectors
  }

  test("graft_nearest_cid matches the unrolled greatest(struct) argmax at K > 64") {
    import spark.implicits._
    // deterministic pseudo-random corpus + a K=100 codebook: past the K≈64
    // width where the unrolled form stops being codegen-viable, the kernel
    // must still agree with it decision-for-decision (same cosine fold, same
    // csim-DESC/cid-ASC selection)
    def vec(seed: Int): Array[Double] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i * 7).toDouble)
    val codebook = Array.tabulate(100)(c => (c, vec(c + 1000)))
    val df = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
    val unrolled = greatest(codebook.map { case (cid, cv) =>
      struct(
        GraftFunctions.cosine(spark, col("v"), lit(cv)).as("csim"),
        lit(-cid).as("ncid"))
    }.toIndexedSeq: _*)
    val expect = df.select(col("vec_id"), (-unrolled.getField("ncid")).cast("bigint").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = df.select(col("vec_id"),
        GraftFunctions.nearestCid(spark, col("v"), codebook).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.values.toSet.size > 10, "degenerate corpus: argmax never varied")
  }

  test("graft_nearest_cid_bc decides bit-identically to the literal form") {
    import spark.implicits._
    // decision identity is what lets semanticAssigned (and the Lloyd
    // trainer's size switch) move between transports without shifting a
    // single cluster assignment — same fixture family as the K>64 test
    def vec(seed: Int): Array[Double] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i * 7).toDouble)
    val codebook = Array.tabulate(100)(c => (c, vec(c + 1000)))
    val df = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
    val lit = df.select(col("vec_id"),
        GraftFunctions.nearestCid(spark, col("v"), codebook).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = df.select(col("vec_id"),
        GraftFunctions.nearestCidBroadcast(spark, col("v"), codebook).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bc == lit)
    // NULL-in → NULL-out, matching the literal kernel's null-intolerance
    val nulls = Seq((1L, null: Array[Double])).toDF("vec_id", "v")
      .select(GraftFunctions.nearestCidBroadcast(spark, col("v"), codebook).as("cid"))
    assert(nulls.head().isNullAt(0))
  }

  test("graft_nearest_cids_bc ranks top-p exactly like ROW_NUMBER(csim DESC, cid ASC)") {
    import spark.implicits._
    // the multi-probe planner behind knn_join_ivf: per-row top-p must equal
    // the oracle's window-rank convention on EVERY edge — NaN cosines rank
    // first (DuckDB's ORDER BY csim DESC puts NaN greatest, like the
    // singular kernel), ties break on lowest cid, ragged dims fold over
    // min(len) — so the same reference ranking is computed here on the
    // driver with exactly those rules
    def vec(seed: Int): Array[Double] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i * 7).toDouble)
    val codebook = Array.tabulate(100)(c => (c, vec(c + 1000)))
    val rows = (0 until 200).map(i => (i.toLong, vec(i))) ++ Seq(
      (900L, Array.fill(16)(0.0)),         // zero vector: every csim NaN
      (901L, vec(5).take(7)),              // ragged: shorter than centroids
      (902L, vec(6) ++ Array(9.9, -9.9)))  // ragged: longer than centroids
    def refRank(q: Array[Double], p: Int): Seq[Long] =
      codebook.map { case (cid, cv) =>
        val n = math.min(q.length, cv.length)
        var dot = 0.0; var nq = 0.0; var nc = 0.0; var i = 0
        while (i < n) { dot += q(i) * cv(i); nq += q(i) * q(i); nc += cv(i) * cv(i); i += 1 }
        (cid.toLong, dot / (math.sqrt(nq) * math.sqrt(nc)))
      }.sortWith { case ((c1, s1), (c2, s2)) =>
        s1 > s2 || (s1.isNaN && !s2.isNaN) ||
          ((s1 == s2 || (s1.isNaN && s2.isNaN)) && c1 < c2)
      }.take(p).map(_._1).toSeq
    val df = rows.toDF("vec_id", "v")
    val got = df.select(col("vec_id"),
        GraftFunctions.nearestCidsBroadcast(spark, col("v"), codebook, 4).as("cids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    rows.foreach { case (id, q) =>
      assert(got(id) == refRank(q, 4), s"vec $id: ${got(id)} != ${refRank(q, 4)}")
    }
    // the zero vector's all-NaN scores must fall back to pure cid order
    assert(got(900L) == Seq(0L, 1L, 2L, 3L))
    // p = 1 is the singular kernel
    val single = df.select(col("vec_id"),
        GraftFunctions.nearestCidBroadcast(spark, col("v"), codebook).as("cid"),
        GraftFunctions.nearestCidsBroadcast(spark, col("v"), codebook, 1).as("cids"))
      .collect()
    single.foreach { r =>
      assert(r.getSeq[Long](2) == Seq(r.getLong(1)), s"p=1 mismatch at ${r.getLong(0)}")
    }
    // p past K returns all K cids in rank order, never pads
    val all = df.filter(col("vec_id") === 0)
      .select(GraftFunctions.nearestCidsBroadcast(spark, col("v"), codebook, 150).as("cids"))
      .head().getSeq[Long](0)
    assert(all.size == 100 && all.toSet.size == 100)
    assert(all == refRank(vec(0), 150))
    // NULL in → NULL out
    val nulls = Seq((1L, null: Array[Double])).toDF("vec_id", "v")
      .select(GraftFunctions.nearestCidsBroadcast(spark, col("v"), codebook, 4).as("cids"))
    assert(nulls.head().isNullAt(0))
  }

  test("graft_nearest_cid_bc clears the old 65536-centroid plan-literal cap") {
    import spark.implicits._
    // K = 70_000 centroids — past the literal form's 32 MiB sanity cap that
    // bounded semantic-dedup sizing. dim 2 keeps the fixture cheap: the cap
    // being lifted is about codebook ROW COUNT reaching the plan, and the
    // assertion below pins that the plan carries a handle, not the data.
    val k = 70000
    val codebook = Array.tabulate(k) { c =>
      val ang = c * (2 * math.Pi / k)
      (c, Array(math.cos(ang), math.sin(ang)))
    }
    // the semantic-K policy: ∝ N below the flat budget (SemDeDup's
    // fixed-cluster-count regime above it — the KERNEL has no size cap, the
    // budget is the deliberate sizing rule bounding the trained artifact,
    // the means collect and the per-row assignment scan)
    assert(operators.Similarity.semanticK(100L) == 16)            // floor
    assert(operators.Similarity.semanticK(128L * 1000) == 1000)   // ∝ N
    assert(operators.Similarity.semanticK(128L * 100000) ==
      operators.Similarity.semanticKBudget)                       // budget
    assert(operators.Similarity.semanticK(Long.MaxValue) ==
      operators.Similarity.semanticKBudget)
    val probes = Seq(0, 17, 33333, 69999)
    val df = probes.map(c => (c.toLong, codebook(c)._2)).toDF("vec_id", "v")
    val q = df.select(col("vec_id"),
      GraftFunctions.nearestCidBroadcast(spark, col("v"), codebook).as("cid"))
    // each probe IS a centroid direction → argmax must return its own cid
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == probes.map(c => c.toLong -> c.toLong).toMap)
    // the codebook must NOT ride in the plan: 70k×2 doubles would print as
    // megabytes of literal text; the broadcast handle keeps the analyzed
    // plan a few hundred bytes
    val planText = q.queryExecution.analyzed.toString
    assert(planText.contains("graft_nearest_cid_bc"))
    assert(planText.length < 10000,
      s"codebook leaked into the plan (${planText.length} chars)")
  }

  test("graft_nearest_cid_bc memoizes one broadcast per codebook instance") {
    import spark.implicits._
    val codebook = Array.tabulate(8)(c => (c, Array(c.toDouble, 1.0)))
    val df = Seq((1L, Array(7.0, 1.0))).toDF("vec_id", "v")
    // same codebook instance → same handle id in the plan (modulo per-plan
    // expression ids), which is what plan canonicalization / subexpression
    // elimination key on
    def handleOf() = {
      val plan = df.select(
        GraftFunctions.nearestCidBroadcast(spark, col("v"), codebook).as("cid"))
        .queryExecution.analyzed.toString.replaceAll("#\\d+", "")
      val m = "graft_nearest_cid_bc\\(v, Broadcast\\((\\d+)\\)\\)".r.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"kernel call missing from plan:\n$plan")
      m.get.group(1)
    }
    assert(handleOf() == handleOf())
  }

  test("graft_nearest_cid_bc: distinct instances never share a broadcast; eviction fails loudly") {
    import spark.implicits._
    val df = Seq((1L, Array(9.0, 1.0))).toDF("vec_id", "v")
    def cidWith(cb: Array[(Int, Array[Double])]): Long =
      df.select(GraftFunctions.nearestCidBroadcast(spark, col("v"), cb).as("cid"))
        .head().getLong(0)
    // two DISTINCT instances with DIFFERENT content must each decide by
    // their own centroids — a memo keyed on a non-unique hash (the fixed
    // identityHashCode bug) could silently serve instance A's broadcast for
    // instance B and assign against the wrong codebook
    val a = Array((0, Array(9.0, 1.0)), (1, Array(0.0, 1.0)))
    val b = Array((0, Array(0.0, 1.0)), (1, Array(9.0, 1.0)))
    assert(cidWith(a) == 0L, "codebook a: nearest centroid is cid 0")
    assert(cidWith(b) == 1L, "codebook b: nearest centroid is cid 1")
    // eviction contract: a column built BEFORE clearCaches() must fail
    // LOUDLY afterwards (destroyed broadcast), never compute against stale
    // centroids; a fresh build re-registers and decides correctly again
    val stale = df.select(
      GraftFunctions.nearestCidBroadcast(spark, col("v"), a).as("cid"))
    operators.Similarity.clearCaches()
    val failedLoudly =
      try { stale.collect(); false } catch { case _: Throwable => true }
    assert(failedLoudly, "pre-clear broadcast column still ran after eviction")
    assert(cidWith(a) == 0L, "fresh registration after the clear")
  }

  test("releaseCodebookBroadcast evicts ONE codebook, leaves others, tolerates strangers") {
    import spark.implicits._
    // the Lloyd trainer's per-iteration eviction path: releasing an
    // intermediate codebook must destroy ITS broadcast (a stale column
    // fails loudly, a rebuild re-registers fresh) without touching any
    // other registered codebook — and releasing a never-registered array
    // must be a harmless no-op
    val df = Seq((1L, Array(9.0, 1.0))).toDF("vec_id", "v")
    def cidWith(cb: Array[(Int, Array[Double])]): Long =
      df.select(GraftFunctions.nearestCidBroadcast(spark, col("v"), cb).as("cid"))
        .head().getLong(0)
    val kept = Array((0, Array(9.0, 1.0)), (1, Array(0.0, 1.0)))
    val dropped = Array((0, Array(0.0, 1.0)), (1, Array(9.0, 1.0)))
    val keptCol = df.select(
      GraftFunctions.nearestCidBroadcast(spark, col("v"), kept).as("cid"))
    val droppedCol = df.select(
      GraftFunctions.nearestCidBroadcast(spark, col("v"), dropped).as("cid"))
    GraftFunctions.releaseCodebookBroadcast(dropped)
    GraftFunctions.releaseCodebookBroadcast(
      Array((9, Array(1.0, 1.0)))) // never registered: no-op, no throw
    val failedLoudly =
      try { droppedCol.collect(); false } catch { case _: Throwable => true }
    assert(failedLoudly, "released codebook's column still ran")
    assert(keptCol.head().getLong(0) == 0L, "unrelated codebook was evicted too")
    assert(cidWith(dropped) == 1L, "re-registration after targeted release")
  }

  test("graft_nearest_cid breaks exact cosine ties on the LOWEST cid") {
    import spark.implicits._
    // centroids 3 and 7 are the same direction (2x scaling leaves cosine
    // bit-identical: (2a·v)/(|2a||v|) folds to the same double here because
    // scaling by a power of two is exact) → tie must resolve to cid 3
    val base = Array(1.0, 2.0, 4.0)
    val codebook = Array(
      (1, Array(-1.0, 0.0, 0.0)),
      (3, base),
      (7, base.map(_ * 2.0)))
    val got = Seq(Tuple1(base)).toDF("v")
      .select(GraftFunctions.nearestCid(spark, col("v"), codebook))
      .head().getLong(0)
    assert(got == 3L)
  }

  test("graft_nearest_cid rejects non-literal codebook args and ragged codebooks") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    intercept[IllegalArgumentException] {
      GraftFunctions.nearestCid(spark, col("v"),
        Array((0, Array(1.0, 2.0)), (1, Array(1.0))))
    }
    val err = intercept[Exception] {
      Seq((Array(1.0), Array(1L))).toDF("v", "c")
        .select(call_function("graft_nearest_cid",
          col("v"), col("c"), array(lit(1.0)), lit(1))).collect()
    }
    assert(err.getMessage.contains("LITERAL"))
  }

  test("a new session of a GraftConf session knows every graft function") {
    val names = Seq("graft_cosine", "graft_nearest_cid", "graft_nearest_cid_bc",
      "graft_nearest_cids_bc", "graft_sig_agreement", "graft_might_contain",
      "graft_fingerprint", "graft_token_weight", "graft_ntz_utc", "graft_stop_hits",
      "graft_distinct_bigrams", "graft_gram_set", "graft_gopher_stats", "graft_bpe_count",
      "graft_bpe_merge_count", "graft_top_gram", "graft_gram_hits", "graft_gram_marks",
      "graft_pq_codes", "graft_adc_table", "graft_minhash_sig", "graft_lm_score",
      "graft_lm_score_bc")
    // the extensions alone: no Column-API call has registered anything here
    val fresh = spark.newSession()
    assert(names.filterNot(fresh.catalog.functionExists) == Nil)
    assert(GraftFunctions.All.map(_._1.funcName).sorted == names.sorted)
  }

  test("graft_cosine is callable from SQL after registration") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT graft_cosine(a, b) AS c FROM vecs").head().getDouble(0)
    assert(r == 1.0)
  }

  test("graft_cosine propagates nulls and rejects wrong types at analysis") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val withNull = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(spark, col("a"), col("b")).as("c"))
    assert(withNull.head().isNullAt(0))
    Seq(("x", 1)).toDF("a", "b").createOrReplaceTempView("bad_vecs")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_cosine(a, b) FROM bad_vecs").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("graft_ntz_utc reinterprets the physical micros and rejects non-NTZ input") {
    import spark.implicits._
    // the contract: NTZ wall-clock micros == UTC instant micros, bit-exact,
    // regardless of the session zone at execution
    val df = Seq(1700000123456789L).toDF("us")
      .select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .select(graft.functions.GraftFunctions.ntzUtc(spark, col("ts")).as("utc"))
    assert(df.schema("utc").dataType == org.apache.spark.sql.types.TimestampType)
    assert(df.select(unix_micros(col("utc"))).head().getLong(0) == 1700000123456789L)
    // null propagates; wrong input type fails analysis with the named kernel
    val n = Seq(Option.empty[Long]).toDF("us")
      .select(graft.functions.GraftFunctions.ntzUtc(spark,
        timestamp_micros(col("us")).cast("timestamp_ntz")))
    assert(n.head().isNullAt(0))
    val err = intercept[Exception] {
      Seq(1L).toDF("us")
        .select(graft.functions.GraftFunctions.ntzUtc(spark, col("us"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("ntz") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("graft_fingerprint equals the composed HOF form on the corpus + edges") {
    import spark.implicits._
    val corpus = Tables.load(spark, sfDir, "documents").select(col("text"))
    // edge shapes the corpus may not cover: empty, single token, interior
    // and trailing empties (split keeps them), unicode
    val edges = Seq("", " ", "a", "a b", "a  b", "a b ", " a", "héllo wörld é")
      .toDF("text")
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(
        graft.functions.GraftFunctions.fingerprint(spark, col("text")).as("fused"),
        graft.operators.TextAnalysis.fingerprintComposed(col("text")).as("composed"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"fused ${r.getLong(0)} != composed ${r.getLong(1)}"))
    }
    // null propagates
    val n = Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.GraftFunctions.fingerprint(spark, col("text")))
    assert(n.head().isNullAt(0))
  }

  test("graft_gopher_stats equals the split-based reference on corpus + edges") {
    import spark.implicits._
    def ref(t: String): Seq[Long] = {
      val words = t.split(" ", -1)
      val lines = t.split("\n", -1)
      Seq(words.length.toLong,
        words.count(_.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toLong,
        lines.length.toLong,
        lines.count(l => l.startsWith("- ") || l.startsWith("* ")).toLong,
        lines.count(_.endsWith("...")).toLong)
    }
    val corpus = Tables.load(spark, sfDir, "documents").select(col("text"))
    // edges the corpus never shows: empties, bullet/ellipsis lines (incl. a
    // line that is ONLY "..." or a bare "-"), a newline INSIDE a word (not a
    // word separator), multibyte text (byte probes must skip continuation
    // bytes), trailing newline (empty last line), all-numeric words
    val edges = Seq("", " ", "\n", "a\nb", "w x\ny z", "- bullet\nplain",
      "* b\n- c\n", "-\n...", "tail...", "so...on\nend...", "wor\nd more",
      "héllo wörld\n- é ...", "日本語 テスト\n- 線 ...", "12 34 #5", "a b ")
      .toDF("text")
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(col("text"),
        graft.functions.GraftFunctions.gopherStats(spark, col("text")).as("gs"))
        .select(col("text"), col("gs.*")).collect()
      rows.foreach { r =>
        val got = (1 to 5).map(r.getLong)
        assert(got == ref(r.getString(0)),
          s"gopher stats $got != ${ref(r.getString(0))} on ${r.getString(0).take(40)}")
      }
    }
    val n = Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.GraftFunctions.gopherStats(spark, col("text")))
    assert(n.head().isNullAt(0))
  }

  test("graft_token_weight equals the composed HOF form on the corpus + edges") {
    import spark.implicits._
    val corpus = Tables.load(spark, sfDir, "documents").select(col("text"))
    val edges = Seq("", " ", "a", "a b", "a  b", "a b ", " a", "héllo wörld é")
      .toDF("text")
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(
        graft.functions.GraftFunctions.tokenWeight(spark, col("text")).as("fused"),
        graft.operators.TextAnalysis.weightSumComposed(col("text")).as("composed"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"fused ${r.getLong(0)} != composed ${r.getLong(1)}"))
    }
    // independently-computed anchor: md5("a") = 0cc175b9..., first 8 hex
    // parse to 214005177; 214005177 % 1001 - 500 = -114
    val one = Seq("a").toDF("text")
      .select(graft.functions.GraftFunctions.tokenWeight(spark, col("text")))
      .head().getLong(0)
    assert(one == 214005177L % 1001L - 500L)
    // null propagates
    val n = Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.GraftFunctions.tokenWeight(spark, col("text")))
    assert(n.head().isNullAt(0))
  }

  test("graft_bpe_count equals the regex extract-all count on corpus + edges") {
    import spark.implicits._
    val corpus = Tables.load(spark, sfDir, "documents").select(col("text"))
    // letters runs, digits, ascii punct, 2/3/4-byte UTF-8 — regex char
    // classes match per CODE POINT (an astral char is ONE match, even though
    // it is a surrogate pair in UTF-16); the kernel counts the same way
    val edges = Seq("", " ", "abc", "a1b", "12 34", "a,b.c", "héllo wörld",
      "中文 text", "emoji 🎉 end", "...").toDF("text")
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(
        graft.functions.GraftFunctions.bpeCount(spark, col("text")).as("fused"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).cast("bigint").as("regex"),
        col("text"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"'${r.getString(2)}': fused ${r.getLong(0)} != regex ${r.getLong(1)}"))
    }
  }

  test("graft_bpe_merge_count runs REAL greedy BPE on hand-computed fixtures") {
    import spark.implicits._
    def count(text: String, rules: Seq[(String, String)]): Long =
      Seq(Tuple1(text)).toDF("text")
        .select(GraftFunctions.bpeMergeCount(spark, col("text"), rules).as("n"))
        .head().getLong(0)
    // MULTI-LEVEL: t+h -> th, then th+e -> the ("the" collapses to ONE
    // token; "them" to th|e|m... no: the(rank1) wins over stopping, then m)
    val multi = Seq("t" -> "h", "th" -> "e")
    assert(count("the", multi) == 1L)       // t h e -> th e -> the
    assert(count("them", multi) == 2L)      // -> the | m
    // walk tthhe: symbols t,t,h,h,e; rank0 merges the single t,h adjacency
    // at (1,2) -> t,th,h,e; no rank0 pair remains, and rank1 needs th
    // FOLLOWED BY e (here th is followed by h) -> final t|th|h|e
    assert(count("tthhe", multi) == 4L)
    // RANK COMPETITION: he outranks th on "the" -> t|he, NOT th|e
    val compete = Seq("h" -> "e", "t" -> "h")
    assert(count("the", compete) == 2L)     // h+e first: t,he; th can't form
    assert(count("thethe", compete) == 4L)  // t he t he
    // and the reverse ranking gives th|e
    val competeRev = Seq("t" -> "h", "h" -> "e")
    assert(count("the", competeRev) == 2L)  // th,e; h consumed, he impossible
    // all occurrences of the chosen rule merge in ONE pass, left to right,
    // non-overlapping ("aaa" under a+a: [aa][a], not a[aa])
    val aa = Seq("a" -> "a")
    assert(count("aaa", aa) == 2L)
    assert(count("aaaa", aa) == 2L)         // aa aa, then no a,a adjacency... -> then aa+aa? not a rule -> 2
    // pre-tokenization: merges never cross the space boundary
    assert(count("t h", Seq("t" -> "h")) == 2L)
    // empty + multi-space edges
    assert(count("", multi) == 0L)
    assert(count("  ", multi) == 0L)
  }

  test("graft_bpe_merge_count matches the closed-form SQL on the no-overlap vocab") {
    import spark.implicits._
    // the operator's embedded vocab satisfies the no-overlap property, so
    // the greedy loop must equal chars-minus-occurrences on arbitrary text —
    // the equivalence the DuckDB oracle (textTokensBpeSql) relies on
    val rules = operators.TextAnalysis.EmbeddedBpeMerges
    val texts = Seq(
      "the quick brown fox jumps over thirteen lazy dogs",
      "inner northern thinking on and on, ander eser",
      "anthem  es er th in on an", "", "x", "ther", "eres", "ananas onion")
    texts.foreach { t =>
      val kernel = Seq(Tuple1(t)).toDF("text")
        .select(GraftFunctions.bpeMergeCount(spark, col("text"), rules).as("n"))
        .head().getLong(0)
      val closed = t.count(_ != ' ').toLong - rules.map { case (a, b) =>
        val p = a + b
        var n = 0; var i = t.indexOf(p)
        while (i >= 0) { n += 1; i = t.indexOf(p, i + 2) }
        n.toLong
      }.sum
      assert(kernel == closed, s"text '$t': kernel $kernel != closed $closed")
    }
    // null in -> null out
    val nulls = Seq(Tuple1(null: String)).toDF("text")
      .select(GraftFunctions.bpeMergeCount(spark, col("text"), rules))
    assert(nulls.head().isNullAt(0))
    // non-literal rules rejected at analysis
    val err = intercept[Exception] {
      Seq(("ab", "a b")).toDF("text", "r")
        .select(call_function("graft_bpe_merge_count", col("text"), col("r")))
        .collect()
    }
    assert(err.getMessage.contains("LITERAL"))
  }

  test("graft_lm_score computes add-one-smoothed inverse-probability sums on fixtures") {
    import spark.implicits._
    // hand-built model: ref corpus = "a b a c" → uni {a:2, b:1, c:1}, V=3,
    // bi {"a b":1, "b a":1, "a c":1}
    val uniBlob = "2 a\n1 b\n1 c"
    val biBlob = "1 a b\n1 b a\n1 a c"
    def term(c1: Long, c12: Long) = (c1 + 3).toDouble / (c12 + 1).toDouble
    val rows = Seq(
      (0L, "a b"),          // one in-model bigram: (2+3)/(1+1)
      (1L, "a z"),          // seen context, unseen pair: (2+3)/1
      (2L, "z q"),          // fully OOV: (0+3)/1
      (3L, "a b a c"),      // fold of three terms, left to right
      (4L, "a"),            // sub-2-token: n_bigrams 0, sum 0.0
      (5L, ""))             // empty string: one empty token, n_bigrams 0
    val got = rows.toDF("id", "t").select(col("id"),
        GraftFunctions.lmScore(spark, col("t"), uniBlob, biBlob).as("s"))
      .select(col("id"), col("s.n_bigrams"), col("s.inv_sum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L) == ((1L, term(2, 1))))
    assert(got(1L) == ((1L, term(2, 0))))
    assert(got(2L) == ((1L, term(0, 0))))
    assert(got(3L) == ((3L, term(2, 1) + term(1, 1) + term(2, 1))))
    assert(got(4L) == ((0L, 0.0)))
    assert(got(5L) == ((0L, 0.0)))
    // non-literal model args are rejected at analysis (plan metadata rule)
    intercept[Exception] {
      rows.toDF("id", "t").selectExpr("graft_lm_score(t, t, '1 a b')").collect()
    }
  }

  test("graft_lm_score_bc: broadcast transport scores bit-identically to the literal form") {
    import spark.implicits._
    // decision identity across the two model transports — the contract that
    // lets lmScoreAuto size-switch without touching results: same blobs,
    // same kernel, literal vs executor-broadcast, bit-for-bit equal structs
    val uniBlob = "2 a\n1 b\n1 c"
    val biBlob = "1 a b\n1 b a\n1 a c"
    val rows = Seq((0L, "a b"), (1L, "a z"), (2L, "z q"),
      (3L, "a b a c"), (4L, "a"), (5L, ""), (6L, "a b a c z q a b"))
    val df = rows.toDF("id", "t")
    def scores(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("s"))
        .select(col("id"), col("s.n_bigrams"), col("s.inv_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lit = scores(GraftFunctions.lmScore(spark, col("t"), uniBlob, biBlob))
    val bc = scores(GraftFunctions.lmScoreBroadcast(spark, col("t"), uniBlob, biBlob))
    assert(bc == lit)
    // the auto switch routes to each transport by size and stays identical
    val prev = sys.props.get("graft.lm.bc.threshold")
    try {
      sys.props("graft.lm.bc.threshold") = "0" // force broadcast
      assert(scores(GraftFunctions.lmScoreAuto(spark, col("t"), uniBlob, biBlob)) == lit)
      sys.props("graft.lm.bc.threshold") = "1000000" // force literal
      assert(scores(GraftFunctions.lmScoreAuto(spark, col("t"), uniBlob, biBlob)) == lit)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.lm.bc.threshold") = v
        case None => sys.props.remove("graft.lm.bc.threshold"); ()
      }
    }
    // one broadcast per (context, blob content): a second build reuses the
    // registered handle, so the two plans canonicalize equal
    val p1 = df.select(GraftFunctions.lmScoreBroadcast(spark, col("t"), uniBlob, biBlob))
      .queryExecution.analyzed.canonicalized
    val p2 = df.select(GraftFunctions.lmScoreBroadcast(spark, col("t"), uniBlob, biBlob))
      .queryExecution.analyzed.canonicalized
    assert(p1 == p2)
    // eviction fails LOUDLY for later builds (no silent stale model) and a
    // fresh registration works again afterwards
    GraftFunctions.clearLmBroadcasts()
    assert(scores(GraftFunctions.lmScoreBroadcast(spark, col("t"), uniBlob, biBlob)) == lit)
    GraftFunctions.clearLmBroadcasts()
  }

  test("lmScoreAuto measures the model in UTF-8 bytes, not UTF-16 chars") {
    import spark.implicits._
    // a CJK-heavy model is ~3 serialized bytes per char: with the threshold
    // set BETWEEN the char count and the byte count, a char-based switch
    // would keep the model on the plan-literal route while the byte-true
    // switch moves it to the broadcast — pin the byte-true behavior
    val uniBlob = (1 to 8).map(i => s"1 日本語テキスト$i").mkString("\n")
    val biBlob = "1 日 本"
    val chars = (uniBlob.length + biBlob.length).toLong
    val bytes = Seq(uniBlob, biBlob)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    val threshold = (chars + bytes) / 2
    assert(chars < threshold && threshold < bytes, "fixture must straddle")
    val prev = sys.props.get("graft.lm.bc.threshold")
    try {
      sys.props("graft.lm.bc.threshold") = threshold.toString
      val plan = Seq((0L, "日 本")).toDF("id", "t")
        .select(GraftFunctions.lmScoreAuto(spark, col("t"), uniBlob, biBlob))
        .queryExecution.analyzed.toString
      assert(plan.contains("graft_lm_score_bc"),
        s"byte-sized model stayed on the literal route:\n$plan")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.lm.bc.threshold") = v
        case None => sys.props.remove("graft.lm.bc.threshold"); ()
      }
      GraftFunctions.clearLmBroadcasts()
    }
  }

  test("graft_sig_agreement equals the zip_with+aggregate form on sig pairs + edges") {
    import spark.implicits._
    // deterministic signature-shaped pairs over a small value domain (so
    // agreements actually occur), plus the length/emptiness edges where
    // zip_with's null-padding semantics could diverge from a naive loop
    val rng = new scala.util.Random(7)
    val pairs = Seq.tabulate(200) { _ =>
      val a = Array.fill(64)(rng.nextLong() % 4)
      val b = a.map(v => if (rng.nextBoolean()) v else rng.nextLong() % 4)
      (a, b)
    } ++ Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array(1L, 2L, 3L), Array(1L, 2L)),
      (Array(5L), Array.empty[Long]))
    val df = pairs.toDF("a", "b")
    val composed = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("c")).collect().map(_.getInt(0))
    val native = df.select(
      GraftFunctions.sigAgreement(spark, col("a"), col("b")).as("c"))
      .collect().map(_.getInt(0))
    assert(native.toSeq == composed.toSeq)
    // null ELEMENTS count as disagreement (IF(NULL=x,1,0) -> 0), null ARRAY
    // propagates; both match the composed form
    val withNulls = Seq((Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](1L, 2L, null)))
      .toDF("a", "b")
      .select(GraftFunctions.sigAgreement(spark, col("a"), col("b")).as("c"))
    assert(withNulls.head().getInt(0) == 1)
    val nullSide = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]])).toDF("a", "b")
      .select(GraftFunctions.sigAgreement(spark, col("a"), col("b")).as("c"))
    assert(nullSide.head().isNullAt(0))
    // callable from SQL after registration
    GraftFunctions.ensureRegistered(spark)
    Seq((Array(1L, 2L, 3L), Array(1L, 9L, 3L))).toDF("a", "b")
      .createOrReplaceTempView("sig_pairs")
    assert(spark.sql("SELECT graft_sig_agreement(a, b) AS c FROM sig_pairs")
      .head().getInt(0) == 2)
  }

  test("graft_stop_hits equals the explode+aggregate scoring form") {
    import spark.implicits._
    val fused = graft.operators.TextAnalysis.textLangid(spark, sfDir)
      .select(col("doc_id"), col("en_score"), col("es_score"),
        col("de_score"), col("fr_score"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val composed = graft.operators.TextAnalysis.langidScoresComposed(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fused.keySet == composed.keySet)
    fused.foreach { case (id, v) =>
      assert(v == composed(id), s"doc $id: fused $v vs composed ${composed(id)}")
    }
    // multiplicity counts (the kernel is not a distinct-membership test),
    // empties and unknown words score zero
    val edge = Seq("the the the", "", " ", "thee the").toDF("text")
      .select(graft.functions.GraftFunctions.stopHits(spark, col("text"),
        Seq("the", "a")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(edge == Seq(3L, 0L, 0L, 1L), s"got $edge")
    // the langid plan must be shuffle-free: no Exchange, no Generate
    val plan = graft.operators.TextAnalysis.textLangid(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "langid should not shuffle")
    assert(!plan.contains("Generate"), "langid should not explode")
  }

  test("graft_top_gram equals a per-row reference on corpus + edges") {
    import spark.implicits._
    // independent reference: string-assembled bigrams (split limit -1,
    // empties included), count map, maxima; char length = code points
    def ref(text: String): (Long, Long) = {
      val toks = text.split(" ", -1).toSeq
      if (toks.size < 2) (0L, 0L)
      else {
        val counts = toks.sliding(2).map(_.mkString(" ")).toSeq
          .groupBy(identity).map { case (g, occ) => (g, occ.size.toLong) }
        (counts.values.max,
          counts.map { case (g, c) => c * g.codePointCount(0, g.length) }.max)
      }
    }
    val corpus = Tables.load(spark, sfDir, "documents").select(col("text"))
    val edges = Seq("", " ", "a", "a b", "a  b", "a b ", "a b a b a",
      "x x x", "é é wörld é é", "one two three two one two").toDF("text")
    Seq(corpus, edges).foreach { df =>
      val rows = df.select(col("text"),
        graft.functions.GraftFunctions.topGram(spark, col("text")).as("tg"))
        .select(col("text"), col("tg.top_count"), col("tg.top_chars"))
        .collect()
      rows.foreach { r =>
        val (wc, wch) = ref(r.getString(0))
        assert(r.getLong(1) == wc && r.getLong(2) == wch,
          s"'${r.getString(0)}': got (${r.getLong(1)},${r.getLong(2)}), want ($wc,$wch)")
      }
    }
    // handcrafted exact values: "a b a b a" bigrams = a b, b a, a b, b a →
    // top_count 2; coverage 2×3 chars = 6 either way
    val h = Seq("a b a b a").toDF("text")
      .select(graft.functions.GraftFunctions.topGram(spark, col("text")).as("tg"))
      .select(col("tg.top_count"), col("tg.top_chars")).head()
    assert(h.getLong(0) == 2L && h.getLong(1) == 6L)
    // null propagates
    val n = Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.GraftFunctions.topGram(spark, col("text")))
    assert(n.head().isNullAt(0))
  }

  test("graft_gram_hits with an empty dictionary never matches, even empty docs") {
    import spark.implicits._
    // "".split would plant the empty-string gram; an empty doc's whole-text
    // fallback must NOT match it
    val rows = Seq("", "a b c d e f", " ").toDF("text")
      .select(graft.functions.GraftFunctions.gramHits(spark, col("text"), 5, "").as("gh"))
      .select(col("gh.n_contaminated")).collect()
    assert(rows.forall(_.getLong(0) == 0L),
      "empty dictionary produced a contamination hit")
  }

  test("graft_gram_marks emits exactly the dict-member gram start positions") {
    import spark.implicits._
    val dict = Seq("b1 b2 b3 b4 b5", "c1 c2 c3 c4 c5").mkString("\n")
    val df = Seq(
      (1L, "x1 b1 b2 b3 b4 b5 y1"),      // one mid-doc hit at position 1
      (2L, "b1 b2 b3 b4 b5 c1 c2 c3 c4 c5"), // two hits: 0 and 5
      (3L, "b1 b2 b3 b4"),               // sub-5-token: no positional gram
      (4L, "n1 n2 n3 n4 n5 n6"),         // clean
      (5L, ""),                          // empty text
      (6L, "b1 b2 b3 b4 b5 b1 b2 b3 b4 b5") // repeat: both starts marked
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.GraftFunctions.gramMarks(spark, col("text"), 5, dict).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(1), s"mid-doc: ${got(1L)}")
    assert(got(2L) == Seq(0, 5), s"two hits: ${got(2L)}")
    assert(got(3L) == Seq(), s"short doc: ${got(3L)}")
    assert(got(4L) == Seq(), s"clean doc: ${got(4L)}")
    assert(got(5L) == Seq(), s"empty doc: ${got(5L)}")
    assert(got(6L) == Seq(0, 5), s"repeat: ${got(6L)}")
    // empty dictionary marks nothing (the GramSetStats empty-blob rule)
    val none = df.select(
        graft.functions.GraftFunctions.gramMarks(spark, col("text"), 5, "").as("m"))
      .collect().map(_.getSeq[Int](0))
    assert(none.forall(_.isEmpty), "empty dictionary produced a mark")
  }

  test("native PQ-encode kernel equals the composed argmin-tree form bit-for-bit") {
    import spark.implicits._
    // deterministic 64-dim fixture vectors + 8x16x8 books with planted ties
    // (books 3 and 7 of subspace 2 are identical -> the lowest code must win)
    def vec(seed: Int): Array[Double] =
      Array.tabulate(64)(i => ((seed * 31 + i * 7) % 13 - 6) / 3.0)
    val books = Array.tabulate(8, 16)((m, c) =>
      if (m == 2 && c == 7) vec(100 + 2 * 16 + 3).slice(16, 24)
      else vec(100 + m * 16 + c).slice(m * 8, m * 8 + 8))
    val df = (0 until 20).map(i => (i.toLong, vec(i).toSeq)).toDF("vec_id", "v")
    val got = df.select(col("vec_id"),
        graft.functions.GraftFunctions.pqCodes(spark, col("v"), books).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val want = df.select(col("vec_id") +:
        (0 until 8).map(m => graft.operators.Similarity.pqCodeExpr(m, books).as(s"c$m")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getInt)).toMap
    (0 until 20).foreach { i =>
      assert(got(i.toLong) == want(i.toLong),
        s"vec $i: kernel ${got(i.toLong)} != composed ${want(i.toLong)}")
    }
    // the planted duplicate book means some vector's subspace-2 argmin is a
    // tie — the equality above only exercises the tie rule if code 3 (the
    // lower of the identical pair) actually appears
    assert(got.values.exists(_(2) == 3), "tie fixture never selected — widen it")
    assert(got.values.forall(_(2) != 7), "a tie resolved to the HIGHER code")
  }

  test("native ADC-table kernel equals the composed fold-tree form bit-for-bit") {
    import spark.implicits._
    // deterministic 64-dim fixture queries + 8x16x8 books — non-trivial
    // signs and magnitudes so the fold's IEEE rounding sequence matters
    def vec(seed: Int): Array[Double] =
      Array.tabulate(64)(i => ((seed * 37 + i * 11) % 17 - 8) / 7.0)
    val books = Array.tabulate(8, 16)((m, c) =>
      vec(200 + m * 16 + c).slice(m * 8, m * 8 + 8))
    val df = (0 until 20).map(i => (i.toLong, vec(i).toSeq)).toDF("q_id", "q")
    val got = df.select(col("q_id"),
        graft.functions.GraftFunctions.adcTable(spark, col("q"), books).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val want = df.select(col("q_id"),
        graft.operators.Similarity.adcTableExpr(books).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (0 until 20).foreach { i =>
      val (g, w) = (got(i.toLong), want(i.toLong))
      assert(g.length == 128 && w.length == 128, s"q $i: table length ${g.length}")
      // bit-identical, not approximately equal: the kernel must replay the
      // HOF's exact 0.0-seeded left-fold rounding sequence
      g.zip(w).zipWithIndex.foreach { case ((gv, wv), k) =>
        assert(java.lang.Double.doubleToRawLongBits(gv) ==
          java.lang.Double.doubleToRawLongBits(wv),
          s"q $i entry $k: kernel $gv != composed $wv (bit mismatch)")
      }
    }
  }

  test("row-local minhash kernel equals the reference signature semantics") {
    import spark.implicits._
    import graft.functions.MinHashFamily
    // edge shapes: normal, sub-3-token fallback, empty text, double spaces
    // (empty tokens participate), repeated grams (harmless under min),
    // trailing-space empty token
    val texts = Seq("a b c d e", "one two", "", "a  b  c",
      "x y z x y z", ("tok " * 50).dropRight(0))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig(spark, col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent reference: string-assembled grams, the pipeline semantics
    // (split limit -1, 3-gram sliding, whole-text fallback)
    def ref(text: String): Seq[Long] = {
      val P = MinHashFamily.P
      val toks = text.split(" ", -1).toSeq
      val grams = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(text)
      def base(g: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        h % P
      }
      val xs = grams.map(base)
      (0 until MinHashFamily.NumHashes).map { i =>
        xs.map(x => (MinHashFamily.a(i) * x + MinHashFamily.b(i)) % P).min
      }
    }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"signature mismatch for '${t.take(30)}'")
    }
    // and the kernel-backed C2b query builds signatures as a projected pure
    // map: the gram posexplode of the pipeline form is gone (the remaining
    // Generate is the 16-way BAND explosion, which is the LSH join key, not
    // signature building)
    val localPlan = graft.operators.Dedup.dedupMinhashLocal(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(localPlan.contains("graft_minhash_sig"),
      "C2b must use the native signature kernel")
    assert(!localPlan.contains("posexplode"),
      "row-local signatures must not explode grams")
  }
}
