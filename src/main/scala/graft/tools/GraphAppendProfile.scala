package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: the C56/D21 ∝-affected evidence lines — wall-clock of the
  * APPEND-STORE build (shortlist legs + bucket merge + untouched copies) vs
  * a FULL REBUILD over the merged corpus, the two shortlist legs
  * individually, and the bucket MERGE alone at two batch sizes (the full
  * vec_id%10==9 batch and a 1/97 slice of it) — the r16 directive's "merge
  * leg ∝ batch, not Θ(N)" measurement. Merge reps run against a fresh copy
  * of the base store each time (the merge mutates its target); the copy and
  * the shortlist materialization sit OUTSIDE the timers. Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.GraphAppendProfile"
  */
object GraphAppendProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = graft.GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{GraphStore, Similarity}
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm pass: merged index, corpus codebook, base graph + probe stores
    // all land here so the timed numbers compare the edge computations alone
    val baseDir = Similarity.ensureBaseGraphDir(spark, sfDir)
    noop(Similarity.knnGraphAppendShortlists(spark, sfDir))
    noop(Similarity.knnGraphRebuildEdges(spark, sfDir))
    def timeMin(label: String, setup: () => Unit = () => ())(body: => Unit): Unit = {
      val t = (1 to reps).map { _ =>
        setup()
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"step":"$label","min_sec":$t%.3f,"sf":"$sfDir"}""")
    }
    val scratch = new java.io.File(
      s"${graft.GraftConf.localRoot}/graft_graph/_profile_scratch")
    def freshCopy(): java.io.File = {
      val d = new java.io.File(scratch, "store")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      org.apache.commons.io.FileUtils.copyDirectory(baseDir, d)
      d
    }
    val outDir = new java.io.File(scratch, "appended")
    timeMin("append_store_build")(
      GraphStore.appendFrom(spark, baseDir,
        Similarity.knnGraphAppendShortlists(spark, sfDir), outDir))
    timeMin("full_rebuild")(
      noop(Similarity.knnGraphRebuildEdges(spark, sfDir)))
    timeMin("leg_new_queries")(
      noop(Similarity.knnGraphAppendLegNew(spark, sfDir)))
    timeMin("leg_reverse")(
      noop(Similarity.knnGraphAppendLegReverse(spark, sfDir)))
    // merge alone, batch-size-parameterized: materialized shortlists in,
    // fresh store target per rep — ∝-batch means the 1/97 slice's merge
    // should read ~1/97th of the full batch's rank rows (and, once the
    // affected set is sparser than the bucket count, skip buckets outright)
    val slFull = Similarity.knnGraphAppendShortlists(spark, sfDir).localCheckpoint()
    val slSmall = slFull.filter(pmod(col("q_id"), lit(97L)) === 13L).localCheckpoint()
    var store: java.io.File = null
    timeMin("merge_full_batch", () => store = freshCopy())(
      GraphStore.mergeInPlace(spark, store, slFull))
    timeMin("merge_small_batch", () => store = freshCopy())(
      GraphStore.mergeInPlace(spark, store, slSmall))
    org.apache.commons.io.FileUtils.deleteQuietly(scratch)
    spark.stop()
  }
}
