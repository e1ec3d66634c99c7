package graft.tools

/** Dev tool: the C52 graph-build cost SPLIT — Lloyd codebook training vs
  * assignment+layout write vs edge scoring, from genuine cold (r15 verdict
  * What's-wrong #2: the "linear build" claim must be replaced by the
  * measured budgeted-window truth — training/assignment are O(N·K·dim)
  * under K ∝ N, only the SCORING term is the linear one). Run at two
  * scales and compare the per-stage ratios:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.GraphBuildProfile"
  */
object GraphBuildProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one warm-up query so JVM/codegen startup doesn't land in stage 1
    // (embeddings-only, so the profile also runs on ANN-only scale dirs)
    graft.SparkEntry.queries("sim_topk")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // genuine cold for the graph family: memos AND store sidecars go
    graft.operators.Similarity.clearCaches()
    graft.operators.Dedup.clear()
    graft.StoreFp.invalidateAll()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"""{"stage":"$label","sec":${(System.nanoTime() - t0) / 1e9}%.3f,"sf":"$sfDir"}""")
    }
    time("train_codebook") {
      graft.operators.Similarity.trainCodebook(spark, sfDir); ()
    }
    time("assign_write_index") {
      graft.operators.Similarity.ensureIvfBucketedTable(spark, sfDir); ()
    }
    time("edge_scoring") {
      graft.operators.Similarity.knnGraphEdges(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    println(s"""{"k":${graft.operators.Similarity.ivfKFor(spark, sfDir)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
