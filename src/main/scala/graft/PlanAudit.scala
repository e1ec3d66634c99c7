package graft

/** Plan hygiene audit: prints the formatted physical plan of each named query
  * and greps for the scale-critical properties — pushed filters, pruned scan
  * schemas, broadcast joins where a dim is small, whole-stage codegen spans.
  * Run: sbt "runMain graft.PlanAudit <sfDir> [query ...]" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftConf.local()
      // audit-only: a static (non-AQE) plan exposes codegen subtrees and the
      // pre-runtime join strategy; production runs keep AQE on
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n===== $name =====")
        try {
          val df = fn(spark, sfDir)
          // execute fully (noop sink) so AQE finalizes the plan we inspect
          df.write.format("noop").mode("overwrite").save()
          val plan = df.queryExecution.executedPlan.toString
          if (sys.env.contains("GRAFT_AUDIT_FULL")) println(plan)
          val pushed = "PushedFilters: \\[[^\\]\\n]*\\]?".r.findAllIn(plan).toSeq
          val partFilters = "PartitionFilters: \\[[^\\]\\n]*\\]?".r.findAllIn(plan).toSeq
          val schemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
          println(s"scan pushdown: ${pushed.mkString(" | ").take(300)}")
          if (partFilters.nonEmpty)
            println(s"part filters : ${partFilters.mkString(" | ").take(300)}")
          println(s"read schemas : ${schemas.map(_.take(120)).mkString("\n               ")}")
          println(s"broadcasts   : ${plan.linesIterator.count(_.contains("BroadcastHashJoin"))} bhj, " +
            s"${plan.linesIterator.count(_.contains("SortMergeJoin"))} smj")
          val cg = "Found (\\d+) WholeStageCodegen subtrees".r
            .findFirstMatchIn(org.apache.spark.sql.execution.debug
              .codegenString(df.queryExecution.executedPlan))
            .map(_.group(1)).getOrElse("?")
          println(s"codegen spans: $cg")
          println(s"exchanges    : ${plan.linesIterator.count(l => l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))}")
        } catch { case e: Throwable => println(s"audit failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
