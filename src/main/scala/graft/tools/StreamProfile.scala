package graft.tools

import graft.GraftConf

/** Dev tool: run one streaming query and dump per-batch durationMs from the
  * engine's progress events — shows where the micro-batch floor actually goes
  * (triggerExecution / getBatch / addBatch / stateStore commit etc.). */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "stream_window"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        seen.add(s"batch ${e.progress.batchId}: rows=${e.progress.numInputRows} " +
          s"durations=${e.progress.durationMs}")
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    graft.streaming.Streams.stage(spark, sfDir)
    (1 to 2).foreach { i =>
      seen.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[profile] $name run $i took ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Thread.sleep(500) // listener events are async
      seen.forEach(s => println(s"[profile] $s"))
    }
    spark.stop()
  }
}
