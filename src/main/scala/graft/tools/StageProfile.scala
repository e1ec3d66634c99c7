package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{GraftConf, SparkEntry}

/** Dev tool: run one named query (warm, N reps) with a stage listener and
  * print per-stage wall clock, task counts and aggregate task time for the
  * LAST rep — shows whether a query's cost is compute, shuffle or
  * stage-scheduling floor. Usage:
  *   runMain graft.tools.StageProfile <query> [sfDir] [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    // args 3+: key=value session-conf overrides for A/B experiments
    val overrides = args.drop(3).map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"override arg must be key=value, got: $kv")
      (parts(0), parts(1))
    }
    val b = GraftConf.local()
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    case class St(id: Int, name: String, wallMs: Long, tasks: Int,
      taskMs: Long, shuffleReadB: Long, shuffleWriteB: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += St(i.stageId, i.name.takeWhile(_ != '('), wall,
            i.numTasks, i.taskMetrics.executorRunTime,
            i.taskMetrics.shuffleReadMetrics.totalBytesRead,
            i.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    (1 to reps).foreach { r =>
      if (r == reps) { stages.clear(); spark.sparkContext.addSparkListener(listener) }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"rep $r took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    val sorted = stages.synchronized { stages.sortBy(-_.wallMs) }
    println(f"${"stage"}%-42s ${"wall_ms"}%8s ${"tasks"}%5s ${"task_ms"}%8s ${"shR_kB"}%7s ${"shW_kB"}%7s")
    sorted.foreach { s =>
      println(f"${s.name.take(42)}%-42s ${s.wallMs}%8d ${s.tasks}%5d ${s.taskMs}%8d ${s.shuffleReadB / 1024}%7d ${s.shuffleWriteB / 1024}%7d")
    }
    println(f"n_stages=${sorted.size} total_stage_wall_ms=${sorted.map(_.wallMs).sum}")
    spark.stop()
  }
}
