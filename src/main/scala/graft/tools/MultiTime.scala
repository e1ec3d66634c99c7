package graft.tools

import graft.{GraftConf, SparkEntry}

/** Dev tool: time a comma-separated list of queries in ONE session (N warm
  * reps each, min + all draws printed) with optional session-conf overrides —
  * the A/B harness for config experiments without a JVM bounce per query.
  * Usage:
  *   runMain graft.tools.MultiTime <q1,q2,...> [sfDir] [reps] [k=v ...]
  */
object MultiTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(4)
    val overrides = args.drop(3).map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"override arg must be key=value, got: $kv")
      (parts(0), parts(1))
    }
    val b = GraftConf.local()
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // static (SparkConf-level) confs only apply through the builder above;
    // re-setting them on a live session throws — skip those
    overrides.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => }
    }
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[multitime] $name%-28s min=${times.min}%6.2f  " +
        times.map(t => f"$t%.2f").mkString(" "))
    }
    spark.stop()
  }
}
