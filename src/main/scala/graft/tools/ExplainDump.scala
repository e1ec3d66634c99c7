package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftConf, SparkEntry}

/** Dev tool: dump `.explain("formatted")` for a comma-separated list of
  * queries into <outDir>/<name>_<suffix>.txt — the optimization-round
  * evidence format (plans/rNN/<query>_before.txt / _after.txt).
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <q1,q2,...> [sfDir]
  *
  * The dump is the STATIC formatted plan (pre-AQE), which is where Exchange
  * counts, join strategies, PushedFilters and ReadSchema live; stores are
  * warmed first so store-served queries explain their serving plan, not
  * their build plan.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    // plan evidence must be reproducible: the effective parallelism (which
    // shuffle-partition-dependent plan details ride on) goes into every dump
    // header below and to stdout here (r17 ADVICE — Bench defaults differ)
    println(s"[explain-dump] effective SPARK_GRAFT_CPUS=${GraftConf.localCpus}")
    val spark = GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      // materialize once first: builds/adopts any memoized store the query
      // serves from, so the dumped plan is the steady-state one the bench
      // times (a cold dump would show the one-time build plan instead)
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val again = SparkEntry.queries(name)(spark, sfDir)
      val txt = s"-- cpus=${GraftConf.localCpus} shufflePartitions=${GraftConf.localCpus} sfDir=$sfDir\n" +
        again.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
