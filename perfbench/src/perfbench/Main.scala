package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *  1. set-up, `--setup-reps` times, each in a fresh directory under the
  *     private `--root` that is also graft's local root (the last one is
  *     kept);
  *  2. `--warmup` untimed rounds of the op mix;
  *  3. the timed window: whole rounds until `--seconds` have passed. When
  *     the medians of its two halves differ by more than `--drift-bound`
  *     (the host changed speed, or the program is not steady), the window
  *     is kept aside and measured again, at most [[WindowTries]] times in
  *     all; run.py rejects the run if the last one is still unsteady;
  *  4. with `--trace 1`, a second window of the same length with spans and
  *     engine listeners on.
  *
  * Raw samples go to `--out` as JSON; run.py turns them into metrics. */
object Main {
  val WindowTries = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = new File(a("root"))
    val cpus = a("cpus").toInt
    val setupReps = a("setup-reps").toInt
    val warmup = a("warmup").toInt
    val driftBound = a("drift-bound").toDouble
    require(root.isDirectory && root.list().forall(n => n == "tmp" || n == "spark-local"),
      s"run root $root must start empty")

    val spark = graft.GraftConf(SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench").config("spark.local.dir", new File(root, "spark-local").getPath), cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val out = new java.util.LinkedHashMap[String, Any]()
    try {
      val wl = Workload(workload, spark, seed, a("size"))
      val setupS = (1 to setupReps).map { k =>
        val dir = new File(root, s"graft/rep$k")
        // graft's own stores (IVF layouts, model blobs) go under the rep too
        System.setProperty("graft.local.root", new File(dir, "local").getPath)
        val t0 = System.nanoTime()
        wl.setup(dir)
        val dt = (System.nanoTime() - t0) / 1e9
        if (k < setupReps) org.apache.commons.io.FileUtils.deleteDirectory(dir)
        dt
      }
      val storesAfterSetup = storeSidecars(root)

      var r = 0
      val failures = mutable.ArrayBuffer.empty[String]
      def runRound(): java.util.Map[String, Any] = {
        val ops = wl.round(r).map { op =>
          val t0 = System.nanoTime()
          val res =
            try Right(Trace.op(op.name)(op.run()))
            catch { case e: Throwable => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
          val ms = (System.nanoTime() - t0) / 1e6
          val err = res.fold(Some(_), op.check)
          err.foreach(failures += _)
          jmap("name" -> op.name, "ms" -> ms, "ok" -> err.isEmpty)
        }
        r += 1
        val end = wl.roundEnd()
        jmap("ops" -> ops.asJava, "leaf_files" -> end.leafFiles, "disk_bytes" -> end.diskBytes,
          "data_bytes" -> end.dataBytes)
      }
      def window(): java.util.Map[String, Any] = {
        val steal0 = Steal.read()
        val (cg0, ct0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        val rounds = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
        while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) rounds += runRound()
        jmap("rounds" -> rounds.asJava, "drift" -> halvesDrift(rounds.toSeq),
          "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
          "codegen_ms" -> (CodeGenerator.compileTime - ct0) / 1e6,
          "steal" -> Steal.pct(steal0, Steal.read()))
      }

      val warm = (1 to warmup).map(_ => runRound())
      val windows = mutable.ArrayBuffer(window())
      while (windows.size < WindowTries && math.abs(windows.last.get("drift").asInstanceOf[Double]) > driftBound)
        windows += window()
      out.put("workload", workload)
      out.put("session_ready_ms", sessionReadyMs)
      out.put("setup_s", setupS.asJava)
      out.put("warmup", warm.asJava)
      out.put("discarded", windows.init.asJava)
      out.put("timed", windows.last)
      if (trace) {
        val meter = new Meter
        spark.sparkContext.addSparkListener(meter)
        spark.listenerManager.register(meter)
        Trace.enable(spark.sparkContext)
        val traced = try window() finally Trace.disable()
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(meter)
        spark.listenerManager.unregister(meter)
        // queries planned inside an op, not by the output checks after it
        traced.put("plan_ms", meter.synchronized {
          meter.plans.collect { case (t, ms) if Trace.inOp(t) => ms }.sum
        })
        traced.put("meter", meter.synchronized {
          meter.counts.toSeq.map { case ((op, span), m) =>
            jmap("op" -> op, "span" -> span, "counts" -> m.toMap.asJava)
          }.asJava
        })
        traced.put("spans", Trace.recorded.map(s =>
          Seq[Any](s.id, s.parent, s.name, s.op, s.t0, s.t1).asJava).asJava)
        traced.put("user_bytes_per_round", wl.userBytesPerRound)
        out.put("traced", traced)
      }
      val stores = storeSidecars(root)
      out.put("storefp", jmap("setup_builds" -> storesAfterSetup.size,
        "loop_builds" -> stores.count { case (p, stamp) => !storesAfterSetup.get(p).contains(stamp) }))
      out.put("failures", failures.asJava)
      out.put("rss_peak_mb", peakRssMb())
    } finally {
      spark.stop()
    }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new File(a("out")), out)
  }

  /** Relative change of the median round time from the window's first
    * half to its second; an odd middle round belongs to neither half. */
  private def halvesDrift(rounds: Seq[java.util.Map[String, Any]]): Double = {
    val ms = rounds.map(_.get("ops").asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala
      .map(_.get("ms").asInstanceOf[Double]).sum).toIndexedSeq
    def median(xs: IndexedSeq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val h = ms.size / 2
    if (h == 0) 0.0 else median(ms.takeRight(h)) / median(ms.take(h)) - 1
  }

  private def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Committed StoreFp stores: every build writes (or rewrites) a
    * `*_graft_store_fp` sidecar, so a build inside the loop shows as a new
    * path or a changed (mtime, length) stamp. */
  private def storeSidecars(dir: File): Map[String, (Long, Long)] = {
    val found = mutable.Map.empty[String, (Long, Long)]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(go)
      else if (f.getName.endsWith("_graft_store_fp")) found(f.getPath) = (f.lastModified, f.length)
    go(dir)
    found.toMap
  }

  /** This process's peak resident set (VmHWM), in MB; 0 if unreadable. */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** CPU steal share from the aggregate `cpu` line of /proc/stat. */
object Steal {
  def read(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  def pct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = b.take(8).sum - a.take(8).sum
      if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
    }
}
