package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session fixture. sf0.001 keeps specs fast; the sf0.01 DuckDB
  * oracle run (tools/check.py) is the authoritative correctness gate. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftConf(SparkSession.builder().master("local[4]").appName("graft-test"), "4").getOrCreate()

  /** `body`'s result and the number of Spark jobs it launched. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; do not stop it here
    super.afterAll()
  }
}
