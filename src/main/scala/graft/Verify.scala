package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one query result as `<outDir>/<name>/` parquet. A crashed query
    * must surface as `err` in the driver's report, never silently vanish
    * from it: on failure the result dir is left parquet-free with a named
    * `_error.txt` marker, so the driver's read of this key fails loudly
    * instead of the key being absent (round-6 lesson: 7 crashes hid). */
  private[graft] def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
    name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val dir = new java.io.File(outDir, name)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      dir.mkdirs()
      Files.writeString(Paths.get(s"$outDir/$name/_error.txt"),
        s"$name failed: ${e}\n")
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional targeted run (comma-separated query names): iterating one
    // operator at sf1 shouldn't cost a 90-query sweep. The driver never sets
    // this, so the contract run is always the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a typo'd filter must fail, not "pass" by verifying nothing
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      dumpOne(spark, sfDir, outDir, name, fn)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir).filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    operators.Dedup.clear()
    spark.stop()
  }
}
