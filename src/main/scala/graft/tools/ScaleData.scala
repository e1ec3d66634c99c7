package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftConf

/** Dev tool: scale a testdata dir N× (default 10) into a new dir, for the
  * sf1 scale proof — the driver generates sf≤0.1; super-linear behavior hides
  * below the job-launch floor there, so the 100 TB posture is exercised on a
  * locally generated 10× corpus.
  *
  * Replication is deterministic (no RNG): each table is unioned `copies`
  * times with every key column shifted by `replica × stride`, where stride is
  * max(key)+1 rounded up to a multiple of 10 — referential integrity is
  * preserved replica-by-replica (orders→customer, lineitem→orders/part/
  * supplier join fan-outs are IDENTICAL to the source), and `% 10`-style
  * batch-selection classes keep their proportions. Dimension tables
  * (region, nation) stay fixed, like real dims under fact growth. Document
  * text and embedding vectors replicate as-is: every doc gains `copies-1`
  * exact duplicates — a dup-heavy stress corpus that pushes the dedup family's
  * banding/skew guards; ties in similarity break on the shifted unique ids.
  *
  * events.ts replicates in whatever physical encoding the source dir ships
  * (int64 nanos in early driver generations → copied as plain BIGINT;
  * TIMESTAMP_NTZ micros since round 6 → copied as NTZ). Tables.events is
  * schema-adaptive over both, and tools/check.py rebuilds a timestamp view
  * for DuckDB when it sees a BIGINT ts.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1)
      else s"${GraftConf.localRoot}/testdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional table filter (comma list), e.g. "embeddings" for the
    // ANN-profile-only 100× corpus — the full-table default is the sf1 gen
    val only: String => Boolean = args.lift(3)
      .map(_.split(',').toSet).map(s => s.contains(_: String))
      .getOrElse(_ => true)
    // optional part-file count (default 1 = the driver's one-file layout).
    // A replicated corpus compresses so well (exact copies + dictionary)
    // that a single 2 MiB file is ONE input split — every "distributed"
    // profile stage would run on one task, which is the opposite of what a
    // profile corpus exists to measure. parts>1 writes `<name>.parquet/`
    // as a DIRECTORY of that many files (Tables.load and fingerprint both
    // handle directories; check.py doesn't read aux profile dirs).
    val parts = args.lift(4).map(_.toInt).getOrElse(1)
    val spark = GraftConf.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()

    def stride(df: DataFrame, c: String): Long = {
      val m = df.agg(max(col(c)).cast("long")).head().getLong(0)
      (m / 10 + 1) * 10
    }

    /** Single-file output, mirroring the driver's one-parquet-per-table layout
      * (check.py and Tables.load read `<dir>/<name>.parquet` as one path). */
    def writeOne(df: DataFrame, name: String): Unit = {
      if (!only(name)) return
      if (parts > 1) {
        // tmp + rename like the single-file path: a crashed run must leave
        // the old corpus (or nothing), never a half-written directory a
        // later profile run's Tables.load would consume
        val tmp = new java.io.File(s"$dst/__tmp_$name")
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        df.repartition(parts).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val dest = new java.io.File(s"$dst/$name.parquet")
        org.apache.commons.io.FileUtils.deleteQuietly(dest)
        org.apache.commons.io.FileUtils.moveDirectory(tmp, dest)
        println(s"[scale] $name -> dir of $parts files, " +
          s"${org.apache.commons.io.FileUtils.sizeOfDirectory(dest) / 1024 / 1024} MiB")
        return
      }
      val tmp = new java.io.File(s"$dst/__tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$dst/$name.parquet")
      dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      println(s"[scale] $name -> ${dest.length() / 1024 / 1024} MiB")
    }

    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      df.withColumn("__r", explode(sequence(lit(0L), lit(copies - 1L))))
        .select(df.columns.map { c =>
          shifts.get(c).map(s => (col(c) + col("__r") * lit(s)).as(c))
            .getOrElse(col(c))
        }.toIndexedSeq: _*)

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // dims stay fixed
    writeOne(read("region"), "region")
    writeOne(read("nation"), "nation")

    val ck = stride(read("customer"), "c_custkey")
    val ok = stride(read("orders"), "o_orderkey")
    val pk = stride(read("part"), "p_partkey")
    val sk = stride(read("supplier"), "s_suppkey")
    writeOne(replicate(read("customer"), Map("c_custkey" -> ck)), "customer")
    writeOne(replicate(read("supplier"), Map("s_suppkey" -> sk)), "supplier")
    writeOne(replicate(read("part"), Map("p_partkey" -> pk)), "part")
    writeOne(replicate(read("orders"),
      Map("o_orderkey" -> ok, "o_custkey" -> ck)), "orders")
    writeOne(replicate(read("lineitem"),
      Map("l_orderkey" -> ok, "l_partkey" -> pk, "l_suppkey" -> sk)), "lineitem")

    // events: raw read in the source's own ts encoding (see scaladoc — the
    // legacy conf only matters for NANOS-era dirs); ts itself is NOT shifted —
    // 10× the users act in the same time window, so windows/session counts
    // scale in rows while the watermark horizon stays put
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    writeOne(replicate(ev,
      Map("event_id" -> stride(ev, "event_id"), "user_id" -> stride(ev, "user_id"))),
      "events")

    val docs = read("documents")
    writeOne(replicate(docs, Map("doc_id" -> stride(docs, "doc_id"))), "documents")
    val emb = read("embeddings")
    writeOne(replicate(emb, Map("vec_id" -> stride(emb, "vec_id"))), "embeddings")

    spark.stop()
  }
}
