package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.edfs.{GraftCatalog, HashPartition, RangePartition}
import graft.operators.{Pmr, Similarity}

/** One timed call into graft. `run` returns what the call produced (already
  * collected to the driver); `check` compares it with the expectation the
  * harness derived from its own seeded inputs and returns a mismatch
  * message, if any. Checking happens after the clock stops. */
final case class Op(name: String, run: () => Any, check: Any => Option[String])

/** State of the written tables at the end of a round. */
final case class RoundEnd(leafFiles: Long, diskBytes: Long, dataBytes: Long)

trait Workload {
  /** Writes the seeded inputs under `dir` and ingests them through graft;
    * the rounds run against the state of the last call. */
  def setup(dir: File): Unit
  /** The op mix of round `r` (every round runs each op once). */
  def round(r: Int): Seq[Op]
  def roundEnd(): RoundEnd
  /** Bytes of user input the round hands to graft writes (0 for reads). */
  def userBytesPerRound: Long
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, size: String): Workload = {
    val scale = size match {
      case "full" => 1.0
      case "tiny" => 0.02
      case other => sys.error(s"unknown --size $other (full|tiny)")
    }
    name match {
      case "pmr_read" => new PmrRead(spark, seed, (30000 * scale).toInt, math.max(500, (2048 * scale).toInt))
      case "edfs_write" => new EdfsWrite(spark, seed, (20000 * scale).toInt)
      case other => sys.error(s"unknown workload $other (pmr_read|edfs_write)")
    }
  }

  /** Order-independent 64-bit hash of a row multiset; every value is
    * rendered with toString, so an Int read back from CSV and the Int the
    * harness generated hash alike. */
  def bagHash(rows: Iterator[Seq[Any]]): Long =
    rows.foldLeft(0L) { (acc, r) =>
      val s = r.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")
      acc + ((scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL))
    }

  /** The (avg_val, n) Pmr.statAvg computes in its default mode: a
    * decimal-exact sum of the values at scale 2, over the non-null count. */
  def exactAvg(vs: Iterable[Double]): (Double, Long) = {
    val n = vs.size.toLong
    val sum = vs.foldLeft(BigDecimal(0))(_ + BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    (if (n == 0) Double.NaN else sum.toDouble / n.toDouble, n)
  }

  def checkStat(what: String, want: (Double, Long))(got: Any): Option[String] = {
    val r = got.asInstanceOf[Row]
    val (v, n) = (if (r.isNullAt(0)) Double.NaN else r.getDouble(0), r.getLong(1))
    val same = (v == want._1) || (v.isNaN && want._1.isNaN) ||
      math.abs(v - want._1) <= 1e-12 * math.max(1.0, math.abs(want._1))
    if (same && n == want._2) None
    else Some(s"$what: got ($v, $n), want $want")
  }

  /** Bag hashes of the expected row sets, computed once per set. */
  private val wantHashes = new java.util.IdentityHashMap[Seq[Seq[Any]], Long]()

  def checkBag(what: String, want: Seq[Seq[Any]])(got: Any): Option[String] = {
    val rows = got.asInstanceOf[Array[Row]]
    val (gn, gh) = (rows.length, bagHash(rows.iterator.map(_.toSeq)))
    val wh = wantHashes.synchronized {
      if (!wantHashes.containsKey(want)) wantHashes.put(want, bagHash(want.iterator))
      wantHashes.get(want)
    }
    if (gn == want.size && gh == wh) None
    else Some(s"$what: got $gn rows hash $gh, want ${want.size} rows hash $wh")
  }

  /** Files under `dir`: (data files, bytes of every file, bytes of data
    * files). Data files are the ones Spark reads: not `_` or `.` prefixed. */
  def walk(dir: File): RoundEnd = {
    def go(f: File): RoundEnd =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.map(go)
          .foldLeft(RoundEnd(0, 0, 0))((a, b) =>
            RoundEnd(a.leafFiles + b.leafFiles, a.diskBytes + b.diskBytes, a.dataBytes + b.dataBytes))
      else {
        val data = !f.getName.startsWith("_") && !f.getName.startsWith(".")
        RoundEnd(if (data) 1 else 0, f.length, if (data) f.length else 0)
      }
    if (dir.exists) go(dir) else RoundEnd(0, 0, 0)
  }

  def collect(df: DataFrame): Array[Row] = Trace.span("action")(df.collect())
  def stat(df: => DataFrame): Row = {
    val built = Trace.span("pmr.build")(df)
    Trace.span("pmr.exec")(built.head())
  }
}

/** `pmr_read`: an NHANES-shaped table ingested twice (hash-partitioned on a
  * skewed ethnicity code, range-partitioned on `seqn`), then a read-only mix
  * of the paper's query surface. Every op is small, so what is measured is
  * the per-query floor: catalog resolution, planning, codegen, scheduling.
  *
  * Set-up also builds an IVF index over seeded, clustered embeddings through
  * graft's StoreFp-backed builder (a codebook model blob plus a
  * cid-partitioned layout, each committed with a fingerprint sidecar). One
  * op per round drops graft's in-memory memos, as a fresh session would
  * start, so the builder must adopt both stores from their sidecars before
  * the pruned probe (`sim_ivf_pruned`) runs. */
final class PmrRead(spark: SparkSession, seed: Long, rows: Int, vectors: Int) extends Workload {
  import Workload._

  private val Cols = Seq("seqn", "riagendr", "ridageyr", "ridreth3", "dmdeduc2",
    "indfmpir", "bmxwt", "bmxht", "bmxbmi", "bpxsy1", "lbxtc", "lbxglu")
  private val EthCodes = Array(1, 2, 3, 4, 6, 7)
  private val EthWeights = Array(0.36, 0.24, 0.16, 0.11, 0.08, 0.05)

  /** Rows in CSV (= seqn) order. Numerics are ~5% NULL; lbxglu also holds
    * ~1% NaN, which getMin's referenceNan mode must skip. */
  private val data: IndexedSeq[Seq[Any]] = {
    val rnd = new SplittableRandom(seed)
    def maybe(v: Any): Any = if (rnd.nextDouble() < 0.05) null else v
    def d1(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 10) / 10.0
    def eth(): Int = {
      var u = rnd.nextDouble(); var i = 0
      while (i < EthCodes.length - 1 && u >= EthWeights(i)) { u -= EthWeights(i); i += 1 }
      EthCodes(i)
    }
    (1 to rows).map { seqn =>
      val glu: Any = if (rnd.nextDouble() < 0.01) Double.NaN else d1(60, 300)
      Seq[Any](seqn, 1 + rnd.nextInt(2), rnd.nextInt(81), eth(), maybe(1 + rnd.nextInt(5)),
        maybe(d1(0, 5)), maybe(d1(3, 180)), maybe(d1(80, 200)), maybe(d1(12, 60)),
        maybe(90 + rnd.nextInt(90)), maybe(d1(80, 400)), maybe(glu))
    }
  }
  private def colOf(c: String): IndexedSeq[Any] = { val i = Cols.indexOf(c); data.map(_(i)) }
  private def doubles(vs: Iterable[Any]): Iterable[Double] = vs.collect { case d: Double => d }

  private val eths: IndexedSeq[Int] = colOf("ridreth3").map(_.asInstanceOf[Int]).distinct.sorted
  private val wantAvg = exactAvg(doubles(colOf("bmxbmi")))
  private val wantMax = {
    val vs = doubles(colOf("lbxtc"))
    (if (vs.isEmpty) Double.NaN else vs.max, vs.size.toLong)
  }
  private val wantMinRef = {
    val vs = doubles(colOf("lbxglu"))
    (vs.filterNot(_.isNaN).foldLeft(Double.PositiveInfinity)(math.min), vs.size.toLong)
  }
  private val byEth: Map[Int, IndexedSeq[Seq[Any]]] =
    data.groupBy(_(Cols.indexOf("ridreth3")).asInstanceOf[Int])
  private val wantPruned: Map[Int, (Double, Long)] =
    byEth.map { case (e, rs) => e -> exactAvg(doubles(rs.map(_(Cols.indexOf("bmxbmi"))))) }

  /** Embeddings around 32 seeded centres (float components, as in graft's
    * `embeddings` table), so the IVF lists are meaningful. */
  private val Dim = 64
  private val embeddings: IndexedSeq[Array[Float]] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val centres = Array.fill(32, Dim)(rnd.nextDouble() * 2 - 1)
    IndexedSeq.fill(vectors) {
      val c = centres(rnd.nextInt(centres.length))
      Array.tabulate(Dim)(i => (c(i) + 0.3 * (rnd.nextDouble() * 2 - 1)).toFloat)
    }
  }

  /** Cosine as graft's driver-side probe ranking folds it: left to right,
    * over the float components widened to double. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The probe's top 10 must be distinct non-query vectors, each scored
    * with its exact cosine to vector 0 (rounded to 6 places), in descending
    * order; and the same rows as the probe set-up ran after its build. */
  private def checkProbe(got: Any): Option[String] = {
    val rows = got.asInstanceOf[Array[Row]].toSeq
    val ids = rows.map(_.getLong(0))
    val sims = rows.map(_.getDouble(2))
    val wrong = rows.find { r =>
      val id = r.getLong(0)
      id <= 0 || id >= embeddings.size ||
        math.abs(r.getDouble(2) - cosine(embeddings(id.toInt), embeddings(0))) > 1.5e-6
    }
    if (rows.size != 10 || ids.distinct.size != 10) Some(s"ivf_adopt_probe: got ids $ids")
    else if (wrong.isDefined) Some(s"ivf_adopt_probe: wrong score in ${wrong.get}")
    else if (sims != sims.sortBy(-_)) Some(s"ivf_adopt_probe: not in score order: $sims")
    else checkBag("ivf_adopt_probe", setupProbe)(got)
  }

  private var cat: GraftCatalog = _
  private var tablesDir: File = _
  private var sfDir: String = _
  private var setupProbe: Seq[Seq[Any]] = Nil
  private val Hash = "nhanes/by_eth"
  private val Range = "nhanes/by_seqn"

  def setup(dir: File): Unit = {
    val csv = new File(dir, "input/nhanes.csv")
    csv.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(csv))
    try {
      w.write(Cols.mkString(",")); w.newLine()
      data.foreach { r => w.write(r.map(v => if (v == null) "" else v.toString).mkString(",")); w.newLine() }
    } finally w.close()
    tablesDir = new File(dir, "edfs")
    cat = new GraftCatalog(spark, tablesDir.getAbsolutePath)
    cat.mkdir("nhanes")
    cat.putCsv(csv.getAbsolutePath, Hash, HashPartition("ridreth3"))
    cat.putCsv(csv.getAbsolutePath, Range, RangePartition("seqn", 8))

    sfDir = new File(dir, "input").getAbsolutePath
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    spark.createDataFrame(embeddings.indices.map(i =>
      Row(i.toLong, embeddings(i).toSeq, i % 7)).asJava, schema)
      .coalesce(1).write.parquet(s"$sfDir/embeddings.parquet")
    // the StoreFp builds: codebook model blob, then the index layout
    setupProbe = SparkEntry.queries("sim_ivf_pruned")(spark, sfDir).collect().map(_.toSeq).toSeq
  }

  def round(r: Int): Seq[Op] = {
    val e = eths(r % eths.size)
    val userCols = Cols.map(col)
    Seq(
      Op("getavg", () => stat(Pmr.statAvg(Trace.span("edfs.resolve")(cat.cat(Hash)), "bmxbmi")),
        checkStat("getavg", wantAvg)),
      Op("getmax", () => stat(Pmr.statMax(Trace.span("edfs.resolve")(cat.cat(Range)), "lbxtc")),
        checkStat("getmax", wantMax)),
      Op("getmin_refnan", () => stat(Pmr.statMin(Trace.span("edfs.resolve")(cat.cat(Hash)),
        "lbxglu", referenceNan = true)), checkStat("getmin_refnan", wantMinRef)),
      Op("pruned_getavg", () => stat(Pmr.statAvg(
        Trace.span("edfs.resolve")(cat.readPartition(Hash, "ridreth3", e)), "bmxbmi")),
        checkStat(s"pruned_getavg[$e]", wantPruned(e))),
      Op("read_partition", () => collect(
        Trace.span("edfs.resolve")(cat.readPartition(Hash, "ridreth3", e)).select(userCols: _*)),
        checkBag(s"read_partition[$e]", byEth(e))),
      Op("partition_locations", () => collect(Trace.span("edfs.meta")(cat.partitionLocations(Hash))),
        { got =>
          val names = got.asInstanceOf[Array[Row]].map(_.getString(0)).toSeq
          val want = eths.map(v => s"ridreth3=$v")
          if (names == want) None else Some(s"partition_locations: got $names, want $want")
        }),
      Op("ls", () => collect(Trace.span("edfs.meta")(cat.ls("nhanes"))),
        { got =>
          val names = got.asInstanceOf[Array[Row]].map(r => (r.getString(0), r.getBoolean(5))).toSeq
          val want = Seq(("by_eth", true), ("by_seqn", true))
          if (names == want) None else Some(s"ls: got $names, want $want")
        }),
      Op("cat_ordered", () => collect(
        Trace.span("edfs.resolve")(cat.catOrdered(Range)).select(userCols: _*)),
        { got =>
          val rows = got.asInstanceOf[Array[Row]]
          val inOrder = rows.iterator.map(_.getInt(0)).sameElements(1 to rows.length)
          if (!inOrder) Some("cat_ordered: rows are not in ingest order")
          else checkBag("cat_ordered", data)(got)
        }),
      Op("ivf_adopt_probe", () => {
        Similarity.clearCaches()
        Trace.span("storefp.adopt")(Similarity.ensureIvfIndex(spark, sfDir))
        collect(Trace.span("ops.build")(SparkEntry.queries("sim_ivf_pruned")(spark, sfDir)))
      }, checkProbe))
  }

  def roundEnd(): RoundEnd = walk(tablesDir)
  def userBytesPerRound: Long = 0L
}

/** `edfs_write`: each round resets one hash-partitioned table and replays
  * the write path on it (put, 2 appends, merge, compact, vacuum with
  * snapshot expiry), reads it back, and re-puts a range-partitioned copy.
  * Inputs are parquet files loaded through `graft.Tables`, so the round
  * also pays one schema inference per input. State is bounded: every round
  * ends with the same table contents. */
final class EdfsWrite(spark: SparkSession, seed: Long, rows: Int) extends Workload {
  import Workload._

  private val Schema = StructType(Seq(
    StructField("key", LongType, nullable = false), StructField("grp", IntegerType),
    StructField("v", DoubleType), StructField("w", IntegerType), StructField("s", StringType)))
  private val Groups = 8

  /** The merge batch only touches these groups, so the other groups keep
    * the files their appends added and compact has work to do. */
  private val MergeGroups = Seq(1, 2)

  private val (base, batchA, batchB, mergeBatch) = {
    val rnd = new SplittableRandom(seed)
    // skewed group: half the rows land in group 0
    def grp(): Int = if (rnd.nextBoolean()) 0 else 1 + rnd.nextInt(Groups - 1)
    def row(k: Long, g: Int): Seq[Any] =
      Seq[Any](k, g, math.round(rnd.nextDouble() * 100000) / 100.0, rnd.nextInt(1000), s"s${rnd.nextInt(97)}")
    val batch = math.max(2, rows / 10)
    val b = (1L to rows.toLong).map(k => row(k, grp()))
    val a = (rows + 1L to rows.toLong + batch).map(k => row(k, grp()))
    val bb = (rows + batch + 1L to rows.toLong + 2 * batch).map(k => row(k, grp()))
    // half updates of existing keys (same group, new values), half new keys
    val inMerge = b.filter(r => MergeGroups.contains(r(1)))
    val updates = Seq.fill(batch / 2)(inMerge(rnd.nextInt(inMerge.size)))
      .distinctBy(_.head).map(r => row(r.head.asInstanceOf[Long], r(1).asInstanceOf[Int]))
    val fresh = (rows + 2L * batch + 1 to rows + 2L * batch + (batch - batch / 2))
      .map(k => row(k, MergeGroups(rnd.nextInt(MergeGroups.size))))
    (b, a, bb, updates ++ fresh)
  }
  /** The table after a round's writes: merge rows replace rows of equal key. */
  private val finalRows: Seq[Seq[Any]] = {
    val replaced = mergeBatch.map(_.head).toSet
    (base ++ batchA ++ batchB).filterNot(r => replaced(r.head)) ++ mergeBatch
  }
  private val wantAvg = exactAvg(finalRows.map(_(2).asInstanceOf[Double]))
  private val wantPruned: Map[Int, (Double, Long)] =
    finalRows.groupBy(_(1).asInstanceOf[Int]).map { case (g, rs) => g -> exactAvg(rs.map(_(2).asInstanceOf[Double])) }
  private val groupsPresent = wantPruned.keys.toIndexedSeq.sorted

  private var cat: GraftCatalog = _
  private var dataDir: String = _
  private var tablesDir: File = _
  private var inputBytes = 0L
  private val HashT = "w/t_hash"
  private val RangeT = "w/t_range"

  private def load(name: String): DataFrame = Trace.span("tables.load")(Tables.load(spark, dataDir, name))

  def setup(dir: File): Unit = {
    dataDir = new File(dir, "input").getAbsolutePath
    Seq("base" -> base, "batch_a" -> batchA, "batch_b" -> batchB, "merge" -> mergeBatch).foreach {
      case (name, rs) =>
        spark.createDataFrame(rs.map(Row.fromSeq).asJava, Schema).coalesce(1)
          .write.parquet(s"$dataDir/$name.parquet")
    }
    def size(n: String) = walk(new File(dataDir, s"$n.parquet")).dataBytes
    inputBytes = 2 * size("base") + size("batch_a") + size("batch_b") + size("merge")
    tablesDir = new File(dir, "edfs")
    cat = new GraftCatalog(spark, tablesDir.getAbsolutePath)
    cat.mkdir("w")
    cat.put(Tables.load(spark, dataDir, "base"), HashT, HashPartition("grp"))
    cat.put(Tables.load(spark, dataDir, "base"), RangeT, RangePartition("key", 8))
  }

  /** A write op: loads its input file (if any), then makes one catalog call. */
  private def writeOp(name: String, span: String, input: Option[String] = None,
    check: Any => Option[String] = _ => None)(body: Option[DataFrame] => Unit): Op =
    Op(name, () => { val d = input.map(load); Trace.span(span)(body(d)) }, check)

  /** Reads `table` back (after the op's clock has stopped) and compares its
    * rows with `want` by count and bag hash. */
  private def readBack(table: String, want: Seq[Seq[Any]]): Any => Option[String] =
    _ => checkBag(s"read-back of $table", want)(cat.cat(table).select(Schema.fieldNames.map(col): _*).collect())

  def round(r: Int): Seq[Op] = {
    val g = groupsPresent(r % groupsPresent.size)
    Seq(
      writeOp("put_hash", "edfs.put", Some("base"))(d => cat.put(d.get, HashT, HashPartition("grp"))),
      writeOp("append_a", "edfs.append", Some("batch_a"))(d => cat.append(d.get, HashT)),
      writeOp("append_b", "edfs.append", Some("batch_b"))(d => cat.append(d.get, HashT)),
      writeOp("merge", "edfs.merge", Some("merge"))(d => cat.merge(d.get, HashT, "key")),
      writeOp("compact", "edfs.compact")(_ => cat.compact(HashT)),
      writeOp("vacuum", "edfs.vacuum", check = readBack(HashT, finalRows)) { _ =>
        cat.vacuum(HashT); cat.expireSnapshots(HashT, 1)
      },
      Op("getavg", () => stat(Pmr.statAvg(Trace.span("edfs.resolve")(cat.cat(HashT)), "v")),
        checkStat("getavg", wantAvg)),
      Op("pruned_getavg", () => stat(Pmr.statAvg(
        Trace.span("edfs.resolve")(cat.readPartition(HashT, "grp", g)), "v")),
        checkStat(s"pruned_getavg[$g]", wantPruned(g))),
      writeOp("put_range", "edfs.put", Some("base"), readBack(RangeT, base))(d => cat.put(d.get, RangeT, RangePartition("key", 8))))
  }

  def roundEnd(): RoundEnd = walk(tablesDir)
  def userBytesPerRound: Long = inputBytes
}
