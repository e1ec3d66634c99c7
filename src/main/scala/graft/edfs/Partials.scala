package graft.edfs

import scala.concurrent.Await
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, GraftColumn, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Write-time aggregates of one primitive numeric column over the rows of
  * one partition directory — the reference's per-partition PMR partial
  * (combined_flask.py:549-:802), recorded in the sidecar instead of being
  * recomputed by every read.
  *
  * `lo`/`hi` are the min/max over the non-null, non-NaN values, in the
  * column's own Java type (None when there are none). `sum` is the exact sum
  * of those values each cast to `decimal(12,2)`; None is the marker that the
  * ANSI cast of some value (±Inf, or |v| ≥ 10^10) or the `decimal(22,2)`
  * sum itself would fail, so no answer that needs the sum may come from it. */
final case class ColPartial(dataType: DataType, nonNull: Long, nan: Long,
  lo: Option[Any], hi: Option[Any], sum: Option[java.math.BigDecimal]) {

  /** The partial of the union of both row sets (same column, same type). */
  def +(o: ColPartial): ColPartial = ColPartial(dataType, nonNull + o.nonNull, nan + o.nan,
    Partials.pick(lo, o.lo)(Partials.lt), Partials.pick(hi, o.hi)((a, b) => Partials.lt(b, a)),
    for (a <- sum; b <- o.sum; s = a.add(b) if Partials.sumFits(s)) yield s)
}

/** One partition directory's partial: its committed data files
  * (name → length) and the aggregates over exactly their rows. */
final case class DirPartial(files: Map[String, Long], rows: Long, cols: Map[String, ColPartial]) {

  /** Union of two disjoint row sets; a column survives only when both sides
    * carry it with the same type. */
  def +(o: DirPartial): DirPartial = DirPartial(files ++ o.files, rows + o.rows,
    cols.flatMap { case (c, p) =>
      o.cols.get(c).filter(_.dataType == p.dataType).map(q => c -> (p + q))
    })
}

/** One column's partials over the directories a scan reads: directory →
  * (rows, partial). The reduce of the map step. */
final case class ScanPartials(dataType: DataType, dirs: Map[String, (Long, ColPartial)]) {
  def rows: Long = dirs.values.map(_._1).sum
  def total: ColPartial = dirs.values.map(_._2).foldLeft(
    ColPartial(dataType, 0, 0, None, None, Some(java.math.BigDecimal.ZERO)))(_ + _)
}

object Partials {

  /** Storage formats whose round trip of primitive numerics is exact, so a
    * partial taken on the written frame describes what a scan reads back.
    * csv and json go through text and are never served. */
  val ServedFormats = Set("parquet", "orc")

  private val Primitive: Map[String, DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
      .map(t => t.typeName -> t).toMap
  def isPrimitive(t: DataType): Boolean = Primitive.get(t.typeName).contains(t)

  /** `decimal(12,2)` sums accumulate in `decimal(22,2)`. */
  private val SumLimit = java.math.BigDecimal.TEN.pow(20)
  def sumFits(s: java.math.BigDecimal): Boolean = s.abs.compareTo(SumLimit) < 0

  def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x < y
    case (x: Float, y: Float) => x < y
    case (x: Number, y: Number) => x.longValue < y.longValue
    case _ => false
  }
  def pick(a: Option[Any], b: Option[Any])(better: (Any, Any) => Boolean): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (better(y, x)) y else x)
      case _ => a.orElse(b)
    }

  // ----- JSON form, shared by the sidecar and the observed aggregate -----

  /** One shared mapper (thread-safe once configured; costly to build). */
  private[edfs] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseValue(t: DataType, s: String): Any = t match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case _ => s.toDouble
  }

  /** Writes `d` (files included when non-empty) into `node`. */
  def renderDir(node: ObjectNode, d: DirPartial): Unit = {
    if (d.files.nonEmpty) {
      val fa = node.putArray("files")
      d.files.toSeq.sorted.foreach { case (n, len) => fa.addArray().add(n).add(len) }
    }
    node.put("rows", d.rows)
    val cs = node.putObject("cols")
    d.cols.toSeq.sortBy(_._1).foreach { case (c, p) =>
      val o = cs.putObject(c)
      o.put("type", p.dataType.typeName)
      o.put("nn", p.nonNull)
      o.put("nan", p.nan)
      p.lo.foreach(v => o.put("min", v.toString))
      p.hi.foreach(v => o.put("max", v.toString))
      p.sum.foreach(s => o.put("sum", s.toPlainString))
    }
  }

  /** Inverse of [[renderDir]]; None when the node is not a well-formed
    * partial (a hand-edited or foreign sidecar is then simply not served). */
  def parseDir(node: JsonNode): Option[DirPartial] = scala.util.Try {
    import scala.jdk.CollectionConverters._
    val files = Option(node.get("files")).toSeq.flatMap(_.elements().asScala)
      .map(f => f.get(0).asText -> f.get(1).asLong).toMap
    val cols = node.get("cols").fields().asScala.map { e =>
      val o = e.getValue
      val t = Primitive(o.get("type").asText)
      def opt(f: String) = Option(o.get(f)).map(_.asText)
      e.getKey -> ColPartial(t, o.get("nn").asLong, o.get("nan").asLong,
        opt("min").map(parseValue(t, _)), opt("max").map(parseValue(t, _)),
        opt("sum").map(new java.math.BigDecimal(_)))
    }.toMap
    DirPartial(files, node.get("rows").asLong, cols)
  }.toOption

  def renderDirs(node: ObjectNode, dirs: Map[String, DirPartial]): Unit =
    dirs.toSeq.sortBy(_._1).foreach { case (d, p) => renderDir(node.putObject(d), p) }

  /** All-or-nothing: a partials object with one malformed entry yields None. */
  def parseDirs(node: JsonNode): Option[Map[String, DirPartial]] = {
    import scala.jdk.CollectionConverters._
    val parsed = node.fields().asScala.map(e => e.getKey -> parseDir(e.getValue)).toSeq
    Option.when(parsed.forall(_._2.isDefined))(parsed.map { case (k, v) => k -> v.get }.toMap)
  }

  // ----- the observed write-time aggregate -----

  /** `v`'s `decimal(12,2)` cast as an unscaled long (cents), exactly as
    * Spark's ANSI cast computes it, or None where that cast fails. A
    * fractional value the cast reads through `Double.toString` takes the
    * fast path when it is the double nearest some `r / 100`: every decimal
    * that rounds to it then lies within one ulp of `r / 100`, far inside
    * the ±0.005 that HALF_UP rounding to 2 places allows, so the cast
    * yields exactly `r`. */
  private[graft] def centsOf(v: Double): Option[Long] = {
    val r = Math.rint(v * 100)
    if (Math.abs(r) < 1e12 && r / 100 == v) Some(r.toLong)
    else {
      val d = try Decimal(v) catch { case _: NumberFormatException => null } // ±Inf
      if (d != null && d.changePrecision(12, 2)) Some(d.toUnscaledLong) else None
    }
  }

  private final class ColAcc extends Serializable {
    var nonNull = 0L
    var nan = 0L
    var seen = false // some non-NaN value
    var lo = 0.0
    var hi = 0.0
    var loL = 0L
    var hiL = 0L
    var cents = 0L
    var sumFails = false

    private def addCents(c: Option[Long]): Unit =
      if (!sumFails) c match {
        case Some(x) =>
          try cents = Math.addExact(cents, x)
          catch { case _: ArithmeticException => sumFails = true }
        case None => sumFails = true
      }
    def addFractional(v: Double): Unit = {
      nonNull += 1
      if (v.isNaN) nan += 1
      else {
        if (!seen || v < lo) lo = v
        if (!seen || v > hi) hi = v
        seen = true
        addCents(centsOf(v))
      }
    }
    def addIntegral(v: Long): Unit = {
      nonNull += 1
      if (!seen || v < loL) loL = v
      if (!seen || v > hiL) hiL = v
      seen = true
      addCents(if (v > -10000000000L && v < 10000000000L) Some(v * 100) else None)
    }
    def merge(o: ColAcc): Unit = {
      if (o.seen) {
        if (!seen || o.lo < lo) lo = o.lo
        if (!seen || o.hi > hi) hi = o.hi
        if (!seen || o.loL < loL) loL = o.loL
        if (!seen || o.hiL > hiL) hiL = o.hiL
        seen = true
      }
      nonNull += o.nonNull
      nan += o.nan
      if (o.sumFails) sumFails = true else addCents(Some(o.cents))
    }
    def result(t: DataType): ColPartial = {
      def typed(d: Double, l: Long): Any = t match {
        case DoubleType => d
        case FloatType => d.toFloat // widened from a float: exact
        case LongType => l
        case IntegerType => l.toInt
        case ShortType => l.toShort
        case _ => l.toByte
      }
      ColPartial(t, nonNull, nan, Option.when(seen)(typed(lo, loL)),
        Option.when(seen)(typed(hi, hiL)),
        Option.when(!sumFails)(java.math.BigDecimal.valueOf(cents, 2)).filter(sumFits))
    }
  }

  private final class DirAcc(n: Int) extends Serializable {
    var rows = 0L
    val cols: Array[ColAcc] = Array.fill(n)(new ColAcc)
    def merge(o: DirAcc): DirAcc = {
      rows += o.rows
      cols.indices.foreach(i => cols(i).merge(o.cols(i)))
      this
    }
  }

  /** Partition value (Spark's internal form; null for an unpartitioned
    * write) → that directory's accumulators. */
  private final class Buf extends Serializable {
    val dirs = new java.util.HashMap[Any, DirAcc]()
  }

  /** The keyed aggregate a write observes: one [[DirPartial]] (without
    * files) per partition directory of the frame. Children: the partition
    * column when `keyed`, then the numeric columns. It reads the columns
    * straight from the input rows (no per-row conversion to external
    * types) and finishes as the JSON of the directory map, keyed by
    * directory name exactly as Spark's writer names it (the value cast to
    * string in the session time zone). */
  private case class PartialsAgg(children: Seq[Expression], keyed: Boolean,
    keyName: String, timeZone: String, names: Seq[String],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Buf] {

    private lazy val cols = if (keyed) children.tail else children
    private lazy val types = cols.map(_.dataType).toArray
    // bound input ordinals (-1 = evaluate the child) and type codes
    private lazy val ords = cols.map {
      case b: BoundReference => b.ordinal
      case _ => -1
    }.toArray
    private lazy val codes = types.map(t => Seq(DoubleType, FloatType, LongType,
      IntegerType, ShortType, ByteType).indexOf(t))

    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Buf = new Buf

    override def update(b: Buf, input: InternalRow): Buf = {
      val key = if (keyed) children.head.eval(input) else null
      var acc = b.dirs.get(key)
      if (acc == null) {
        acc = new DirAcc(types.length)
        b.dirs.put(key match { case u: UTF8String => u.clone(); case k => k }, acc)
      }
      acc.rows += 1
      var i = 0
      while (i < types.length) {
        val o = ords(i)
        val c = acc.cols(i)
        if (o >= 0) {
          if (!input.isNullAt(o)) codes(i) match {
            case 0 => c.addFractional(input.getDouble(o))
            case 1 => c.addFractional(input.getFloat(o).toDouble)
            case 2 => c.addIntegral(input.getLong(o))
            case 3 => c.addIntegral(input.getInt(o).toLong)
            case 4 => c.addIntegral(input.getShort(o).toLong)
            case _ => c.addIntegral(input.getByte(o).toLong)
          }
        } else cols(i).eval(input) match {
          case null =>
          case v: Double => c.addFractional(v)
          case v: Float => c.addFractional(v.toDouble)
          case v: Number => c.addIntegral(v.longValue)
        }
        i += 1
      }
      b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      b.dirs.forEach((k, d) => a.dirs.merge(k, d, _ merge _))
      a
    }

    override def eval(b: Buf): Any = {
      import scala.jdk.CollectionConverters._
      val keyType = if (keyed) children.head.dataType else StringType
      // an unpartitioned write always has its one directory, rows or not
      if (!keyed && b.dirs.isEmpty) b.dirs.put(null, new DirAcc(types.length))
      // distinct keys can name one directory (binary values hash by
      // identity), so accumulators are merged per directory name
      val dirs = new java.util.HashMap[String, DirAcc]()
      b.dirs.forEach { (k, d) =>
        val dir =
          if (!keyed) ""
          else ExternalCatalogUtils.getPartitionPathString(keyName, Option(
            Cast(Literal(k, keyType), StringType, Some(timeZone)).eval()).map(_.toString).orNull)
        dirs.merge(dir, d, _ merge _)
      }
      val root = mapper.createObjectNode()
      renderDirs(root, dirs.asScala.map { case (dir, d) =>
        dir -> DirPartial(Map.empty, d.rows,
          names.indices.map(i => names(i) -> d.cols(i).result(types(i))).toMap)
      }.toMap)
      UTF8String.fromString(root.toString)
    }

    override def serialize(b: Buf): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(b) finally out.close()
      bytes.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): Buf = {
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      try in.readObject().asInstanceOf[Buf] finally in.close()
    }

    override def withNewMutableAggBufferOffset(o: Int): PartialsAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): PartialsAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PartialsAgg =
      copy(children = c)
    override def prettyName: String = "graft_partials"
  }

  /** A frame about to be written, wrapped so the write job itself also
    * computes its per-directory partials (Dataset.observe: no second scan,
    * no extra job). Call [[collect]] after the write returns. */
  final class Observed private[Partials] (val frame: DataFrame, obs: Option[Observation]) {
    /** The directory partials of the committed frame, or None when they are
      * not available (format not served, or the metrics never arrived). */
    def collect(): Option[Map[String, DirPartial]] = obs.flatMap { o =>
      // metrics reach the Observation through the listener bus, so they
      // can land just after the write call returns
      scala.util.Try(Await.result(o.future, 10.seconds)).toOption
        .flatMap(r => parseDirs(mapper.readTree(r.getString(0))))
    }
  }

  /** Observe the partials of `frame`, partitioned on `partCol` (None =
    * unpartitioned), for every primitive numeric column except the
    * partition column. Disabled, the frame is written as it is. */
  def observe(frame: DataFrame, partCol: Option[String], enabled: Boolean): Observed =
    if (!enabled) new Observed(frame, None)
    else observe(frame, partCol, frame.schema.fields
      .filter(f => isPrimitive(f.dataType) && !partCol.contains(f.name)).map(_.name).toSeq)

  private def observe(frame: DataFrame, partCol: Option[String], names: Seq[String]): Observed = {
    def c(name: String) = UnresolvedAttribute.quoted(name)
    val agg = PartialsAgg(partCol.map(c).toSeq ++ names.map(c), partCol.isDefined,
      partCol.getOrElse(""), frame.sparkSession.sessionState.conf.sessionLocalTimeZone, names)
    val o = Observation()
    new Observed(frame.observe(o,
      GraftColumn(agg.toAggregateExpression()).as("partials")), Some(o))
  }

  /** The partials of the primitive numeric `column` over the rows of
    * `frame`, one per partition directory of `partCol` that holds a row:
    * the aggregate a write observes, observed over a `noop` write, so it
    * costs one job (under AQE a plain `agg` runs its shuffle stage as a
    * second job). None when the metrics never arrive. */
  def compute(frame: DataFrame, partCol: Option[String], column: String): Option[ScanPartials] = {
    val observed = observe(frame, partCol, Seq(column))
    observed.frame.write.format("noop").mode("overwrite").save()
    observed.collect().map(dirs => ScanPartials(frame.schema(column).dataType,
      dirs.map { case (d, p) => d -> (p.rows, p.cols(column)) }))
  }
}
