package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for cosine similarity over `array<double>`.
  *
  * Why a custom Expression (SURVEY §3 preference (b)): the composed form —
  * `aggregate(zip_with(a,b,*)) / (sqrt(aggregate(...)) * sqrt(aggregate(...)))`
  * — walks both arrays three times through higher-order-function closures and
  * allocates an intermediate product array. This expression makes ONE fused
  * pass with primitive accumulators, participates in whole-stage codegen via
  * `doGenCode`, and keeps the exact left-to-right fold order, so results are
  * bit-identical to the composed form (and to the DuckDB list_reduce oracle).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<double>, array<double>), got ($l, $r)")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $a.getDouble($i);
         |  final double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native agreement count between two MinHash signatures (`array<bigint>`):
  * the number of positions where both sides are non-null and equal.
  *
  * Why a custom Expression (SURVEY §3 preference (b)): the composed form —
  * `aggregate(zip_with(a,b,(x,y)->IF(x=y,1,0)), 0, acc+v)` — runs two
  * interpreted higher-order closures and allocates a 64-int array PER
  * CANDIDATE PAIR, and it sits on the hot path of every LSH query
  * (dedup_minhash / dedup_clusters / dedup_jaccard rank each band-collision
  * pair by it). This is one fused primitive loop inside whole-stage codegen.
  *
  * Semantics are identical to the composed form: `zip_with` pads the shorter
  * side with NULL and `IF(NULL=x,1,0)` yields 0, so counting equal non-null
  * positions over the overlapping prefix gives the same number for any
  * length combination (FunctionsSpec pins this on the corpus + edge shapes).
  */
case class SigAgreement(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_sig_agreement expects (array<bigint>, array<bigint>), got ($l, $r)")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sig_agreement"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment over a plan-literal codebook: returns the cid
  * of the codebook row with the highest cosine to the input vector, ties
  * broken by lowest cid — identical selection semantics to
  * `greatest(struct(cosine(v, cv), -cid)...)` and to the oracle's
  * `ROW_NUMBER() OVER (ORDER BY csim DESC, cid ASC)`.
  *
  * Why a custom Expression (SURVEY §3 preference (b)): the unrolled
  * `greatest` form inlines one cosine-kernel call PER CENTROID, so the
  * generated code grows O(K·dim) — past K≈64 the method blows the JIT/
  * codegen size limits and the plan falls back to interpreted mode. That
  * width limit is exactly what forced the semantic-dedup K≤64 clamp
  * (SemDeDup sizes K ∝ N — ~50k clusters for LAION). Here the codebook is
  * DATA (two array literals → one reference object), the generated code is
  * O(1) regardless of K, and the K·dim fused loop stays inside whole-stage
  * codegen. At cluster scale the same expression ships the codebook to
  * executors once per task via the plan broadcast, like any literal.
  *
  * Cosine accumulation is the same left-to-right fold as [[CosineSimilarity]]
  * (dot/norms over `min(len)` elements), so scores — and therefore every
  * assignment decision — are bit-identical to the composed form and to the
  * DuckDB list_reduce oracle. Double comparison mirrors Spark's ordering
  * (NaN greatest, NaN ties equal; `==` keeps -0.0 == 0.0), matching what the
  * struct-ordering `greatest` did. ONE deliberate divergence from the
  * unrolled form: a NULL input vector yields NULL (standard null-intolerant
  * UnaryExpression semantics) where the old struct ordering fell through
  * null csim fields to the lowest cid — assigning a vectorless row to a real
  * cluster was an artifact, not a semantic; corpus embeddings are non-null
  * by schema, so no live path sees the difference.
  *
  * The codebook travels as `(cids, flat, dim)` Seq fields — value equality,
  * so Catalyst subexpression elimination and plan canonicalization treat two
  * copies with one trained codebook as equal (Array fields would compare by
  * reference and silently break that).
  */
case class NearestCentroid(child: Expression, cids: Seq[Long],
  flat: Seq[Double], dim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(dim > 0, "graft_nearest_cid: dim must be positive")
  require(cids.nonEmpty, "graft_nearest_cid: empty codebook")
  require(flat.size == cids.size * dim,
    s"graft_nearest_cid: flat size ${flat.size} != ${cids.size} cids x $dim dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cid expects array<double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_cid"

  @transient private lazy val centMat: Array[Array[Double]] =
    flat.toArray.grouped(dim).toArray
  @transient private lazy val cidArr: Array[Long] = cids.toArray

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var best = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var k = 0
    while (k < centMat.length) {
      val cv = centMat(k)
      val n = math.min(x.numElements(), cv.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = cv(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val s = dot / (math.sqrt(nx) * math.sqrt(ny))
      val better = s > best || (s.isNaN && !best.isNaN)
      val tie = s == best || (s.isNaN && best.isNaN)
      if (better || (tie && cidArr(k) < bestCid)) { best = s; bestCid = cidArr(k) }
      k += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cents = ctx.addReferenceObj("cents", centMat, "double[][]")
      val ids = ctx.addReferenceObj("cids", cidArr, "long[]")
      val k = ctx.freshName("k"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val s = ctx.freshName("s")
      val best = ctx.freshName("best"); val bestCid = ctx.freshName("bestCid")
      val better = ctx.freshName("better"); val tie = ctx.freshName("tie")
      s"""
         |double $best = Double.NEGATIVE_INFINITY;
         |long $bestCid = Long.MAX_VALUE;
         |for (int $k = 0; $k < $cents.length; $k++) {
         |  final double[] $cv = $cents[$k];
         |  final int $n = java.lang.Math.min($a.numElements(), $cv.length);
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $a.getDouble($i);
         |    final double $yi = $cv[$i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  final double $s = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  final boolean $better = $s > $best ||
         |    (Double.isNaN($s) && !Double.isNaN($best));
         |  final boolean $tie = $s == $best ||
         |    (Double.isNaN($s) && Double.isNaN($best));
         |  if ($better || ($tie && $ids[$k] < $bestCid)) {
         |    $best = $s; $bestCid = $ids[$k];
         |  }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The executor-broadcast codebook payload for [[NearestCentroidBroadcast]]:
  * flat centroid storage plus a per-JVM lazily-materialized row matrix (the
  * transient lazy keeps only the flat form on the wire). */
final class CodebookData(val cids: Array[Long], val flat: Array[Double],
  val dim: Int) extends Serializable {
  require(dim > 0 && cids.nonEmpty && flat.length == cids.length * dim,
    s"CodebookData: ${cids.length} cids x $dim dims != flat ${flat.length}")
  @transient lazy val mat: Array[Array[Double]] = flat.grouped(dim).toArray
}

/** Nearest-centroid assignment over an EXECUTOR-BROADCAST codebook — the
  * production form of [[NearestCentroid]] for codebooks too large to ride as
  * plan literals. The literal form serializes the K×dim doubles into every
  * plan (and re-ships them with each task batch); past tens of MiB that is
  * planner overhead and task-broadcast waste, which is why the semantic
  * codebook carried a 65536-centroid sanity cap. Here the expression carries
  * only the lightweight Broadcast HANDLE; executors fetch the codebook blocks
  * once per JVM via torrent broadcast, and every task of every query that
  * shares the handle reuses the same deserialized arrays. That removes the
  * size cap: K ∝ N semantic-dedup sizing (SemDeDup's 50k-clusters-for-LAION
  * rule) holds at any corpus the cluster can train on.
  *
  * Selection semantics, fold order and NULL handling are IDENTICAL to
  * [[NearestCentroid]] (same left-to-right cosine fold, csim-DESC/cid-ASC
  * argmax, NaN-greatest/-0.0==0.0 double ordering, NULL in → NULL out), so a
  * query can switch forms without moving a single assignment — FunctionsSpec
  * pins bit-identical decisions between the two on a shared corpus.
  *
  * Codegen note: the generated code pulls the arrays through `mat()`/`ids()`
  * on the serialized expression instance (one virtual call per row, O(1) in
  * K) — NOT through `ctx.addReferenceObj` on the arrays themselves, which
  * would serialize the full codebook back into the plan and defeat the
  * broadcast. Equality is by broadcast id (one handle per trained codebook —
  * GraftFunctions memoizes), so subexpression elimination and plan
  * canonicalization behave exactly as with the literal form's value
  * equality. */
case class NearestCentroidBroadcast(child: Expression,
  bc: org.apache.spark.broadcast.Broadcast[CodebookData])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cid_bc expects array<double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_cid_bc"

  // materialized once per deserialized instance (≈ once per task), then a
  // plain field read — the broadcast fetch itself is once per executor JVM
  @transient private lazy val centMat: Array[Array[Double]] = bc.value.mat
  @transient private lazy val cidArr: Array[Long] = bc.value.cids

  /** Codegen accessors (public: called from generated Java). */
  def mat(): Array[Array[Double]] = centMat
  def ids(): Array[Long] = cidArr

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var best = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var k = 0
    while (k < centMat.length) {
      val cv = centMat(k)
      val n = math.min(x.numElements(), cv.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = cv(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val s = dot / (math.sqrt(nx) * math.sqrt(ny))
      val better = s > best || (s.isNaN && !best.isNaN)
      val tie = s == best || (s.isNaN && best.isNaN)
      if (better || (tie && cidArr(k) < bestCid)) { best = s; bestCid = cidArr(k) }
      k += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ncbc", this,
        classOf[NearestCentroidBroadcast].getName)
      val cents = ctx.freshName("cents"); val idsV = ctx.freshName("ids")
      val k = ctx.freshName("k"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val s = ctx.freshName("s")
      val best = ctx.freshName("best"); val bestCid = ctx.freshName("bestCid")
      val better = ctx.freshName("better"); val tie = ctx.freshName("tie")
      s"""
         |final double[][] $cents = $self.mat();
         |final long[] $idsV = $self.ids();
         |double $best = Double.NEGATIVE_INFINITY;
         |long $bestCid = Long.MAX_VALUE;
         |for (int $k = 0; $k < $cents.length; $k++) {
         |  final double[] $cv = $cents[$k];
         |  final int $n = java.lang.Math.min($a.numElements(), $cv.length);
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $a.getDouble($i);
         |    final double $yi = $cv[$i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  final double $s = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  final boolean $better = $s > $best ||
         |    (Double.isNaN($s) && !Double.isNaN($best));
         |  final boolean $tie = $s == $best ||
         |    (Double.isNaN($s) && Double.isNaN($best));
         |  if ($better || ($tie && $idsV[$k] < $bestCid)) {
         |    $best = $s; $bestCid = $idsV[$k];
         |  }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidBroadcast =
    copy(child = newChild)
}

/** Top-`p` nearest-centroid cids over an EXECUTOR-BROADCAST codebook, in
  * probe-rank order — the PLURAL form of [[NearestCentroidBroadcast]] and the
  * kernel that makes multi-probe planning (IVF nProbe lists, the kNN join's
  * per-query probe sets) a distributed row-local projection instead of a
  * driver loop over collected query vectors.
  *
  * Ranking is exactly the oracle's
  * `ROW_NUMBER() OVER (PARTITION BY q ORDER BY csim DESC, cid ASC) <= p`:
  * the same left-to-right cosine fold over `min(len)` elements as
  * [[CosineSimilarity]], the same NaN-greatest / `-0.0 == 0.0` double
  * ordering as the singular kernel (DuckDB's `ORDER BY csim DESC` likewise
  * ranks NaN first), lowest-cid tie-break at equal score. `p = 1` therefore
  * returns `[nearest_cid]` — FunctionsSpec pins agreement with the singular
  * form. Per row the kernel keeps a p-slot insertion buffer (p is a small
  * plan constant — nProbe), so generated code is O(K·(dim + p)) with O(1)
  * allocation: one long[] for the result array. NULL in → NULL out. */
case class NearestCentroidsBroadcast(child: Expression,
  bc: org.apache.spark.broadcast.Broadcast[CodebookData], p: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(p > 0, "graft_nearest_cids_bc: p must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cids_bc expects array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_cids_bc"

  @transient private lazy val centMat: Array[Array[Double]] = bc.value.mat
  @transient private lazy val cidArr: Array[Long] = bc.value.cids

  /** Codegen accessors (public: called from generated Java). */
  def mat(): Array[Array[Double]] = centMat
  def ids(): Array[Long] = cidArr

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val topS = new Array[Double](p)
    val topC = new Array[Long](p)
    var cnt = 0
    var k = 0
    while (k < centMat.length) {
      val cv = centMat(k)
      val n = math.min(x.numElements(), cv.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = cv(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val s = dot / (math.sqrt(nx) * math.sqrt(ny))
      val cid = cidArr(k)
      // first slot this candidate ranks strictly before (csim DESC, cid ASC)
      var pos = 0
      var placed = false
      while (pos < cnt && !placed) {
        val beats = s > topS(pos) || (s.isNaN && !topS(pos).isNaN) ||
          ((s == topS(pos) || (s.isNaN && topS(pos).isNaN)) && cid < topC(pos))
        if (beats) placed = true else pos += 1
      }
      if (pos < p) {
        var j = math.min(cnt, p - 1)
        while (j > pos) { topS(j) = topS(j - 1); topC(j) = topC(j - 1); j -= 1 }
        topS(pos) = s; topC(pos) = cid
        if (cnt < p) cnt += 1
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topC, cnt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ncsbc", this,
        classOf[NearestCentroidsBroadcast].getName)
      val cents = ctx.freshName("cents"); val idsV = ctx.freshName("ids")
      val topS = ctx.freshName("topS"); val topC = ctx.freshName("topC")
      val cnt = ctx.freshName("cnt"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val cv = ctx.freshName("cv"); val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val s = ctx.freshName("s"); val cid = ctx.freshName("cid")
      val pos = ctx.freshName("pos"); val beats = ctx.freshName("beats")
      val j = ctx.freshName("j")
      s"""
         |final double[][] $cents = $self.mat();
         |final long[] $idsV = $self.ids();
         |final double[] $topS = new double[$p];
         |final long[] $topC = new long[$p];
         |int $cnt = 0;
         |for (int $k = 0; $k < $cents.length; $k++) {
         |  final double[] $cv = $cents[$k];
         |  final int $n = java.lang.Math.min($a.numElements(), $cv.length);
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $a.getDouble($i);
         |    final double $yi = $cv[$i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  final double $s = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  final long $cid = $idsV[$k];
         |  int $pos = 0;
         |  while ($pos < $cnt) {
         |    final boolean $beats = $s > $topS[$pos] ||
         |      (Double.isNaN($s) && !Double.isNaN($topS[$pos])) ||
         |      (($s == $topS[$pos] ||
         |        (Double.isNaN($s) && Double.isNaN($topS[$pos]))) &&
         |       $cid < $topC[$pos]);
         |    if ($beats) break;
         |    $pos++;
         |  }
         |  if ($pos < $p) {
         |    for (int $j = java.lang.Math.min($cnt, $p - 1); $j > $pos; $j--) {
         |      $topS[$j] = $topS[$j - 1]; $topC[$j] = $topC[$j - 1];
         |    }
         |    $topS[$pos] = $s; $topC[$pos] = $cid;
         |    if ($cnt < $p) $cnt++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($topC, $cnt));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsBroadcast =
    copy(child = newChild)
}

/** Registration for graft's native functions — both via SparkSessionExtensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) and imperatively
  * for sessions built without the config. */
object GraftFunctions {

  val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "graft_cosine")

  private[functions] val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_cosine expects 2 arguments, got ${other.size}")
  }

  /** Bloom-filter membership probe as a user-callable function. Spark keeps
    * `BloomFilterMightContain` internal (it only materializes via the runtime
    * row-level-filter rewrite); exposing it lets a pipeline broadcast a
    * pre-built sketch as a plan literal and probe it inside whole-stage
    * codegen — no UDF, no per-row deserialization (the sketch deserializes
    * once per task). The value is hashed with the same seed-42 XxHash64 the
    * sketch was built from (see PipelineOps.contaminationBloom). */
  val mightContainInfo = new ExpressionInfo(
    classOf[BloomFilterMightContain].getName, "graft_might_contain")

  private[functions] val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, new XxHash64(Seq(value)))
    case other => throw new IllegalArgumentException(
      s"graft_might_contain expects 2 arguments, got ${other.size}")
  }

  val sigAgreementInfo = new ExpressionInfo(
    classOf[SigAgreement].getName, "graft_sig_agreement")

  private[functions] val sigAgreementBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SigAgreement(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_sig_agreement expects 2 arguments, got ${other.size}")
  }

  val nearestCidInfo = new ExpressionInfo(
    classOf[NearestCentroid].getName, "graft_nearest_cid")

  /** (v, cids array literal, flat centroid array literal, dim literal) — the
    * codebook is plan metadata (the offline-trained artifact), same contract
    * as graft_stop_hits' dictionary. */
  private[functions] val nearestCidBuilder: Seq[Expression] => Expression = {
    case Seq(v, cidsArg, flatArg, dimArg)
      if cidsArg.foldable && cidsArg.dataType.isInstanceOf[ArrayType] &&
        cidsArg.dataType.asInstanceOf[ArrayType].elementType == LongType &&
        flatArg.foldable && flatArg.dataType.isInstanceOf[ArrayType] &&
        flatArg.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        dimArg.foldable && dimArg.dataType == IntegerType &&
        cidsArg.eval(null) != null && flatArg.eval(null) != null &&
        dimArg.eval(null) != null =>
      NearestCentroid(v,
        cidsArg.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq,
        flatArg.eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq,
        dimArg.eval(null).asInstanceOf[Int])
    case _ => throw new IllegalArgumentException(
      "graft_nearest_cid expects (vector, bigint-array LITERAL, " +
        "double-array LITERAL, int LITERAL) — the codebook is plan metadata")
  }

  val nearestCidBcInfo = new ExpressionInfo(
    classOf[NearestCentroidBroadcast].getName, "graft_nearest_cid_bc")

  val nearestCidsBcInfo = new ExpressionInfo(
    classOf[NearestCentroidsBroadcast].getName, "graft_nearest_cids_bc")

  // handle registry bridging the Column seam to the analyzer: the function
  // registry only passes EXPRESSIONS to builders, and a Broadcast cannot
  // travel as one — so the Column API broadcasts the codebook, parks the
  // handle here under a fresh id, and passes the id as a long literal; the
  // builder (driver-side, at analysis) swaps the id back for the handle.
  // The registry grows by one handle per registered codebook until
  // clearBroadcasts() destroys them (Similarity.clearCaches() calls it) —
  // the explicit eviction path a long-lived multi-corpus application needs,
  // since each handle pins a codebook-sized block-manager entry, not just
  // the tiny handle object.
  private val bcHandles = scala.collection.concurrent.TrieMap
    .empty[Long, org.apache.spark.broadcast.Broadcast[CodebookData]]
  private val bcNextId = new java.util.concurrent.atomic.AtomicLong(0L)
  // one broadcast per (SparkContext incarnation, codebook INSTANCE). The
  // memo key is the codebook array REFERENCE via a weak-keyed map (arrays
  // don't override equals, so WeakHashMap lookup is identity): a bare
  // identityHashCode key is NOT unique — a 31-bit hash reused after GC (or
  // a plain collision between live arrays) would silently resolve a NEW
  // codebook to another codebook's broadcast and assign every vector
  // against the wrong centroids. Weak keys also drop memo entries once a
  // retrain makes the old array garbage. A restarted context invalidates
  // its broadcasts, hence the applicationId in the value.
  private val bcMemo =
    new java.util.WeakHashMap[Array[(Int, Array[Double])], (String, Long)]

  // [[bcHandles]]'s machinery applied to C40's reference LM: handle id rides
  // as a long literal, the Broadcast[GramLmModel] parks here. The memo is
  // CONTENT-keyed — (appId, md5 of both blobs) — not identity-keyed like the
  // codebook memo: blobs are immutable strings cached per scale dir, so
  // content equality is exact, collision-free at md5 width, and immune to
  // the identityHashCode-reuse hazard arrays had. Entries live until
  // clearLmBroadcasts() (TextAnalysis.clearLmCache routes through it) — each
  // pins a model-sized block-manager entry, the explicit eviction a
  // long-lived multi-corpus application needs.
  private val lmBcHandles = scala.collection.concurrent.TrieMap
    .empty[Long, org.apache.spark.broadcast.Broadcast[GramLmModel]]
  private val lmBcMemo = scala.collection.concurrent.TrieMap.empty[String, Long]

  private def lmBlobKey(appId: String, uniBlob: String, biBlob: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(uniBlob.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(biBlob.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    appId + ":" + md.digest().map("%02x".format(_)).mkString
  }

  /** (v, broadcast-handle id literal) — see [[bcHandles]]. */
  private[functions] val nearestCidBcBuilder: Seq[Expression] => Expression = {
    case Seq(v, idArg)
      if idArg.foldable && idArg.dataType == LongType && idArg.eval(null) != null =>
      val id = idArg.eval(null).asInstanceOf[Long]
      val bc = bcHandles.getOrElse(id, throw new IllegalArgumentException(
        s"graft_nearest_cid_bc: no broadcast codebook registered under id $id " +
          "(construct the column via GraftFunctions.nearestCidBroadcast)"))
      NearestCentroidBroadcast(v, bc)
    case _ => throw new IllegalArgumentException(
      "graft_nearest_cid_bc expects (vector, bigint handle-id LITERAL) — " +
        "use GraftFunctions.nearestCidBroadcast, which manages the handle")
  }

  /** (v, broadcast-handle id literal, p literal) — see [[bcHandles]]. */
  private[functions] val nearestCidsBcBuilder: Seq[Expression] => Expression = {
    case Seq(v, idArg, pArg)
      if idArg.foldable && idArg.dataType == LongType && idArg.eval(null) != null &&
        pArg.foldable && pArg.dataType == IntegerType && pArg.eval(null) != null =>
      val id = idArg.eval(null).asInstanceOf[Long]
      val bc = bcHandles.getOrElse(id, throw new IllegalArgumentException(
        s"graft_nearest_cids_bc: no broadcast codebook registered under id $id " +
          "(construct the column via GraftFunctions.nearestCidsBroadcast)"))
      NearestCentroidsBroadcast(v, bc, pArg.eval(null).asInstanceOf[Int])
    case _ => throw new IllegalArgumentException(
      "graft_nearest_cids_bc expects (vector, bigint handle-id LITERAL, " +
        "int p LITERAL) — use GraftFunctions.nearestCidsBroadcast, " +
        "which manages the handle")
  }

  /** Register (or reuse) the executor broadcast for `codebook`, returning its
    * handle id — the shared acquisition path behind the broadcast-form
    * kernels ([[nearestCidBroadcast]], [[nearestCidsBroadcast]]), so one
    * trained codebook maps to ONE broadcast no matter which kernel forms
    * probe it. */
  private def acquireCodebookHandle(spark: SparkSession,
    codebook: Array[(Int, Array[Double])], caller: String): Long = {
    require(codebook.nonEmpty, s"$caller: empty codebook")
    val dim = codebook.head._2.length
    require(codebook.forall(_._2.length == dim),
      s"$caller: ragged codebook (mixed centroid dims)")
    ensureRegistered(spark)
    val appId = spark.sparkContext.applicationId
    bcMemo.synchronized {
      Option(bcMemo.get(codebook)).filter(_._1 == appId).map(_._2).getOrElse {
        val data = new CodebookData(codebook.map(_._1.toLong),
          codebook.flatMap(_._2), dim)
        val handle = spark.sparkContext.broadcast(data)
        val fresh = bcNextId.incrementAndGet()
        bcHandles(fresh) = handle
        bcMemo.put(codebook, (appId, fresh))
        fresh
      }
    }
  }

  /** Column-API entry point: nearest-centroid cid with the codebook as an
    * EXECUTOR BROADCAST — same selection semantics as [[nearestCid]], no
    * plan-literal size ceiling. One Broadcast per (context, codebook
    * instance): repeated query builds over one trained codebook reuse the
    * same handle, so plans canonicalize equal and executors hold one copy. */
  def nearestCidBroadcast(spark: SparkSession, v: Column,
    codebook: Array[(Int, Array[Double])]): Column = {
    val id = acquireCodebookHandle(spark, codebook, "nearestCidBroadcast")
    call_function("graft_nearest_cid_bc", v,
      org.apache.spark.sql.functions.lit(id))
  }

  /** Column-API entry point: the top-`p` nearest cids in probe-rank order
    * (csim DESC, cid ASC — the oracle's ROW_NUMBER convention) as an
    * `array<bigint>` column. The multi-probe planner: `explode` the result
    * against a query set of ANY size and probe planning stays a distributed
    * row-local projection — no driver collect, no query-set broadcast. */
  def nearestCidsBroadcast(spark: SparkSession, v: Column,
    codebook: Array[(Int, Array[Double])], p: Int): Column = {
    require(p > 0, s"nearestCidsBroadcast: p must be positive, got $p")
    val id = acquireCodebookHandle(spark, codebook, "nearestCidsBroadcast")
    call_function("graft_nearest_cids_bc", v,
      org.apache.spark.sql.functions.lit(id),
      org.apache.spark.sql.functions.lit(p))
  }

  /** Destroy ONE codebook's broadcast (if this app registered one) and drop
    * its registry entries — the targeted form of [[clearBroadcasts]], for
    * callers that make a codebook array garbage mid-app: Lloyd's training
    * loop registers a fresh executor broadcast per ITERATION codebook once K
    * crosses the broadcast threshold, and only the final codebook needs to
    * outlive training. Without eager release each intermediate would pin a
    * codebook-sized block-manager entry until a full clearCaches(). Safe to
    * call with a never-registered array (no-op); the caller must not hold
    * Columns built over the released codebook (same loud-failure contract as
    * clearBroadcasts). */
  def releaseCodebookBroadcast(codebook: Array[(Int, Array[Double])]): Unit =
    bcMemo.synchronized {
      Option(bcMemo.remove(codebook)).foreach { case (_, id) =>
        bcHandles.remove(id).foreach { h =>
          try h.destroy() catch { case _: Exception => () }
        }
      }
    }

  /** Destroy every registered codebook broadcast and clear both registries —
    * the eviction path Similarity.clearCaches() routes through, and the only
    * way the block-manager blocks behind [[bcHandles]] are ever released. A
    * column built BEFORE the clear fails LOUDLY afterwards (unknown handle
    * id at analysis, or Spark's destroyed-broadcast error at execution) —
    * never silently computes against stale centroids, matching the
    * clear-then-retrain contract of the trainer caches. */
  def clearBroadcasts(): Unit = bcMemo.synchronized {
    bcHandles.values.foreach { h =>
      try h.destroy() catch { case _: Exception => () }
    }
    bcHandles.clear()
    bcMemo.clear()
  }

  val fingerprintInfo = new ExpressionInfo(
    classOf[TokenFingerprint].getName, "graft_fingerprint")

  val stopHitsInfo = new ExpressionInfo(
    classOf[StopwordHits].getName, "graft_stop_hits")

  val distinctBigramsInfo = new ExpressionInfo(
    classOf[DistinctBigrams].getName, "graft_distinct_bigrams")

  val bpeCountInfo = new ExpressionInfo(
    classOf[BpeTokenCount].getName, "graft_bpe_count")

  private[functions] val bpeCountBuilder: Seq[Expression] => Expression = {
    case Seq(c) => BpeTokenCount(c)
    case other => throw new IllegalArgumentException(
      s"graft_bpe_count expects 1 argument, got ${other.size}")
  }

  val bpeMergeCountInfo = new ExpressionInfo(
    classOf[BpeMergeCount].getName, "graft_bpe_merge_count")

  /** (text, "left right" rule literal...) in rank order — the merge table is
    * plan metadata, same contract as graft_stop_hits' dictionary. */
  private[functions] val bpeMergeCountBuilder: Seq[Expression] => Expression = {
    case text +: rest if rest.nonEmpty && rest.forall(e =>
      e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        e.eval(null) != null) =>
      val rules = rest.map { e =>
        val s = e.eval(null).toString
        val sep = s.indexOf(' ')
        require(sep > 0 && sep < s.length - 1 && s.indexOf(' ', sep + 1) < 0,
          s"graft_bpe_merge_count: rule '$s' must be exactly 'left right'")
        (s.substring(0, sep), s.substring(sep + 1))
      }
      BpeMergeCount(text, rules)
    case args if args.size < 2 => throw new IllegalArgumentException(
      s"graft_bpe_merge_count expects (text, rule literal...), got ${args.size} args")
    case _ => throw new IllegalArgumentException(
      "graft_bpe_merge_count rules must be non-null string LITERALS " +
        "(plan metadata), not columns or NULL")
  }

  private[functions] val distinctBigramsBuilder: Seq[Expression] => Expression = {
    case Seq(c) => DistinctBigrams(c)
    case other => throw new IllegalArgumentException(
      s"graft_distinct_bigrams expects 1 argument, got ${other.size}")
  }

  val wordGramSetInfo = new ExpressionInfo(
    classOf[WordGramSet].getName, "graft_gram_set")

  /** (text, n literal) — n is plan metadata, the stop_hits dictionary rule. */
  private[functions] val wordGramSetBuilder: Seq[Expression] => Expression = {
    case Seq(c, nExpr) if nExpr.foldable && nExpr.eval(null) != null &&
        nExpr.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType] =>
      WordGramSet(c, nExpr.eval(null).asInstanceOf[Int])
    case other => throw new IllegalArgumentException(
      "graft_gram_set expects (text, int literal n), got " +
        s"${other.size} args")
  }

  val gopherStatsInfo = new ExpressionInfo(
    classOf[GopherStats].getName, "graft_gopher_stats")

  private[functions] val gopherStatsBuilder: Seq[Expression] => Expression = {
    case Seq(c) => GopherStats(c)
    case other => throw new IllegalArgumentException(
      s"graft_gopher_stats expects 1 argument, got ${other.size}")
  }

  /** Tail args must be foldable NON-NULL string literals — the dictionary is
    * plan metadata, not per-row data. */
  private[functions] val stopHitsBuilder: Seq[Expression] => Expression = {
    case text +: rest if rest.nonEmpty && rest.forall(e =>
      e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        e.eval(null) != null) =>
      StopwordHits(text, rest.map(_.eval(null).toString))
    case args if args.size < 2 => throw new IllegalArgumentException(
      s"graft_stop_hits expects (text, word literal...), got ${args.size} args")
    case _ => throw new IllegalArgumentException(
      "graft_stop_hits dictionary args must be non-null string LITERALS " +
        "(plan metadata), not columns or NULL")
  }

  private[functions] val fingerprintBuilder: Seq[Expression] => Expression = {
    case Seq(c) => TokenFingerprint(c)
    case other => throw new IllegalArgumentException(
      s"graft_fingerprint expects 1 argument, got ${other.size}")
  }

  val tokenWeightInfo = new ExpressionInfo(
    classOf[TokenWeightSum].getName, "graft_token_weight")

  private[functions] val tokenWeightBuilder: Seq[Expression] => Expression = {
    case Seq(c) => TokenWeightSum(c)
    case other => throw new IllegalArgumentException(
      s"graft_token_weight expects 1 argument, got ${other.size}")
  }

  val ntzUtcInfo = new ExpressionInfo(
    classOf[NtzAsUtcInstant].getName, "graft_ntz_utc")

  private[functions] val ntzUtcBuilder: Seq[Expression] => Expression = {
    case Seq(c) => NtzAsUtcInstant(c)
    case other => throw new IllegalArgumentException(
      s"graft_ntz_utc expects 1 argument, got ${other.size}")
  }

  val gramHitsInfo = new ExpressionInfo(
    classOf[GramSetStats].getName, "graft_gram_hits")

  /** (text, n literal, blob literal) — n and the newline-delimited gram blob
    * are plan metadata, same contract as graft_stop_hits' dictionary. */
  private[functions] val gramHitsBuilder: Seq[Expression] => Expression = {
    case Seq(text, nArg, blobArg)
      if nArg.foldable && nArg.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType] &&
        nArg.eval(null) != null &&
        blobArg.foldable && blobArg.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        blobArg.eval(null) != null =>
      GramSetStats(text, nArg.eval(null).asInstanceOf[Int], blobArg.eval(null).toString)
    case _ => throw new IllegalArgumentException(
      "graft_gram_hits expects (text, n int literal, gram-blob string literal)")
  }

  val pqCodesInfo = new ExpressionInfo(
    classOf[PqEncodeCodes].getName, "graft_pq_codes")

  /** (v, m literal, ks literal, dsub literal, flat-books double-array
    * literal) — the codebooks are plan metadata, nearestCid's contract. */
  private[functions] val pqCodesBuilder: Seq[Expression] => Expression = {
    case Seq(v, mArg, ksArg, dsubArg, flatArg)
      if Seq(mArg, ksArg, dsubArg).forall(a => a.foldable &&
          a.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType] &&
          a.eval(null) != null) &&
        flatArg.foldable && flatArg.eval(null) != null =>
      PqEncodeCodes(v,
        mArg.eval(null).asInstanceOf[Int],
        ksArg.eval(null).asInstanceOf[Int],
        dsubArg.eval(null).asInstanceOf[Int],
        flatArg.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq)
    case _ => throw new IllegalArgumentException(
      "graft_pq_codes expects (v, m int literal, ks int literal, " +
        "dsub int literal, flat-books array<double> literal)")
  }

  val adcTableInfo = new ExpressionInfo(
    classOf[AdcTable].getName, "graft_adc_table")

  /** (q, m literal, ks literal, dsub literal, flat-books double-array
    * literal) — pqCodesBuilder's contract, query-side dual. */
  private[functions] val adcTableBuilder: Seq[Expression] => Expression = {
    case Seq(q, mArg, ksArg, dsubArg, flatArg)
      if Seq(mArg, ksArg, dsubArg).forall(a => a.foldable &&
          a.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType] &&
          a.eval(null) != null) &&
        flatArg.foldable && flatArg.eval(null) != null =>
      AdcTable(q,
        mArg.eval(null).asInstanceOf[Int],
        ksArg.eval(null).asInstanceOf[Int],
        dsubArg.eval(null).asInstanceOf[Int],
        flatArg.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq)
    case _ => throw new IllegalArgumentException(
      "graft_adc_table expects (q, m int literal, ks int literal, " +
        "dsub int literal, flat-books array<double> literal)")
  }

  val gramMarksInfo = new ExpressionInfo(
    classOf[GramMarkPositions].getName, "graft_gram_marks")

  /** (text, n literal, blob literal) — gramHits' contract, positional form. */
  private[functions] val gramMarksBuilder: Seq[Expression] => Expression = {
    case Seq(text, nArg, blobArg)
      if nArg.foldable && nArg.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType] &&
        nArg.eval(null) != null &&
        blobArg.foldable && blobArg.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        blobArg.eval(null) != null =>
      GramMarkPositions(text, nArg.eval(null).asInstanceOf[Int], blobArg.eval(null).toString)
    case _ => throw new IllegalArgumentException(
      "graft_gram_marks expects (text, n int literal, gram-blob string literal)")
  }

  val topGramInfo = new ExpressionInfo(
    classOf[TopGramStats].getName, "graft_top_gram")

  private[functions] val topGramBuilder: Seq[Expression] => Expression = {
    case Seq(c) => TopGramStats(c)
    case other => throw new IllegalArgumentException(
      s"graft_top_gram expects 1 argument, got ${other.size}")
  }

  val minhashSigInfo = new ExpressionInfo(
    classOf[MinHashSignature].getName, "graft_minhash_sig")

  val lmScoreInfo = new ExpressionInfo(
    classOf[GramLmScore].getName, "graft_lm_score")

  val lmScoreBcInfo = new ExpressionInfo(
    classOf[GramLmScoreBroadcast].getName, "graft_lm_score_bc")

  /** (text, bigint handle-id LITERAL) — [[bcHandles]]'s seam applied to the
    * C40 reference model: the Column API broadcasts the parsed model, parks
    * the handle under a fresh id, and the builder swaps the id back at
    * analysis. */
  private[functions] val lmScoreBcBuilder: Seq[Expression] => Expression = {
    case Seq(text, idArg)
      if idArg.foldable && idArg.dataType == LongType && idArg.eval(null) != null =>
      val id = idArg.eval(null).asInstanceOf[Long]
      val bc = lmBcHandles.getOrElse(id, throw new IllegalArgumentException(
        s"graft_lm_score_bc: no broadcast LM model registered under id $id " +
          "(construct the column via GraftFunctions.lmScoreBroadcast)"))
      GramLmScoreBroadcast(text, bc)
    case _ => throw new IllegalArgumentException(
      "graft_lm_score_bc expects (text, bigint handle-id LITERAL) — " +
        "use GraftFunctions.lmScoreBroadcast, which manages the handle")
  }

  /** (text, uni-blob literal, bi-blob literal) — the LM is plan metadata,
    * same contract as graft_stop_hits' dictionary. */
  private[functions] val lmScoreBuilder: Seq[Expression] => Expression = {
    case Seq(text, uniArg, biArg)
      if uniArg.foldable && uniArg.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        uniArg.eval(null) != null &&
        biArg.foldable && biArg.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        biArg.eval(null) != null =>
      GramLmScore(text, uniArg.eval(null).toString, biArg.eval(null).toString)
    case _ => throw new IllegalArgumentException(
      "graft_lm_score expects (text, uni-blob string LITERAL, bi-blob " +
        "string LITERAL) — the model is plan metadata, not per-row data")
  }

  private[functions] val minhashSigBuilder: Seq[Expression] => Expression = {
    case Seq(c) => MinHashSignature(c)
    case other => throw new IllegalArgumentException(
      s"graft_minhash_sig expects 1 argument, got ${other.size}")
  }

  /** Every graft SQL function: the one list both the session extensions
    * ([[GraftExtensions]]) and [[ensureRegistered]] register. */
  lazy val All: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"), cosineInfo, cosineBuilder),
    (FunctionIdentifier("graft_nearest_cid"), nearestCidInfo, nearestCidBuilder),
    (FunctionIdentifier("graft_nearest_cid_bc"), nearestCidBcInfo, nearestCidBcBuilder),
    (FunctionIdentifier("graft_nearest_cids_bc"), nearestCidsBcInfo, nearestCidsBcBuilder),
    (FunctionIdentifier("graft_sig_agreement"), sigAgreementInfo, sigAgreementBuilder),
    (FunctionIdentifier("graft_might_contain"), mightContainInfo, mightContainBuilder),
    (FunctionIdentifier("graft_fingerprint"), fingerprintInfo, fingerprintBuilder),
    (FunctionIdentifier("graft_token_weight"), tokenWeightInfo, tokenWeightBuilder),
    (FunctionIdentifier("graft_ntz_utc"), ntzUtcInfo, ntzUtcBuilder),
    (FunctionIdentifier("graft_stop_hits"), stopHitsInfo, stopHitsBuilder),
    (FunctionIdentifier("graft_distinct_bigrams"), distinctBigramsInfo, distinctBigramsBuilder),
    (FunctionIdentifier("graft_gram_set"), wordGramSetInfo, wordGramSetBuilder),
    (FunctionIdentifier("graft_gopher_stats"), gopherStatsInfo, gopherStatsBuilder),
    (FunctionIdentifier("graft_bpe_count"), bpeCountInfo, bpeCountBuilder),
    (FunctionIdentifier("graft_bpe_merge_count"), bpeMergeCountInfo, bpeMergeCountBuilder),
    (FunctionIdentifier("graft_top_gram"), topGramInfo, topGramBuilder),
    (FunctionIdentifier("graft_gram_hits"), gramHitsInfo, gramHitsBuilder),
    (FunctionIdentifier("graft_gram_marks"), gramMarksInfo, gramMarksBuilder),
    (FunctionIdentifier("graft_pq_codes"), pqCodesInfo, pqCodesBuilder),
    (FunctionIdentifier("graft_adc_table"), adcTableInfo, adcTableBuilder),
    (FunctionIdentifier("graft_minhash_sig"), minhashSigInfo, minhashSigBuilder),
    (FunctionIdentifier("graft_lm_score"), lmScoreInfo, lmScoreBuilder),
    (FunctionIdentifier("graft_lm_score_bc"), lmScoreBcInfo, lmScoreBcBuilder))

  /** Idempotently register into an existing session (works regardless of how
    * the session was built — e.g. a driver-owned session without extensions). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    All.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Column-API entry point: fused token fingerprint (C11). */
  def fingerprint(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_fingerprint", text)
  }

  /** Column-API entry point: fused hashing-trick token-weight sum (C34). */
  def tokenWeight(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_token_weight", text)
  }

  /** Column-API entry point: zone-independent NTZ → UTC-instant
    * reinterpretation (the events loader's NTZ branch). */
  def ntzUtc(spark: SparkSession, ts: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_ntz_utc", ts)
  }

  /** Column-API entry point: count-only BPE-ish tokenization (C10). */
  def bpeCount(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_bpe_count", text)
  }

  /** Column-API entry point: REAL greedy BPE token count under a
    * rank-ordered merge table (C10b). Rules travel as "left right" string
    * literals in rank order. */
  def bpeMergeCount(spark: SparkSession, text: Column,
    rules: Seq[(String, String)]): Column = {
    require(rules.nonEmpty, "bpeMergeCount: empty merge table")
    ensureRegistered(spark)
    call_function("graft_bpe_merge_count",
      text +: rules.map { case (a, b) =>
        org.apache.spark.sql.functions.lit(a + " " + b) }: _*)
  }

  /** Column-API entry point: per-doc distinct word-bigram count (C25). */
  def distinctBigrams(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_distinct_bigrams", text)
  }

  /** Column-API entry point: per-doc DISTINCT word-n-gram set (the corpus
    * gram domain, row-local — PipelineOps.gramSet's kernel form). */
  def wordGramSet(spark: SparkSession, text: Column, n: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_gram_set", text, org.apache.spark.sql.functions.lit(n))
  }

  /** Column-API entry point: fused Gopher word/line shape stats (C47). */
  def gopherStats(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_gopher_stats", text)
  }

  /** Column-API entry point: shuffle-free stopword-hit count (C8). The
    * dictionary words travel as string literals through the registry builder
    * (the only public Column→Expression seam in Spark 4). */
  def stopHits(spark: SparkSession, text: Column, words: Seq[String]): Column = {
    ensureRegistered(spark)
    call_function("graft_stop_hits",
      text +: words.map(org.apache.spark.sql.functions.lit(_)): _*)
  }

  /** Column-API entry point: MinHash signature agreement count (C2/C4/C5b). */
  def sigAgreement(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_sig_agreement", a, b)
  }

  /** Column-API entry point: distinct-n-gram + reference-set hit counts
    * (the row-local C15 decision; D7's stateless gate). The blob is one
    * newline-delimited string of grams — rejected here if any gram embeds a
    * newline, which would silently split it into two. */
  def gramHits(spark: SparkSession, text: Column, n: Int, blob: String): Column = {
    require(blob.isEmpty || blob.split("\n", -1).forall(_.nonEmpty),
      "gram blob contains an empty gram (embedded newline in a gram?)")
    ensureRegistered(spark)
    call_function("graft_gram_hits", text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(blob))
  }

  /** Column-API entry point: marked positional-gram start indexes (the
    * row-local C45 mark stage; D14's stateless cut). Same blob contract as
    * [[gramHits]]. */
  def gramMarks(spark: SparkSession, text: Column, n: Int, blob: String): Column = {
    require(blob.isEmpty || blob.split("\n", -1).forall(_.nonEmpty),
      "gram blob contains an empty gram (embedded newline in a gram?)")
    ensureRegistered(spark)
    call_function("graft_gram_marks", text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(blob))
  }

  /** Column-API entry point: a vector's M PQ codes under trained books
    * (books(m)(c) = centroid c of subspace m). */
  def pqCodes(spark: SparkSession, v: Column,
    books: Array[Array[Array[Double]]]): Column = {
    require(books.nonEmpty && books.head.nonEmpty && books.head.head.nonEmpty,
      "pqCodes: empty codebooks")
    val (m, ks, dsub) = (books.length, books.head.length, books.head.head.length)
    require(books.forall(b => b.length == ks && b.forall(_.length == dsub)),
      "pqCodes: ragged codebooks")
    ensureRegistered(spark)
    call_function("graft_pq_codes", v,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ks),
      org.apache.spark.sql.functions.lit(dsub),
      org.apache.spark.sql.functions.lit(books.flatten.flatten))
  }

  /** Column-API entry point: a query's M×Ks ADC lookup table under trained
    * books (entry m*Ks+c = q_sub(m) · book(m)(c)) — [[pqCodes]]' dual. */
  def adcTable(spark: SparkSession, q: Column,
    books: Array[Array[Array[Double]]]): Column = {
    require(books.nonEmpty && books.head.nonEmpty && books.head.head.nonEmpty,
      "adcTable: empty codebooks")
    val (m, ks, dsub) = (books.length, books.head.length, books.head.head.length)
    require(books.forall(b => b.length == ks && b.forall(_.length == dsub)),
      "adcTable: ragged codebooks")
    ensureRegistered(spark)
    call_function("graft_adc_table", q,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ks),
      org.apache.spark.sql.functions.lit(dsub),
      org.apache.spark.sql.functions.lit(books.flatten.flatten))
  }

  /** Column-API entry point: per-doc top-bigram stats struct (C31). */
  def topGram(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_top_gram", text)
  }

  /** Column-API entry point: row-local 64-wide MinHash signature (C2b). */
  def minhashSig(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_minhash_sig", text)
  }

  /** Column-API entry point: fused reference-LM likelihood stats (C40).
    * Blob lines are `count<SP>token[s]`; an embedded newline inside a token
    * would silently split a model entry, so it is rejected here. */
  def lmScore(spark: SparkSession, text: Column,
    uniBlob: String, biBlob: String): Column = {
    Seq(uniBlob, biBlob).foreach(b =>
      require(b.isEmpty || b.split("\n", -1).forall(l => l.indexOf(' ') > 0),
        "LM blob lines must be 'count token[s]' (newline inside a token?)"))
    ensureRegistered(spark)
    call_function("graft_lm_score", text,
      org.apache.spark.sql.functions.lit(uniBlob),
      org.apache.spark.sql.functions.lit(biBlob))
  }

  /** Column-API entry point: C40's LM statistic with the model as an
    * EXECUTOR BROADCAST — same statistic as [[lmScore]] bit-for-bit
    * (FunctionsSpec pins), no plan-literal size ceiling. One Broadcast per
    * (context, blob content): repeated query builds over one trained model
    * reuse the handle, so executors hold one copy and plans canonicalize
    * equal. */
  def lmScoreBroadcast(spark: SparkSession, text: Column,
    uniBlob: String, biBlob: String): Column = {
    ensureRegistered(spark)
    val appId = spark.sparkContext.applicationId
    val key = lmBlobKey(appId, uniBlob, biBlob)
    val id = lmBcMemo.synchronized {
      // entries from a PREVIOUS application (restarted session in the same
      // JVM) can never be looked up again — their keys carry the dead
      // appId — so drop them here rather than letting their handles (each
      // pinning a parsed model on the driver) ride to process exit;
      // destroy on a stopped context throws and the blocks died with it
      lmBcMemo.filterInPlace { (k, hid) =>
        val live = k.startsWith(appId + ":")
        if (!live) lmBcHandles.remove(hid)
          .foreach(h => try h.destroy() catch { case _: Exception => () })
        live
      }
      lmBcMemo.getOrElse(key, {
        val handle = spark.sparkContext
          .broadcast(new GramLmModel(uniBlob, biBlob))
        val fresh = bcNextId.incrementAndGet()
        lmBcHandles(fresh) = handle
        lmBcMemo(key) = fresh
        fresh
      })
    }
    call_function("graft_lm_score_bc", text,
      org.apache.spark.sql.functions.lit(id))
  }

  /** Size-switched transport for C40's model — the [[nearestCid]] /
    * [[nearestCidBroadcast]] decision applied to the LM: blobs under
    * `-Dgraft.lm.bc.threshold` bytes (default 1 MiB) ride as plan literals
    * (zero extra machinery, the right call for the harness-scale model);
    * past it the model moves to the executor broadcast, so a KenLM-sized
    * reference model never becomes a multi-GB plan literal serialized into
    * every task batch. Decisions are transport-independent (same
    * GramLmModel.score on both paths). */
  def lmScoreAuto(spark: SparkSession, text: Column,
    uniBlob: String, biBlob: String): Column = {
    val threshold = sys.props.get("graft.lm.bc.threshold")
      .map(_.toLong).getOrElse(1L << 20)
    // measure what actually serializes: UTF-8 BYTES, not UTF-16 chars — a
    // CJK-heavy multilingual model is ~3 bytes/char and would otherwise
    // ride the literal route at 3x the documented ceiling. Counted by code
    // point, NOT via getBytes: this switch exists for near-multi-GB models,
    // and materializing a model-sized byte array per query build just to
    // read its length would pressure the driver heap for nothing.
    def utf8Len(str: String): Long = {
      var i = 0; var n = 0L
      while (i < str.length) {
        val cp = str.codePointAt(i)
        n += (if (cp < 0x80) 1 else if (cp < 0x800) 2
              else if (cp < 0x10000) 3 else 4)
        i += Character.charCount(cp)
      }
      n
    }
    if (utf8Len(uniBlob) + utf8Len(biBlob) > threshold)
      lmScoreBroadcast(spark, text, uniBlob, biBlob)
    else lmScore(spark, text, uniBlob, biBlob)
  }

  /** Destroy every registered LM-model broadcast and clear its registries —
    * [[clearBroadcasts]]'s contract for the LM family
    * (TextAnalysis.clearLmCache routes through here). Columns built before
    * the clear fail LOUDLY afterwards, never against a stale model. */
  def clearLmBroadcasts(): Unit = lmBcMemo.synchronized {
    lmBcHandles.values.foreach { h =>
      try h.destroy() catch { case _: Exception => () }
    }
    lmBcHandles.clear()
    lmBcMemo.clear()
  }

  /** Column-API entry point: nearest-centroid cid for vector column `v`
    * under `codebook` (highest cosine, lowest-cid tie-break). The codebook
    * rides as two array literals — O(1) generated code at any K, which is
    * what lets semantic-dedup size K ∝ N instead of clamping at expression
    * width (C7b-C7e, C29, C32). */
  def nearestCid(spark: SparkSession, v: Column,
    codebook: Array[(Int, Array[Double])]): Column = {
    require(codebook.nonEmpty, "nearestCid: empty codebook")
    val dim = codebook.head._2.length
    require(codebook.forall(_._2.length == dim),
      "nearestCid: ragged codebook (mixed centroid dims)")
    ensureRegistered(spark)
    call_function("graft_nearest_cid", v,
      org.apache.spark.sql.functions.lit(codebook.map(_._1.toLong)),
      org.apache.spark.sql.functions.lit(codebook.flatMap(_._2)),
      org.apache.spark.sql.functions.lit(dim))
  }

  /** Column-API entry point: `cosine(a, b)`. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_cosine", a, b)
  }

  /** Column-API entry point: does the serialized sketch possibly contain
    * `value`? The sketch literal must hold xxhash64-of-value longs. */
  def mightContain(spark: SparkSession, bloomBytes: Array[Byte], value: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_might_contain",
      org.apache.spark.sql.functions.lit(bloomBytes), value)
  }
}

/** PQ-encode kernel for [[PqEncodeCodes]]: one pass over a vector emitting
  * its M product-quantization codes — per subspace, the L2-argmin centroid
  * with ties to the lowest code, each L2 a 0.0-seeded LEFT fold of squared
  * diffs in dimension order. This is bit-for-bit the composed HOF form
  * (least over aggregate(zip_with…)) Similarity.pqCodeExpr builds — the
  * HOF tree is interpreted (higher-order functions sit outside whole-stage
  * codegen) and costs M·Ks·dsub lambda dispatches per row; the kernel is
  * one generated call (FunctionsSpec pins the equivalence). */
object PqEncodeKernel {
  def codes(x: org.apache.spark.sql.catalyst.util.ArrayData,
    m: Int, ks: Int, dsub: Int, books: Array[Array[Double]]):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Any](m)
    var mm = 0
    while (mm < m) {
      var bestL2 = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < ks) {
        val cv = books(mm * ks + c)
        var l2 = 0.0
        var d = 0
        while (d < dsub) {
          val diff = x.getDouble(mm * dsub + d) - cv(d)
          l2 += diff * diff
          d += 1
        }
        // strict less + ascending scan = least(struct(l2, c))'s tie rule
        if (l2 < bestL2) { bestL2 = l2; bestC = c }
        c += 1
      }
      out(mm) = bestC
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** A vector's M PQ codes as ONE projected array expression — the encode leg
  * of C7e/C38c as a native kernel. The codebooks travel as
  * `(m, ks, dsub, flat)` value-equal fields (NearestCentroid's transport
  * rule), parsed once per plan. */
case class PqEncodeCodes(child: Expression, m: Int, ks: Int, dsub: Int,
  flat: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && ks > 0 && dsub > 0, "graft_pq_codes: bad dimensions")
  require(flat.size == m * ks * dsub,
    s"graft_pq_codes: flat size ${flat.size} != $m x $ks x $dsub")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes expects array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  @transient private lazy val books: Array[Array[Double]] =
    flat.toArray.grouped(dsub).toArray

  override protected def nullSafeEval(a: Any): Any =
    PqEncodeKernel.codes(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      m, ks, dsub, books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqEncodeKernel.codes($c, $m, $ks, $dsub, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** ADC-table kernel for [[AdcTable]]: one pass over a QUERY vector emitting
  * its M×Ks asymmetric-distance lookup table — entry m*Ks+c is the inner
  * product of query subvector m with centroid c of subspace m, accumulated
  * as a 0.0-seeded LEFT fold in dimension order. This is bit-for-bit the
  * composed HOF form (aggregate over zip_with) Similarity.adcTableExpr
  * builds — PqEncodeKernel's dual on the query side of IVFADC: the HOF
  * tree is interpreted and costs M·Ks lambda-dispatched folds per query
  * row, fine while |Q| = N/97 but |Q| ∝ N by design; the kernel is one
  * generated call (FunctionsSpec pins the equivalence). */
object AdcTableKernel {
  def table(q: org.apache.spark.sql.catalyst.util.ArrayData,
    m: Int, ks: Int, dsub: Int, books: Array[Array[Double]]):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Any](m * ks)
    var mm = 0
    while (mm < m) {
      var c = 0
      while (c < ks) {
        val cv = books(mm * ks + c)
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          acc += q.getDouble(mm * dsub + d) * cv(d)
          d += 1
        }
        out(mm * ks + c) = acc
        c += 1
      }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** A query vector's M×Ks ADC lookup table as ONE projected array expression —
  * the query leg of C38c as a native kernel, [[PqEncodeCodes]]' dual. The
  * codebooks travel as `(m, ks, dsub, flat)` value-equal fields
  * (NearestCentroid's transport rule), parsed once per plan. */
case class AdcTable(child: Expression, m: Int, ks: Int, dsub: Int,
  flat: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && ks > 0 && dsub > 0, "graft_adc_table: bad dimensions")
  require(flat.size == m * ks * dsub,
    s"graft_adc_table: flat size ${flat.size} != $m x $ks x $dsub")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_adc_table expects array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_adc_table"

  @transient private lazy val books: Array[Array[Double]] =
    flat.toArray.grouped(dsub).toArray

  override protected def nullSafeEval(a: Any): Any =
    AdcTableKernel.table(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      m, ks, dsub, books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("adcBooks", books, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.AdcTableKernel.table($c, $m, $ks, $dsub, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): AdcTable =
    copy(child = newChild)
}

/** Extensions entry point: `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.All.foreach(ext.injectFunction)
}
