package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd kernels for centroid-model scans — the hot
  * expressions of the IVF/PQ family (cell assignment, PQ encoding, ADC
  * scoring), which run once per CORPUS ROW or once per CANDIDATE in ANN
  * joins.
  *
  * Why these exist: the Column formulation
  * `array_position(transform(ctLit, ct -> l2sq(v, ct)), array_min(...))`
  * is correct but pathological in the hot path — higher-order functions
  * are CodegenFallback, so whole-stage codegen evaluates each HOF call
  * site INTERPRETED with no common-subexpression elimination, and the
  * argmin pattern references the k×dim distance transform TWICE. Worse,
  * when the derived cell becomes a join key, the join's pushed-down
  * `isnotnull(cell)` filter INLINES the whole transform again below the
  * projection (the q105 ×1000 stage bisection, SCALE.md "Round-10
  * correction + fix", measured the candidate scan dominated by exactly
  * this — the distance transform evaluated up to 4× per corpus row,
  * boxed). Each expression here is ONE fused loop per
  * evaluation, allocation-free (except the PQ code array), inside
  * whole-stage codegen.
  *
  * Parity contract (oracle-critical): every accumulation is the same
  * sequential left-to-right fold as the [[VectorExpressions]] l2sq
  * kernel (element loop bounded by min length); argmins keep the FIRST
  * index attaining the minimum (strict `<` tracking — identical to
  * `array_position(dists, array_min(dists))` on the NaN-free,
  * non-negative distances this family produces); the ADC fold adds
  * subspace terms in ascending-j order starting from 0.0, exactly like
  * the `aggregate(sequence(1, m), ...)` form it replaces.
  * CodegenKernelSpec pins each kernel bit-equal to its Column twin.
  */
object CentroidExpressions {

  /** 1-based index of the nearest centroid by squared L2 (first argmin). */
  def nearestCentroid(v: Column, centroids: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(NearestCentroid(
      ExpressionUtils.expression(v.cast("array<double>")), centroids))

  /** The squared L2 distance to the nearest centroid. */
  def minCentroidDist(v: Column, centroids: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(MinCentroidDist(
      ExpressionUtils.expression(v.cast("array<double>")), centroids))

  /** PQ codes: per contiguous `dim/m` subspace, the 1-based first-argmin
    * sub-centroid index — `array<long>` of length m.
    */
  def pqCodes(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExpressionUtils.column(PqCodes(
      ExpressionUtils.expression(v.cast("array<double>")), codebooks))

  /** Asymmetric PQ distance: Σ_j lut[j][codes[j]] (1-based, j ascending,
    * starting from 0.0).
    */
  def pqAdc(lut: Column, codes: Column): Column =
    ExpressionUtils.column(PqAdc(
      ExpressionUtils.expression(lut),
      ExpressionUtils.expression(codes)))
}

/** Shared shape for the unary centroid-scan kernels. `centroids` is a
  * Seq (structural equality — Catalyst canonicalization and CSE compare
  * expressions by product fields); the executor-side flat array is a
  * transient lazy.
  */
abstract class CentroidScanExpression extends UnaryExpression
    with Serializable {
  def centroids: Seq[Seq[Double]]

  @transient protected lazy val cts: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
}

/** 1-based first-argmin nearest centroid id (LongType, matching
  * `array_position`).
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends CentroidScanExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = Double.PositiveInfinity
    var cell = 1L
    var c = 0
    while (c < cts.length) {
      val ct = cts(c)
      val n = math.min(v.numElements(), ct.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = v.getDouble(i) - ct(i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; cell = c + 1L }
      c += 1
    }
    cell
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ctsRef = ctx.addReferenceObj("cts", cts, "double[][]")
      val best = ctx.freshName("best"); val cell = ctx.freshName("cell")
      val c = ctx.freshName("c"); val ct = ctx.freshName("ct")
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      s"""
         |double $best = Double.POSITIVE_INFINITY;
         |long $cell = 1L;
         |for (int $c = 0; $c < $ctsRef.length; $c++) {
         |  double[] $ct = $ctsRef[$c];
         |  int $n = java.lang.Math.min($v.numElements(), $ct.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $v.getDouble($i) - $ct[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $best) { $best = $acc; $cell = $c + 1L; }
         |}
         |${ev.value} = $cell;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "nearest_centroid"
}

/** Squared L2 distance to the nearest centroid (DoubleType, matching
  * `array_min(transform(...))`).
  */
case class MinCentroidDist(child: Expression, centroids: Seq[Seq[Double]])
    extends CentroidScanExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = Double.PositiveInfinity
    var c = 0
    while (c < cts.length) {
      val ct = cts(c)
      val n = math.min(v.numElements(), ct.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = v.getDouble(i) - ct(i)
        acc += d * d
        i += 1
      }
      if (acc < best) best = acc
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ctsRef = ctx.addReferenceObj("cts", cts, "double[][]")
      val best = ctx.freshName("best"); val c = ctx.freshName("c")
      val ct = ctx.freshName("ct"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |double $best = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $ctsRef.length; $c++) {
         |  double[] $ct = $ctsRef[$c];
         |  int $n = java.lang.Math.min($v.numElements(), $ct.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $v.getDouble($i) - $ct[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $best) $best = $acc;
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "min_centroid_dist"
}

/** PQ encoding: one fused pass producing the m 1-based sub-centroid
  * argmin codes. Subspace j covers elements [j·dsub, j·dsub+dsub) of the
  * input (the `slice` convention: a short input yields a short — possibly
  * empty — subvector, and an empty subvector distance is 0.0 for every
  * sub-centroid, so the code falls to 1, matching the Column form).
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with Serializable {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty,
    "codebooks must be non-empty")

  @transient private lazy val cbs: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def dsub: Int = codebooks.head.head.size

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val m = cbs.length
    val w = dsub
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val base = j * w
      val avail = math.max(0, math.min(w, v.numElements() - base))
      val cb = cbs(j)
      var best = Double.PositiveInfinity
      var code = 1L
      var t = 0
      while (t < cb.length) {
        val c = cb(t)
        val n = math.min(avail, c.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          val d = v.getDouble(base + i) - c(i)
          acc += d * d
          i += 1
        }
        if (acc < best) { best = acc; code = t + 1L }
        t += 1
      }
      out(j) = code
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbsRef = ctx.addReferenceObj("cbs", cbs, "double[][][]")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      val base = ctx.freshName("base"); val avail = ctx.freshName("avail")
      val cb = ctx.freshName("cb"); val best = ctx.freshName("best")
      val code = ctx.freshName("code"); val t = ctx.freshName("t")
      val cArr = ctx.freshName("cArr"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |long[] $out = new long[${cbs.length}];
         |for (int $j = 0; $j < ${cbs.length}; $j++) {
         |  int $base = $j * $dsub;
         |  int $avail = java.lang.Math.max(0,
         |    java.lang.Math.min($dsub, $v.numElements() - $base));
         |  double[][] $cb = $cbsRef[$j];
         |  double $best = Double.POSITIVE_INFINITY;
         |  long $code = 1L;
         |  for (int $t = 0; $t < $cb.length; $t++) {
         |    double[] $cArr = $cb[$t];
         |    int $n = java.lang.Math.min($avail, $cArr.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $d = $v.getDouble($base + $i) - $cArr[$i];
         |      $acc += $d * $d;
         |    }
         |    if ($acc < $best) { $best = $acc; $code = $t + 1L; }
         |  }
         |  $out[$j] = $code;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "pq_codes"
}

/** Asymmetric PQ distance: left fold of `lut[j][codes[j]]` (both
  * 1-based) over ascending j from 0.0 — runs once per ANN candidate.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<double>>, array<long>), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = math.min(lut.numElements(), codes.numElements())
    var acc = 0.0
    var j = 0
    while (j < m) {
      val row = lut.getArray(j)
      acc += row.getDouble(codes.getLong(j).toInt - 1)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val m = ctx.freshName("m"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j"); val row = ctx.freshName("row")
      s"""
         |int $m = java.lang.Math.min($lut.numElements(),
         |  $codes.numElements());
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row =
         |    $lut.getArray($j);
         |  $acc += $row.getDouble((int) $codes.getLong($j) - 1);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc"
}
