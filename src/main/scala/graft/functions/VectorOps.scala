package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two `array<double>`
  * columns, with whole-stage codegen.
  *
  * The composable formulation (`aggregate(zip_with(a, b, _*_), ...)`)
  * is evaluated INTERPRETED per element — Spark's higher-order
  * functions don't participate in codegen, which makes every candidate
  * pair of a similarity join allocate an intermediate array and walk a
  * lambda. This expression compiles to a tight primitive loop (same
  * sequential summation order, so results are bit-identical to the
  * HOF form and to DuckDB's `list_dot_product`). O(n^2) pair scoring
  * is exactly the hot path where this matters at scale.
  *
  * Contract: inputs must have no NULL elements — the loop reads
  * primitive slots without per-element null checks, BECAUSE it runs
  * per compared pair; the once-per-row [[VecNorm2]] seam filter is
  * where NULL-element (and NaN/Inf/zero-norm) vectors are dropped.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"vec_dot requires (array<double>, array<double>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val sum = ctx.freshName("sum")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $sum = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $sum += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $sum;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Native Catalyst expression: cosine similarity of two
  * `array<double>` columns in a SINGLE fused pass — one loop
  * accumulates xy, xx, yy together, then `xy / sqrt(xx * yy)`, NULL
  * when the denominator is not positive (zero-norm vectors have no
  * direction; matches DuckDB's x/0 = NULL).
  *
  * This replaces the Column-level form
  * `when(sqrt(dot(a,a)*dot(b,b)) > 0, dot(a,b)/sqrt(...))`, which
  * inlines the denominator twice (predicate + branch value) and is
  * NOT merged by codegen subexpression elimination — conditional
  * branch values are excluded from CSE — so each compared pair paid
  * FIVE array walks (dot(a,b) once, dot(a,a)/dot(b,b) twice each).
  * The fused loop pays one. Pair scoring is the hot path of every
  * similarity/semdedup kernel, so at 100 TB this is the difference
  * between one corpus scan and five.
  *
  * Summation order per accumulator is the same sequential order as
  * [[VecDot]] and DuckDB's `list_dot_product`, so results are
  * bit-identical to the three-dot formulation.
  *
  * Same no-NULL-element input contract as [[VecDot]]: degenerate
  * vectors are dropped once per row at the [[VecNorm2]] seam, not
  * re-checked in the per-pair loop.
  */
case class VecCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL on zero-norm inputs, not just on NULL inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"vec_cosine requires (array<double>, array<double>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var xy = 0.0
    var xx = 0.0
    var yy = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      xy += xi * yi
      xx += xi * xi
      yy += yi * yi
      i += 1
    }
    val denom = math.sqrt(xx * yy)
    if (denom > 0) java.lang.Double.valueOf(xy / denom) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val xy = ctx.freshName("xy")
        val xx = ctx.freshName("xx")
        val yy = ctx.freshName("yy")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        val denom = ctx.freshName("denom")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = $a.getDouble($i);
           |  double $yi = $b.getDouble($i);
           |  $xy += $xi * $yi; $xx += $xi * $xi; $yy += $yi * $yi;
           |}
           |double $denom = java.lang.Math.sqrt($xx * $yy);
           |if ($denom > 0) { ${ev.value} = $xy / $denom; } else { ${ev.isNull} = true; }
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_cosine"
}

/** Native Catalyst expression: the squared L2 norm of an
  * `array<double>` column IF it admits cosine geometry, else NULL.
  * Returns `Σ x²` only when that sum is finite and strictly positive;
  * NULL for the zero vector (no direction), for any NaN/±Inf
  * component (Σ x² becomes NaN/+Inf), and for a vector containing a
  * NULL element. One expression IS the degenerate-embedding contract,
  * so callers filter with a single `isNotNull` — no multi-conjunct
  * predicate for pushdown to duplicate, and the same walk that
  * validates also produces the normalization denominator.
  *
  * The NULL-element case matters for cross-engine parity: DuckDB's
  * `list_dot_product` hard-ERRORS on NULL elements ("can not contain
  * NULL values") while [[VecDot]]'s primitive `getDouble` would read
  * an undefined slot — so both engines must drop such rows BEFORE any
  * dot. The oracle twin is
  * `list_dot_product(list_transform(v, x -> coalesce(x, 'NaN')), …)`
  * filtered with `n2 > 0 AND isfinite(n2)` (see Similarity.norm2Sql):
  * coalescing NULL→NaN is crash-proof under any filter/projection
  * fusion order, and NaN fails `isfinite` there exactly as it fails
  * `xx < +Inf` here. The element null-check below is emitted only
  * when the array type says `containsNull` — normalized outputs with
  * non-null elements pay nothing.
  */
case class VecNorm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _               => true
  }

  override def dataType: DataType = DoubleType

  // NULL on degenerate vectors, not just on NULL input
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"vec_norm2 requires array<double>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var xx = 0.0
    var i = 0
    while (i < n) {
      if (containsNull && v.isNullAt(i)) return null
      val x = v.getDouble(i)
      xx += x * x
      i += 1
    }
    if (xx > 0 && xx < Double.PositiveInfinity) java.lang.Double.valueOf(xx) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val xx = ctx.freshName("xx")
        val x = ctx.freshName("x")
        val bad = ctx.freshName("bad")
        val nullCheck =
          if (containsNull) s"if ($a.isNullAt($i)) { $bad = true; break; }" else ""
        s"""
           |int $n = $a.numElements();
           |double $xx = 0.0;
           |boolean $bad = false;
           |for (int $i = 0; $i < $n; $i++) {
           |  $nullCheck
           |  double $x = $a.getDouble($i);
           |  $xx += $x * $x;
           |}
           |if ($bad || !($xx > 0 && $xx < Double.POSITIVE_INFINITY)) { ${ev.isNull} = true; }
           |else { ${ev.value} = $xx; }
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): VecNorm2 =
    copy(child = newChild)

  override def prettyName: String = "vec_norm2"
}

/** Native Catalyst expression: `v[i] / s` elementwise — the L2
  * normalization kernel `VecScaleInv(v, norm)`. NULL when `s` is NULL
  * or not positive (a zero-norm vector cannot be normalized; callers
  * filter such rows out by contract, this expression just refuses to
  * divide by zero under ANSI). NULL elements pass through as NULL,
  * matching the `transform(v, x => x / norm)` HOF it replaces.
  *
  * True per-element DIVISION, deliberately not `* (1/s)`: the oracle
  * mirrors normalize with `x / sqrt(list_dot_product(v, v))` and the
  * reciprocal form differs in the last ulp, which can flip a
  * 4-decimal rounding or a threshold comparison on a near-boundary
  * pair. Replaces `transform(v, x => x / when(norm > 0, norm))`,
  * whose per-element `when` guard re-evaluated per element in
  * interpreted HOF-lambda code; here the guard is hoisted to one
  * per-row check and each element costs one divide in a codegen'd
  * loop.
  */
case class VecScaleInv(left: Expression, right: Expression) extends BinaryExpression {

  private def elementNullable: Boolean = left.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => true
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = elementNullable)

  // NULL on non-positive scale, not just on NULL inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"vec_scale_inv requires (array<double>, double), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    if (!(s > 0)) return null
    val n = v.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = v.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = v.getDouble(i) / s; i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) = if (v.isNullAt(i)) null else java.lang.Double.valueOf(v.getDouble(i) / s)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, s) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val prim = ctx.freshName("prim")
        val boxed = ctx.freshName("boxed")
        val hasNull = ctx.freshName("hasNull")
        s"""
           |if (!($s > 0)) { ${ev.isNull} = true; } else {
           |  int $n = $a.numElements();
           |  boolean $hasNull = false;
           |  for (int $i = 0; $i < $n && !$hasNull; $i++) { $hasNull = $a.isNullAt($i); }
           |  if (!$hasNull) {
           |    double[] $prim = new double[$n];
           |    for (int $j = 0; $j < $n; $j++) { $prim[$j] = $a.getDouble($j) / $s; }
           |    ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($prim);
           |  } else {
           |    Object[] $boxed = new Object[$n];
           |    for (int $j = 0; $j < $n; $j++) {
           |      if (!$a.isNullAt($j)) { $boxed[$j] = java.lang.Double.valueOf($a.getDouble($j) / $s); }
           |    }
           |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
           |  }
           |}
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecScaleInv =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_scale_inv"
}

object VectorOps {
  def dot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  /** Fused single-pass cosine; NULL for zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = column(VecCosine(expression(a), expression(b)))

  /** Elementwise `v / s`; NULL when `s` is not positive. */
  def scaleInv(v: Column, s: Column): Column = column(VecScaleInv(expression(v), expression(s)))

  /** Finite-positive squared norm, or NULL for any vector that cannot
    * enter cosine geometry (zero-norm, NaN/Inf component, NULL
    * element). `norm2(v).isNotNull` IS the degenerate-embedding
    * filter.
    */
  def norm2(v: Column): Column = column(VecNorm2(expression(v)))
}
