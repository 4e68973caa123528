package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native (whole-stage-codegen) vector kernels.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) are
  * `CodegenFallback` — every evaluation interprets the lambda tree and
  * allocates per-element bindings, which makes an O(N²) cosine join
  * ~50× slower than a compiled loop (measured on the sf0.1 near-dup
  * join). This is exactly the case for a custom Catalyst
  * `Expression` with `doGenCode` (SURVEY §4: custom code reserved for
  * extension operators where built-ins fall short).
  *
  * [[VectorDot]] folds left-to-right from 0.0 — the SAME summation
  * order as the `aggregate`-based formulation and the DuckDB oracle's
  * `list_reduce`, so results stay bit-identical; only the evaluation
  * strategy changes.
  *
  * Array elements are assumed non-null (enforced upstream by the
  * embedding schema); a null ARRAY still yields null via
  * `nullSafeEval`/`nullSafeCodeGen`. The typed helpers in
  * [[VectorExpressions]] wrap the kernel as a `Column` through
  * `GraftSqlBridge.column` (no function-registry entry); pure SQL
  * reaches it as `graft_vector_dot` via [[graft.GraftExtensions]].
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects array<double> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += xs.getDouble(i) * ys.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorDot = copy(newLeft, newRight)
}

/** Squared L2 distance — same codegen shape as [[VectorDot]]; the
  * caller takes sqrt if the true metric is needed (argmin is
  * monotonic in the square, so ANN never pays the sqrt). */
case class VectorL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_l2sq expects array<double> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      val d = xs.getDouble(i) - ys.getDouble(i)
      sum += d * d
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $sum += $d * $d;
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorL2Sq = copy(newLeft, newRight)
}

/** max |v_i| — the per-vector scale of symmetric int8 quantization.
  * Same compiled-loop rationale as [[VectorDot]]. */
case class VectorMaxAbs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vector_max_abs expects array<double>, got ${other.sql}")
    }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    var m = 0.0
    var i = 0
    while (i < xs.numElements()) {
      val v = math.abs(xs.getDouble(i)); if (v > m) m = v; i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      s"""
         |double $m = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = java.lang.Math.abs($a.getDouble($i));
         |  if ($v > $m) $m = $v;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : VectorMaxAbs = copy(newChild)
}

/** Symmetric int8 codes: `q_i = (int) floor(v_i / scale * 127 + 0.5)`
  * — the storage kernel of a quantized ANN index. `floor(x + 0.5)`
  * is the pinned rounding shared with the DuckDB oracle. One compiled
  * loop emitting a primitive int array; the HOF formulation
  * (`transform` + lambda) evaluates interpreted per element. */
case class VectorQuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vector_quantize_int8 expects (array<double>, double), got " +
          s"${l.sql} / ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val scale = b.asInstanceOf[Double]
    val out = new Array[Int](xs.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = math.floor(xs.getDouble(i) / scale * 127.0 + 0.5).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int[] $out = new int[$a.numElements()];
         |for (int $i = 0; $i < $out.length; $i++) {
         |  $out[$i] = (int) java.lang.Math.floor(
         |    $a.getDouble($i) / $s * 127.0 + 0.5);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorQuantizeInt8 = copy(newLeft, newRight)
}

object VectorExpressions {

  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  /** Codegen'd dot product over array<double> columns. */
  def vectorDot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))

  /** Codegen'd squared euclidean distance over array<double>. */
  def vectorL2Sq(a: Column, b: Column): Column =
    column(VectorL2Sq(expression(a), expression(b)))

  /** Codegen'd max |element| over array<double>. */
  def vectorMaxAbs(a: Column): Column =
    column(VectorMaxAbs(expression(a)))

  /** Codegen'd symmetric int8 quantization codes. */
  def vectorQuantizeInt8(a: Column, scale: Column): Column =
    column(VectorQuantizeInt8(expression(a), expression(scale)))
}
