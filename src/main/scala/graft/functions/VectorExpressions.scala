package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd float-vector kernels.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) evaluate their
  * lambdas interpreted — on an all-pairs similarity join that is the entire
  * runtime (dd05 went from 172 s to seconds at sf0.1 by switching). These
  * expressions emit a tight fused loop via doGenCode while keeping the exact
  * same arithmetic as the HOF formulation — sequential left-to-right double
  * accumulation of (double)a[i] * (double)b[i] — so results stay bit-identical
  * to the DuckDB oracle's `list_reduce` fold.
  *
  * All locals come from ctx.freshName: two of these expressions frequently
  * share one codegen scope (cosine = one dot + two sumsq), and a fixed local
  * name would collide, fail janino compilation, and silently fall back to
  * interpreted eval. Input types are validated in checkInputDataTypes
  * (`ExpectsInputTypes` is off-limits — `AbstractDataType` is private[sql]):
  * array<double> inputs would otherwise read garbage via getFloat on 8-byte
  * slots.
  */
object VectorExpressions {

  private[functions] def requireFloatArray(name: String, dts: Seq[DataType]): TypeCheckResult = {
    val bad = dts.filterNot {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> arguments, got ${bad.map(_.catalogString).mkString(", ")}")
  }
}

case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.requireFloatArray("graft_fdot", Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sequential sum of squares of a float array (norm² — sqrt applied outside
  * so the op order matches `sqrt(fold(x*x))` exactly).
  */
case class FloatVecSumSq(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.requireFloatArray("graft_fsumsq", Seq(child.dataType))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
