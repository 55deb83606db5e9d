package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd random-hyperplane LSH signature (same rationale as
  * [[VectorExpressions]]): per input vector, for each of L hash tables,
  * the H-bit bucket key whose bit i is sign(embedding · plane_{t,i}).
  *
  * The r1 formulation was three nested interpreted higher-order functions
  * (transform → aggregate → aggregate/zip_with): L×H×dim ≈ 3000 interpreted
  * lambda evaluations per row, dominating ann02/ann04/dd06. This expression
  * emits one fused loop nest; arithmetic is the identical left-to-right
  * double fold of (double)emb[j] * plane[j], so bucket keys are unchanged.
  */
object LshExpressions {
  /** Bucket keys per table: array<long> of length `planes.length`. Bit i of
    * table t is sign(embedding · plane_{t,i} − thresholds(t)(i)); a nonzero
    * threshold mean-centers the projection (dp_centered = dp − plane·μ), which
    * is what keeps sign-random-projection buckets balanced on uncentered
    * embedding distributions — without it every vector in a positive-mean
    * corpus agrees on most bits and collapses into a few giant buckets.
    */
  def hyperplaneBuckets(embedding: Column, planes: Seq[Seq[Seq[Double]]],
      thresholds: Array[Array[Double]]): Column =
    ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(embedding),
      planes.map(_.map(_.toArray).toArray).toArray,
      thresholds))

  /** Count of positions where two long arrays agree (MinHash signature
    * match count) — replaces `size(filter(zip_with(a, b, ==), x -> x))`.
    */
  def eqCount(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayLongEqCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Polynomial fold of a long array: `acc = (acc*31 + v) % 1e9+7` —
    * the band-bucket key for banded MinHash LSH. Chosen over `xxhash64`
    * because the identical fold is expressible in the DuckDB oracle
    * (`list_reduce`), so band keys — and therefore candidate pairs — are
    * bit-identical across engines.
    */
  def polyFold(a: Column): Column =
    ColumnBridge.column(ArrayLongPolyFold(ColumnBridge.expression(a)))

  /** Row-local MinHash signature: sig_j = min over hashes h of
    * (a_j·h + b_j) mod p — the stateless ingest-time form of the batch
    * explode + K-min-aggregates build (Dedup.signatures), value-identical
    * because min over the same multiset is order-free. One codegen kernel
    * call per row; Structured Streaming gets the signature as a plain map
    * (no aggregation), leaving the query's single streaming-agg slot free.
    */
  def minhashSig(hashes: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(hashes),
      a.toArray, b.toArray, p))
}

case class ArrayLongPolyFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_poly_fold requires array<bigint>, got ${dt.catalogString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0L
    var i = 0
    while (i < x.numElements()) {
      acc = (acc * 31L + (if (x.isNullAt(i)) 0L else x.getLong(i))) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (i, acc) = (ctx.freshName("i"), ctx.freshName("acc"))
      s"""
         |long $acc = 0L;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  $acc = ($acc * 31L + ($a.isNullAt($i) ? 0L : $a.getLong($i))) % 1000000007L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ArrayLongEqCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_eq_count requires two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, cnt) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("cnt"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getLong($i) == $b.getLong($i)) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class HyperplaneBuckets(child: Expression, planes: Array[Array[Array[Double]]],
    thresholds: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires array<float>, got ${dt.catalogString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val emb = a.asInstanceOf[ArrayData]
    val n = emb.numElements()
    val keys = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      val table = planes(t)
      var acc = 0L
      var i = 0
      while (i < table.length) {
        val p = table(i)
        val m = math.min(n, p.length)
        var d = 0.0
        var j = 0
        while (j < m) { d += emb.getFloat(j).toDouble * p(j); j += 1 }
        acc = acc * 2 + (if (d > thresholds(t)(i)) 1L else 0L)
        i += 1
      }
      keys(t) = acc
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
      val thrRef = ctx.addReferenceObj("lshThresholds", thresholds, "double[][]")
      val (n, keys, t, i, j, m, d, acc, p, table) =
        (ctx.freshName("n"), ctx.freshName("keys"), ctx.freshName("t"),
          ctx.freshName("i"), ctx.freshName("j"), ctx.freshName("m"),
          ctx.freshName("d"), ctx.freshName("acc"), ctx.freshName("p"),
          ctx.freshName("table"))
      s"""
         |int $n = $a.numElements();
         |long[] $keys = new long[$planesRef.length];
         |for (int $t = 0; $t < $planesRef.length; $t++) {
         |  double[][] $table = $planesRef[$t];
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $table.length; $i++) {
         |    double[] $p = $table[$i];
         |    int $m = java.lang.Math.min($n, $p.length);
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $m; $j++) {
         |      $d += (double) $a.getFloat($j) * $p[$j];
         |    }
         |    $acc = $acc * 2 + ($d > $thrRef[$t][$i] ? 1L : 0L);
         |  }
         |  $keys[$t] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinhashSignature(child: Expression, a: Array[Long], b: Array[Long], p: Long)
    extends UnaryExpression {

  require(a.length == b.length && a.nonEmpty, "minhash perm arrays must match and be non-empty")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires array<long>, got ${dt.catalogString}")
  }

  /** Public for the generated code path. Long arithmetic matches the batch
    * aggregate's codegen exactly (JVM long mul/add/rem — a·h + b < 2^62 for
    * the P = 2^31−1 family, so no wrap in practice either way).
    */
  def compute(arr: ArrayData): ArrayData = {
    val k = a.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(x: Any): Any = compute(x.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ref = ctx.addReferenceObj("minhashKernel", this, classOf[MinhashSignature].getName)
      s"${ev.value} = $ref.compute($x);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
