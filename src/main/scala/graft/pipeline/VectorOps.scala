package graft.pipeline

import graft.functions.{FloatVecDot, FloatVecSumSq}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Vector arithmetic over `array<float>` embedding columns, backed by the
  * custom codegen'd Catalyst expressions in [[graft.functions.VectorExpressions]]
  * (Spark's built-in higher-order functions evaluate lambdas interpreted —
  * ~30× slower on all-pairs similarity joins).
  *
  * All folds are sequential left-to-right in double precision; the DuckDB
  * oracle SQL mirrors the same fold (`list_reduce` over a 0-prepended list),
  * making cosine values bit-identical across engines.
  */
object VectorOps {

  /** Dot product of two float-array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Sum of squares (squared L2 norm) — exposed raw for squared-distance
    * arithmetic (ann07's `|a|² + |c|² − 2·a·c`), where a sqrt/square round
    * trip would break bit-parity with the oracle's fold.
    */
  def sumSq(a: Column): Column =
    ColumnBridge.column(FloatVecSumSq(ColumnBridge.expression(a)))

  /** L2 norm. */
  def norm(a: Column): Column =
    sqrt(ColumnBridge.column(FloatVecSumSq(ColumnBridge.expression(a))))

  /** Cosine similarity: dot / (|a| * |b|). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Per-key mean vectors: `keys` + `centroid`, the element-wise DOUBLE
    * average of `vec` cast to `array<float>` in dimension order — the
    * recipe the oracles replay (km01's). The float cast matters: a double
    * array fed to the float-vector kernels reads garbage off 8-byte slots.
    */
  def centroids(df: DataFrame, keys: Seq[String], vec: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(vec)): _*).toDF(keys :+ "dim" :+ "v": _*)
      .groupBy((keys :+ "dim").map(col): _*).agg(avg("v").as("c"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).cast("array<float>").as("centroid"))
}
