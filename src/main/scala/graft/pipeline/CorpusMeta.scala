package graft.pipeline

import graft.Tables
import graft.sources.Listing
import org.apache.spark.sql.SparkSession

/** Metadata-scale corpus aggregates that several catalog entries would
  * otherwise recompute identically: the embeddings row count (adaptive LSH
  * width, exact-baseline guards), the 64-double per-dimension mean
  * (hyperplane centering) and the benchmark slice's distinct shingle count.
  *
  * Each is held per (table, tag) while the table's files are unchanged
  * ([[Listing.Memo]]), so a rewritten corpus, including the same dir
  * re-generated at another scale, is counted again. Values are plain JVM
  * scalars, not Spark state, so they survive `Residency.release` and hold no
  * executor resources.
  */
object CorpusMeta {

  private val held = new Listing.Memo[Any]

  private def memo[T](dir: String, table: String, tag: String)(compute: => T): T =
    held(s"$dir/$table.parquet", tag)(compute).asInstanceOf[T]

  /** COUNT(*) of the embeddings table. */
  def embeddingCount(spark: SparkSession, dir: String): Long =
    memo(dir, "embeddings", "count")(Tables(spark, dir).embeddings.count())

  /** Per-dimension mean of the embeddings table. */
  def embeddingMeans(spark: SparkSession, dir: String): Array[Double] =
    memo(dir, "embeddings", "means")(Similarity.dimMeans(Tables(spark, dir).embeddings))

  /** Distinct benchmark-slice shingle count (dc02's Bloom sizing input). The
    * count runs only over the benchmark slice, small by construction, so the
    * filter's bit budget tracks the eval suite's actual size instead of a
    * constant that a 100× suite would silently saturate.
    */
  def benchShingleCount(spark: SparkSession, dir: String)(count: => Long): Long =
    memo(dir, "documents", "bench_shingles")(count)
}
