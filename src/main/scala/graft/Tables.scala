package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated testdata (TESTDATA.md / FIXTURES.md §B).
  *
  * Design notes (100 TB posture):
  *   - Pure `spark.read.parquet` scans — Catalyst handles column pruning and
  *     predicate pushdown into the parquet reader, so every query in the
  *     catalog only pays for the columns/rows it touches.
  *   - Dimension tables (`region`, `nation`, `supplier`, `part`) are small by
  *     construction (TPC-H star schema); join helpers in the catalog wrap them
  *     in `broadcast()` so fact-side shuffles never include dimension data.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** A bare `spark.read.parquet(path)` runs a 1-task footer-read job at
    * DataFrame build time to infer the schema, paid again on every rebuild
    * of every entry (about 50 ms each, with its driver gap). The schema is
    * held per path JVM-wide and handed to the reader explicitly: plans are
    * unchanged and the inference job never runs again. Only the footer's
    * StructType is held (~KB per table), never data. No supported flow
    * rewrites a table's schema in place.
    */
  private def t(name: String): DataFrame =
    spark.read.schema(storedSchema(name)).parquet(s"$dir/$name.parquet")

  /** The table's schema as stored in its parquet footer (cached, see [[t]]). */
  def storedSchema(name: String): org.apache.spark.sql.types.StructType =
    Tables.metaCache.computeIfAbsent(s"$dir/$name.parquet", { p =>
      val st = spark.read.parquet(p).schema
      Tables.TableMeta(st, Tables.rowGroupCount(spark, p))
    }).schema

  /** Parquet scans split at ROW-GROUP granularity, and every sf0.1 testdata
    * file is a single row group — so every map-side stage over these tables
    * runs on ONE task regardless of core count (OPTIMIZATION_r15.md §2:
    * pp03's redact+gate stage, 2.83 s wall / 2.82 s cpu, 1 task on a 32-core
    * session; a snap then pins the 1-partition layout for the rest of the
    * chain). For a
    * KERNEL-HEAVY MAP consumer (regex scrubbing, shingle/signature builds,
    * per-pair vector kernels) a hash repartition to the session parallelism
    * restores the lost cores for one small exchange.
    *
    * Deliberately OPT-IN per call site, never blanket: a measured blanket
    * version (applied inside [[t]]) ran the catalog 2× SLOWER — for
    * agg-first consumers the inserted exchange ships raw rows that map-side
    * partial aggregation previously never shuffled (guide §2.3 "aggregate
    * before you shuffle"), e.g. prof01's per-column distincts went
    * 0.33 → 1.9 s. Hash partitioning on the id column, not keyless
    * round-robin — keyless repartition local-sorts its whole input for
    * retry determinism (sortBeforeRepartition), serial on the single scan
    * task; hash placement is deterministic without the sort.
    *
    * Scale-adaptive: GenScale/production files carry 8 MB row groups, so
    * rowGroups ≥ cores/2 there and this is the identity — plans unchanged,
    * scan-level pushdown preserved exactly where it matters. The target
    * tracks defaultParallelism, so the driver's low-core runs get
    * proportionally fewer partitions.
    */
  private def widen(df: DataFrame, name: String, key: String): DataFrame = {
    val parallel = spark.sparkContext.defaultParallelism
    val meta = Tables.metaCache.get(s"$dir/$name.parquet")
    if (meta != null && meta.rowGroups > 0 && meta.rowGroups < (parallel + 1) / 2)
      df.repartition(parallel, df.col(key))
    else df
  }

  /** [[documents]] with scan parallelism restored for kernel-heavy map
    * chains — see [[widen]].
    */
  def documentsWide: DataFrame = widen(documents, "documents", "doc_id")

  /** [[embeddings]] with scan parallelism restored — see [[widen]]. */
  def embeddingsWide: DataFrame = widen(embeddings, "embeddings", "vec_id")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** events with `ts` decoded to a µs timestamp ([[Tables.decodeEventsTs]]). */
  def events: DataFrame = Tables.decodeEventsTs(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** 1-row anchor frame holding `max(ts)` over events — the deterministic
    * stand-in for `now()` (SURVEY.md §7.4: never wall-clock in oracle-checked
    * queries). Joined in via broadcast cross-join so it stays in-plan.
    */
  def eventAnchor: DataFrame = events.agg(max(col("ts")).as("anchor_ts"))
}

object Tables {

  /** `ts` of an events frame (batch or stream) as a µs TimestampType,
    * whatever the stored type:
    *   - naive TIMESTAMP(MICROS), which the testdata and GenScale output
    *     store, reads as TIMESTAMP_NTZ; the session tz is UTC, so the cast
    *     to timestamp keeps the instant;
    *   - TIMESTAMP(NANOS) reads as a long of nanos (Spark's vectorized reader
    *     rejects the type, so [[GraftSession]] sets
    *     `spark.sql.legacy.parquet.nanosAsLong`); the values are µs-grain, so
    *     dividing down to micros is lossless and matches DuckDB's
    *     TIMESTAMP_NS;
    *   - a UTC-adjusted TIMESTAMP passes through.
    */
  def decodeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast("timestamp"))
    case _ => df
  }

  final case class TableMeta(schema: org.apache.spark.sql.types.StructType, rowGroups: Int)

  /** Parquet footer metadata (schema + row-group count) by absolute path —
    * see [[Tables.t]]. Metadata only, never data.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, TableMeta]()

  /** Row groups in the parquet file — a driver-side footer read (~ms), done
    * once per path per JVM. −1 when unreadable (no repartition then).
    */
  private def rowGroupCount(spark: SparkSession, path: String): Int =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.size finally reader.close()
    } catch { case _: Throwable => -1 }
}
