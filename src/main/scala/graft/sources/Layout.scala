package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Physical storage layout (SURVEY.md §1.3): the Spark equivalents of the
  * reference's MergeTree layout declarations.
  *
  *   - `PARTITION BY toYYYYMM(date)` (01-create-tables.sql:50,78) →
  *     Hive-style monthly partition directories → partition pruning for the
  *     ubiquitous date-range filters, and TTL as a directory drop.
  *   - `ORDER BY (...)` sort key (01:31,51,63,79) → `repartition(month)` +
  *     `sortWithinPartitions(sort key)` → parquet row-group min/max stats give
  *     the same skip-by-sort-key effect as the primary index.
  *   - bloom_filter skipping indices (02-add-indices.sql) → parquet bloom
  *     filters via write options.
  *   - TTL DELETE after N days (04-add-ttl.sql:29,37) → [[dropExpiredPartitions]].
  *
  * At 100 TB: one shuffle at write time buys partition pruning + row-group
  * skipping on every subsequent scan; retention never rewrites data, it
  * unlinks directories.
  */
object Layout {

  /** AQE initial shuffle-partition count for a testdata dir: one reducer
    * per 8 MB of input (the same granule as files.maxPartitionBytes),
    * floored at the core count and capped at 1024. At sf0.1 (~110 MB) this
    * is just `cpus` — identical plans to a fixed setting; at sf1/sf3/sf10
    * the big near-no-reduction shuffles (q17's pair count) get reducers
    * proportional to data so per-reducer hash state stays bounded, and AQE
    * coalesces the small shuffles back down. See [[graft.GraftSession]].
    */
  /** Total bytes under a data directory — the scale signal the AQE reducer
    * sizing and the q17 screen gate derive from (r15).
    */
  def inputBytes(dir: String): Long =
    try Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    catch { case _: Throwable => 0L }

  def initialPartitionsFor(dir: String, cpus: Int): Int =
    math.min(1024L, math.max(cpus.toLong, inputBytes(dir) / (8L << 20))).toInt

  /** Shuffle-partition count for STATEFUL streaming queries over a testdata
    * dir (r16): the same 8 MB-of-input granule as [[initialPartitionsFor]],
    * but with NO core-count floor and a core-count CAP — a stateful
    * operator's partitioning is frozen at checkpoint creation (AQE never
    * coalesces it), and every micro-batch pays a per-partition state-store
    * open/commit regardless of how little state lives there.
    *
    * Measured, both directions: at sf0.1 (17 MB of input, state of a few
    * hundred rows) the fixed 32 cost ~0.7 s per run in the state stage
    * alone and the derived count (2) halves the whole streaming run; at sf1
    * (129 MB → 16) it beats 32 on every stateful entry and halves the
    * cascade warm. The cap exists because the opposite overshoot is just as
    * real: an uncapped bytes/8 MB gave sf10 161 partitions on 32 execution
    * slots — five task WAVES of store open/commit per stateful stage per
    * micro-batch — and the sf10 A/B read the cascade 427 s vs 176 s and
    * st19's warm 45.7 s vs 17.2 s against a 32-pin. State shards provision
    * by update throughput (input volume) UP TO the session's execution
    * slots; a cluster drive raises the cap automatically through
    * SPARK_GRAFT_CPUS.
    */
  def statePartitionsFor(dir: String, cpus: Int): Int =
    math.min(cpus.toLong, math.max(1L, inputBytes(dir) / (8L << 20))).toInt

  /** Write events in the reference's events-table layout: monthly partitions,
    * sorted by (event_type, ts, user_id) within each, bloom filter on user_id.
    */
  def writeEventsPartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_month", date_format(col("ts"), "yyyyMM").cast("int"))
      // sort key leads with the partition column: FileFormatWriter would
      // otherwise inject its own (unstable) sort on partition columns and
      // destroy the within-file order the row-group stats rely on
      .repartition(col("event_month"))
      .sortWithinPartitions("event_month", "event_type", "ts", "user_id")
      .write.mode("overwrite")
      .partitionBy("event_month")
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("compression", "zstd")
      .parquet(path)

  /** Read back with partition pruning available on `event_month`. */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed write (`CLUSTERED BY ... INTO n BUCKETS`): co-locates join keys
    * at write time so fact-fact joins on the bucket key need no shuffle at
    * all — the 100 TB answer to repeated lineitem⋈orders joins. Requires a
    * catalog table (bucket metadata lives in the catalog, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** TTL maintenance: drop whole month partitions older than the cutoff
    * (directory unlink — no data rewrite). Returns dropped partition names.
    */
  def dropExpiredPartitions(path: String, cutoffMonth: Int): Seq[String] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return Seq.empty
    val dropped = Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("event_month="))
      .filter { p =>
        val m = p.getFileName.toString.stripPrefix("event_month=")
        m.toIntOption.exists(_ < cutoffMonth)
      }
      .toSeq
    dropped.foreach(deleteRecursively)
    dropped.map(_.getFileName.toString)
  }

  /** Compaction (SURVEY §7.1 step 9): rewrite one month partition into
    * `targetFiles` files — the background-merge analog for a streaming sink
    * that accumulated many small files. Swap order is rename-aside → rename-in
    * → delete-aside: a crash at any point leaves the full partition data on
    * disk (either live or in `.compact_old_<month>`, recoverable by rename) —
    * never the deleted-but-not-replaced gap a delete-first swap has. Readers
    * can race only the instant between the two renames, not a recursive
    * delete.
    */
  def compactPartition(spark: SparkSession, path: String, month: Int, targetFiles: Int = 1): Unit = {
    val partDir = Paths.get(path, s"event_month=$month")
    if (!Files.exists(partDir)) return
    val tmp = Paths.get(path, s".compact_tmp_$month")
    val old = Paths.get(path, s".compact_old_$month")
    spark.read.parquet(partDir.toString)
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    deleteRecursively(old) // stale leftover from an earlier crash, if any
    Files.move(partDir, old)
    Files.move(tmp, partDir)
    deleteRecursively(old)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Z-order key over two 8-bit dimensions: bit i of `x` lands at position
    * 2i, bit i of `y` at 2i+1 — a 16-bit Morton code built as one fixed
    * arithmetic expression (16 shift/mask/add terms, whole-stage codegen;
    * no UDF, no lookup table).
    */
  private def mortonKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)

  /** The identical Morton expression in DuckDB SQL. */
  private def mortonSql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val defs: Seq[graft.QueryDef] = Seq(
    // ----- zo01: Z-order (Morton) layout key + in-plan pruning proof — the
    // multi-dimensional generalization of the ORDER BY sort key above
    // (Delta/Iceberg `OPTIMIZE ZORDER BY`): interleaving the bits of
    // (user bucket, day) makes any contiguous z-range bound BOTH dimensions,
    // so files written sorted by zkey get narrow parquet min/max stats on
    // user AND day simultaneously — either-dimension predicates skip
    // row groups, where a plain (user, day) sort key only prunes the
    // leading column. The entry groups rows into 64-code z-tiles (an
    // aligned 8×8 (user, day) square) and PROVES the property in-plan:
    // `tile_bounded` asserts each tile spans ≤ 8 user buckets × ≤ 8 days.
    // At 100 TB this is a write-time repartitionByRange(zkey) +
    // sortWithinPartitions — one shuffle buys two-dimensional skipping on
    // every subsequent scan. Day here is day-of-month (the corpus is one
    // month); production uses days-since-epoch mod 256.
    graft.QueryDef.sql(
      "zo01_zorder_layout",
      s"""WITH k AS (
         |  SELECT ((user_id % 256) + 256) % 256 AS ux,
         |    EXTRACT(day FROM ts) - 1 AS dy
         |  FROM events),
         |z AS (SELECT ux, dy, ${mortonSql("ux", "dy")} AS zkey FROM k),
         |t AS (
         |  SELECT zkey // 64 AS ztile, COUNT(*) AS n,
         |    MIN(ux) AS u_min, MAX(ux) AS u_max,
         |    MIN(dy) AS d_min, MAX(dy) AS d_max
         |  FROM z GROUP BY 1)
         |SELECT CAST(ztile AS BIGINT) AS ztile, CAST(n AS BIGINT) AS n,
         |  CAST(u_min AS BIGINT) AS u_min, CAST(u_max AS BIGINT) AS u_max,
         |  CAST(d_min AS BIGINT) AS d_min, CAST(d_max AS BIGINT) AS d_max,
         |  u_max - u_min <= 7 AND d_max - d_min <= 7 AS tile_bounded
         |FROM t ORDER BY ztile""".stripMargin,
    ) { (spark, dir) =>
      val e = graft.Tables(spark, dir).events
        .select(pmod(col("user_id"), lit(256L)).as("ux"),
          (dayofmonth(col("ts")) - 1).cast("long").as("dy"))
      e.select(col("ux"), col("dy"), mortonKey(col("ux"), col("dy")).as("zkey"))
        .groupBy((col("zkey") / 64).cast("long").as("ztile"))
        .agg(count(lit(1)).cast("long").as("n"),
          min("ux").cast("long").as("u_min"), max("ux").cast("long").as("u_max"),
          min("dy").cast("long").as("d_min"), max("dy").cast("long").as("d_max"))
        .select(col("ztile"), col("n"), col("u_min"), col("u_max"),
          col("d_min"), col("d_max"),
          (col("u_max") - col("u_min") <= 7 && col("d_max") - col("d_min") <= 7)
            .as("tile_bounded"))
        .orderBy("ztile")
    },
  )
}
