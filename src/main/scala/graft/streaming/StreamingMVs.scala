package graft.streaming

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming re-expression of the reference's incremental
  * materialized views (01-create-tables.sql:87–168; SURVEY.md §2.9, §3.2).
  *
  * ClickHouse MV semantics — every INSERT incrementally folds into a grouped
  * aggregate — map to streaming `groupBy().agg()`:
  *   - complete/update mode over a file source reproduces the MV read result;
  *   - `foreachBatch` + key-partition overwrite is the upsert sink pattern
  *     (Spark has no built-in keyed-upsert table sink — SURVEY §7.4);
  *   - watermarks bound state where ClickHouse relies on unconditional folding
  *     (ST7 divergence documented there).
  *
  * The streaming entries below run synchronously through [[StreamRunner]]
  * (Trigger.AvailableNow, to exhaustion) so they satisfy the
  * `(SparkSession, dir) => DataFrame` catalog contract; st01's result is
  * oracle-checked against the *batch* SQL — the defining property of an
  * incremental MV is exactly that it matches a batch recomputation.
  */
object StreamingMVs {

  /** A testdata table as a file-source stream. A streaming source trusts
    * the schema it is GIVEN rather than the footer, so it is handed the
    * footer's own: events' stored `ts` type differs by layout, and reading
    * micros with a nanos-long schema silently divides every timestamp by
    * 1000 and collapses all dates to 1970 (caught by the sf1 scale run:
    * every cascade MV built here shrank to one date).
    */
  def tableStream(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.readStream
      .schema(Tables(spark, dir).storedSchema(table))
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)

  /** The events table as a stream, `ts` decoded ([[Tables.decodeEventsTs]]). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.decodeEventsTs(tableStream(spark, dir, "events"))

  /** The daily-activity MV as a streaming aggregation (01:87–98 shape). */
  def dailyMvStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        sum(col("value").cast("decimal(18,2)")).as("val_dec"))

  // ---- Maintained streams: each runs ONCE per dir (Bench warms them and
  // reports their cost as `stream_mvs`); the catalog entry reads the
  // maintained result, so its bench figure is the serve read.
  private val maintainedNames = Seq(
    "st02_hourly_upsert", "st10_interval_join", "st11_dedup", "st14_ivf_routing",
    "st15_histogram", "st16_retention", "st17_decontam", "st18_neardup_probe",
    "st19_concurrency", "st20_timeline", "st21_url_dedup")

  /** Per-stream maintenance wall seconds of the maintained streams over
    * `dir` that have run (bench artifact).
    */
  def maintenanceBreakdown(dir: String): Seq[(String, Double)] =
    StreamRunner.costs(dir, maintainedNames).map { case (n, c) => n -> c.wallSec }

  // partitions written per sink path per batch id in this JVM — backs the
  // multi-batch guard in upsertByPartition
  private val writtenPartitions =
    scala.collection.concurrent.TrieMap[String, Map[Long, Set[String]]]()

  /** foreachBatch upsert: overwrite only the key partitions present in the
    * micro-batch (dynamic partition overwrite) — idempotent under checkpoint
    * replay, and at scale each batch touches only its own partitions.
    *
    * Correctness guard: update mode emits only the groups touched in THIS
    * micro-batch, so if a later batch of the same run rewrites a partition an
    * earlier batch already wrote, groups updated only in the earlier batch
    * would be silently dropped. That can't happen while each source is one
    * file under AvailableNow (single batch), but rather than rely on it we
    * fail fast when a batch id > 0 touches another batch's partition —
    * replaying the SAME batch id (checkpoint recovery) remains legal because
    * the overwrite is idempotent.
    */
  def upsertByPartition(batch: DataFrame, partitionCol: String, path: String,
      batchId: Long = 0L): Unit = {
    val touched = batch.select(partitionCol).distinct().collect()
      .map(r => String.valueOf(r.get(0))).toSet
    val perBatch = writtenPartitions.getOrElse(path, Map.empty)
    val fromOtherBatches = perBatch.collect { case (b, s) if b != batchId => s }.flatten.toSet
    val overlap = touched.intersect(fromOtherBatches)
    require(overlap.isEmpty,
      s"upsertByPartition: batch $batchId of $path rewrites partition(s) " +
        s"${overlap.take(3).mkString(", ")} already written by another batch of this run — " +
        "dynamic overwrite would drop groups updated only in the earlier batch; " +
        "compact the source to one batch or switch this sink to a merge-upsert")
    writtenPartitions.update(path,
      perBatch.updated(batchId, perBatch.getOrElse(batchId, Set.empty) ++ touched))
    batch
      // one file per key partition per batch (not shuffle.partitions files):
      // the part-like layout compaction expects, and far less file churn on
      // a sink that rewrites its touched partitions every micro-batch
      .repartition(col(partitionCol))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** The update-mode hourly MV through the foreachBatch partition-upsert
    * sink; returns the sink path.
    */
  def hourlyUpsertMv(spark: SparkSession, dir: String): String =
    StreamRunner.maintainedRoot(dir, "st02_hourly_upsert") { root =>
      StreamRunner.run(spark, dir) { s =>
        val agg = eventsStream(s, dir)
          .groupBy(
            to_date(col("ts")).as("event_date"),
            hour(col("ts")).cast("long").as("event_hour"),
            col("event_type"))
          .agg(count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        Seq("st02_hourly_upsert" -> agg.writeStream
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            upsertByPartition(batch, "event_date", root, batchId)
          })
      }
    }

  /** The watermarked purchase↔click interval join, appended to a memory sink. */
  def intervalJoinTable(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st10_interval_join", "append") { s =>
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      purchases.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
          col("click_ts") <= col("purchase_ts"))
    }

  /** The doubled-stream watermarked dedup, appended to a memory sink. */
  def dedupStreamTable(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st11_dedup", "append") { s =>
      def src = eventsStream(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      src.union(src) // every event ingested twice
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("event_id")
    }

  /** Pre-execute the heavyweight per-dir streams (Bench setup phase). */
  def warm(spark: SparkSession, dir: String): Unit = {
    hourlyUpsertMv(spark, dir)
    intervalJoinTable(spark, dir)
    dedupStreamTable(spark, dir)
    ivfRoutingMv(spark, dir)
    histogramMv(spark, dir)
    retentionMv(spark, dir)
    decontamMv(spark, dir)
    neardupProbeMv(spark, dir)
    concurrencyMv(spark, dir)
    urlDedupMv(spark, dir)
  }

  /** st19's maintained MV: per-(user, day) activity-span endpoints. min/max
    * are order-free mergeable states (the A8 State/Merge discipline), so a
    * late or replayed event can only widen its own span — incremental ==
    * batch under any micro-batch split. State is one fixed-width row per
    * (user, day); the q55 sweep over the spans runs AT READ, over MV-sized
    * input, never the event history.
    */
  def concurrencyMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st19_concurrency", "complete") { s =>
      eventsStream(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"))
        .groupBy("user_id", "d")
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    }

  /** st20's maintained MV: the live-timeline minute grain — per-(event_type,
    * epoch-minute) event counts on the ingest stream. COUNT is the
    * order-independent mergeable state (A8 discipline): any micro-batch
    * split, replay, or late row folds into its (series, minute) group and
    * lands on the identical total, so incremental == batch by construction.
    * State is one fixed-width row per series×minute — bounded by the time
    * range, not the event count (the lt01 design property, now holding for
    * the STATE as well as the read). The LTTB downsample to chart width
    * runs AT READ over this MV-sized input, never the event history.
    */
  def timelineMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st20_timeline", "complete") { s =>
      eventsStream(s, dir)
        .groupBy(col("event_type").as("series"),
          graft.operators.Lttb.minuteCol(col("ts")).as("x"))
        .agg(count(lit(1)).as("y"))
    }

  /** st21's maintained MV: streaming URL dedup — ur01's first-seen-wins
    * canonical-URL dedup applied at ingestion time (the C4 opening stage as
    * a live firewall). The r14 sketch suggested dropDuplicates-with-
    * watermark (st11's pattern), but that keeps the first ARRIVED row and
    * micro-batch arrival order is partition-parallel — a nondeterministic
    * survivor when duplicates DIFFER (st11 got away with it because its
    * duplicates are bit-identical events). First-seen here means smallest
    * doc_id, so the state is a per-canon_url `min(struct(doc_id, …))` —
    * an order-free mergeable aggregate (A8 discipline): any micro-batch
    * split or replay folds to the identical minimum, making incremental ==
    * batch by construction and the entry hash-stable.
    *
    * 100 TB posture: state is one fixed-width row per DISTINCT canonical
    * URL — the standing registry a crawl dedup necessarily maintains —
    * keyed by the same canon_url a host shard partitions by, held off-heap
    * by the RocksDB default; a re-crawl product would bound it with st11's
    * within-watermark eviction instead. The canonicalizer itself is the
    * batch entry's codegen'd string algebra, stateless and map-side.
    */
  def urlDedupMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st21_url_dedup", "complete") { s =>
      import graft.pipeline.UrlCuration
      val raw = tableStream(s, dir, "documents")
        .select(col("doc_id"), UrlCuration.urlCol.as("url"))
      val (canon, etld1) = UrlCuration.canonCols(col("url"))
      raw.select(col("doc_id"), col("url"), canon.as("canon_url"), etld1.as("etld1"))
        .groupBy("canon_url")
        .agg(min(struct(col("doc_id"), col("url"), col("etld1"))).as("keep"),
          count(lit(1)).as("url_dups"))
    }

  /** st14's maintained MV: streaming IVF cell routing. Centroids are pinned
    * at MV creation (the index definition), the stream is the maintenance.
    */
  def ivfRoutingMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st14_ivf_routing", "complete") { s =>
      // per-label centroids in label order; the argmax below breaks exact
      // cosine ties toward the LOWEST cell, like the oracle's ROW_NUMBER
      val cents: Array[(Int, Array[Float])] = graft.pipeline.VectorOps
        .centroids(Tables(s, dir).embeddings, Seq("label"), "embedding")
        .orderBy("label").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      require(cents.nonEmpty && cents.length <= 64,
        s"st14 expects KB-scale cell count, got ${cents.length}")
      val stream = tableStream(s, dir, "embeddings")
      // argmax as array_max over (ccos, -cell) structs — struct ordering
      // gives max cosine with lowest cell on exact ties (the oracle's
      // ROW_NUMBER tiebreak). Expression size is LINEAR in K; the earlier
      // nested-when fold embedded the running best TWICE per cell, growing
      // the tree exponentially — at K=10 the generated code crossed janino's
      // 64 KB method limit and the whole stage silently fell back to
      // interpreted evaluation (caught by a plan-audit run over the catalog).
      val scored = array(cents.map { case (cellId, c) =>
        struct(
          graft.pipeline.VectorOps.cosine(col("embedding"), typedLit(c)).as("ccos"),
          lit(-cellId.toLong).as("neg_cell"))
      }: _*)
      val best = array_max(scored)
      stream
        .select((-best.getField("neg_cell")).as("cell"), best.getField("ccos").as("ccos"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_assigned"),
          min(col("ccos")).as("min_cos"), max(col("ccos")).as("max_cos"),
          sum(when(col("ccos") < 0.9, 1L).otherwise(0L)).cast("long").as("low_conf"))
    }

  /** st15's maintained MV: per-(day, type, bin) histogram counts; bin edges
    * pinned at MV creation from a batch (min, max) metadata pass.
    */
  def histogramMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st15_histogram", "complete") { s =>
      val bounds = graft.Tables(s, dir).events
        .groupBy("event_type").agg(min("value").as("mn"), max("value").as("mx"))
      val width = (col("mx") - col("mn")) / 128.0d
      eventsStream(s, dir)
        .join(broadcast(bounds), "event_type") // stream-static, map-side
        .select(to_date(col("ts")).as("event_date"), col("event_type"),
          when(col("mx") === col("mn"), 0L)
            .otherwise(least(lit(127L), floor((col("value") - col("mn")) / width)))
            .as("bin"))
        .groupBy("event_date", "event_type", "bin")
        .agg(count(lit(1)).as("c"))
    }

  /** st16's maintained MV: per-user retention condition vector; the anchor
    * day pinned at MV creation from a batch min(date) metadata pass.
    */
  def retentionMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st16_retention", "complete") { s =>
      val anchor = graft.Tables(s, dir).events
        .agg(min(to_date(col("ts"))).as("a0")).withColumn("__k", lit(1))
      def active(off: Int) =
        max(when(col("d") === date_add(col("a0"), off), 1L).otherwise(0L))
      eventsStream(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"), lit(1).as("__k"))
        .join(broadcast(anchor), "__k") // stream-static, map-side
        .groupBy("user_id")
        .agg(active(0).as("c0"), active(1).as("c1"),
          active(3).as("c3"), active(7).as("c7"))
    }

  /** st17's maintained MV: per-doc decontamination verdict counts; the bench
    * suite's shingle set + Bloom blob pinned at MV creation.
    */
  def decontamMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st17_decontam", "complete") { s =>
      import graft.functions.BloomExpressions._
      val (blob, shB) = graft.pipeline.Decontam.benchShingleBloom(s, dir)
      val sh = tableStream(s, dir, "documents")
        .filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"),
          explode(graft.pipeline.Decontam.docShingles(col("text"))).as("s"))
      val probe = bloomMightContain(lit(blob), xxhash64(col("s")))
      val confirmed = sh.where(probe)
        .join(broadcast(shB.withColumn("hit", lit(1L))), Seq("s"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      val rest = sh.where(!probe).select(col("doc_id"), lit(0L).as("hit"))
      confirmed.union(rest).groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), sum("hit").as("n_matched"))
    }

  /** st18's maintained MV: best corpus match per arriving doc; the standing
    * corpus's band index + signature table pinned at MV creation.
    */
  def neardupProbeMv(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.maintainedTable(spark, dir, "st18_neardup_probe", "complete") { s =>
      graft.pipeline.Dedup.streamingDedupProbe(s, dir,
        tableStream(s, dir, "documents").filter(col("doc_id") % 10 === 0))
    }

  val defs: Seq[QueryDef] = Seq(

    // ----- st01: streaming daily MV == batch recompute (oracle checks the
    // batch SQL — incremental-equals-batch is the MV correctness property).
    QueryDef.sql(
      "st01_streaming_daily_mv",
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_date, event_type""".stripMargin,
    ) { (spark, dir) =>
      StreamRunner.table(spark, dir, "st01_streaming_daily_mv", "complete") { s =>
        eventsStream(s, dir)
          .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
          .agg(
            count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)")).as("val_dec"))
      }
        .select(col("event_date"), col("event_type"), col("events"),
          col("val_dec").cast("double").as("total_value"))
        .orderBy("event_date", "event_type")
    },

    // ----- st02: update-mode MV through the foreachBatch partition-upsert
    // sink, read back from the sink table. The sink round-trip must equal the
    // batch hourly aggregate — same incremental-equals-batch property as st01.
    QueryDef.sql(
      "st02_streaming_upsert_sink",
      """SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(hour(ts) AS BIGINT) AS event_hour, event_type,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_date, event_hour, event_type""".stripMargin,
    ) { (spark, dir) =>
      spark.read.parquet(hourlyUpsertMv(spark, dir))
        .select("event_date", "event_hour", "event_type", "events", "total_value")
        .orderBy("event_date", "event_hour", "event_type")
    },

    // ----- st10: stream-stream interval join — purchases matched to the
    // same user's clicks in the preceding 30 minutes, both sides streaming
    // with watermarks bounding join state (the attribution-join shape; r1
    // covered it by unit test only, this entry is oracle-checked).
    QueryDef.sql(
      "st10_stream_stream_interval_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  CAST(p.ts AS TIMESTAMP) AS purchase_ts
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    ) { (spark, dir) =>
      intervalJoinTable(spark, dir)
        .select(col("purchase_id"), col("click_id"), col("purchase_ts"))
        .orderBy("purchase_id", "click_id")
    },

    // ----- st11: streaming dedup-on-ingest — the ReplacingMergeTree
    // semantics (01-create-tables.sql ReplacingMergeTree; q18 covers the
    // batch snapshot) applied at the stream: two copies of the event stream
    // unioned (every event arrives twice), watermark-bounded
    // dropDuplicatesWithinWatermark keeps exactly one. State is evicted past
    // the watermark (ST7 posture) — at 100 TB the dedup state holds one key
    // per event inside the lateness window, not the full history. Oracle:
    // the deduped stream must equal the batch distinct — same
    // incremental-equals-batch property as st01.
    QueryDef.sql(
      "st11_streaming_dedup",
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    ) { (spark, dir) =>
      dedupStreamTable(spark, dir).orderBy("event_id")
    },

    // ----- st13: streaming ingest quality gate — the data-quality firewall
    // a pipeline runs ON the ingest stream, before anything lands: per
    // event type, how many events pass the gate (value within bounds,
    // props carries a parseable k below its cap) vs are quarantined.
    // Stateless row-level rules + a complete-mode aggregate, so the
    // incremental result must equal the batch recompute — the same MV
    // correctness property as st01, applied to the gate. At scale the
    // rules are codegen'd map-side predicates; the aggregate state is
    // |event types| rows.
    QueryDef.sql(
      "st13_streaming_quality_gate",
      """SELECT event_type,
        |  COUNT(*) AS total,
        |  CAST(SUM(CASE WHEN value <= 100.0
        |    AND CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) < 90
        |    THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
        |  CAST(SUM(CASE WHEN value <= 100.0
        |    AND CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) < 90
        |    THEN 0 ELSE 1 END) AS BIGINT) AS rejected,
        |  CAST(SUM(CASE WHEN value <= 100.0
        |    AND CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) < 90
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accept_rate
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      val ok = col("value") <= 100.0 &&
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long") < 90
      StreamRunner.table(spark, dir, "st13_streaming_quality_gate", "complete") { s =>
        eventsStream(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("total"),
            sum(when(ok, 1L).otherwise(0L)).cast("long").as("accepted"),
            sum(when(ok, 0L).otherwise(1L)).cast("long").as("rejected"))
      }
        .select(col("event_type"), col("total"), col("accepted"), col("rejected"),
          (col("accepted").cast("double") / col("total")).as("accept_rate"))
        .orderBy("event_type")
    },

    // ----- st14: streaming IVF routing — ANN index maintenance on the
    // ingest path: each arriving vector is routed to its nearest index cell
    // (the per-label centroids the batch IVF entries search), and the MV
    // tracks per-cell occupancy and assignment-confidence bounds. The
    // assignment is a STATELESS codegen expression — K FloatVec cosines
    // against literal centroid rows folded into an argmax (rp01's
    // literal-vector kernel pattern), so the streaming plan needs no join
    // and no per-key state beyond the K-row aggregate; incremental must
    // equal the batch recompute (st01's MV property).
    //
    // 100 TB shape: centroids are KB-scale driver literals (K×64 floats —
    // the documented metadata-scale class, like Similarity.dimMeans);
    // per-vector work is K codegen cosines map-side; aggregate state is K
    // rows. min/max/count are order-independent, so the result is
    // deterministic under any partitioning — no double-sum drift.
    QueryDef.sql(
      "st14_streaming_ivf_routing",
      s"""WITH dimvals AS (
         |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
         |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid
         |  FROM dimvals GROUP BY 1),
         |a AS (SELECT e.vec_id, c.label,
         |    ${graft.pipeline.Similarity.cosSql("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c),
         |asg AS (SELECT vec_id, label, ccos FROM (
         |  SELECT a.*, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, label) AS r FROM a) WHERE r = 1)
         |SELECT CAST(label AS BIGINT) AS cell, COUNT(*) AS n_assigned,
         |  MIN(ccos) AS min_cos, MAX(ccos) AS max_cos,
         |  CAST(SUM(CASE WHEN ccos < 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS low_conf
         |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained routing MV
      ivfRoutingMv(spark, dir)
        .select(col("cell"), col("n_assigned"), col("min_cos"), col("max_cos"),
          col("low_conf"))
        .orderBy("cell")
    },

    // ----- st15: streaming histogram MV — uq04's mergeable quantile state
    // maintained ON the ingest stream: per-(day, type, bin) counts
    // accumulate incrementally, with bin edges PINNED at MV creation from a
    // batch (min, max) metadata pass (exactly how a production histogram MV
    // works — edges are part of the index definition; re-binning is a
    // rebuild). The stream joins the 5-row static bounds frame
    // (stream-static broadcast join), bins map-side, and aggregates
    // count-only state — order-independent, so incremental == batch under
    // any partitioning (st01's MV property). A quantile read then merges
    // these partials exactly as uq04 does. State is |days|×|types|×|bins|
    // rows, bounded by the MV definition, not the data.
    QueryDef.sql(
      "st15_streaming_histogram",
      """WITH b AS (SELECT event_type, MIN(value) AS mn, MAX(value) AS mx FROM events GROUP BY 1)
        |SELECT CAST(e.ts AS DATE) AS event_date, e.event_type,
        |  CASE WHEN b.mx = b.mn THEN 0
        |       ELSE CAST(LEAST(127, FLOOR((e.value - b.mn) / ((b.mx - b.mn) / 128.0))) AS BIGINT)
        |  END AS bin,
        |  COUNT(*) AS c
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained histogram MV
      histogramMv(spark, dir)
        .select(col("event_date"), col("event_type"), col("bin"), col("c"))
        .orderBy("event_date", "event_type", "bin")
    },

    // ----- st16: streaming retention MV — q50's per-user condition vector
    // maintained ON the ingest stream. The anchor day is PINNED at MV
    // creation from a batch min(date) metadata pass (the st15 edge-pinning
    // pattern — the anchor is part of the MV definition, not re-derived per
    // batch, so late or replayed data can never move the cohort), broadcast
    // onto the stream as a 1-row static frame, and the four conditional
    // MAXes accumulate per user — order-independent, idempotent
    // (max of 0/1), so incremental == batch under any partitioning and any
    // micro-batch split. State is one fixed-width row per user; the gating
    // products r_k = c0·c_k are computed AT READ, so the state stays a plain
    // mergeable vector (the A8 State/Merge discipline).
    QueryDef.sql(
      "st16_streaming_retention",
      """WITH a AS (SELECT MIN(CAST(ts AS DATE)) AS a0 FROM events),
        |g AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 THEN 1 ELSE 0 END) AS c0,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 1 THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 3 THEN 1 ELSE 0 END) AS c3,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 7 THEN 1 ELSE 0 END) AS c7
        |  FROM events CROSS JOIN a GROUP BY user_id)
        |SELECT user_id, CAST(c0 AS BIGINT) AS r0,
        |  CAST(c0 * c1 AS BIGINT) AS r1, CAST(c0 * c3 AS BIGINT) AS r3,
        |  CAST(c0 * c7 AS BIGINT) AS r7
        |FROM g ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained retention MV: the gating products
      // r_k = c0·c_k are computed AT READ (the A8 State/Merge discipline)
      retentionMv(spark, dir)
        .select(col("user_id"), col("c0").as("r0"),
          (col("c0") * col("c1")).as("r1"),
          (col("c0") * col("c3")).as("r3"),
          (col("c0") * col("c7")).as("r7"))
        .orderBy("user_id")
    },

    // ----- st17: streaming decontamination firewall — dc02's bloom-gated
    // benchmark-overlap verdict maintained ON a documents ingest stream:
    // the bench side (an eval suite — static by definition) is built ONCE
    // at MV creation (distinct shingle set + Bloom blob, exactly dc02's
    // build via Decontam.benchShingleBloom — the st15/st16 pin-at-creation
    // pattern), the blob probes each arriving doc's shingles map-side
    // inside codegen, and only bloom survivors reach the broadcast
    // exact-confirm join — so false positives cost work, never results,
    // and the per-batch join input is bounded by overlap mass. Survivor
    // and non-survivor branches re-union before ONE aggregation (Spark
    // allows a single streaming agg), whose per-doc counts are
    // order-independent — incremental == batch, and the oracle is
    // dc02's bloom-free exact formulation verbatim.
    //
    // 100 TB shape: per-doc verdict state IS the MV being maintained (the
    // keyed-sink/update-mode form at scale; complete mode here keeps the
    // memory-sink harness). The self-union scans each micro-batch twice —
    // the foreachBatch persist-once form removes that at scale.
    QueryDef.sql(
      "st17_streaming_decontam",
      """WITH wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 <> 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(words) - 2, 1)),
        |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wc),
        |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 = 0),
        |shb AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(words) - 2, 1)),
        |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wb),
        |nc AS (SELECT doc_id, COUNT(*) AS ns FROM shc GROUP BY 1),
        |mt AS (SELECT c.doc_id, COUNT(*) AS m FROM shc c JOIN shb b ON c.s = b.s GROUP BY 1)
        |SELECT n.doc_id, CAST(n.ns AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(m.m, 0) AS BIGINT) AS n_matched,
        |  CAST(COALESCE(m.m, 0) AS DOUBLE) / n.ns AS overlap_frac,
        |  CAST(CASE WHEN CAST(COALESCE(m.m, 0) AS DOUBLE) / n.ns >= 0.3
        |       THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM nc n LEFT JOIN mt m ON n.doc_id = m.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained verdict MV
      decontamMv(spark, dir)
        .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_matched").cast("long").as("n_matched"),
          (col("n_matched").cast("double") / col("n_shingles")).as("overlap_frac"))
        .withColumn("contaminated",
          when(col("overlap_frac") >= 0.3, 1L).otherwise(0L))
        .orderBy("doc_id")
    },

    // ----- st18: streaming near-dup firewall — dd08's incremental
    // batch-vs-corpus probe with the batch side arriving as a STREAM,
    // making the "maintained corpus band index" of dd08's 100 TB posture
    // literal: the standing corpus's band index + signature table are
    // built once at MV creation (Dedup.corpusIndex — pin-at-creation,
    // like st15/st16/st17's static sides), each arriving doc computes its
    // MinHash signature via the ROW-LOCAL codegen kernel (no aggregation
    // spent on it), probes the index band-equi-keyed, and the single
    // streaming aggregation folds candidates to the best corpus match.
    // The no-match roster join happens on the materialized result.
    // Incremental == batch because per-doc max is order-free; the oracle
    // is dd08's verbatim.
    //
    // 100 TB shape: only the arriving batch shuffles (band-key equi join
    // against the bucketed index); per-batch state is one row per arriving
    // doc — the MV being built.
    QueryDef.sql(
      "st18_streaming_neardup_probe",
      s"""WITH ${graft.pipeline.Dedup.minhashCtes},
         |hits AS (SELECT
         |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS batch_id,
         |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id,
         |    est_jaccard
         |  FROM mest
         |  WHERE est_jaccard >= 0.5 AND (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
         |best AS (SELECT batch_id, corpus_id, est_jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY batch_id
         |      ORDER BY est_jaccard DESC, corpus_id) AS rn
         |  FROM hits)
         |SELECT d.doc_id,
         |  COALESCE(b.corpus_id, -1) AS matched_corpus_doc,
         |  COALESCE(b.est_jaccard, 0.0) AS est_jaccard,
         |  b.corpus_id IS NOT NULL AS is_dup
         |FROM documents d LEFT JOIN best b ON b.batch_id = d.doc_id AND b.rn = 1
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained probe MV; the no-match roster join runs
      // on the materialized result
      val res = neardupProbeMv(spark, dir)
      graft.Tables(spark, dir).documents.filter(col("doc_id") % 10 === 0)
        .select("doc_id")
        .join(res, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(-col("best.neg"), lit(-1L)).as("matched_corpus_doc"),
          coalesce(col("best.est"), lit(0.0)).as("est_jaccard"),
          col("best").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    },

    // ----- st19: streaming peak-concurrency MV — q55's maxIntersections
    // served from state maintained ON the ingest stream. The stream keeps
    // only per-(user, day) span endpoints (min/max — order-free mergeable
    // states, the st16 pattern), so incremental == batch by construction;
    // the sweep-line (net-delta collapse + DistributedRank prefix sum) runs
    // AT READ over the MV's |users × days| rows, never the event history.
    // Oracle: q55's formulation verbatim — the maintained spans are the
    // same min/max the batch pass computes.
    QueryDef.sql(
      "st19_streaming_concurrency",
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, MIN(ts) AS s, MAX(ts) AS e
        |  FROM events GROUP BY 1, 2 HAVING MIN(ts) < MAX(ts)),
        |pts AS (
        |  SELECT s AS ts, 1 AS delta FROM iv
        |  UNION ALL SELECT e AS ts, -1 AS delta FROM iv),
        |net AS (SELECT ts, CAST(SUM(delta) AS BIGINT) AS net FROM pts GROUP BY 1),
        |run AS (SELECT ts, SUM(net) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS conc FROM net),
        |mx AS (SELECT MAX(conc) AS mxc FROM run)
        |SELECT CAST(mx.mxc AS BIGINT) AS max_concurrency, MIN(run.ts) AS at_ts
        |FROM run, mx WHERE run.conc = mx.mxc
        |GROUP BY 1""".stripMargin,
    ) { (spark, dir) =>
      // serve read of the maintained span MV
      graft.operators.Analytics.peakFromSpans(concurrencyMv(spark, dir))
    },

    // ----- st20: the live timeline at chart width (r13 verdict item 3) —
    // the reference's per-minute last-hour endpoint (app_interactive.py:
    // 218–254) re-queries raw events per request; here the minute grain is
    // MAINTAINED on the ingest stream (timelineMv) and the serve read runs
    // lt01's LTTB downsample over the MV-sized input. Oracle: lt01's
    // verbatim — the maintained counts are the same per-(series, minute)
    // totals the batch pre-aggregation computes (order-independent state).
    QueryDef.sql(
      "st20_streaming_timeline",
      graft.operators.Lttb.TimelineOracle,
    ) { (spark, dir) =>
      // rebase the memory-sink read on a LogicalRDD leaf: the sink's table
      // plan is not a MultiInstanceRelation, so the downsample's internal
      // three-way self-join (mid ⋈ prev ⋈ next) can't deduplicate its
      // references and resolution fails; an RDD leaf re-instances cleanly.
      // Serve-scale input (series×minutes) — the conversion is noise.
      val mv = timelineMv(spark, dir)
      graft.operators.Lttb.serveTimeline(
        spark.createDataFrame(mv.rdd, mv.schema))
    },

    // ----- st21: streaming URL-dedup firewall (r14 verdict item 5) — ur01's
    // first-seen-wins canonical-URL dedup maintained ON the ingest stream
    // (urlDedupMv: per-canon_url min-struct state, order-free mergeable so
    // incremental == batch — see the MV scaladoc for why dropDuplicates
    // was rejected). The serve read unnests the kept row; oracle = ur01's
    // plant+canon CTEs verbatim with the keep filter applied.
    QueryDef.sql(
      "st21_streaming_url_dedup",
      s"""WITH ${graft.pipeline.UrlCuration.oracleCtes},
         |ranked AS (
         |  SELECT doc_id, url, canon_url, etld1,
         |    row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn,
         |    CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS url_dups
         |  FROM canon)
         |SELECT doc_id, url, canon_url, etld1, url_dups
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      urlDedupMv(spark, dir)
        .select(col("keep.doc_id").as("doc_id"), col("keep.url").as("url"),
          col("canon_url"), col("keep.etld1").as("etld1"),
          col("url_dups").cast("long").as("url_dups"))
        .orderBy("doc_id")
    },

    // ----- st03: gap-based sessionization via session_window (ST6 — the
    // true-session extension of the reference's fixed 30-min buckets; oracle
    // mirrors it with lag + running-sum island detection).
    QueryDef.sql(
      "st03_gap_sessions",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM x)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  COUNT(*) AS session_events
        |FROM y GROUP BY user_id, sess_no
        |ORDER BY user_id, session_start""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("session_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_events"))
        .orderBy("user_id", "session_start")
    },
  )
}
