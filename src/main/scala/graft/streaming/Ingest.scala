package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion paths (SURVEY.md §2.1 S3–S5, §2.9 ST1/ST8): the Spark
  * re-expression of the reference's data streamers
  * (stream_data.py / stream_data_realtime.py) and SSE change feed
  * (app_interactive.py:38–89).
  */
object Ingest {

  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** Synthetic event stream from the deterministic rate-micro-batch source —
    * the generator port (stream_data_realtime.py:95–160): each trigger emits
    * exactly `rowsPerBatch` events with monotonic ids, matching the testdata
    * events schema. Attribute derivation is pure hashing of the id, so any
    * two runs produce identical rows (no wall-clock, no RNG state).
    */
  def generatedEventStream(spark: SparkSession, rowsPerBatch: Int = 100): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", 1704067200000L) // 2024-01-01T00:00:00Z
      .option("advanceMillisPerBatch", 1000)    // 1 s of event time per batch
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(xxhash64(col("value")), lit(150)).as("user_id"),
        element_at(typedLit(eventTypes),
          (pmod(xxhash64(col("value"), lit(1)), lit(eventTypes.size)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("value"), lit(2)), lit(49000)).cast("double") / 100 + 0.01).as("value"),
        concat(lit("{\"k\": "),
          pmod(xxhash64(col("value"), lit(3)), lit(100)), lit("}")).as("props"))

  /** Watermarked per-minute aggregation over the generated stream — the
    * smallest end-to-end ingest→MV pipeline (ST2/ST3).
    */
  def generatedMinuteMv(spark: SparkSession, rowsPerBatch: Int = 100): DataFrame =
    generatedEventStream(spark, rowsPerBatch)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("events"), sum("value").as("total_value"))

  /** JSONEachRow batch ingestion (S2 — generate_data.py:44–59 posts
    * `INSERT ... FORMAT JSONEachRow` over HTTP): parse JSON-lines into the
    * typed events schema. `from_json` with an explicit schema — malformed
    * rows surface as nulls, never exceptions (columnar-safe at scale).
    */
  def fromJsonLines(spark: SparkSession, lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    lines.select(from_json(col("value").cast("string"), schema).as("e"))
      .select("e.*")
  }

  /** Stream-static enrichment: the streaming events joined to a broadcast
    * dimension (the streaming form of J9 dictionary lookup — stream side
    * never shuffles for the join).
    */
  def enrichedStream(spark: SparkSession, rowsPerBatch: Int, dim: DataFrame): DataFrame =
    generatedEventStream(spark, rowsPerBatch)
      .join(broadcast(dim), Seq("user_id"), "left")

  /** Change feed (S5/ST8): poll events with id > lastSeen, in id order,
    * bounded batch — the reference's SSE tail loop
    * (`WHERE event_id > $last ORDER BY event_id LIMIT 50`). The monotonic-id
    * predicate prunes via parquet column stats; at scale the sort is a
    * TakeOrderedAndProject, never a full sort. The SSE route asks for a
    * whole connection's worth at once (`limit` = 5,000) and serves every
    * connection's rounds from that buffer while the events files are
    * unchanged ([[graft.sql.HttpServing]]): `lastSeenId` is inlined into the
    * generated code, so each query with a new cursor compiles anew.
    */
  def changeFeed(spark: SparkSession, dir: String, lastSeenId: Long, limit: Int = 50): DataFrame =
    Tables(spark, dir).events
      .filter(col("event_id") > lastSeenId)
      .orderBy("event_id")
      .limit(limit)
}
