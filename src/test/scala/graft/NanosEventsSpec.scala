package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampType

/** events.parquet with `ts` as INT64 TIMESTAMP(NANOS) — the physical type
  * FIXTURES.md lists for the driver's data. The session reads it as a long
  * (`nanosAsLong`, set once by GraftSession) and both readers rebuild µs
  * timestamps from it.
  */
class NanosEventsSpec extends SparkSpec {

  // 2024-01-01T00:00:00, 2024-01-02T01:01:01.123456, 2024-01-31T23:59:59.999999 UTC
  private val micros = Seq(1704067200000000L, 1704157261123456L, 1706745599999999L)

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message schema {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      writer.write(rows.newGroup()
        .append("event_id", i.toLong)
        .append("ts", us * 1000L)
        .append("user_id", 7L)
        .append("event_type", "view")
        .append("value", 1.5)
        .append("props", "{}"))
    } finally writer.close()
    d
  }

  private def tsMicros(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    assert(df.schema("ts").dataType == TimestampType)
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
  }

  test("Tables.events rebuilds µs timestamps from a NANOS column") {
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(tsMicros(Tables(spark, dir).events) == micros)
  }

  test("StreamingMVs.eventsStream rebuilds µs timestamps from a NANOS column") {
    val q = graft.streaming.StreamingMVs.eventsStream(spark, dir)
      .writeStream.format("memory").queryName("nanos_events")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      assert(tsMicros(spark.table("nanos_events")) == micros)
    } finally q.stop()
  }
}
