package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StateStoresSpec extends SparkSpec {

  private def classesOnStack(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)

  test("a session that selects graft's provider commits state without forking; a restart gives the batch answer") {
    import spark.implicits._
    // the session names the provider and nothing else: no StreamRunner clone,
    // no checkpoint file manager in its conf
    assert(spark.conf.get(StateStores.ConfKey) == StateStores.providerClass)
    assert(spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
    val src = Files.createTempDirectory("graft_store_src").toString
    val ckpt = Files.createTempDirectory("graft_store_ckpt").toString
    val first = (1L to 300L).map(i => (i, s"k${i % 7}", i * 3))
    val second = (301L to 420L).map(i => (i, s"k${i % 11}", i * 5))
    def agg(df: DataFrame) = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val schema = first.toDF("id", "k", "v").schema
    def runOnce(): Set[Seq[Any]] = {
      val q = agg(spark.readStream.schema(schema).parquet(src))
        .writeStream.outputMode("complete").format("memory").queryName("state_store_probe")
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      rows(spark.table("state_store_probe"))
    }

    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val (afterFirst, restarted) = try {
      // a process this test starts itself: the recording sees process starts
      new ProcessBuilder("true").start().waitFor()
      first.toDF("id", "k", "v").coalesce(1).write.mode("append").parquet(src)
      val a = runOnce()
      // the second file arrives after the stop; only the checkpointed state
      // carries the first file's counts into the restarted query
      second.toDF("id", "k", "v").coalesce(1).write.mode("append").parquet(src)
      (a, runOnce())
    } finally recording.stop()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    try recording.dump(jfr) finally recording.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")

    assert(starts.exists(classesOnStack(_).contains(getClass.getName)),
      s"the recording missed this test's own process start (${starts.size} recorded)")
    // a process a checkpoint file manager started for the store: from a
    // RocksDB frame, or for a file the store keeps in a partition directory
    // (`state/<operator>/<partition>/`, but not the operator's schema under
    // its `_metadata`, written when the query plans the operator). The
    // second matters: the checksummed stream a zip is written through
    // closes it on a pool thread, whose stack holds no RocksDB frame.
    val partitionFile = """/state/\d+/\d+/(?!_metadata)""".r.unanchored
    val fromStore = starts.filter { e =>
      val classes = classesOnStack(e)
      classes.exists(_.contains("CheckpointFileManager")) &&
        (classes.exists(_.contains("RocksDB")) || partitionFile.matches(e.getString("command")))
    }
    assert(fromStore.isEmpty, s"${fromStore.size} of ${starts.size} process starts came from " +
      s"state-store checkpoint files, e.g. ${fromStore.headOption.map(_.getString("command")).orNull}")

    assert(afterFirst == rows(agg(first.toDF("id", "k", "v"))))
    assert(restarted == rows(agg((first ++ second).toDF("id", "k", "v"))))
    // the store committed a version per run, as zip files without the
    // hidden `.name.crc` side files of Hadoop's checksummed local file system
    val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(stateFiles.count(_.endsWith(".zip")) >= 2, stateFiles)
    assert(!stateFiles.exists(n => n.startsWith(".") && n.endsWith(".zip.crc")), stateFiles)
  }
}
