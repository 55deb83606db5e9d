package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft main and test suite runs
  * under. Callers that need an extra setting add a `.config` to the
  * returned builder before `getOrCreate()`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String, dataDir: String, cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Reducer count tracks data size: AQE starts every un-pinned shuffle
      // at input bytes/8 MB partitions (floor cpus, cap 1024) and coalesces
      // back by measured bytes. Fixed core-count reducers made q17's
      // near-no-reduction pair aggregate spill 62 GB at sf3 (SCALE.md §0c.1).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.Layout.initialPartitionsFor(dataDir, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // One catalog round compiles ~2 000 generated classes; the default
      // 100-entry cache made every re-run of an entry recompile every stage.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Split scans at row-group size (GenScale writes 8 MB groups): the
      // default 128 MB puts a whole single-file table in one task.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // Open-cost floor below the split target: the default 4 MB makes
      // maxSplitBytes = max(4m, bytesPerCore), so a well-compressed 22 MB
      // table yields only ~6 splits on 32 cores.
      .config("spark.sql.files.openCostInBytes", "1m")
      // All-pairs exact-baseline ceiling (dd05/ann01). A scale run that
      // deliberately wants the exact baselines raises it on the command line.
      .config(graft.pipeline.ExactBaseline.ConfKey,
        sys.env.getOrElse("SPARK_GRAFT_EXACT_MAXROWS",
          graft.pipeline.ExactBaseline.DefaultMaxRows.toString))
      .config(graft.streaming.StateStores.ConfKey,
        graft.streaming.StateStores.providerClass)
      // events.parquet may store `ts` as INT64 TIMESTAMP(NANOS), which the
      // vectorized reader rejects; read it as a long and let
      // Tables.decodeEventsTs rebuild the microsecond timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
