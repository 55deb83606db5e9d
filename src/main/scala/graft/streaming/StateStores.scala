package graft.streaming

/** Streaming state-store provider selection — RocksDB BY DEFAULT (r13
  * verdict item 2; shipped r14).
  *
  * Why: the maintained streaming MVs (st01–st19 family) carry state that
  * grows with the key domain — st19's per-(user, day) span rows are exactly
  * linear at 239 B/row on the default heap provider (r11, SCALE.md §0g.4) —
  * so at 100 TB the executor HEAP is the ceiling: every state row lives on
  * the JVM old gen and is rewritten into each checkpoint delta. The r11 A/B
  * measured RocksDB wall-neutral-or-better at every scale with ~8× smaller
  * resident state (native memory + SST files, incremental checkpoints), and
  * r14 re-measured it on the full 8-MV cascade (SCALE.md §0i). That is the
  * production posture for stateful streaming at scale; heap remains one env
  * var away for A/Bs and for the tiny-state local demos where provider
  * startup cost dominates.
  *
  * [[graft.GraftSession]], which builds every graft session (the mains and
  * the test suites), routes through [[providerClass]];
  * `SPARK_GRAFT_STATE_PROVIDER=heap`
  * forces the Spark default heap provider, `rocksdb` (or unset) the RocksDB
  * one.
  */
object StateStores {
  val ConfKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val Heap = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Short tag for artifacts/logs: "rocksdb" or "heap". */
  def providerTag: String = sys.env.get("SPARK_GRAFT_STATE_PROVIDER") match {
    case Some("heap") => "heap"
    case _            => "rocksdb"
  }

  def providerClass: String = if (providerTag == "heap") Heap else RocksDB

  /** Run `body` (which must START its streaming queries inside — the conf
    * is snapshotted per query at start) with `spark.sql.shuffle.partitions`
    * set to the data-derived stateful-stream count
    * ([[graft.sources.Layout.statePartitionsFor]]), restoring the session
    * value after. Stateful operators can't be AQE-coalesced, so the batch
    * side's core-count floor is pure per-partition store open/commit cost
    * on them (measured: halves an sf0.1 complete-mode run). Results are
    * unaffected: every state aggregate in the catalog is order-free
    * mergeable (count / sum(decimal) / min / max / min(struct)), and join /
    * dedup outputs are partitioning-independent row sets.
    */
  def withStatePartitions[T](spark: org.apache.spark.sql.SparkSession, dir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, graft.sources.Layout
      .statePartitionsFor(dir, spark.sparkContext.defaultParallelism).toString)
    try body finally spark.conf.set(key, prev)
  }
}
