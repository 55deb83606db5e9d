package graft.streaming

/** Streaming state-store provider: RocksDB.
  *
  * The maintained streaming MVs carry state that grows with the key domain
  * (st19's per-(user, day) spans are linear at 239 B/row on the heap
  * provider), so at scale the executor heap is the ceiling. RocksDB measured
  * wall-neutral-or-better at every scale with ~8× smaller resident state
  * (native memory + SST files, incremental checkpoints; SCALE.md §0g.4,
  * §0i). [[graft.GraftSession]] sets [[providerClass]] on every session.
  * The state-partition count is set per run by [[StreamRunner]], on a
  * private session clone.
  */
object StateStores {
  val ConfKey = "spark.sql.streaming.stateStore.providerClass"
  val providerClass = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
