package graft.streaming

/** Streaming state-store provider: RocksDB, with graft's file policy.
  *
  * The maintained streaming MVs carry state that grows with the key domain
  * (st19's per-(user, day) spans are linear at 239 B/row on the heap
  * provider), so at scale the executor heap is the ceiling. RocksDB measured
  * wall-neutral-or-better at every scale with ~8× smaller resident state
  * (native memory + SST files, incremental checkpoints; SCALE.md §0g.4,
  * §0i). [[graft.GraftSession]] sets [[providerClass]] on every session.
  * The state-partition count is set per run by [[StreamRunner]], on a
  * private session clone.
  *
  * The provider class carries the store's file policy into any session that
  * selects it: [[org.apache.spark.sql.graftbridge.LocalFilesStateStoreProvider]]
  * writes the store's zip, changelog and metadata files through
  * [[LocalCheckpointFileManager]] without forking a process, in
  * `StreamRunner`'s clones and in any other session alike (a harness that
  * copies [[ConfKey]] → [[providerClass]] gets it too).
  */
object StateStores {
  val ConfKey = "spark.sql.streaming.stateStore.providerClass"
  val providerClass: String =
    classOf[org.apache.spark.sql.graftbridge.LocalFilesStateStoreProvider].getName
}
