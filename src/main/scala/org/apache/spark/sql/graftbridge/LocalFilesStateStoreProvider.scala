package org.apache.spark.sql.graftbridge

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.execution.streaming.state.{KeyStateEncoderSpec, RocksDBStateStoreProvider,
  StateSchemaProvider, StateStoreConf, StateStoreId}
import org.apache.spark.sql.types.StructType

/** Spark's RocksDB state store, writing its checkpoint files through
  * [[LocalCheckpointFileManager]].
  *
  * RocksDB builds its file manager from the Hadoop conf handed to `init`;
  * with no manager named there it goes through `FileContext`, whose local
  * file system forks `readlink` and `chmod` for every zip, changelog and
  * metadata file a commit writes. This provider hands RocksDB a copy of that
  * conf naming graft's manager, so the store's files are written with
  * java.nio in every session that selects the provider, whatever the
  * session's own conf says. The session conf and the caller's Hadoop conf
  * are never written. (`RocksDBStateStoreProvider` is `private[sql]`, hence
  * this package.)
  */
class LocalFilesStateStoreProvider extends RocksDBStateStoreProvider {
  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    val files = new Configuration(hadoopConf)
    files.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    super.init(stateStoreId, keySchema, valueSchema, keyStateEncoderSpec, useColumnFamilies,
      storeConfs, files, useMultipleValuesPerKey, stateSchemaProvider)
  }
}
