package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive result digests: the row count plus the sum, modulo
  * 2^64, of one 64-bit hash per row. Columns are taken in name order, the
  * same normalisation the oracle check applies.
  */
object Digest {
  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private val Mod = BigInt(1) << 64

  private def fold(hashes: Iterator[Long]): Value = {
    var n = 0L
    var sum = BigInt(0)
    hashes.foreach { h => n += 1; sum += BigInt(h) }
    Value(n, sum.mod(Mod).toString(16))
  }

  /** Digest of a DataFrame, computed in Spark (each row hashed as the JSON
    * of its name-ordered columns, which also covers map and nested types).
    */
  def of(df: DataFrame): Value = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val total = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
    Value(r.getLong(0), total.mod(Mod).toString(16))
  }

  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** Digest of a JSON array body: each element re-serialised with sorted
    * keys and hashed, so that neither row order nor key order matters.
    */
  def ofJsonArray(body: String): Value = {
    val arr = mapper.readTree(body)
    require(arr.isArray, "body is not a JSON array")
    fold(arr.elements().asScala.map { node =>
      val canon = mapper.writeValueAsString(mapper.treeToValue(node, classOf[Object]))
      rowHash(canon)
    })
  }

  def rowHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

}
