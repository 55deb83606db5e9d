package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: builds `sfN×factor` testdata from an
  * existing driver-generated sf directory by replicating every table
  * `factor`× with consistent key offsets — the standard replication scale-up
  * used when the original generator is not available (the driver generates
  * /root/testdata externally; TESTDATA.md documents no tool for it).
  *
  * Usage: `sbt "runMain graft.tools.GenScale <srcDir> <dstDir> <factor>"`
  * e.g.   `sbt "runMain graft.tools.GenScale /root/testdata/sf0.1 target/testdata/sf1 10"`
  *
  * Replication contract (what makes the copy faithful for scale testing):
  *   - every key domain is offset by `replica × stride` where stride =
  *     max(key)+1 in the source, and every FK uses its parent's stride — so
  *     join selectivities, group cardinalities per replica, and per-key
  *     basket sizes are IDENTICAL to the source; global cardinalities scale
  *     exactly ×factor. events.user_id uses the CUSTOMER stride (user_id ⊂
  *     c_custkey — MvCascade.scala:83).
  *   - region/nation are fixed enums (5/25 rows) and are copied verbatim,
  *     like TPC-H at every scale factor.
  *   - documents.text gets a per-replica AFFINE letter substitution (letters
  *     only, via `translate` — codegen'd, length-preserving): within a
  *     replica all shingle/fingerprint structure is preserved injectively, so
  *     planted near-dup groups replicate exactly ×factor, while cross-replica
  *     similarity collapses to ~0 — replication does NOT manufacture
  *     near-dup cliques that would inflate dd02/dd03 output superlinearly.
  *     (Rounds 1–7 used a pure Caesar rotation — period 26, so factor > 26
  *     silently repeated text and broke exactly this contract; the round-8
  *     sf10 drive caught it as dd02 going 9.5× on 3.3× data. The affine
  *     family has 312 members; the tool refuses factor > 312.)
  *   - embeddings get a per-replica deterministic SIGN FLIP per dimension
  *     (an orthogonal transform, pattern = xxhash64(replica, dim) — no short
  *     period): within-replica inner products are exactly preserved (planted
  *     neighbor structure intact), cross-replica cosines collapse toward 0.
  *     Same reasoning as the letter substitution, in vector space.
  *   - timestamps/dates/measures are left untouched: the time range stays
  *     fixed while per-day volume scales ×factor (the "same period, more
  *     traffic" reading of scale).
  *
  * Output layout matches the driver's: ONE parquet FILE per table at
  * `<dstDir>/<table>.parquet` (sys02's oracle and Layout assume it). Note
  * events.ts is written as naive TIMESTAMP(MICROS), the source's type, and
  * Tables.decodeEventsTs reads every stored `ts` type.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.session("graft-genscale", src,
      conf = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, factor)
    spark.stop()
  }

  private[tools] val alpha = "abcdefghijklmnopqrstuvwxyz"
  private val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Replica i's substitution alphabet: σ(k) = a·k + b mod 26 with
    * (a, b) = (coprime(i / 26), i % 26) — 312 pairwise-distinct permutations
    * (a coprime to 26 makes each σ a bijection; distinct (a, b) differ at
    * k = 0 or k = 1). i < 26 degenerates to the r1–r7 Caesar rotation, so
    * factor ≤ 26 scale-ups are byte-identical to earlier rounds'.
    */
  private[tools] def affine(i: Int): String = {
    val a = coprimes(i / 26)
    val b = i % 26
    (0 until 26).map(k => alpha((a * k + b) % 26)).mkString
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    val t = graft.Tables(spark, src)

    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custStride = strideOf(t.customer, "c_custkey")
    val suppStride = strideOf(t.supplier, "s_suppkey")
    val partStride = strideOf(t.part, "p_partkey")
    val orderStride = strideOf(t.orders, "o_orderkey")
    val eventStride = strideOf(t.events, "event_id")
    val docStride = strideOf(t.documents, "doc_id")
    val vecStride = strideOf(t.embeddings, "vec_id")

    /** Cross-join with the replica spine and offset the named keys. */
    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      val spine = spark.range(factor).select(col("id").as("__r"))
      val rep = df.crossJoin(broadcast(spine))
      offsets.foldLeft(rep) { case (d, (k, stride)) =>
        d.withColumn(k, col(k) + col("__r") * lit(stride))
      }
    }

    def write(df: DataFrame, table: String): Unit = {
      val tmp = s"$dst/__tmp_$table"
      // 1 MB row groups (default 128 MB): a single-FILE table is the layout
      // contract, but a single-ROW-GROUP table cannot be split — Spark
      // assigns a row group to the split holding its start, so every
      // map-side operator ran in ONE task however many cores the session
      // had (caught by px01's 4.4×-on-3× sf3 curve: a pure regex map op
      // gained nothing from 32 cores). The r8 fix set 8 MB, but
      // parquet.block.size bounds the writer's BUFFERED (encoded +
      // dictionary-compressed) bytes, and this corpus compresses ~15×:
      // documents at sf1 still came out as ONE row group and embeddings as
      // one even at sf3 (caught in r9 by tx05's 4.1×-on-3× isolated curve —
      // the regex map gained nothing from 32 cores, again). 1 MB buffered
      // ≈ the 8 MB-of-input granule actually intended, giving every table
      // at least ~cores splits from sf1 up. Real 100 TB tables have
      // thousands of row groups/files; this makes the scale-up data
      // splittable the way production data is (pairs with
      // maxPartitionBytes=8m in GraftSession).
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 1L * 1024 * 1024)
        .parquet(tmp)
      // single-file layout, like the driver's testdata
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val target = new org.apache.hadoop.fs.Path(s"$dst/$table.parquet")
      fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[genscale] wrote $target")
    }

    // dimensions fixed at every sf
    write(t.region, "region")
    write(t.nation, "nation")

    write(replicate(t.customer, Map("c_custkey" -> custStride)).drop("__r"), "customer")
    write(replicate(t.supplier, Map("s_suppkey" -> suppStride)).drop("__r"), "supplier")
    write(replicate(t.part, Map("p_partkey" -> partStride)).drop("__r"), "part")
    write(replicate(t.orders,
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride)).drop("__r"), "orders")
    write(replicate(t.lineitem,
      Map("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)).drop("__r"), "lineitem")
    // user_id ⊂ c_custkey: offset with the CUSTOMER stride so the subset
    // relation (and the user→country dimension join) survives replication.
    // ts is cast to TIMESTAMP_NTZ before writing: the source stores naive
    // TIMESTAMP(MICROS) and a plain TimestampType write would come out as
    // isAdjustedToUTC=true (TIMESTAMPTZ to DuckDB), changing the oracle's
    // column type; NTZ keeps both engines on naive timestamps. Session tz is
    // UTC, so the wall-clock values are byte-identical instants.
    write(replicate(t.events,
      Map("event_id" -> eventStride, "user_id" -> custStride))
      .withColumn("ts", col("ts").cast("timestamp_ntz")).drop("__r"), "events")

    // documents: per-replica AFFINE letter substitution σ(c) = a·c + b mod 26
    // with a coprime to 26 — 12×26 = 312 distinct permutations. The r1–r7
    // form was a pure Caesar rotation (a = 1): period 26, so at factor > 26
    // replicas i and i+26 carried IDENTICAL text and near-dup clusters
    // merged across replica groups — pair mass went QUADRATIC in the factor
    // and dd02's sf10 point read 9.5× on 3.3× data (the exact superlinear
    // clique inflation the scaladoc contract promises not to manufacture;
    // caught by the round-8 fourth-decade drive). Replica i maps to
    // (a, b) = (coprime(i / 26), i % 26); i < 26 keeps a = 1 — the original
    // rotation — so sf1-era data (factor ≤ 26) is byte-identical.
    require(factor <= 312, s"affine substitution family has 312 members; factor=$factor would repeat text")
    val docRep = replicate(t.documents, Map("doc_id" -> docStride))
    val substituted = (1 until factor).foldLeft(when(col("__r") === 0, col("text"))) {
      (acc, i) =>
        acc.when(col("__r") === i,
          translate(col("text"),
            alpha + alpha.toUpperCase,
            affine(i) + affine(i).toUpperCase))
    }
    write(docRep.withColumn("text", substituted)
      .select("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // embeddings: per-replica deterministic sign flip per dimension (see
    // scaladoc); replica 0 is the source verbatim
    val vecRep = replicate(t.embeddings, Map("vec_id" -> vecStride))
    write(vecRep.withColumn("embedding",
      expr("""transform(embedding, (x, p) ->
             |  CASE WHEN __r = 0 THEN x
             |       ELSE CAST(x * (CAST(pmod(xxhash64(__r, p), 2) AS INT) * 2 - 1) AS FLOAT)
             |  END)""".stripMargin))
      .select("vec_id", "embedding", "label"), "embeddings")
  }
}
