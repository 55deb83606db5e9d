package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus subsampling and sequence packing — the selection stages of a
  * training-data pipeline after curation (CorpusPipeline) has decided what
  * is eligible.
  *
  * Both operators are deterministic integer arithmetic (Knuth multiplicative
  * hashing / running token sums), so they are fully oracle-checkable AND
  * reproducible across runs and engines — the property a training pipeline
  * needs from its sampling layer (re-running the job must select the same
  * corpus). No RNG state, no sampling-order dependence.
  */
object Sampling {

  // Knuth's multiplicative constant, applied MODULO-FIRST: (id mod M)·A ≡
  // id·A (mod M), and reducing the id before the multiply keeps the product
  // ≤ (M−1)·A — overflow-immune at ANY id, where the direct id·A form
  // silently wraps in Spark but RAISES in DuckDB for ids above ~3.47e9.
  // Since A ≡ 761 (mod 1000), a permille bucket is a fixed permutation of
  // id mod 1000: fractions are exact for any id population that covers the
  // residues evenly (sequential ids, hashes); a stride-1000-replicated id
  // family would need a pre-hash (xxhash64 on both engines).
  private val KnuthA = 2654435761L

  /** Knuth hash bucket of `id` in [0, m): the permille sampling and split
    * buckets (m = 1000) and the order-sampling uniforms (m = 2^20).
    */
  private[pipeline] def bucket(id: Column, m: Long = 1000L): Column =
    pmod(pmod(id, lit(m)) * KnuthA, lit(m))
  // oracle-side twin of bucket (ids are non-negative, so the inner
  // (x % m + m) % m wrap only defends hypothetical negative ids)
  private[pipeline] def bucketSql(id: String, m: Long = 1000L): String =
    s"((($id % $m + $m) % $m) * $KnuthA) % $m"

  /** sh01's epoch order over `docs` (which has a doc_id): its columns plus
    * the seeded md5 `shuffle_key`, the 1-based epoch `position` from
    * DistributedRank's global rank (no single-partition window) and the
    * round-robin `shard` of `shards`.
    */
  private[pipeline] def epochShuffled(docs: DataFrame, shards: Long): DataFrame = {
    val keyed = docs.withColumn("shuffle_key",
      md5(concat(lit("ep7:"), col("doc_id").cast("string")).cast("binary")))
    graft.operators.DistributedRank
      .withGlobalRank(keyed, "position", col("shuffle_key"), col("doc_id"))
      .withColumn("shard", pmod(col("position") - 1, lit(shards)).cast("long"))
      .withColumn("position", col("position").cast("long"))
  }
  // oracle twin of epochShuffled: a subquery of rel's columns plus
  // shuffle_key, position and shard
  private[pipeline] def epochShuffledSql(rel: String, shards: Int): String =
    s"""(SELECT *, (position - 1) % $shards AS shard FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS position FROM (
       |    SELECT *, md5('ep7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key FROM $rel)))""".stripMargin

  /** ex01's sink: `df` written as line-delimited JSON partitioned by `by`
    * (one directory per partition value, the layout a data loader maps to
    * workers), then read back with `schema` (data columns, then `by`), so a
    * result computed from the read-back witnesses the round trip.
    */
  private[pipeline] def exportedJsonl(df: DataFrame, tag: String, dir: String,
      schema: String, by: String*): DataFrame = {
    val out = s"target/export_${tag}_${math.abs(dir.hashCode)}"
    df.write.mode("overwrite").partitionBy(by: _*).json(out)
    df.sparkSession.read.schema(schema).json(out)
  }

  // per-language sampling rates in permille: downsample dominant languages,
  // keep the tail — class-balance reweighting by deterministic selection
  private val ratesPermille = Seq("en" -> 300, "de" -> 500, "es" -> 500,
    "fr" -> 500, "zh" -> 800)

  val defs: Seq[QueryDef] = Seq(

    // ----- spl01: stratified deterministic sampling — per-language rates
    // applied via a hash bucket on doc_id; same arithmetic on both engines.
    QueryDef.sql(
      "spl01_stratified_sample",
      s"""WITH b AS (
         |  SELECT doc_id, lang, ${bucketSql("doc_id")} AS bkt
         |  FROM documents),
         |r(lang, permille) AS (VALUES ${ratesPermille.map { case (l, p) => s"('$l', $p)" }.mkString(", ")})
         |SELECT b.doc_id, b.lang
         |FROM b JOIN r ON b.lang = r.lang
         |WHERE b.bkt < r.permille
         |ORDER BY b.doc_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val rates = ratesPermille.toDF("lang", "permille")
      Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), bucket(col("doc_id")).as("bkt"))
        .join(broadcast(rates), "lang")
        .filter(col("bkt") < col("permille"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ----- spl02: per-group reservoir-style sampling — N deterministic
    // "random" docs per language = top-N by the Knuth hash key, executed by
    // the TopKPerGroup custom operator (bounded heaps + map-side combine),
    // so the per-group selection never sorts a whole stratum. Deterministic
    // hash order ⇒ exact oracle, unlike a true reservoir's RNG.
    QueryDef.sql(
      "spl02_reservoir_per_group",
      s"""WITH b AS (
         |  SELECT doc_id, lang, ${bucketSql("doc_id")} AS bkt
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, bkt,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bkt DESC, doc_id) AS BIGINT) AS rnk
         |  FROM b)
         |SELECT lang, rnk, doc_id FROM r WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin,
    ) { (spark, dir) =>
      val b = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), bucket(col("doc_id")).as("bkt"))
      graft.plans.TopKPerGroup.topK(b, Seq("lang"), "bkt", "doc_id", 5)
        .select(col("lang"), col("rnk"), col("doc_id"))
        .orderBy("lang", "rnk")
    },

    // ----- ck01: sliding-window document chunking — split each document into
    // 30-word chunks with 10-word overlap (stride 20), the
    // context-window-preparation step between curation and packing. One
    // codegen'd Generate per document (sequence + explode), chunk text via
    // slice — map-side only, no shuffle except the final ORDER BY; chunk
    // count and boundaries are pure integer arithmetic on both engines.
    QueryDef.sql(
      "ck01_doc_chunking",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, words, len(words) AS n,
        |    UNNEST(generate_series(0, (len(words) + 19) // 20 - 1)) AS i
        |  FROM w)
        |SELECT doc_id, CAST(i + 1 AS BIGINT) AS chunk_id,
        |  CAST(least(30, n - i * 20) AS BIGINT) AS chunk_words,
        |  array_to_string(words[i * 20 + 1 : i * 20 + 30], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"), col("words"), size(col("words")).as("n"),
          explode(sequence(lit(0), expr("(size(words) + 19) div 20") .cast("int") - 1)).as("i"))
        .select(col("doc_id"),
          (col("i") + 1).cast("long").as("chunk_id"),
          least(lit(30), col("n") - col("i") * 20).cast("long").as("chunk_words"),
          concat_ws(" ", slice(col("words"), col("i") * 20 + 1, lit(30))).as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // ----- pk01: token-budget sequence packing — assign documents (in
    // deterministic doc_id order) to consecutive shards of ≤ 4096 tokens:
    // shard = floor(tokens_before_this_doc / 4096). The running sum is
    // DistributedRank.withRunningTotal — range partitions + broadcast prefix
    // offsets, NO single-partition window (the oracle's global window is the
    // semantics spec, not the plan).
    QueryDef.sql(
      "pk01_token_packing",
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(tokens_before // 4096 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir).documents
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.DistributedRank
        .withRunningTotal(t, "cum_tokens", "n_tokens", col("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          floor((col("cum_tokens") - col("n_tokens")) / 4096).cast("long").as("shard"))
        .orderBy("doc_id")
    },

    // ----- mx01: temperature-resampled domain mixture — the data-mixing
    // stage of a pretraining pipeline (mT5 §3.2 / XLM-R style: domain weight
    // ∝ tokens^α with α = 0.5, so low-resource domains are boosted relative
    // to their share). Per-source token mass → w_d = sqrt(tokens_d) →
    // a half-total token budget split ∝ w_d → per-domain permille rate
    // (clamped at 1000: no upsampling here — at a real corpus the >1000
    // case becomes an integer repeat factor) → the same Knuth hash bucket
    // as spl01 selects the docs. Everything is derived from the data
    // (no fixed weights) and the one float fold (Σ sqrt) is order-pinned
    // (sorted by source, left fold) so DuckDB replays it bit-identically.
    //
    // 100 TB shape: two map-side token-count scans + one tiny per-source
    // aggregate (|domains| rows — broadcast back); the selection filter is
    // map-side codegen. No shuffle grows with corpus size.
    QueryDef.sql(
      "mx01_domain_mixture",
      s"""WITH d AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS toks FROM documents),
         |per AS (
         |  SELECT source, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
         |  FROM d GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source)), (s1, v) -> s1 + v) AS sumw
         |  FROM per),
         |r AS (
         |  SELECT per.source, per.docs, per.tokens,
         |    LEAST(1000, CAST(FLOOR(500.0 * total_tokens
         |      / (sumw * sqrt(CAST(tokens AS DOUBLE)))) AS BIGINT)) AS permille
         |  FROM per, tot),
         |s AS (
         |  SELECT d.source, COUNT(*) AS sampled_docs, CAST(SUM(d.toks) AS BIGINT) AS sampled_tokens
         |  FROM d JOIN r ON d.source = r.source
         |  WHERE ${bucketSql("d.doc_id")} < r.permille
         |  GROUP BY 1)
         |SELECT r.source, r.docs, r.tokens, r.permille,
         |  COALESCE(s.sampled_docs, 0) AS sampled_docs,
         |  COALESCE(s.sampled_tokens, 0) AS sampled_tokens
         |FROM r LEFT JOIN s ON r.source = s.source
         |ORDER BY r.source""".stripMargin,
    ) { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("toks"))
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("docs"), sum("toks").cast("long").as("tokens"))
      val tot = per.agg(
        sum("tokens").cast("long").as("total_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("source"),
            sqrt(col("tokens").cast("double")).as("w")))), x => x.getField("w")),
          lit(0.0), (s, v) => s + v).as("sumw"))
      val r = per.crossJoin(broadcast(tot))
        .select(col("source"), col("docs"), col("tokens"),
          least(lit(1000L), floor(lit(500.0) * col("total_tokens")
            / (col("sumw") * sqrt(col("tokens").cast("double")))).cast("long")).as("permille"))
      val s = d.join(broadcast(r.select("source", "permille")), "source")
        .filter(bucket(col("doc_id")) < col("permille"))
        .groupBy("source")
        .agg(count(lit(1)).as("sampled_docs"), sum("toks").cast("long").as("sampled_tokens"))
      r.join(s, Seq("source"), "left")
        .select(col("source"), col("docs"), col("tokens"), col("permille"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("source")
    },

    // ----- mx02: cluster-balanced mixture — mx01's temperature resampling
    // (α = 0.5, weight ∝ √tokens) grouped by SEMANTIC cluster (km01's
    // one-Lloyd-round assignment over the embeddings) instead of provenance.
    // Flattens topic skew rather than source skew — the follow-up mixing
    // step once SemDeDup-style clustering exists (source labels say where
    // data came from; clusters say what it is). Selection is the same
    // deterministic Knuth-hash permille gate, so the roster is reproducible
    // on any engine.
    //
    // 100 TB shape: the assignment is km01's (linear: n·K cosines against
    // broadcast centroids); doc↔vector is one id-keyed equi-join (bucketed
    // storage co-locates it in production); everything after is per-cluster
    // metadata (K rows) broadcast back over the corpus — no corpus-sized
    // window, no driver collect.
    //
    // doc_id = vec_id is the testdata's doc↔embedding association (1:1 at
    // sf0.01); where the tables' cardinalities differ (sf0.1: 5 k docs, 2 k
    // vectors) the inner join keeps exactly the embedded documents — the
    // oracle replays the same join, so the roster is identical by
    // construction at every scale.
    QueryDef.sql(
      "mx02_cluster_mixture",
      s"""WITH ${Clustering.km01Ctes},
         |d AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS toks FROM documents),
         |dc AS (
         |  SELECT d.doc_id, a.cluster, d.toks
         |  FROM d JOIN asg a ON a.vec_id = d.doc_id),
         |per AS (
         |  SELECT cluster, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
         |  FROM dc GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY cluster)), (s1, v) -> s1 + v) AS sumw
         |  FROM per),
         |r AS (
         |  SELECT per.cluster, per.docs, per.tokens,
         |    LEAST(1000, CAST(FLOOR(500.0 * total_tokens
         |      / (sumw * sqrt(CAST(tokens AS DOUBLE)))) AS BIGINT)) AS permille
         |  FROM per, tot),
         |s AS (
         |  SELECT dc.cluster, COUNT(*) AS sampled_docs, CAST(SUM(dc.toks) AS BIGINT) AS sampled_tokens
         |  FROM dc JOIN r ON dc.cluster = r.cluster
         |  WHERE ${bucketSql("dc.doc_id")} < r.permille
         |  GROUP BY 1)
         |SELECT r.cluster, r.docs, r.tokens, r.permille,
         |  COALESCE(s.sampled_docs, 0) AS sampled_docs,
         |  COALESCE(s.sampled_tokens, 0) AS sampled_tokens
         |FROM r LEFT JOIN s ON r.cluster = s.cluster
         |ORDER BY r.cluster""".stripMargin,
    ) { (spark, dir) =>
      val asg = Clustering.kmeansAssign(spark, dir).select(col("vec_id"), col("cluster"))
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), size(split(col("text"), " ")).as("toks"))
      val dc = d.join(asg, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("cluster"), col("toks"))
      val per = dc.groupBy("cluster")
        .agg(count(lit(1)).as("docs"), sum("toks").cast("long").as("tokens"))
      val tot = per.agg(
        sum("tokens").cast("long").as("total_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("cluster"),
            sqrt(col("tokens").cast("double")).as("w")))), x => x.getField("w")),
          lit(0.0), (s, v) => s + v).as("sumw"))
      val r = per.crossJoin(broadcast(tot))
        .select(col("cluster"), col("docs"), col("tokens"),
          least(lit(1000L), floor(lit(500.0) * col("total_tokens")
            / (col("sumw") * sqrt(col("tokens").cast("double")))).cast("long")).as("permille"))
      val s = dc.join(broadcast(r.select("cluster", "permille")), "cluster")
        .filter(bucket(col("doc_id")) < col("permille"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("sampled_docs"), sum("toks").cast("long").as("sampled_tokens"))
      r.join(s, Seq("cluster"), "left")
        .select(col("cluster"), col("docs"), col("tokens"), col("permille"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("cluster")
    },

    // ----- spl03: size-weighted πps sampling (sequential Poisson sampling,
    // Ohlsson 1998 — the order-sampling scheme statistics offices use for
    // probability-proportional-to-size draws): each doc gets a deterministic
    // pseudo-uniform u from the Knuth hash, a rank u/w with w = its token
    // count, and the n smallest ranks are the sample — heavier documents
    // draw proportionally smaller ranks, so inclusion probability tracks
    // size WITHOUT an RNG (re-running selects the identical sample on any
    // engine; the rank is one exact integer division). The "take n smallest"
    // is a TakeOrderedAndProject (bounded per-partition heaps + driver merge
    // of n rows), not a global sort.
    QueryDef.sql(
      "spl03_weighted_sample",
      s"""WITH k AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    ${bucketSql("doc_id", 1048576L)} AS u
         |  FROM documents)
         |SELECT doc_id, lang, toks,
         |  CAST(u + 1 AS DOUBLE) / toks AS rank
         |FROM k ORDER BY rank, doc_id LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          bucket(col("doc_id"), 1048576L).as("u"))
        .select(col("doc_id"), col("lang"), col("toks"),
          ((col("u") + 1L).cast("double") / col("toks")).as("rank"))
        .orderBy("rank", "doc_id").limit(100)
    },

    // ----- sh01: deterministic epoch shuffle + round-robin sharding — the
    // final ordering stage of a training-data pipeline: every epoch the
    // corpus is re-ordered by a seeded hash (md5 of "ep<seed>:"+doc_id —
    // identical hex on any engine) and dealt into shards. The global
    // position comes from DistributedRank.withGlobalRank (range partitions
    // + broadcast prefix offsets), so there is NO single-partition window
    // anywhere in the plan — the oracle's ROW_NUMBER() OVER (ORDER BY ...)
    // is the semantics spec, not the plan. Re-running with the same seed
    // reproduces the identical order on any cluster size.
    QueryDef.sql(
      "sh01_epoch_shuffle",
      s"""SELECT doc_id, shuffle_key, CAST(position AS BIGINT) AS position,
         |  CAST(shard AS BIGINT) AS shard
         |FROM ${epochShuffledSql("(SELECT doc_id FROM documents)", 8)}
         |ORDER BY position""".stripMargin,
    ) { (spark, dir) =>
      epochShuffled(Tables(spark, dir).documents.select(col("doc_id")), 8L)
        .select("doc_id", "shuffle_key", "position", "shard")
        .orderBy("position")
    },

    // ----- ex01: sharded training-data EXPORT — the sink a trainer actually
    // consumes: sh01's epoch order dealt into 8 shards, written as
    // line-delimited JSON partitioned BY shard (`partitionBy` → one
    // directory per shard, the layout a data-loader maps to workers), then
    // read back with an explicit schema. The entry's result is the per-shard
    // roster (docs, chars) computed FROM THE READ-BACK — so the hash match
    // proves the export round trip (writer + JSON codec + partition layout
    // + reader), not just the shard arithmetic. The oracle derives the same
    // roster from the md5 order directly. At 100 TB: the write is one
    // shuffle-free pass (shard is a column, partitionBy splits files
    // map-side); text round-trips JSON-escaped per line, the standard
    // trainer interchange.
    QueryDef.sql(
      "ex01_sharded_export",
      s"""SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
         |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
         |FROM ${epochShuffledSql("(SELECT doc_id, text FROM documents)", 8)}
         |GROUP BY shard ORDER BY shard""".stripMargin,
    ) { (spark, dir) =>
      val sharded = epochShuffled(Tables(spark, dir).documents.select("doc_id", "text"), 8L)
        .select("doc_id", "text", "shard")
      exportedJsonl(sharded, "ep7", dir, "doc_id BIGINT, text STRING, shard BIGINT", "shard")
        .groupBy("shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          min("doc_id").cast("long").as("min_doc"),
          max("doc_id").cast("long").as("max_doc"))
        .orderBy("shard")
    },

    // ----- mx03: upsampling WITH REPLACEMENT — the >1000‰ branch mx01
    // clamps away (its comment: "the >1000 case becomes an integer repeat
    // factor"). Budget = the FULL token total split ∝ √tokens (α = 0.5), so
    // low-resource sources land ABOVE 1000‰ (integer repeat copies + a
    // fractional remainder drawn by the deterministic Knuth bucket) and
    // high-resource sources below it (plain downsample) — exactly the
    // domain-repetition recipe pretraining mixes use. Copies are emitted
    // as real rows (explode over sequence(1, n_copies)); rerunning deals
    // the identical corpus. The Σ√tokens fold is order-pinned (sorted by
    // source, left fold) as in mx01, so both engines derive the same rate
    // doubles and hence the same integer repeats.
    //
    // 100 TB shape: per-source rates are a |domains|-row broadcast; the
    // copy explode is map-side with fan-out = the repeat factor (bounded by
    // the mixing recipe, not the data); nothing shuffles except the final
    // per-source audit aggregate.
    QueryDef.sql(
      "mx03_upsample_repeat",
      s"""WITH d AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS toks FROM documents),
         |per AS (
         |  SELECT source, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
         |  FROM d GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source)), (s1, v) -> s1 + v) AS sumw
         |  FROM per),
         |r AS (
         |  SELECT per.source, per.docs, per.tokens,
         |    1000.0 * total_tokens / (sumw * sqrt(CAST(tokens AS DOUBLE))) AS rate
         |  FROM per, tot),
         |c AS (
         |  SELECT d.doc_id, d.source, d.toks,
         |    CAST(FLOOR(r.rate / 1000) AS BIGINT)
         |      + CASE WHEN ${bucketSql("d.doc_id")}
         |               < r.rate - 1000 * FLOOR(r.rate / 1000) THEN 1 ELSE 0 END AS n_copies
         |  FROM d JOIN r ON d.source = r.source),
         |e AS (
         |  SELECT c.source, c.toks FROM c, UNNEST(generate_series(1, c.n_copies)) g(i)
         |  WHERE c.n_copies >= 1)
         |SELECT r.source, CAST(r.docs AS BIGINT) AS docs, r.tokens,
         |  CAST(FLOOR(r.rate) AS BIGINT) AS rate_permille,
         |  CAST(COALESCE(e.emitted_docs, 0) AS BIGINT) AS emitted_docs,
         |  CAST(COALESCE(e.emitted_tokens, 0) AS BIGINT) AS emitted_tokens
         |FROM r LEFT JOIN (
         |  SELECT source, COUNT(*) AS emitted_docs, SUM(toks) AS emitted_tokens
         |  FROM e GROUP BY 1) e ON r.source = e.source
         |ORDER BY r.source""".stripMargin,
    ) { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("toks"))
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("docs"), sum("toks").cast("long").as("tokens"))
      val tot = per.agg(
        sum("tokens").cast("long").as("total_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("source"),
            sqrt(col("tokens").cast("double")).as("w")))), x => x.getField("w")),
          lit(0.0), (s, v) => s + v).as("sumw"))
      val r = per.crossJoin(broadcast(tot))
        .select(col("source"), col("docs").cast("long").as("docs"), col("tokens"),
          (lit(1000.0) * col("total_tokens")
            / (col("sumw") * sqrt(col("tokens").cast("double")))).as("rate"))
      val rates = broadcast(r.select("source", "rate"))
      val copies = d.join(rates, "source")
        .select(col("source"), col("toks"),
          (floor(col("rate") / 1000).cast("long") +
            when(bucket(col("doc_id")) < col("rate") - lit(1000d) * floor(col("rate") / 1000), 1L)
              .otherwise(0L)).as("n_copies"))
      val emitted = copies.filter(col("n_copies") >= 1L)
        .select(col("source"), col("toks"),
          explode(sequence(lit(1L), col("n_copies"))).as("i"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("emitted_docs"),
          sum("toks").cast("long").as("emitted_tokens"))
      r.join(emitted, Seq("source"), "left")
        .select(col("source"), col("docs"), col("tokens"),
          floor(col("rate")).cast("long").as("rate_permille"),
          coalesce(col("emitted_docs"), lit(0L)).as("emitted_docs"),
          coalesce(col("emitted_tokens"), lit(0L)).as("emitted_tokens"))
        .orderBy("source")
    },
  )
}
