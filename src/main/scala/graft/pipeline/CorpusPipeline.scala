package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition the individual operators
  * exist for: a training-data pipeline that takes the raw document table
  * through quality filtering, exact and near-dup removal, language selection,
  * and shard assignment, reporting per-stage survival counts and the final
  * token budget.
  *
  * Every stage is one of the already-tested operators (tx02 quality signals,
  * dd01 exact dedup, dd03 MinHash-LSH near-dup, tx01-style language gate);
  * the pipeline itself is pure DataFrame composition — at 100 TB each stage
  * is a pruned scan or a blocking-bounded join, and the stage stats come from
  * metadata-scale aggregates.
  *
  * Verification split: the MinHash near-dup stage is the only non-SQL-
  * expressible link, so pp01 (full pipeline incl. near-dup) is rows-only
  * while pp02 runs the same pipeline minus near-dup and is hash-checked
  * against a DuckDB CTE chain stage by stage.
  */
object CorpusPipeline {

  final case class StageResult(name: String, kept: DataFrame)

  private val keptLangs = Seq("en", "de", "es", "fr", "zh")

  /** Deterministic stages 0–2: raw → quality gate → exact dedup. */
  def baseStages(spark: SparkSession, dir: String): Seq[StageResult] = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))

    // 1. quality gate: length + type-token-ratio floor (tx02 signals)
    val words = split(col("text"), " ")
    val quality = docs
      .withColumn("n_words", size(words))
      .withColumn("ttr", size(array_distinct(words)).cast("double") / size(words))
      .filter(col("n_words") >= 10 && col("ttr") >= 0.2)
      .drop("n_words", "ttr")

    // 2. exact dedup: keep min doc_id per identical text (dd01)
    val keep = quality.groupBy("text").agg(min("doc_id").as("keeper"))
    val exact = quality.join(keep, "text").filter(col("doc_id") === col("keeper")).drop("keeper")

    Seq(
      StageResult("0_raw", docs),
      StageResult("1_quality", quality),
      StageResult("2_exact_dedup", exact),
    )
  }

  /** Language gate: keep the languages with enough surviving mass. */
  def langGate(df: DataFrame): DataFrame =
    df.filter(col("lang").isin(keptLangs: _*))

  /** Full pipeline incl. the MinHash-LSH near-dup stage (pp01). */
  def stages(spark: SparkSession, dir: String): Seq[StageResult] = {
    val base = baseStages(spark, dir)
    val exact = base.last.kept

    // 3. near-dup removal: drop the higher doc_id of every MinHash-LSH pair (dd03)
    val nearPairs = Dedup.minhashPairs(spark, dir, threshold = 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = exact.join(nearPairs, Seq("doc_id"), "left_anti")

    base ++ Seq(
      StageResult("3_near_dedup", nearDeduped),
      StageResult("4_language", langGate(nearDeduped)),
    )
  }

  /** Per-stage survival counts + token budget, then shard fan-out of the
    * final stage. Stage stats are metadata-scale aggregates (one row each).
    */
  private def report(st: Seq[StageResult], shardPrefix: String): DataFrame = {
    val stageStats = st.map { s =>
      s.kept.agg(
        count(lit(1)).as("docs"),
        coalesce(sum(size(split(col("text"), " "))), lit(0)).cast("long").as("tokens"))
        .select(lit(s.name).as("stage"), col("docs"), col("tokens"))
    }.reduce(_ unionByName _)
    val shards = st.last.kept
      .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("long"))
      .groupBy("shard").agg(count(lit(1)).as("docs"))
      .select(concat(lit(shardPrefix), col("shard")).as("stage"),
        col("docs"), lit(null).cast("long").as("tokens"))
    stageStats.unionByName(shards).orderBy("stage")
  }

  val defs: Seq[QueryDef] = Seq(
    // ----- pp01: full pipeline. The near-dup stage is dd03's MinHash-LSH
    // chain, which is now portable integer arithmetic — the oracle replays
    // it (Dedup.minhashCtes) and composes the same stage CTEs as pp02.
    // CorpusPipelineSpec asserts the monotone-survival invariant.
    QueryDef.sql(
      "pp01_corpus_pipeline",
      s"""WITH ${Dedup.minhashCtes},
         |dup AS (SELECT DISTINCT doc_b AS doc_id FROM mest WHERE est_jaccard >= 0.5),
         |raw AS (
         |  SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_words,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         |quality AS (SELECT * FROM raw WHERE n_words >= 10 AND ttr >= 0.2),
         |exact AS (
         |  SELECT q.* FROM quality q
         |  JOIN (SELECT text, MIN(doc_id) AS keeper FROM quality GROUP BY text) k
         |    ON q.text = k.text AND q.doc_id = k.keeper),
         |near AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
         |langk AS (SELECT * FROM near WHERE lang IN ('en','de','es','fr','zh')),
         |stats AS (
         |  SELECT '0_raw' AS stage, COUNT(*) AS docs, COALESCE(SUM(n_words), 0) AS tokens FROM raw
         |  UNION ALL SELECT '1_quality', COUNT(*), COALESCE(SUM(n_words), 0) FROM quality
         |  UNION ALL SELECT '2_exact_dedup', COUNT(*), COALESCE(SUM(n_words), 0) FROM exact
         |  UNION ALL SELECT '3_near_dedup', COUNT(*), COALESCE(SUM(n_words), 0) FROM near
         |  UNION ALL SELECT '4_language', COUNT(*), COALESCE(SUM(n_words), 0) FROM langk
         |  UNION ALL SELECT '5_shard_' || CAST(doc_id % 8 AS VARCHAR), COUNT(*), NULL
         |  FROM langk GROUP BY 1)
         |SELECT stage, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens
         |FROM stats ORDER BY stage""".stripMargin,
    ) { (spark, dir) =>
      report(stages(spark, dir), shardPrefix = "5_shard_")
    },

    // ----- pp02: the deterministic sub-pipeline (quality → exact-dedup →
    // language → shards), hash-checked stage by stage against a DuckDB CTE
    // chain — closes the oracle gap VERDICT r1 flagged for pp01.
    QueryDef.sql(
      "pp02_corpus_stages_checked",
      """WITH raw AS (
        |  SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS ttr
        |  FROM documents),
        |quality AS (SELECT * FROM raw WHERE n_words >= 10 AND ttr >= 0.2),
        |exact AS (
        |  SELECT q.* FROM quality q
        |  JOIN (SELECT text, MIN(doc_id) AS keeper FROM quality GROUP BY text) k
        |    ON q.text = k.text AND q.doc_id = k.keeper),
        |langk AS (SELECT * FROM exact WHERE lang IN ('en','de','es','fr','zh')),
        |stats AS (
        |  SELECT '0_raw' AS stage, COUNT(*) AS docs, COALESCE(SUM(n_words), 0) AS tokens FROM raw
        |  UNION ALL SELECT '1_quality', COUNT(*), COALESCE(SUM(n_words), 0) FROM quality
        |  UNION ALL SELECT '2_exact_dedup', COUNT(*), COALESCE(SUM(n_words), 0) FROM exact
        |  UNION ALL SELECT '3_language', COUNT(*), COALESCE(SUM(n_words), 0) FROM langk
        |  UNION ALL SELECT '4_shard_' || CAST(doc_id % 8 AS VARCHAR), COUNT(*), NULL
        |  FROM langk GROUP BY 1)
        |SELECT stage, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens
        |FROM stats ORDER BY stage""".stripMargin,
    ) { (spark, dir) =>
      val base = baseStages(spark, dir)
      val st = base :+ StageResult("3_language", langGate(base.last.kept))
      report(st, shardPrefix = "4_shard_")
    },

    // ----- pp03: the round-8 curation stages CHAINED — each stage's real
    // DataFrame feeds the next (redact → quality-gate → segment-dedup →
    // LM-score → token-budget select → leakage-safe split → epoch shuffle →
    // sharded JSONL export), with ONE oracle over the final per-(split,
    // shard) roster. The per-stage entries (px01, qf01, dd09, lm01, sel01,
    // sp01, sh01, ex01) each prove their stage in isolation; this entry
    // proves the inter-stage CONTRACTS — that the text each stage hands the
    // next (redacted → segment-cleaned) is byte-identical on both engines
    // (chain_md5 folds every surviving document's final text in final epoch
    // order), which no per-stage oracle can see (r8 verdict item 6). The
    // Spark result is computed from the EXPORT READ-BACK, so the hash also
    // witnesses the writer/codec/partition-layout round trip, like ex01.
    //
    // 100 TB shape: every stage keeps its per-stage posture (map-side
    // redact/gate; segment-keyed + doc-keyed shuffles for dedup; broadcast
    // charset² model; DistributedRank running totals — no single-partition
    // window; cluster-map left join; shuffle-free partitioned export). The
    // snaps hold stage outputs that feed 2+ consumers each — corpus-sized,
    // linear.
    QueryDef.sql(
      "pp03_curation_chain",
      s"""WITH px AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
         |      text || ' reach x' || CAST(doc_id AS VARCHAR) ||
         |      '@example.com or call 555-' ||
         |      CAST(1000 + doc_id % 9000 AS VARCHAR) || ' from 10.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |      CAST(doc_id % 250 AS VARCHAR) || ' end',
         |      '${Scrub.EmailRe}', '<EMAIL>', 'g'),
         |      '${Scrub.PhoneRe}', '<PHONE>', 'g'),
         |      '${Scrub.IpRe}', '<IP>', 'g') AS t1
         |  FROM documents),
         |qw AS (SELECT doc_id, t1, string_split(t1, ' ') AS words FROM px),
         |gate AS (SELECT doc_id, t1 FROM (
         |    SELECT doc_id, t1,
         |      CAST(len(words) AS BIGINT) AS n_words,
         |      (CAST(length(t1) AS DOUBLE) - (len(words) - 1)) / len(words) AS mwl,
         |      CAST(${TextAnalysis.sqlHits(TextAnalysis.stopEn)} AS BIGINT) AS stop_hits,
         |      CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS ttr
         |    FROM qw)
         |  WHERE n_words BETWEEN ${Scrub.MinWords} AND ${Scrub.MaxWords}
         |    AND mwl >= ${Scrub.MinMeanWl} AND mwl <= ${Scrub.MaxMeanWl}
         |    AND stop_hits >= ${Scrub.MinStopHits} AND ttr >= ${Scrub.MinTtr}),
         |gw AS (SELECT doc_id, string_split(t1, ' ') AS words FROM gate),
         |sg AS (SELECT doc_id,
         |    unnest(generate_series(0, CAST(ceil(len(words) / 5.0) AS BIGINT) - 1)) AS idx,
         |    unnest(list_transform(generate_series(0, CAST(ceil(len(words) / 5.0) AS BIGINT) - 1),
         |      i -> array_to_string(words[i*5+1 : i*5+5], ' '))) AS seg
         |  FROM gw),
         |rk AS (SELECT doc_id, idx, seg,
         |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
         |  FROM sg),
         |d2 AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE rn = 1) AS t2
         |  FROM rk GROUP BY doc_id HAVING SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t2) - 1),
         |    i -> substring(t2, i, 2))) AS bg FROM d2),
         |inst AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |model AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c_bg FROM inst GROUP BY 1),
         |uni AS (SELECT substring(bg, 1, 1) AS c1, CAST(SUM(c_bg) AS BIGINT) AS c_uni
         |  FROM model GROUP BY 1),
         |pr AS (SELECT m.bg, CAST(c_bg AS DOUBLE) / c_uni AS prob
         |  FROM model m JOIN uni u ON substring(m.bg, 1, 1) = u.c1),
         |lm AS (SELECT i.doc_id, round(SUM(i.c * pr.prob) / SUM(i.c), 9) AS avg_prob
         |  FROM inst i JOIN pr ON i.bg = pr.bg GROUP BY 1),
         |surv AS (SELECT d2.doc_id, d2.t2 FROM d2 JOIN lm ON d2.doc_id = lm.doc_id
         |  WHERE lm.avg_prob >= ${Curation.Lm01Flag}),
         |sw AS (SELECT doc_id, t2, string_split(t2, ' ') AS words FROM surv),
         |sq AS (SELECT doc_id, t2, CAST(len(words) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(words)) AS DOUBLE) / len(words) * 0.5 +
         |    CAST(${TextAnalysis.sqlHits(TextAnalysis.stopEn)} AS DOUBLE) / len(words) * 0.3 +
         |    CASE WHEN len(words) BETWEEN 20 AND 1000 THEN 0.2 ELSE 0.0 END AS quality_score
         |  FROM sw),
         |cum AS (SELECT doc_id, t2, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS cum_tokens
         |  FROM sq),
         |sel AS (SELECT doc_id, t2 FROM cum
         |  WHERE cum_tokens <= (SELECT SUM(n_tokens) // 2 FROM sq)),
         |${SparseText.clusterCtes},
         |spl AS (SELECT sel.doc_id, sel.t2,
         |    CASE WHEN ((COALESCE(cl.cluster_id, sel.doc_id) % 1000) * ${Curation.KnuthA}) % 1000
         |              < ${Curation.TrainUpper} THEN 'train'
         |         WHEN ((COALESCE(cl.cluster_id, sel.doc_id) % 1000) * ${Curation.KnuthA}) % 1000
         |              < ${Curation.ValidUpper} THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM sel LEFT JOIN cl ON sel.doc_id = cl.doc_id),
         |pos AS (SELECT doc_id, t2, split,
         |    ROW_NUMBER() OVER (ORDER BY md5('ep7:' || CAST(doc_id AS VARCHAR)), doc_id) AS position
         |  FROM spl)
         |SELECT split, CAST((position - 1) % 4 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(length(t2)) AS BIGINT) AS total_chars,
         |  md5(string_agg(md5(t2), '' ORDER BY position)) AS chain_md5
         |FROM pos GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,
    ) { (spark, dir) => curationChain(spark, dir) },
  )

  /** pp03's Spark chain — see the entry comment. Returns the per-(split,
    * shard) roster computed from the JSONL export read-back.
    */
  def curationChain(spark: SparkSession, dir: String): DataFrame = {
    // The cluster map (step 6) derives from the RAW documents, independent
    // of stages 1–5 — its eager subchain (dd02 shingle join + the union-find
    // edge collect) back-fills the serial chain's executor slack (guide §2.6).
    val (clusters, selected) = graft.Concurrently(spark,
      graft.Catalog.byName("ts02_dedup_clusters").build(spark, dir),
      curatedSelection(spark, dir))

    // 6. leakage-safe split (sp01's cluster-representative hash)
    val rep = coalesce(col("cluster_id"), col("doc_id"))
    val bkt = pmod((rep % 1000L) * Curation.KnuthA, lit(1000L))
    val withSplit = selected.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t2"),
        when(bkt < Curation.TrainUpper, "train")
          .when(bkt < Curation.ValidUpper, "valid")
          .otherwise("test").as("split"))

    // 7. epoch shuffle (sh01's seeded md5 order, DistributedRank positions)
    val keyed = withSplit.withColumn("shuffle_key",
      md5(concat(lit("ep7:"), col("doc_id").cast("string")).cast("binary")))
    val positioned = graft.operators.DistributedRank
      .withGlobalRank(keyed, "position", col("shuffle_key"), col("doc_id"))
      .select(col("doc_id"), col("t2"), col("split"),
        col("position").cast("long").as("position"),
        pmod(col("position") - 1, lit(4L)).cast("long").as("shard"))

    // 8. sharded JSONL export + read-back roster (ex01's round-trip proof)
    val out = s"target/export_pp03_${math.abs(dir.hashCode)}"
    positioned.write.mode("overwrite").partitionBy("split", "shard").json(out)
    val back = spark.read
      .schema("doc_id BIGINT, t2 STRING, position BIGINT, split STRING, shard BIGINT")
      .json(out)
    val chainMd5 = md5(concat_ws("",
      transform(array_sort(collect_list(struct(col("position"), md5(col("t2").cast("binary")).as("h")))),
        x => x.getField("h"))).cast("binary"))
    back.groupBy("split", "shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(length(col("t2"))).cast("long").as("total_chars"),
        chainMd5.as("chain_md5"))
      .orderBy("split", "shard")
  }

  /** pp03 steps 1–5: redaction, quality gate, segment dedup, LM score and
    * token-budget selection, as (doc_id, t2).
    */
  private def curatedSelection(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExpressions
    import org.apache.spark.sql.expressions.Window

    // 1. PII redaction (px01's planted-PII construction)
    val planted = concat(
      col("text"), lit(" reach x"), col("doc_id").cast("string"),
      lit("@example.com or call 555-"),
      (lit(1000L) + col("doc_id") % 9000L).cast("string"),
      lit(" from 10."), (col("doc_id") % 256L).cast("string"),
      lit(".0."), (col("doc_id") % 250L).cast("string"), lit(" end"))
    val t1 = regexp_replace(regexp_replace(regexp_replace(planted,
      Scrub.EmailRe, "<EMAIL>"), Scrub.PhoneRe, "<PHONE>"), Scrub.IpRe, "<IP>")
    // documentsWide: the redact+gate head was a measured 2.83 s
    // SINGLE-TASK stage (OPTIMIZATION_r15.md §2) — the whole chain then inherited the
    // 1-partition layout through its snaps. The snap is a
    // PUSHDOWN BARRIER, not a convenience: without it Catalyst pushes the
    // quality gate's filter (which re-embeds the full triple-regex chain in
    // each of its six conditions) below the widening exchange, putting all
    // the regex work back on the single scan task (verified in
    // optimizedPlan: Filter(regexp_replace…) under RepartitionByExpression).
    val redacted = Tables(spark, dir).documentsWide
      .select(col("doc_id"), t1.as("t1"))
      .transform(Residency.snap)

    // 2. quality gate (qf01's rules, applied to the REDACTED text)
    val words1 = split(col("t1"), " ")
    val n1 = size(words1).cast("long")
    val meanWl = (length(col("t1")).cast("double") - (n1 - 1)) / n1
    val stopHits1 = TextExpressions.countInSet(words1, TextAnalysis.stopEn).cast("long")
    val ttr1 = size(array_distinct(words1)).cast("double") / n1
    val gated = redacted.filter(
      n1.between(Scrub.MinWords, Scrub.MaxWords) &&
        meanWl >= Scrub.MinMeanWl && meanWl <= Scrub.MaxMeanWl &&
        stopHits1 >= Scrub.MinStopHits && ttr1 >= Scrub.MinTtr)

    // 3. segment dedup (dd09's construction) → cleaned text t2; documents
    // whose every segment was seen earlier vanish (HAVING-like filter)
    val segs = gated
      .select(col("doc_id"), split(col("t1"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(words) / 5.0) as int) - 1)," +
          " i -> array_join(slice(words, i*5 + 1, 5), ' '))")).as(Seq("idx", "seg")))
    val rk = segs.withColumn("rn",
      row_number().over(Window.partitionBy("seg").orderBy("doc_id", "idx")))
    val t2agg = array_join(
      transform(
        array_sort(collect_list(when(col("rn") === 1, struct(col("idx"), col("seg"))))),
        x => x.getField("seg")),
      " ")
    val deduped = rk.groupBy("doc_id")
      .agg(t2agg.as("t2"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .filter(col("n_kept") > 0)
      .select("doc_id", "t2")
      .transform(Residency.snap) // feeds the LM model, scoring, and selection

    // 4. LM score (lm01's charset² bigram model over the SURVIVING corpus)
    val inst = deduped
      .select(col("doc_id"), explode(TextExpressions.charBigrams(col("t2"))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .transform(Residency.snap) // feeds the model AND the scoring join
    val model = inst.groupBy("bg").agg(sum("c").cast("long").as("c_bg"))
    val uni = model.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("c_bg").cast("long").as("c_uni"))
    val pr = model.join(uni, substring(col("bg"), 1, 1) === col("c1"))
      .select(col("bg"), (col("c_bg").cast("double") / col("c_uni")).as("prob"))
    val lmScore = inst.join(broadcast(pr), "bg")
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("prob")) / sum("c"), 9).as("avg_prob"))
    val survived = deduped.join(lmScore, "doc_id")
      .filter(col("avg_prob") >= Curation.Lm01Flag)
      .select("doc_id", "t2")

    // 5. token-budget selection (sel01's ranked running total on t2)
    val words2 = split(col("t2"), " ")
    val quality =
      size(array_distinct(words2)).cast("double") / size(words2) * 0.5 +
        TextExpressions.countInSet(words2, TextAnalysis.stopEn).cast("double") / size(words2) * 0.3 +
        when(size(words2) >= 20 && size(words2) <= 1000, 0.2).otherwise(0.0)
    val scored = survived
      .select(col("doc_id"), col("t2"), size(words2).cast("long").as("n_tokens"),
        quality.as("quality_score"))
      .transform(Residency.snap) // budget scalar + running total both read it
    val budgetRow = scored.agg(sum("n_tokens")).head()
    val budget = if (budgetRow.isNullAt(0)) 0L else budgetRow.getLong(0) / 2
    graft.operators.DistributedRank
      .withRunningTotal(scored, "cum_tokens", "n_tokens",
        col("quality_score").desc, col("doc_id"))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "t2")
  }
}
