package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the compositions the individual operators
  * exist for. pp01/pp02 take the raw document table through a length and
  * type-token-ratio floor, exact dedup, MinHash-LSH near-dup removal (pp01
  * only) and a language gate, reporting per-stage survival counts and token
  * totals plus the last stage's shard fan-out. pp03 chains the curation
  * stages: redaction, quality gate, segment dedup, LM score, token-budget
  * selection, leakage-safe split, epoch shuffle and sharded export.
  *
  * Every stage is one of the already-tested operators, built by the same
  * Spark builder and oracle fragment its own entry runs (dd01's keeper rule,
  * dd03's pairs; px01, qf01, dd09, lm01, sel01, sp01, sh01 and ex01 for
  * pp03), except pp01/pp02's own length/ttr floor and language gate. The
  * pipelines are pure DataFrame composition — at 100 TB each stage is a
  * pruned scan or a blocking-bounded join, and the stage stats come from
  * metadata-scale aggregates. Every entry is hash-checked against a DuckDB
  * CTE chain composed the same way.
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
    val exact = Dedup.withKeeper(quality)
      .filter(col("doc_id") === col("keeper")).drop("keeper", "copies")

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

  /** pp01/pp02's oracle: the deterministic stages as CTEs `raw`, `quality`
    * and `exact`, then `more` (further stage CTEs), then the report over
    * `stages` (stage name → CTE) with the last stage's shard fan-out.
    */
  private def stagesSql(more: String, stages: Seq[(String, String)], shardPrefix: String): String = {
    val counts = stages.map { case (name, cte) =>
      s"SELECT '$name' AS stage, COUNT(*) AS docs, COALESCE(SUM(n_words), 0) AS tokens FROM $cte"
    }
    s"""WITH raw AS (
       |  SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_words,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS ttr
       |  FROM documents),
       |quality AS (SELECT * FROM raw WHERE n_words >= 10 AND ttr >= 0.2),
       |exact AS (
       |  SELECT q.* FROM quality q
       |  JOIN (${Dedup.keeperSql("quality")}) k ON q.text = k.text AND q.doc_id = k.keeper),
       |$more,
       |stats AS (
       |  ${counts.mkString("\n  UNION ALL ")}
       |  UNION ALL SELECT '$shardPrefix' || CAST(doc_id % 8 AS VARCHAR), COUNT(*), NULL
       |  FROM ${stages.last._2} GROUP BY 1)
       |SELECT stage, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens
       |FROM stats ORDER BY stage""".stripMargin
  }
  private val langSql = keptLangs.map(l => s"'$l'").mkString(",")

  val defs: Seq[QueryDef] = Seq(
    // ----- pp01: full pipeline. The near-dup stage is dd03's MinHash-LSH
    // chain, which is portable integer arithmetic — the oracle replays it
    // (Dedup.minhashCtes) and composes the same stage CTEs as pp02.
    // CorpusPipelineSpec asserts the monotone-survival invariant.
    QueryDef.sql(
      "pp01_corpus_pipeline",
      stagesSql(
        s"""${Dedup.minhashCtes},
           |dup AS (SELECT DISTINCT doc_b AS doc_id FROM mest WHERE est_jaccard >= 0.5),
           |near AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
           |langk AS (SELECT * FROM near WHERE lang IN ($langSql))""".stripMargin,
        Seq("0_raw" -> "raw", "1_quality" -> "quality", "2_exact_dedup" -> "exact",
          "3_near_dedup" -> "near", "4_language" -> "langk"), "5_shard_"),
    ) { (spark, dir) =>
      report(stages(spark, dir), shardPrefix = "5_shard_")
    },

    // ----- pp02: the deterministic sub-pipeline (quality → exact-dedup →
    // language → shards), hash-checked stage by stage against a DuckDB CTE
    // chain.
    QueryDef.sql(
      "pp02_corpus_stages_checked",
      stagesSql(s"langk AS (SELECT * FROM exact WHERE lang IN ($langSql))",
        Seq("0_raw" -> "raw", "1_quality" -> "quality", "2_exact_dedup" -> "exact",
          "3_language" -> "langk"), "4_shard_"),
    ) { (spark, dir) =>
      val base = baseStages(spark, dir)
      val st = base :+ StageResult("3_language", langGate(base.last.kept))
      report(st, shardPrefix = "4_shard_")
    },

    // ----- pp03: the curation stages CHAINED — each stage's real DataFrame
    // feeds the next (redact → quality-gate → segment-dedup → LM-score →
    // token-budget select → leakage-safe split → epoch shuffle → sharded
    // JSONL export), with ONE oracle over the final per-(split, shard)
    // roster. Every stage is the builder its per-stage entry (px01, qf01,
    // dd09, lm01, sel01, sp01, sh01, ex01) runs and proves in isolation, fed
    // the previous stage's text; this entry proves the inter-stage CONTRACTS
    // — that the text each stage hands the next (redacted → segment-cleaned)
    // is byte-identical on both engines (chain_md5 folds every surviving
    // document's final text in final epoch order), which no per-stage oracle
    // can see. The Spark result is computed from the EXPORT READ-BACK, so
    // the hash also witnesses the writer/codec/partition-layout round trip,
    // like ex01.
    //
    // 100 TB shape: every stage keeps its per-stage posture (map-side
    // redact/gate; segment-keyed + doc-keyed shuffles for dedup; broadcast
    // charset² model; DistributedRank running totals — no single-partition
    // window; cluster-map left join; shuffle-free partitioned export). The
    // snaps hold stage outputs that feed 2+ consumers each — corpus-sized,
    // linear.
    QueryDef.sql(
      "pp03_curation_chain",
      s"""WITH px AS (SELECT doc_id, ${Scrub.redactedSql(Scrub.plantedSql("text"))} AS t1
         |  FROM documents),
         |gate AS (SELECT doc_id, t1 FROM (${Scrub.qualityMeasuresSql("px", "t1")})
         |  WHERE ${Scrub.qualityKeepSql}),
         |${Curation.segmentCtes("gate", "t1")},
         |d2 AS (SELECT doc_id, cleaned AS t2 FROM sgk WHERE n_kept > 0),
         |${Curation.lmCtes("d2", "t2")},
         |surv AS (SELECT d2.doc_id, d2.t2 FROM d2 JOIN lmsc ON d2.doc_id = lmsc.doc_id
         |  WHERE lmsc.avg_prob >= ${Curation.Lm01Flag}),
         |${Curation.budgetCtes("surv", "t2", "t2")},
         |${SparseText.clusterCtes},
         |spl AS (SELECT bud.doc_id, bud.t2,
         |    ${Curation.splitSql("COALESCE(cl.cluster_id, bud.doc_id)")} AS split
         |  FROM bud LEFT JOIN cl ON bud.doc_id = cl.doc_id WHERE bud.selected)
         |SELECT split, CAST(shard AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(length(t2)) AS BIGINT) AS total_chars,
         |  md5(string_agg(md5(t2), '' ORDER BY position)) AS chain_md5
         |FROM ${Sampling.epochShuffledSql("spl", 4)}
         |GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,
    ) { (spark, dir) => curationChain(spark, dir) },
  )

  /** pp03's Spark chain — see the entry comment. Returns the per-(split,
    * shard) roster computed from the JSONL export read-back.
    */
  def curationChain(spark: SparkSession, dir: String): DataFrame = {
    // The cluster map (step 6) derives from the RAW documents, independent
    // of stages 1–5 — its eager subchain (dd02 shingle join + the union-find
    // edge collect) back-fills the serial chain's executor slack.
    val (clusters, selected) = graft.Concurrently(spark,
      graft.Catalog.byName("ts02_dedup_clusters").build(spark, dir),
      curatedSelection(spark, dir))

    // 6. leakage-safe split (sp01's cluster-representative hash)
    val withSplit = selected.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t2"),
        Curation.splitOf(coalesce(col("cluster_id"), col("doc_id"))).as("split"))

    // 7. epoch shuffle (sh01's seeded md5 order, DistributedRank positions)
    val positioned = Sampling.epochShuffled(withSplit, 4L)
      .select("doc_id", "t2", "split", "position", "shard")

    // 8. sharded JSONL export + read-back roster (ex01's round-trip proof)
    val back = Sampling.exportedJsonl(positioned, "pp03", dir,
      "doc_id BIGINT, t2 STRING, position BIGINT, split STRING, shard BIGINT", "split", "shard")
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
    // 1. PII redaction (px01). documentsWide: a single-row-group scan would
    // run the redact+gate head as one task, and the snaps below would hand
    // that one-partition layout to the whole chain. The snap is a PUSHDOWN
    // BARRIER, not a convenience: without it Catalyst pushes the quality
    // gate's filter (which re-embeds the full triple-regex chain in each of
    // its conditions) below the widening exchange, putting all the regex
    // work back on the single scan task.
    val redacted = Tables(spark, dir).documentsWide
      .select(col("doc_id"), Scrub.redacted(Scrub.planted(col("text"))).as("t1"))
      .transform(Residency.snap)

    // 2. quality gate (qf01's rules, applied to the REDACTED text)
    val gated = redacted
      .select(col("doc_id") +: col("t1") +: Scrub.qualityMeasures(col("t1")): _*)
      .filter(Scrub.qualityKeep)
      .select("doc_id", "t1")

    // 3. segment dedup (dd09) → cleaned text t2; documents whose every
    // segment was seen earlier vanish
    val deduped = Curation.segmentsKept(gated, "t1")
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("cleaned").as("t2"))
      .transform(Residency.snap) // feeds the LM model, scoring, and selection

    // 4. LM score (lm01's charset² bigram model over the SURVIVING corpus)
    val survived = deduped.join(Curation.lmScored(deduped, "t2"), "doc_id")
      .filter(col("avg_prob") >= Curation.Lm01Flag)
      .select("doc_id", "t2")

    // 5. token-budget selection (sel01's ranked running total on t2)
    val scored = Curation.budgetScored(survived, "t2", "t2")
      .transform(Residency.snap) // budget scalar + running total both read it
    Curation.withTokenBudget(scored)
      .filter(col("selected"))
      .select("doc_id", "t2")
  }
}
