package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus scrubbing/gating operators a training-data pipeline runs before
  * anything is sampled or tokenized: PII redaction, rule-based quality
  * gating (the Gopher/C4 heuristic family), and the corpus-duplication
  * quality signal (fraction of a document's n-grams that are duplicated
  * ANYWHERE in the corpus — the cross-document complement of tx07's
  * within-document repetition ratio).
  *
  * All three are deterministic and fully oracle-checkable. px01/qf01 are
  * pure map-side expression trees (no shuffle except the final ORDER BY) —
  * at 100 TB they stream through executors at scan speed. qf02 shuffles
  * twice on the shingle string (corpus count, then the instance join) plus
  * once on doc_id — the same blocking shape as dd02; at production scale
  * the shingle key would be `xxhash64(s)` to cut shuffle bytes ~4×, kept as
  * the string here so the oracle can replay the exact grouping.
  *
  * Reference anchor: the reference has no scrubbing stage (its events are
  * synthetic, sample_queries.sql), so these derive from the public
  * pipeline literature (C4 §2.2 heuristics, Gopher appendix A quality
  * rules) re-expressed as Spark expression trees.
  */
object Scrub {

  // ---- px01 regexes. Kept to the regex-feature intersection of Java
  // (Spark) and RE2 (DuckDB): character classes, bounded repeats, \b.
  // No backrefs, no lookaround — those diverge between the engines.
  private[pipeline] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[pipeline] val PhoneRe = "\\b555-[0-9]{4}\\b"
  private[pipeline] val IpRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  // qf01 thresholds (Gopher-style bounds, scaled to this corpus's word range)
  private[pipeline] val MinWords = 30L
  private[pipeline] val MaxWords = 400L
  private[pipeline] val MinMeanWl = 3.0
  private[pipeline] val MaxMeanWl = 10.0
  private[pipeline] val MinStopHits = 2L
  private[pipeline] val MinTtr = 0.3

  /** px01's planted PII: `text` plus an email, a phone number and an IP
    * address derived from doc_id (the same concatenation on both engines).
    */
  private[pipeline] def planted(text: Column): Column = concat(
    text, lit(" reach x"), col("doc_id").cast("string"),
    lit("@example.com or call 555-"),
    (lit(1000L) + col("doc_id") % 9000L).cast("string"),
    lit(" from 10."), (col("doc_id") % 256L).cast("string"),
    lit(".0."), (col("doc_id") % 250L).cast("string"), lit(" end"))
  // oracle twin of planted
  private[pipeline] def plantedSql(text: String): String =
    s"""$text || ' reach x' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com or call 555-' ||
       |    CAST(1000 + doc_id % 9000 AS VARCHAR) || ' from 10.' ||
       |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
       |    CAST(doc_id % 250 AS VARCHAR) || ' end'""".stripMargin

  /** px01's redaction: emails, then phones, then IPs (emails first so the IP
    * pattern can't fire inside a redacted address's digits).
    */
  private[pipeline] def redacted(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
  // oracle twin of redacted
  private[pipeline] def redactedSql(text: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($text,
       |        '$EmailRe', '<EMAIL>', 'g'),
       |        '$PhoneRe', '<PHONE>', 'g'),
       |        '$IpRe', '<IP>', 'g')""".stripMargin

  /** qf01's per-document measures of `text`: n_words, mean_word_len,
    * stop_hits, ttr. Mean word length exploits the single-space
    * tokenization: (chars − (n−1) separators) / n — no second pass over the
    * words.
    */
  private[pipeline] def qualityMeasures(text: Column): Seq[Column] = {
    val words = split(text, " ")
    val nWords = size(words).cast("long")
    Seq(nWords.as("n_words"),
      ((length(text).cast("double") - (nWords - 1)) / nWords).as("mean_word_len"),
      graft.functions.TextExpressions.countInSet(words, TextAnalysis.stopEn).cast("long").as("stop_hits"),
      (size(array_distinct(words)).cast("double") / nWords).as("ttr"))
  }
  /** qf01's rules over the [[qualityMeasures]] columns, each with the tag it
    * adds to fail_reasons.
    */
  private[pipeline] val qualityRules: Seq[(String, Column)] = Seq(
    "len;" -> col("n_words").between(MinWords, MaxWords),
    "mwl;" -> (col("mean_word_len") >= MinMeanWl && col("mean_word_len") <= MaxMeanWl),
    "stop;" -> (col("stop_hits") >= MinStopHits),
    "ttr;" -> (col("ttr") >= MinTtr))
  private[pipeline] def qualityKeep: Column = qualityRules.map(_._2).reduce(_ && _)

  /** Oracle twin of [[qualityMeasures]]: a query over `rel` giving doc_id,
    * `text` and the four measures.
    */
  private[pipeline] def qualityMeasuresSql(rel: String, text: String): String =
    s"""SELECT doc_id, $text,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    (CAST(length($text) AS DOUBLE) - (len(words) - 1)) / len(words) AS mean_word_len,
       |    CAST(${TextAnalysis.sqlHits(TextAnalysis.stopEn)} AS BIGINT) AS stop_hits,
       |    CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS ttr
       |  FROM (SELECT doc_id, $text, string_split($text, ' ') AS words FROM $rel)""".stripMargin
  // oracle twin of qualityKeep
  private[pipeline] def qualityKeepSql: String =
    s"""(n_words BETWEEN $MinWords AND $MaxWords)
       |    AND mean_word_len >= $MinMeanWl AND mean_word_len <= $MaxMeanWl
       |    AND stop_hits >= $MinStopHits AND ttr >= $MinTtr""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- px01: PII redaction. The synthetic documents contain no PII, so
    // the entry PLANTS deterministic PII derived from doc_id (same
    // concatenation on both engines), then redacts emails → phones → IPs in
    // that order. The md5 of the fully redacted text is the
    // oracle-checked witness that both engines produced the identical
    // scrubbed string — not just identical match counts.
    QueryDef.sql(
      "px01_pii_redaction",
      s"""WITH p AS (SELECT doc_id, ${plantedSql("text")} AS planted FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(planted, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(planted, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(planted, '$IpRe')) AS BIGINT) AS n_ips,
         |  md5(${redactedSql("planted")}) AS redacted_md5
         |FROM p ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      // documentsWide: 4 regexes over every doc are the entry's whole cost,
      // which a single-row-group scan would serialize on one core
      Tables(spark, dir).documentsWide
        .select(col("doc_id"), planted(col("text")).as("planted"))
        .select(col("doc_id"),
          regexp_count(col("planted"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("planted"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_count(col("planted"), lit(IpRe)).cast("long").as("n_ips"),
          md5(redacted(col("planted")).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // ----- qf01: rule-based quality gate — word-count bounds, mean word
    // length bounds, ≥2 English stopwords, type-token ratio floor. Emits
    // the per-rule measurements, the keep verdict, and a stable
    // fail-reason string, so a pipeline can both filter and audit.
    QueryDef.sql(
      "qf01_quality_rules",
      s"""WITH m AS (${qualityMeasuresSql("documents", "text")})
         |SELECT doc_id, n_words, mean_word_len, stop_hits, ttr,
         |  $qualityKeepSql AS keep,
         |  (CASE WHEN n_words < $MinWords OR n_words > $MaxWords THEN 'len;' ELSE '' END) ||
         |  (CASE WHEN mean_word_len < $MinMeanWl OR mean_word_len > $MaxMeanWl THEN 'mwl;' ELSE '' END) ||
         |  (CASE WHEN stop_hits < $MinStopHits THEN 'stop;' ELSE '' END) ||
         |  (CASE WHEN ttr < $MinTtr THEN 'ttr;' ELSE '' END) AS fail_reasons
         |FROM m ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id") +: qualityMeasures(col("text")): _*)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("stop_hits"), col("ttr"), qualityKeep.as("keep"),
          concat(qualityRules.map { case (tag, rule) => when(!rule, tag).otherwise("") }: _*)
            .as("fail_reasons"))
        .orderBy("doc_id")
    },

    // ----- qf02: corpus-duplication signal — per document, the fraction of
    // its 3-gram shingle INSTANCES whose shingle occurs ≥2 times in the
    // whole corpus (within-doc repeats count toward corpus multiplicity,
    // exactly like the dedup literature's "fraction of text in duplicated
    // n-grams"). Pre-aggregating per (doc, shingle) bounds downstream
    // volume to the distinct-shingle set, and the corpus multiplicity is a
    // SUM window over the shingle partition — one scan, three exchanges
    // (doc+shingle agg → shingle window → doc agg), no self-join. The
    // first formulation joined inst against its own re-aggregation;
    // exchange reuse did NOT fire across the two branches, so the corpus
    // was scanned and exploded twice — at 100 TB that doubles the
    // dominant cost for zero benefit.
    QueryDef.sql(
      "qf02_dup_ngram_fraction",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id, unnest(${Dedup.shinglesSql("words", distinct = false)}) AS s FROM w),
        |inst AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2),
        |corpus AS (SELECT s, SUM(c) AS n FROM inst GROUP BY 1)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |  CAST(SUM(CASE WHEN n >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_ngrams,
        |  CAST(SUM(CASE WHEN n >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(c) AS BIGINT) AS dup_fraction,
        |  CAST(SUM(CASE WHEN n >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(c) AS BIGINT) >= 0.30 AS flagged
        |FROM inst JOIN corpus USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val inst = Tables(spark, dir).documents
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), distinct = false)).as("s"))
        .groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      val dupInst = sum(when(col("n") >= 2, col("c")).otherwise(0L))
      val frac = dupInst.cast("double") / sum("c").cast("long")
      inst
        .withColumn("n", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("total_ngrams"),
          dupInst.cast("long").as("dup_ngrams"),
          frac.as("dup_fraction"),
          (frac >= 0.30).as("flagged"))
        .orderBy("doc_id")
    },

    // ----- qf03: WITHIN-doc repetition signals — the Gopher §A.1.1
    // repetition family (word-count form), complementing qf01 (per-doc
    // shape rules; its ttr already covers 1 − dup-unigram) and qf02
    // (CORPUS-level duplication): per doc, the most-frequent unigram's and
    // bigram's share of instances (top-n-gram concentration) and the
    // fraction of instances whose n-gram repeats within the SAME doc. A
    // doc can be corpus-unique yet internally degenerate ("lorem lorem
    // lorem…") — this is the signal that catches it. Thresholds (top1 ≤
    // 0.20, top2 ≤ 0.05, dup2 ≤ 0.10) measured to split this corpus
    // 314/500 keep at sf0.01.
    //
    // 100 TB shape: both explodes shuffle keyed (doc_id, gram) — partition
    // sizes track per-doc distinct grams, never corpus-global gram counts
    // (qf02's window is the corpus-level one; none here) — then collapse
    // to one row per doc. Pure two-stage agg, no joins beyond the final
    // per-doc zip, no window. Bigrams come from the width-parametric
    // codegen shingle kernel, not an interpreted lambda.
    QueryDef.sql(
      "qf03_repetition_signals",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |uni AS (SELECT doc_id, unnest(words) AS t FROM w),
        |uc AS (SELECT doc_id, t, COUNT(*) AS c FROM uni GROUP BY 1, 2),
        |us AS (SELECT doc_id, SUM(c) AS n1, MAX(c) AS top1,
        |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup1 FROM uc GROUP BY 1),
        |bi AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(words) - 1, 1)),
        |    i -> array_to_string(words[i:i+1], ' '))) AS t FROM w),
        |bc AS (SELECT doc_id, t, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bs AS (SELECT doc_id, SUM(c) AS n2, MAX(c) AS top2,
        |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup2 FROM bc GROUP BY 1)
        |SELECT doc_id, CAST(n1 AS BIGINT) AS n_words,
        |  CAST(top1 AS DOUBLE) / n1 AS top1_frac,
        |  CAST(dup1 AS DOUBLE) / n1 AS dup1_frac,
        |  CAST(top2 AS DOUBLE) / n2 AS top2_frac,
        |  CAST(dup2 AS DOUBLE) / n2 AS dup2_frac,
        |  CAST(top1 AS DOUBLE) / n1 <= 0.20 AND CAST(top2 AS DOUBLE) / n2 <= 0.05
        |    AND CAST(dup2 AS DOUBLE) / n2 <= 0.10 AS keep
        |FROM us JOIN bs USING (doc_id) ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      def gramStats(grams: org.apache.spark.sql.Column, pfx: String) =
        Tables(spark, dir).documents
          .select(col("doc_id"), explode(grams).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as(s"n$pfx"), max("c").as(s"top$pfx"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup$pfx"))
      val us = gramStats(split(col("text"), " "), "1")
      val bs = gramStats(graft.functions.TextExpressions.wordShingles(col("text"), 2), "2")
      val t1 = col("top1").cast("double") / col("n1")
      val d1 = col("dup1").cast("double") / col("n1")
      val t2 = col("top2").cast("double") / col("n2")
      val d2 = col("dup2").cast("double") / col("n2")
      us.join(bs, "doc_id")
        .select(col("doc_id"), col("n1").cast("long").as("n_words"),
          t1.as("top1_frac"), d1.as("dup1_frac"),
          t2.as("top2_frac"), d2.as("dup2_frac"),
          (t1 <= 0.20 && t2 <= 0.05 && d2 <= 0.10).as("keep"))
        .orderBy("doc_id")
    },

    // ----- prof02: per-SOURCE data card — the dataset-documentation rollup
    // a corpus release ships (Datasheets/Data Cards practice): per source,
    // volume (docs, tokens), the dominant language, and mean quality under
    // the sel01/tx02 scoring formula. avg_quality is round(Σq/n, 9) — the
    // ts01/lm01 rule absorbing SUM(double) accumulation-order drift.
    //
    // 100 TB shape: quality and token counts are map-side per-row
    // expressions; the only shuffles are keyed (source) and (source, lang)
    // — reducer state is |sources| / |sources × langs| rows, metadata-scale
    // however big the corpus. The dominant-language window runs on the
    // already-aggregated (source, lang) counts, not the data.
    QueryDef.sql(
      "prof02_source_datacard",
      s"""WITH ${TextAnalysis.qualityCtes},
        |t AS (SELECT doc_id, source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |sl AS (SELECT source, lang, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |top AS (SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY c DESC, lang) AS rn FROM sl) WHERE rn = 1),
        |agg AS (SELECT t.source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    round(SUM(quality_score) / COUNT(*), 9) AS avg_quality
        |  FROM t JOIN qs USING (doc_id) GROUP BY 1)
        |SELECT a.source, a.n_docs, a.total_tokens, a.avg_quality, top.top_lang
        |FROM agg a JOIN top USING (source) ORDER BY a.source""".stripMargin,
    ) { (spark, dir) =>
      val words = split(col("text"), " ")
      val t = Tables(spark, dir).documents
        .select(col("source"), col("lang"), size(words).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(words).as("quality_score"))
      val wTop = Window.partitionBy("source").orderBy(desc("c"), asc("lang"))
      val top = t.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val agg = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          round(sum("quality_score") / count(lit(1)), 9).as("avg_quality"))
      agg.join(top, "source")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("avg_quality"), col("top_lang"))
        .orderBy("source")
    },

    // ----- prof01: per-column data profile — the ANALYZE-style QA pass a
    // pipeline runs before training on a new drop: per column, row count,
    // null count, EXACT distinct count, and min/max (numeric columns report
    // numeric bounds; string columns report string bounds — never a double
    // routed through CAST-to-VARCHAR, whose rendering differs per engine).
    //
    // 100 TB shape: one independent single-column aggregation per profiled
    // column, unioned — each scan's ReadSchema prunes to THAT column (a
    // 4-column profile reads 4 thin column chunks in parallel jobs, not one
    // wide scan), and each distinct is a two-level pre-aggregation (the
    // uq07 shape), never an EXPAND: a single multi-countDistinct agg would
    // multiply scanned rows by the number of distinct aggregates.
    QueryDef.sql(
      "prof01_column_profile",
      """WITH p AS (
        |  SELECT 'event_type' AS col_name, COUNT(*) AS n,
        |    COUNT(*) - COUNT(event_type) AS nulls,
        |    COUNT(DISTINCT event_type) AS distincts,
        |    CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
        |    MIN(event_type) AS min_str, MAX(event_type) AS max_str
        |  FROM events
        |  UNION ALL
        |  SELECT 'props', COUNT(*), COUNT(*) - COUNT(props), COUNT(DISTINCT props),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN(props), MAX(props)
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
        |    CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', COUNT(*), COUNT(*) - COUNT(value), COUNT(DISTINCT value),
        |    MIN(value), MAX(value), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events)
        |SELECT col_name, CAST(n AS BIGINT) AS n, CAST(nulls AS BIGINT) AS nulls,
        |  CAST(distincts AS BIGINT) AS distincts, min_num, max_num, min_str, max_str
        |FROM p ORDER BY col_name""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
      def profile(c: String, numeric: Boolean) = {
        // two-level distinct: pre-aggregate on the value (map-side combine
        // bounds the exchange to per-partition distincts), then count
        val distincts = e.select(col(c)).filter(col(c).isNotNull).distinct()
          .agg(count(lit(1)).cast("long").as("distincts")) // COUNT(DISTINCT) skips NULLs
        e.agg(count(lit(1)).cast("long").as("n"),
            (count(lit(1)) - count(col(c))).cast("long").as("nulls"),
            (if (numeric) min(col(c)).cast("double") else lit(null).cast("double")).as("min_num"),
            (if (numeric) max(col(c)).cast("double") else lit(null).cast("double")).as("max_num"),
            (if (numeric) lit(null).cast("string") else min(col(c))).as("min_str"),
            (if (numeric) lit(null).cast("string") else max(col(c))).as("max_str"))
          .crossJoin(distincts)
          .select(lit(c).as("col_name"), col("n"), col("nulls"), col("distincts"),
            col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      }
      profile("event_type", numeric = false)
        .unionByName(profile("props", numeric = false))
        .unionByName(profile("user_id", numeric = true))
        .unionByName(profile("value", numeric = true))
        .orderBy("col_name")
    },

    // ----- gd01: right-to-be-forgotten MV delta — the compliance twin of
    // px01's PII redaction: given a deletion list of user ids, compute the
    // corrected (day, type) daily-MV rows WITHOUT a full rebuild. The plan
    // prunes to AFFECTED GROUPS first (the distinct (day, type) groups the
    // deleted users ever touched — a semi-join-sized set), then recomputes
    // old and new aggregates for those groups only; everything the deleted
    // users never touched is provably untouched and never read twice. At
    // 100 TB a deletion of k users re-aggregates only the partitions their
    // events live in (partition pruning on the same day key the MV is
    // keyed by), not the corpus — deletes cost O(touched groups), not
    // O(MV). Exact DECIMAL(18,2) money arithmetic both engines.
    QueryDef.sql(
      "gd01_gdpr_delete_delta",
      """WITH del(uid) AS (VALUES (7), (13), (42)),
        |aff AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, event_type
        |  FROM events JOIN del ON user_id = uid),
        |grp AS (
        |  SELECT CAST(e.ts AS DATE) AS d, e.event_type,
        |    COUNT(*) AS old_n,
        |    COUNT(CASE WHEN dl.uid IS NULL THEN 1 END) AS new_n,
        |    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS old_value,
        |    CAST(COALESCE(SUM(CASE WHEN dl.uid IS NULL
        |      THEN CAST(e.value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS new_value
        |  FROM events e
        |  JOIN aff ON CAST(e.ts AS DATE) = aff.d AND e.event_type = aff.event_type
        |  LEFT JOIN del dl ON e.user_id = dl.uid
        |  GROUP BY 1, 2)
        |SELECT d, event_type, CAST(old_n AS BIGINT) AS old_n,
        |  CAST(new_n AS BIGINT) AS new_n, old_value, new_value
        |FROM grp ORDER BY d, event_type""".stripMargin,
    ) { (spark, dir) =>
      val deleted = Seq(7L, 13L, 42L)
      val e = Tables(spark, dir).events
        .select(to_date(col("ts")).as("d"), col("event_type"),
          col("user_id"), col("value"))
      // group pruning: only the (day, type) groups the deleted users touched
      val affected = e.filter(col("user_id").isin(deleted: _*))
        .select("d", "event_type").distinct()
      val keep = !col("user_id").isin(deleted: _*)
      e.join(broadcast(affected), Seq("d", "event_type")) // semi-sized inner join
        .groupBy("d", "event_type")
        .agg(count(lit(1)).cast("long").as("old_n"),
          count(when(keep, 1L)).cast("long").as("new_n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("old_value"),
          coalesce(sum(when(keep, col("value").cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)"))
            .cast("double").as("new_value"))
        .orderBy("d", "event_type")
    },

    // ----- vd01: corpus snapshot diff — the release-to-release audit a
    // training-data pipeline runs before shipping a new corpus version:
    // per source, how many documents were added, removed, changed, or
    // carried unchanged. The two versions are derived deterministically
    // from the one documents table so the oracle replays them exactly
    // (old = docs with doc_id % 11 <> 3, with doc_id % 13 = 5 texts
    // upper-cased; new = docs with doc_id % 17 <> 2 verbatim) — the same
    // synthetic-split device dd08 uses for batch-vs-corpus. Plan: ONE
    // doc_id-keyed full outer join + text equality + a |sources|-bounded
    // rollup. At 100 TB both snapshots live bucketed by doc_id
    // (Layout.writeBucketed), so the join is a shuffle-free co-partitioned
    // sort-merge and the diff costs one pass over the two versions.
    QueryDef.sql(
      "vd01_snapshot_diff",
      """WITH vold AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 5 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 3),
        |vnew AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 2),
        |j AS (
        |  SELECT COALESCE(o.source, n.source) AS source,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS verdict
        |  FROM vold o FULL OUTER JOIN vnew n ON o.doc_id = n.doc_id)
        |SELECT source,
        |  CAST(SUM(CASE WHEN verdict = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN verdict = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN verdict = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN verdict = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY 1 ORDER BY source""".stripMargin,
    ) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val vold = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id").as("o_id"), col("source").as("o_source"),
          when(col("doc_id") % 13 === 5, upper(col("text"))).otherwise(col("text")).as("o_text"))
      val vnew = docs.filter(col("doc_id") % 17 =!= 2)
        .select(col("doc_id").as("n_id"), col("source").as("n_source"), col("text").as("n_text"))
      val verdict = when(col("o_id").isNull, "added")
        .when(col("n_id").isNull, "removed")
        .when(col("o_text") =!= col("n_text"), "changed")
        .otherwise("unchanged")
      vold.join(vnew, col("o_id") === col("n_id"), "full_outer")
        .select(coalesce(col("o_source"), col("n_source")).as("source"), verdict.as("verdict"))
        .groupBy("source")
        .agg(
          sum(when(col("verdict") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("verdict") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("verdict") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("verdict") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
        .orderBy("source")
    },
  )
}
