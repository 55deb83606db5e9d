package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language ID (stopword heuristic), quality scoring, token counting, and
  * rolling-hash document fingerprinting. All map-side (no shuffle except the
  * final ORDER BY), codegen-friendly expression trees — no UDFs.
  */
object TextAnalysis {

  private[pipeline] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "von", "mit")
  private val stopEs = Seq("el", "la", "de", "que", "y", "en", "los")
  private val stopFr = Seq("le", "les", "et", "des", "du", "une", "est")
  private val stopZh = Seq("de5", "shi4", "le5", "zai4", "wo3", "you3", "he2")

  // Occurrence count per stopword list: a codegen'd set-membership loop
  // (graft.functions.ArrayCountInSet). The formulation
  // size(filter(words, w -> array_contains(list, w))) evaluates the lambda
  // interpreted per row × 5 lists — 25.8 s at sf0.1; the kernel is map-speed
  // and keeps identical occurrence semantics (array_intersect would dedup).
  private def hits(words: Column, list: Seq[String]): Column =
    graft.functions.TextExpressions.countInSet(words, list)

  private[pipeline] def sqlHits(list: Seq[String]): String =
    s"len(list_filter(words, w -> list_contains([${list.map("'" + _ + "'").mkString(", ")}], w)))"

  // tx02's signals over a split `words` array
  private def typeTokenRatio(words: Column) = size(array_distinct(words)).cast("double") / size(words)
  private def stopwordRatio(words: Column) = hits(words, stopEn).cast("double") / size(words)

  /** tx02's quality score from its signals: ratios first, then the
    * weighted sum, in the order [[qualityScoreSql]] mirrors, so the double
    * is bit-identical across engines.
    */
  private def qualityScore(ttr: Column, swr: Column, nWords: Column): Column =
    ttr * 0.5 + swr * 0.3 + when(nWords >= 20 && nWords <= 1000, 0.2).otherwise(0.0)
  private[pipeline] def qualityScore(words: Column): Column =
    qualityScore(typeTokenRatio(words), stopwordRatio(words), size(words))

  private def qualityScoreSql(ttr: String, swr: String, nWords: String): String =
    s"$ttr * 0.5 + $swr * 0.3 + (CASE WHEN $nWords >= 20 AND $nWords <= 1000 THEN 0.2 ELSE 0.0 END)"
  /** Oracle twin of [[qualityScore]] over a `words` list column. */
  private[pipeline] lazy val qualityOfWordsSql: String = qualityScoreSql(
    "CAST(len(list_distinct(words)) AS DOUBLE) / len(words)",
    s"CAST(${sqlHits(stopEn)} AS DOUBLE) / len(words)", "len(words)")

  /** tx02's score over `documents` as CTEs ending in `qs(doc_id,
    * quality_score)` — shared with prof02's and dd07's oracles.
    */
  private[pipeline] lazy val qualityCtes: String =
    s"""qw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |qs AS (SELECT doc_id, $qualityOfWordsSql AS quality_score FROM qw)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- tx01: language ID via stopword frequency scoring with a fixed
    // precedence argmax (deterministic on ties).
    QueryDef.sql(
      "tx01_language_id",
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${sqlHits(stopEn)} AS s_en, ${sqlHits(stopDe)} AS s_de, ${sqlHits(stopEs)} AS s_es,
         |  ${sqlHits(stopFr)} AS s_fr, ${sqlHits(stopZh)} AS s_zh
         |  FROM w)
         |SELECT doc_id, lang AS labeled_lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
         |       WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
         |       WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
         |       WHEN s_zh > 0 THEN 'zh'
         |       ELSE 'und' END AS predicted_lang,
         |  CAST(s_en AS BIGINT) AS score_en
         |FROM s ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val w = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words"))
      val s = w.select(col("doc_id"), col("lang"),
        hits(col("words"), stopEn).as("s_en"), hits(col("words"), stopDe).as("s_de"),
        hits(col("words"), stopEs).as("s_es"), hits(col("words"), stopFr).as("s_fr"),
        hits(col("words"), stopZh).as("s_zh"))
      s.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
          col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh") && col("s_en") > 0, "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
            col("s_de") >= col("s_zh") && col("s_de") > 0, "de")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh") && col("s_es") > 0, "es")
          .when(col("s_fr") >= col("s_zh") && col("s_fr") > 0, "fr")
          .when(col("s_zh") > 0, "zh")
          .otherwise("und").as("predicted_lang"),
        col("s_en").cast("long").as("score_en"))
        .orderBy("doc_id")
    },

    // ----- tx02: quality scoring — length / stopword-ratio / type-token-ratio
    // signals combined into a deterministic score (double arithmetic mirrored
    // op-for-op in the oracle).
    QueryDef.sql(
      "tx02_quality_score",
      s"""WITH w AS (SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS words FROM documents),
         |f AS (SELECT doc_id, lang,
         |  CAST(len(words) AS BIGINT) AS n_words,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS type_token_ratio,
         |  CAST(${sqlHits(stopEn)} AS DOUBLE) / len(words) AS stopword_ratio,
         |  (CAST(length(text) AS DOUBLE) - (len(words) - 1)) / len(words) AS avg_word_len
         |  FROM w)
         |SELECT doc_id, lang, n_words, n_chars, type_token_ratio, stopword_ratio, avg_word_len,
         |  ${qualityScoreSql("type_token_ratio", "stopword_ratio", "n_words")} AS quality_score
         |FROM f ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val w = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          split(col("text"), " ").as("words"))
      val f = w.select(col("doc_id"), col("lang"),
        size(col("words")).cast("long").as("n_words"),
        col("n_chars").cast("long").as("n_chars"),
        typeTokenRatio(col("words")).as("type_token_ratio"),
        stopwordRatio(col("words")).as("stopword_ratio"),
        ((length(col("text")).cast("double") - (size(col("words")) - 1)) / size(col("words"))).as("avg_word_len"))
      f.select(col("doc_id"), col("lang"), col("n_words"), col("n_chars"),
        col("type_token_ratio"), col("stopword_ratio"), col("avg_word_len"),
        qualityScore(col("type_token_ratio"), col("stopword_ratio"), col("n_words")).as("quality_score"))
        .orderBy("doc_id")
    },

    // ----- tx03: token counting — whitespace tokens + BPE-ish regex tokens
    // ([a-z]+ | digits | single punctuation), rolled up per source.
    QueryDef.sql(
      "tx03_token_counts",
      """WITH d AS (SELECT source, doc_id, text,
        |    len(string_split(text, ' ')) AS ws_tokens,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS docs,
        |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(re_tokens) AS BIGINT) AS total_re_tokens,
        |  CAST(SUM(re_tokens) AS DOUBLE) / COUNT(*) AS avg_re_tokens
        |FROM d GROUP BY source
        |ORDER BY source""".stripMargin,
    ) { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("source"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"))
      d.groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum("ws_tokens").cast("long").as("total_ws_tokens"),
          sum("re_tokens").cast("long").as("total_re_tokens"),
          (sum("re_tokens").cast("double") / count(lit(1))).as("avg_re_tokens"))
        .orderBy("source")
    },

    // ----- tx05: text normalization — the cleaning stage of a training-data
    // pipeline: lowercase, strip non-alphanumerics, collapse whitespace,
    // drop stopwords; reports size retention. Pure map-side expressions.
    QueryDef.sql(
      "tx05_normalize",
      s"""WITH n AS (SELECT doc_id, lang,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean
         |  FROM documents),
         |f AS (SELECT doc_id, lang, clean,
         |    list_filter(string_split(clean, ' '),
         |      w -> NOT list_contains([${stopEn.map("'" + _ + "'").mkString(", ")}], w)) AS kept
         |  FROM n)
         |SELECT doc_id, lang,
         |  CAST(length(clean) AS BIGINT) AS clean_chars,
         |  CAST(len(kept) AS BIGINT) AS kept_words,
         |  array_to_string(kept[1:8], ' ') AS preview
         |FROM f ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val n = Tables(spark, dir).documents.select(col("doc_id"), col("lang"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")).as("clean"))
      val f = n.withColumn("kept",
        graft.functions.TextExpressions.filterNotInSet(split(col("clean"), " "), stopEn))
      // snap the FINAL (small) projection before the global sort:
      // RangePartitioning's boundary-sampling job re-executes the child, so
      // an unmaterialized sort tail paid the whole regex map twice (SCALE.md
      // §0c, sf3: 8.3 s map → 17.0 s with orderBy). The snap stores the
      // ~100 B/doc output columns, not the text — the dc02
      // materialize-once-vs-recompute-twice trade, on the cheap side.
      f.select(col("doc_id"), col("lang"),
        length(col("clean")).cast("long").as("clean_chars"),
        size(col("kept")).cast("long").as("kept_words"),
        concat_ws(" ", slice(col("kept"), 1, 8)).as("preview"))
        .transform(Residency.snap)
        .orderBy("doc_id")
    },

    // ----- tx06: corpus term frequencies — top terms with document frequency
    // (the vocabulary-stats stage of a corpus pipeline; explode + two-level agg).
    QueryDef.sql(
      "tx06_term_frequencies",
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
        |  FROM w GROUP BY term)
        |SELECT term, occurrences, doc_freq,
        |  CAST(occurrences AS DOUBLE) / doc_freq AS occ_per_doc
        |FROM tf
        |ORDER BY occurrences DESC, term
        |LIMIT 30""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("doc_freq"))
        .select(col("term"), col("occurrences"), col("doc_freq"),
          (col("occurrences").cast("double") / col("doc_freq")).as("occ_per_doc"))
        .orderBy(desc("occurrences"), asc("term"))
        .limit(30)
    },

    // ----- tx07: intra-document repetition — share of the most frequent
    // 3-word shingle (non-distinct shingles; a high share marks boilerplate /
    // degenerate generations, a standard pretraining quality filter). Pure
    // map-side shingle kernel + two-level aggregate.
    QueryDef.sql(
      "tx07_repetition",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id, unnest(${Dedup.shinglesSql("words", distinct = false)}) AS s FROM w),
        |pc AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_shingles,
        |  CAST(MAX(c) AS BIGINT) AS top_count,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS repetition_ratio,
        |  CAST(CASE WHEN CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) >= 0.04
        |       THEN 1 ELSE 0 END AS BIGINT) AS repetitive
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val sh = Tables(spark, dir).documents
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), distinct = false)).as("s"))
      val ratio = col("top_count").cast("double") / col("total_shingles")
      sh.groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("total_shingles"),
          max("c").cast("long").as("top_count"))
        .select(col("doc_id"), col("total_shingles"), col("top_count"),
          ratio.as("repetition_ratio"),
          when(ratio >= 0.04, 1L).otherwise(0L).as("repetitive"))
        .orderBy("doc_id")
    },

    // ----- tx08: per-source vocabulary audit — the "know your data" table a
    // curation pipeline publishes per domain before mixing (docs, tokens,
    // distinct terms, hapax legomena, type-token ratio, dominant term and its
    // share). Complements tx06 (corpus-wide top terms): this is grouped by
    // provenance, the grain mixture weighting (mx01) and per-domain quality
    // review operate at.
    //
    // 100 TB shape: one shuffle keyed (source, term) with map-side partial
    // counts — per-reducer state is bounded by VOCABULARY, not corpus; the
    // second stage and the top-term window run over per-(source, term) rows,
    // already vocabulary-sized. No corpus-sized window, no driver collect.
    QueryDef.sql(
      "tx08_vocab_audit",
      """WITH w AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pt AS (SELECT source, term, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |top AS (SELECT source, term AS top_term, n AS top_n,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, term) AS rn
        |  FROM pt),
        |ag AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tokens,
        |    COUNT(*) AS distinct_terms,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms
        |  FROM pt GROUP BY 1),
        |d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT d.source, d.n_docs, ag.tokens, ag.distinct_terms, ag.hapax_terms,
        |  CAST(ag.distinct_terms AS DOUBLE) / ag.tokens AS type_token_ratio,
        |  t.top_term,
        |  CAST(t.top_n AS DOUBLE) / ag.tokens AS top_term_share
        |FROM d JOIN ag USING (source) JOIN top t USING (source)
        |WHERE t.rn = 1 ORDER BY d.source""".stripMargin,
    ) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      val pt = docs
        .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      val top = pt
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(desc("n"), asc("term"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("term").as("top_term"), col("n").as("top_n"))
      val ag = pt.groupBy("source").agg(
        sum("n").cast("long").as("tokens"),
        count(lit(1)).as("distinct_terms"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax_terms"))
      val d = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      d.join(ag, Seq("source")).join(top, Seq("source"))
        .select(col("source"), col("n_docs"), col("tokens"), col("distinct_terms"),
          col("hapax_terms"),
          (col("distinct_terms").cast("double") / col("tokens")).as("type_token_ratio"),
          col("top_term"),
          (col("top_n").cast("double") / col("tokens")).as("top_term_share"))
        .orderBy("source")
    },

    // ----- tx04: document fingerprinting — polynomial rolling hash over the
    // character stream, exact BIGINT arithmetic mod 1e9+7 (bit-identical in
    // any engine; groups exact duplicates without comparing full texts).
    QueryDef.sql(
      "tx04_fingerprint",
      s"""WITH f AS (SELECT doc_id, ${Dedup.polyHashSql("text")} AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        |  CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS fp_copies
        |FROM f ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Codegen'd rolling-hash kernel (StringPolyHash) — an interpreted
      // aggregate-HOF over a per-character split is 5 s at sf0.1 for a
      // map-side op; the kernel folds the UTF-16 units directly.
      Tables(spark, dir).documents
        .select(col("doc_id"),
          graft.functions.TextExpressions.polyHash(col("text")).as("fingerprint"))
        .withColumn("fp_copies", count(lit(1)).over(Window.partitionBy("fingerprint")).cast("long"))
        .orderBy("doc_id")
    },

    // ----- bp01: BPE-style tokenizer pair statistics — the first iteration
    // of byte-pair-encoding training: corpus-wide adjacent character-pair
    // counts, top-20. The classic scale trick is structural here: the word
    // count collapses the corpus to its VOCABULARY first (one wordcount
    // shuffle), and pair extraction — the interpreted per-character lambda —
    // runs over vocab rows weighted by frequency, never over the corpus
    // stream. At 100 TB the vocab is metadata-scale next to the text, so
    // the expensive stage's input is bounded by |vocab|, not corpus bytes.
    // Guard: single-char words yield no pairs; filtered on BOTH sides
    // (Spark's sequence(1,0) counts DOWN, it is not empty like DuckDB's
    // generate_series).
    QueryDef.sql(
      "bp01_bpe_pair_counts",
      """WITH v AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |    i -> w[i:i+1])) AS pair, c
        |  FROM v WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
        |FROM p GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,
    ) { (spark, dir) =>
      val vocab = Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .filter(length(col("w")) >= 2)
      vocab
        .select(col("c"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("c").cast("long").as("pair_count"))
        .orderBy(desc("pair_count"), asc("pair"))
        .limit(20)
    },

    // ----- bp02: iterative BPE merge training (Sennrich et al. 2016) — the
    // full merge loop bp01's single pair-count round starts: N rounds
    // ([[DefaultMergeRounds]]; the loop and the generated oracle CTE chain
    // are round-count-generic, the catalog pins the default) of
    // (count adjacent token pairs over the frequency-weighted vocabulary →
    // pick the most frequent pair → merge every occurrence). Words are held
    // as space-joined token strings; a merge is a regex replace of
    // `\ba b\b` → `ab`, whose left-to-right non-overlapping semantics IS
    // BPE's leftmost-first merge order on both engines (tokens are [a-z]+,
    // so \b is an exact token boundary). The per-round argmax is a 1-row
    // driver collect — the same metadata-scale loop control as k-means
    // convergence; the oracle unrolls the 3 rounds as CTE stages with
    // scalar subqueries. Ties break on (count DESC, pair ASC) — identical
    // ordering both sides.
    //
    // 100 TB shape: identical to bp01 — the corpus collapses to its vocab
    // in one wordcount shuffle, and every merge round runs over vocab rows
    // weighted by frequency (|vocab| is metadata-scale next to the text).
    QueryDef.sql(
      "bp02_bpe_merges",
      s"""WITH $Bp02TrainCtes
         |SELECT CAST(step AS BIGINT) AS step, a AS pair_left, b AS pair_right,
         |  a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
         |FROM (
         |  ${(1 to DefaultMergeRounds).map(i =>
              s"SELECT $i AS step, * FROM b$i").mkString("\n  UNION ALL ")})
         |ORDER BY step""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      trainMerges(spark, dir).toDF("step", "pair_left", "pair_right", "merged", "pair_count")
        .select(col("step").cast("long").as("step"), col("pair_left"),
          col("pair_right"), col("merged"), col("pair_count"))
        .orderBy("step")
    },

    // ----- bp03: apply the learned merges — tokenize the corpus with
    // bp02's 3-round merge table and report per-document token economics
    // (whitespace tokens vs BPE tokens vs chars/token). The apply pass is
    // vocab-bounded like the training: each DISTINCT word is tokenized
    // once (3 chained codegen'd regexp_replace — merges in training
    // order), then documents map through the vocab with one join on the
    // word. Single-char words (excluded from TRAINING — they have no
    // pairs) tokenize here too: 1 token each.
    QueryDef.sql(
      "bp03_bpe_tokenize",
      s"""WITH ${Bp02TrainCtes},
         |va AS (SELECT w, COUNT(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
         |tok AS (SELECT w, len(string_split(
         |    $BpApplySql, ' ')) AS t
         |  FROM va),
         |dw AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(t) AS BIGINT) AS bpe_tokens,
         |  CAST(ANY_VALUE(n_chars) AS DOUBLE) / CAST(SUM(t) AS BIGINT) AS chars_per_token
         |FROM dw JOIN tok USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val merges = trainMerges(spark, dir).map(m => (m._2, m._3))
      val spaced = trim(regexp_replace(col("w"), "(.)", "$1 "))
      val applied = merges.foldLeft(spaced) { case (acc, (a, b)) =>
        regexp_replace(acc, s"\\b$a $b\\b", a + b)
      }
      val tok = Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"), size(split(applied, " ")).as("t"))
      Tables(spark, dir).documents
        .select(col("doc_id"), col("n_chars"), explode(split(col("text"), " ")).as("w"))
        .join(tok, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("ws_tokens"),
          sum("t").cast("long").as("bpe_tokens"),
          (first(col("n_chars")).cast("double") / sum("t").cast("long")).as("chars_per_token"))
        .orderBy("doc_id")
    },

    // ----- ck02: token-aware sliding-window chunking — ck01's context-window
    // prep re-measured in the unit that actually bounds a training example:
    // LEARNED BPE tokens (bp02's merges), not whitespace words. Chunk k
    // covers token offsets [k·$ChunkStride, k·$ChunkStride + $ChunkTokens);
    // a word belongs to every chunk whose range contains its starting token
    // offset, so chunks overlap by ${ChunkTokens - ChunkStride} tokens and
    // words are never split (a boundary word counts fully in both chunks —
    // word-granular windows, the md5 witnesses pin exactly which words).
    //
    // 100 TB shape: tokenization is vocab-bounded (each DISTINCT word
    // tokenized once, bp03's pass); per-word token offsets are a running sum
    // windowed BY DOCUMENT (partition size = doc length, never corpus-wide);
    // the chunk explode is ≤ 2 rows/word (stride > half-window), and the
    // final agg shuffles on (doc, chunk) — all partition sizes track
    // document length, so the plan scales with corpus row count alone.
    QueryDef.sql(
      "ck02_token_chunking",
      s"""WITH ${Bp02TrainCtes},
         |va AS (SELECT w, COUNT(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
         |tok AS (SELECT w, len(string_split(
         |    $BpApplySql, ' ')) AS t
         |  FROM va),
         |dw AS (SELECT doc_id,
         |    unnest(generate_series(0, len(words) - 1)) AS pos, unnest(words) AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
         |wt AS (SELECT d.doc_id, d.pos, d.w, tok.t FROM dw d JOIN tok USING (w)),
         |so AS (SELECT doc_id, pos, w, t,
         |    CAST(COALESCE(SUM(t) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
         |  FROM wt),
         |ch AS (SELECT doc_id, pos, w, t,
         |    unnest(generate_series(
         |      CASE WHEN strt < $ChunkTokens THEN 0
         |           ELSE (strt - $ChunkTokens) // $ChunkStride + 1 END,
         |      strt // $ChunkStride)) AS k
         |  FROM so)
         |SELECT doc_id, CAST(k + 1 AS BIGINT) AS chunk_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(t) AS BIGINT) AS n_tokens,
         |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
         |FROM ch GROUP BY doc_id, k
         |ORDER BY doc_id, chunk_id""".stripMargin,
    ) { (spark, dir) =>
      val merges = trainMerges(spark, dir).map(m => (m._2, m._3))
      val spaced = trim(regexp_replace(col("w"), "(.)", "$1 "))
      val applied = merges.foldLeft(spaced) { case (acc, (a, b)) =>
        regexp_replace(acc, s"\\b$a $b\\b", a + b)
      }
      val tok = Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"), size(split(applied, " ")).as("t"))
      val dw = Tables(spark, dir).documents
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val wBefore = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val so = dw.join(tok, "w")
        .withColumn("strt", coalesce(sum("t").over(wBefore), lit(0)).cast("long"))
      val kmin = when(col("strt") < ChunkTokens, lit(0L))
        .otherwise(expr(s"(strt - $ChunkTokens) div $ChunkStride") + 1L)
      val ch = so.withColumn("k",
        explode(sequence(kmin, expr(s"strt div $ChunkStride"))))
      ch.groupBy("doc_id", "k")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum("t").cast("long").as("n_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")), " ").cast("binary")).as("chunk_md5"))
        .select(col("doc_id"), (col("k") + 1).cast("long").as("chunk_id"),
          col("n_words"), col("n_tokens"), col("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
  )

  /** Number of BPE merge rounds for the bp02/bp03 catalog entries. A real
    * tokenizer trains thousands of merges with the identical loop; the
    * catalog pins a small default so the oracle CTE chain (unrolled once per
    * round) stays readable and the entries' hashes stable across rounds.
    * [[bp02TrainCtes]]/[[trainMerges]] take the count as a parameter — the
    * operator itself is round-count-generic.
    */
  // `final` without a type ascription = compile-time constant, inlined at
  // use sites — immune to the declared-after-`defs` init-order zero read
  private[pipeline] final val DefaultMergeRounds = 3

  /** ck02 window: chunk size and stride in learned-BPE tokens (overlap =
    * ChunkTokens − ChunkStride = 8). Stride > half-window keeps the chunk
    * explode ≤ 2 rows per word. Compile-time constants (see above).
    */
  private[pipeline] final val ChunkTokens = 32
  private[pipeline] final val ChunkStride = 24

  /** bp02's N-round training chain as oracle CTEs, ending in `b1`..`bN`
    * (one row each: the round's winning pair + count) — shared with bp03's
    * apply oracle. Generated programmatically per round count; for each
    * round i: `pi` counts adjacent token pairs over the merged vocab `s(i-1)`,
    * `bi` is the (cnt DESC, a, b) argmax, `si` applies the merge. Raw
    * strings: `\1`/`\b` must reach DuckDB verbatim.
    */
  private[pipeline] def bp02TrainCtes(rounds: Int): String = {
    require(rounds >= 1, s"BPE training needs >= 1 round, got $rounds")
    def pairCte(i: Int) =
      s"""p$i AS (SELECT a, b, SUM(c) AS cnt FROM (
         |    SELECT c,
         |      unnest(string_split(sp, ' ')[1:len(string_split(sp, ' ')) - 1]) AS a,
         |      unnest(string_split(sp, ' ')[2:len(string_split(sp, ' '))]) AS b
         |    FROM s${i - 1}) GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
    def mergeCte(i: Int) =
      s"""s$i AS (SELECT regexp_replace(sp,
         |    '\\b' || (SELECT a FROM b$i) || ' ' || (SELECT b FROM b$i) || '\\b',
         |    (SELECT a FROM b$i) || (SELECT b FROM b$i), 'g') AS sp, c FROM s${i - 1})""".stripMargin
    val chain = (1 to rounds).map { i =>
      if (i < rounds) pairCte(i) + ",\n" + mergeCte(i) else pairCte(i)
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |s0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sp, c
       |  FROM v0 WHERE length(w) >= 2),
       |$chain""".stripMargin
  }

  // lazy: referenced by `defs`' oracle strings during object init (the
  // declared-later-reads-zero trap ann07's PqK hit)
  private lazy val Bp02TrainCtes: String = bp02TrainCtes(DefaultMergeRounds)

  /** The SQL expression applying bp02's learned merges to a word column `w`
    * (space the chars, then each round's `\ba b\b` replace in training
    * order) — the oracle twin of [[trainMerges]]-driven tokenization.
    * Shared by bp03's and ck02's oracles.
    */
  private lazy val BpApplySql: String =
    (1 to DefaultMergeRounds).foldLeft("trim(regexp_replace(w, '(.)', '\\1 ', 'g'))") {
      (acc, i) =>
        s"""regexp_replace($acc,
           |      '\\b' || (SELECT a FROM b$i) || ' ' || (SELECT b FROM b$i) || '\\b',
           |      (SELECT a FROM b$i) || (SELECT b FROM b$i), 'g')""".stripMargin
    }

  /** The small-vocab fast path: a weighted vocabulary at or below this many
    * rows is collected and the merge rounds run on the driver — the ts02
    * union-find pattern. The distributed loop costs 2 dispatch-bound jobs
    * per round (pair TakeOrdered + snap) however small the vocab; the corpus
    * vocab here is tens of rows. Bound chosen for driver memory, not speed.
    */
  private val BpeLocalMaxVocab = 2000000L

  /** The distributed loop's argmax, `orderBy(desc("cnt"), asc("a"),
    * asc("b"))`, on the driver. Spark orders strings by their UTF-8 bytes;
    * Java's `String` order compares UTF-16 code units, which disagrees above
    * U+FFFF (a surrogate pair sorts below U+E000–U+FFFF), so the ties break
    * on the bytes.
    */
  private[pipeline] def bestPair(counts: Iterable[((String, String), Long)]): ((String, String), Long) = {
    val utf8: Ordering[String] = (x, y) => java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts.minBy { case ((a, b), c) => (-c, a, b) }(Ordering.Tuple3(Ordering.Long, utf8, utf8))
  }

  /** Driver-side merge loop — exact twin of the distributed one: same pair
    * counting (Σc per adjacent pair), same argmax order ([[bestPair]]), same
    * java.util.regex replacement both engines use. Pinned equal to the
    * distributed loop in ScrubSpec.
    */
  private def trainMergesLocal(vocab: Array[(String, Long)], rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var cur = vocab
    val steps = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (step <- 1 to rounds if !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (sp, c) =>
        val t = sp.split(" ")
        var i = 0
        while (i < t.length - 1) {
          val k = (t(i), t(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        val ((a, b), c) = bestPair(cnt)
        charsetGuard(step, a, b)
        steps += ((step, a, b, a + b, c))
        if (step < rounds)
          cur = cur.map { case (sp, w) =>
            (sp.replaceAll(s"\\b$a $b\\b", a + b), w)
          }
      }
    }
    steps.result()
  }

  private def charsetGuard(step: Int, a: String, b: String): Unit =
    for (t <- Seq(a, b))
      require(t.matches("[a-z]+"),
        s"BPE merge round $step won a pair outside [a-z]+ ('$a','$b'): regex-interpolated " +
          "merges are only exact for plain lowercase tokens — extend the charset contract " +
          "(and escape the interpolation on both engines) before training on this corpus")

  /** The frequency-weighted vocab (spaced word, count) the merge loop reads. */
  private def vocab(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(length(col("w")) >= 2)
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sp"), col("c"))
      .transform(Residency.snap) // vocab-sized; re-read every merge round

  /** bp02's merge loop, shared with bp03's apply pass: `rounds` rounds of
    * (pair-count over the frequency-weighted vocab → argmax → merge).
    * Returns (step, left, right, merged, count) per round; the per-round
    * argmax is a 1-row driver collect (the k-means-convergence class).
    *
    * Learned tokens are interpolated into regex patterns on BOTH engines
    * (`\ba b\b` here, the `'\b' || a || ...` CTEs in the oracle), which is
    * only exact while tokens are word characters with no regex
    * metacharacters — so a winning pair outside [a-z]+ fails LOUDLY here
    * instead of silently mis-merging.
    */
  private def trainMerges(spark: org.apache.spark.sql.SparkSession, dir: String,
      rounds: Int = DefaultMergeRounds): Seq[(Int, String, String, String, Long)] = {
    val v = vocab(spark, dir)
    if (v.count() <= BpeLocalMaxVocab)
      trainMergesLocal(v.collect().map(r => (r.getString(0), r.getLong(1))), rounds)
    else trainMergesDistributed(v, rounds)
  }

  /** The merge loop as Spark jobs, one pair count and one snap per round. */
  private def trainMergesDistributed(vocab: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var cur = vocab
    val steps = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (step <- 1 to rounds if !exhausted) {
      val toks = split(col("sp"), " ")
      val pairs = cur
        .select(col("c"), explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1))).as("p"))
        .select(col("c"), col("p").getField("0").as("a"), col("p").getField("1").as("b"))
        .groupBy("a", "b").agg(sum("c").as("cnt"))
      val top = pairs.orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) { exhausted = true } // every word fully merged: real
      // BPE stops here (fewer steps than asked; the pinned catalog default
      // never hits this on the corpus — the oracle CTE chain assumes it)
      else {
        val best = top.head
        val a: String = best.getString(0)
        val b: String = best.getString(1)
        charsetGuard(step, a, b)
        steps += ((step, a, b, a + b, best.getLong(2)))
        if (step < rounds)
          cur = Residency.snap(cur.select(
            regexp_replace(col("sp"), s"\\b$a $b\\b", a + b).as("sp"), col("c")))
      }
    }
    steps.result()
  }

  /** Test seam: run the training loop at an arbitrary round count. */
  private[pipeline] def trainMergesAt(spark: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int): Seq[(Int, String, String, String, Long)] =
    trainMerges(spark, dir, rounds)

  /** Test seam: [[trainMergesAt]] by the distributed loop, whatever the
    * vocab size.
    */
  private[pipeline] def trainMergesDistributedAt(spark: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int): Seq[(Int, String, String, String, Long)] =
    trainMergesDistributed(vocab(spark, dir), rounds)
}
