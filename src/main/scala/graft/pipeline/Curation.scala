package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators that sit between scrubbing (Scrub) and
  * selection (Sampling) in a training-data pipeline: cross-document segment
  * dedup (the CCNet paragraph-dedup shape), character-bigram language-model
  * scoring (the KenLM-perplexity filter family, kept transcendental-free so
  * the oracle is hash-exact), quality-ranked token-budget selection, and
  * leakage-safe train/valid/test splitting (near-dup clusters never straddle
  * a split boundary).
  *
  * Reference anchor: none — the reference has no curation stage (its events
  * are synthetic, sample_queries.sql); these derive from the public pipeline
  * literature (CCNet §4.1 paragraph dedup, Gopher/C4 quality filtering,
  * GPT-3 §2.2's train/test leakage controls) re-expressed as Spark plans.
  */
object Curation {

  // sp01 split fractions in permille of the Knuth bucket space.
  private[pipeline] val TrainUpper = 800L
  private[pipeline] val ValidUpper = 900L

  // lm01: a document whose mean bigram conditional probability (under the
  // corpus's own model) falls below this is out-of-distribution text.
  private[pipeline] val Lm01Flag = 0.25

  /** dd09's segment dedup over `text` in `docs`: per doc_id, its 5-word
    * segment count `n_segs`, the count `n_kept` of its segments that are the
    * corpus-wide first occurrence (ordered by doc_id, then segment index),
    * and those segments re-joined in order as `cleaned` ("" when none
    * survive).
    */
  private[pipeline] def segmentsKept(docs: DataFrame, text: String): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col(text), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(words) / 5.0) as int) - 1)," +
          " i -> array_join(slice(words, i*5 + 1, 5), ' '))")).as(Seq("idx", "seg")))
    val rk = segs.withColumn("rn",
      row_number().over(Window.partitionBy("seg").orderBy("doc_id", "idx")))
    val keptInOrder = array_join(
      transform(
        array_sort(collect_list(when(col("rn") === 1, struct(col("idx"), col("seg"))))),
        x => x.getField("seg")),
      " ")
    rk.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
        keptInOrder.as("cleaned"))
  }

  /** Oracle twin of [[segmentsKept]] over `text` in `rel`, ending in
    * `sgk(doc_id, n_segs, n_kept, cleaned)` (`cleaned` is NULL when no
    * segment survives).
    */
  private[pipeline] def segmentCtes(rel: String, text: String): String =
    s"""sgw AS (SELECT doc_id, string_split($text, ' ') AS words FROM $rel),
       |sgi AS (SELECT doc_id, words,
       |    generate_series(0, CAST(ceil(len(words) / 5.0) AS BIGINT) - 1) AS ids FROM sgw),
       |sgs AS (SELECT doc_id, unnest(ids) AS idx,
       |    unnest(list_transform(ids, i -> array_to_string(words[i*5+1 : i*5+5], ' '))) AS seg
       |  FROM sgi),
       |sgr AS (SELECT doc_id, idx, seg,
       |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
       |  FROM sgs),
       |sgk AS (SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_segs,
       |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE rn = 1) AS cleaned
       |  FROM sgr GROUP BY doc_id)""".stripMargin

  /** dd09's entry over any `(doc_id, text)` frame (shared with CurationSpec's
    * planted-duplicate cases).
    */
  def segmentDedup(docs: DataFrame): DataFrame =
    segmentsKept(docs, "text")
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("cleaned").cast("binary")).as("cleaned_md5"))
      .orderBy("doc_id")

  /** lm01's character-bigram scores over `text` in `docs`, under the model
    * the same frame's bigrams define: (doc_id, n_bigrams, avg_prob,
    * min_prob).
    */
  private[pipeline] def lmScored(docs: DataFrame, text: String): DataFrame = {
    val inst = docs
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.charBigrams(col(text))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .transform(Residency.snap) // feeds the model AND the scoring join
    val model = inst.groupBy("bg").agg(sum("c").cast("long").as("c_bg"))
    val uni = model.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("c_bg").cast("long").as("c_uni"))
    val p = model.join(uni, substring(col("bg"), 1, 1) === col("c1"))
      .select(col("bg"), (col("c_bg").cast("double") / col("c_uni")).as("prob"))
    inst.join(broadcast(p), "bg")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_bigrams"),
        round(sum(col("c") * col("prob")) / sum("c"), 9).as("avg_prob"),
        min("prob").as("min_prob"))
  }

  /** Oracle twin of [[lmScored]] over `text` in `rel`, ending in
    * `lmsc(doc_id, n_bigrams, avg_prob, min_prob)`.
    */
  private[pipeline] def lmCtes(rel: String, text: String): String =
    s"""bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, length($text) - 1),
       |    i -> substring($text, i, 2))) AS bg
       |  FROM $rel),
       |inst AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |model AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c_bg FROM inst GROUP BY 1),
       |uni AS (SELECT substring(bg, 1, 1) AS c1, CAST(SUM(c_bg) AS BIGINT) AS c_uni
       |  FROM model GROUP BY 1),
       |p AS (SELECT m.bg, CAST(c_bg AS DOUBLE) / c_uni AS prob
       |  FROM model m JOIN uni u ON substring(m.bg, 1, 1) = u.c1),
       |lmsc AS (SELECT i.doc_id,
       |    CAST(SUM(i.c) AS BIGINT) AS n_bigrams,
       |    round(SUM(i.c * p.prob) / SUM(i.c), 9) AS avg_prob,
       |    MIN(p.prob) AS min_prob
       |  FROM inst i JOIN p ON i.bg = p.bg
       |  GROUP BY i.doc_id)""".stripMargin

  /** sel01's ranking input over `text` in `docs`: doc_id, the `carry`
    * columns, `n_tokens` and tx02's `quality_score`.
    */
  private[pipeline] def budgetScored(docs: DataFrame, text: String, carry: String*): DataFrame = {
    val words = split(col(text), " ")
    docs.select((col("doc_id") +: carry.map(col)) ++ Seq(
      size(words).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(words).as("quality_score")): _*)
  }

  /** sel01's cut over a [[budgetScored]] frame: the running token total
    * `cum_tokens` in (quality_score desc, doc_id) order, from
    * DistributedRank's range-partition + broadcast-prefix running sum (no
    * single-partition window), and `selected` while it stays within half
    * the frame's tokens — a 1-row metadata scalar, so the cut is
    * scale-invariant.
    */
  private[pipeline] def withTokenBudget(scored: DataFrame): DataFrame = {
    val total = scored.agg(sum("n_tokens")).head()
    val budget = if (total.isNullAt(0)) 0L else total.getLong(0) / 2
    graft.operators.DistributedRank
      .withRunningTotal(scored, "cum_tokens", "n_tokens",
        col("quality_score").desc, col("doc_id"))
      .withColumn("selected", col("cum_tokens") <= budget)
  }

  /** Oracle twin of [[budgetScored]] + [[withTokenBudget]] over `text` in
    * `rel`, ending in `bud(doc_id, <carry>, n_tokens, quality_score,
    * cum_tokens, selected)`.
    */
  private[pipeline] def budgetCtes(rel: String, text: String, carry: String*): String = {
    val cs = carry.map(_ + ", ").mkString
    s"""bw AS (SELECT doc_id, $cs string_split($text, ' ') AS words FROM $rel),
       |bq AS (SELECT doc_id, $cs CAST(len(words) AS BIGINT) AS n_tokens,
       |    ${TextAnalysis.qualityOfWordsSql} AS quality_score
       |  FROM bw),
       |bud AS (SELECT *, cum_tokens <= (SELECT SUM(n_tokens) // 2 FROM bq) AS selected FROM (
       |  SELECT *, SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS cum_tokens
       |  FROM bq))""".stripMargin
  }

  /** sp01's train/valid/test split of a document whose near-dup cluster
    * representative is `rep`: its Knuth permille bucket against the split
    * fractions.
    */
  private[pipeline] def splitOf(rep: Column): Column = {
    val bkt = Sampling.bucket(rep)
    when(bkt < TrainUpper, "train").when(bkt < ValidUpper, "valid").otherwise("test")
  }
  // oracle twin of splitOf
  private[pipeline] def splitSql(rep: String): String = {
    val bkt = Sampling.bucketSql(rep)
    s"CASE WHEN $bkt < $TrainUpper THEN 'train' WHEN $bkt < $ValidUpper THEN 'valid' ELSE 'test' END"
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- dd09: cross-document segment dedup — CCNet-style paragraph
    // dedup with a deterministic segmenter (consecutive 5-word segments;
    // the corpus has no newline structure, so the segmenter IS the
    // paragraph boundary). Every segment instance after the corpus-wide
    // first occurrence (ordered by doc_id, then segment index) is removed;
    // the md5 of each re-assembled document is the oracle-checked witness
    // that both engines kept and ordered the identical segments.
    //
    // 100 TB shape: one shuffle keyed by segment text for the
    // first-occurrence window (partition size tracks per-segment duplicate
    // count, not corpus size), one shuffle on doc_id for re-assembly. At
    // production scale the window key would be xxhash64(seg) to cut
    // shuffle bytes ~5× (collision-safe for ranking: a collision only
    // merges rank domains, still deterministic); kept as the string here
    // so the oracle replays the exact grouping.
    QueryDef.sql(
      "dd09_segment_dedup",
      s"""WITH ${segmentCtes("documents", "text")}
         |SELECT doc_id, n_segs, n_kept, md5(COALESCE(cleaned, '')) AS cleaned_md5
         |FROM sgk ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      segmentDedup(Tables(spark, dir).documents)
    },

    // ----- lm01: character-bigram language-model scoring — the
    // perplexity-filter stage of a curation pipeline (CCNet uses KenLM;
    // the model here is the corpus's own char-bigram MLE). Per document:
    // mean conditional probability of its bigrams under the corpus model,
    // and the rarest bigram it contains. Everything except the final mean
    // is exact IEEE arithmetic (counts < 2^53, one division per model
    // row); the mean is round(…, 9) on both sides to absorb the engines'
    // differing SUM(double) accumulation order — the ts01 rule. No
    // logarithms on purpose: ln() is correctly-rounded on neither engine,
    // so a log-space perplexity could not be hash-compared.
    //
    // 100 TB shape: the explode amplifies chars ~2× but feeds a map-side
    // partial aggregate keyed (doc_id, bigram) — bounded by per-doc
    // distinct bigrams (≤ charset², a few hundred). The model itself is
    // |charset|² rows — broadcast back onto the instance stream, so the
    // scoring join never shuffles the corpus.
    QueryDef.sql(
      "lm01_char_bigram_model",
      s"""WITH ${lmCtes("documents", "text")}
         |SELECT doc_id, n_bigrams, avg_prob, min_prob,
         |  avg_prob < $Lm01Flag AS flagged
         |FROM lmsc ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      lmScored(Tables(spark, dir).documents, "text")
        .select(col("doc_id"), col("n_bigrams"), col("avg_prob"), col("min_prob"),
          (col("avg_prob") < Lm01Flag).as("flagged"))
        .orderBy("doc_id")
    },

    // ----- cur01: curriculum phase assignment — order the corpus by the
    // lm01 naturalness score (easy/most-natural first, the standard
    // curriculum-learning schedule) and cut it into 3 equal-rank training
    // phases: phase = ⌊(rank−1)·3 / n⌋. Ranking is DistributedRank's
    // range-partition + broadcast-offsets global rank — no
    // single-partition window (the uq06/sel01 discipline); n is a 1-row
    // metadata scalar (the sel01 budget class). The phase cut is exact
    // integer arithmetic on the rank, so both engines agree bit-for-bit.
    QueryDef.sql(
      "cur01_curriculum_phases",
      s"""WITH ${lmCtes("documents", "text")},
         |r AS (SELECT doc_id, avg_prob,
         |    CAST(ROW_NUMBER() OVER (ORDER BY avg_prob DESC, doc_id) AS BIGINT) AS rnk
         |  FROM lmsc),
         |nn AS (SELECT COUNT(*) AS n FROM lmsc)
         |SELECT doc_id, avg_prob, rnk,
         |  CAST(((rnk - 1) * 3) // n AS BIGINT) AS phase
         |FROM r, nn ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val sc = lmScored(Tables(spark, dir).documents, "text").select(col("doc_id"), col("avg_prob"))
      val n = sc.count() // 1-row metadata scalar (sel01's budget class)
      graft.operators.DistributedRank
        .withGlobalRank(sc, "rnk", col("avg_prob").desc, col("doc_id"))
        .select(col("doc_id"), col("avg_prob"), col("rnk").cast("long").as("rnk"),
          expr(s"((rnk - 1) * 3) div $n").cast("long").as("phase"))
        .orderBy("doc_id")
    },

    // ----- sel01: quality-ranked token-budget selection — "take the best
    // documents until the token budget is spent", the final cut a
    // pretraining run makes. Rank by tx02's quality score (descending,
    // doc_id tiebreak), running token total via DistributedRank's
    // range-partition + broadcast-prefix running sum — NO single-partition
    // window (the oracle's global window is the semantics spec, not the
    // plan; same contract as pk01/q36). Budget = half the corpus's tokens,
    // derived from the data so the entry is scale-invariant.
    QueryDef.sql(
      "sel01_token_budget_select",
      s"""WITH ${budgetCtes("documents", "text")}
         |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens, quality_score,
         |  selected
         |FROM bud ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      withTokenBudget(budgetScored(Tables(spark, dir).documents, "text"))
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens").cast("long").as("cum_tokens"),
          col("quality_score"), col("selected"))
        .orderBy("doc_id")
    },

    // ----- sp01: leakage-safe train/valid/test split — every document is
    // assigned a split by hashing its near-dup cluster REPRESENTATIVE
    // (ts02's connected-component min-label; unclustered docs represent
    // themselves), so near-duplicate documents can never land on opposite
    // sides of a train/eval boundary (the GPT-3 §2.2 contamination
    // control, made structural). Deterministic Knuth-permille buckets —
    // re-running the pipeline reproduces the split exactly.
    //
    // 100 TB shape: the cluster map is a LEFT broadcast-or-shuffle join on
    // doc_id (cluster output is duplicate-density-sized, far smaller than
    // the corpus); the hash + case is map-side codegen.
    QueryDef.sql(
      "sp01_leakage_safe_split",
      s"""WITH ${SparseText.clusterCtes}
         |SELECT d.doc_id,
         |  CAST(COALESCE(cl.cluster_id, d.doc_id) AS BIGINT) AS rep_id,
         |  CAST(${Sampling.bucketSql("COALESCE(cl.cluster_id, d.doc_id)")} AS BIGINT) AS bkt,
         |  ${splitSql("COALESCE(cl.cluster_id, d.doc_id)")} AS split
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    ) { (spark, dir) =>
      val clusters = graft.Catalog.byName("ts02_dedup_clusters").build(spark, dir)
      val rep = coalesce(col("cluster_id"), col("doc_id"))
      Tables(spark, dir).documents
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), rep.cast("long").as("rep_id"),
          Sampling.bucket(rep).cast("long").as("bkt"), splitOf(rep).as("split"))
        .orderBy("doc_id")
    },

    // ----- sp02: contamination-safe split — sp01's leakage-safe assignment
    // with benchmark contamination quarantined at the CLUSTER level: a
    // near-dup cluster leaves the train/valid/test rotation entirely if ANY
    // member is n-gram contaminated (dc01's ≥0.3 overlap verdict) OR is
    // itself a benchmark document (ts02 clusters all docs, so a corpus doc
    // near-duplicating an eval doc shares its cluster — the leak dc01's
    // per-doc n-gram test can miss when the paraphrase drops below the
    // shingle threshold but survives the Jaccard one). Propagating through
    // the representative makes the quarantine structural, like sp01's split:
    // a contaminated doc's near-twin can never stay in train. Output covers
    // the corpus side only (bench docs are the eval suite, never split).
    //
    // 100 TB shape: same as sp01 — the cluster map is duplicate-density-
    // sized; per-rep flags are one groupBy over that map; hash + case
    // map-side.
    QueryDef.sql(
      "sp02_contamination_safe_split",
      s"""WITH ${SparseText.clusterCtes},
         |${Decontam.dc01Ctes},
         |contm AS (SELECT d.doc_id,
         |    CAST(CASE WHEN COALESCE(b.frac, 0.0) >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
         |  LEFT JOIN best b ON d.doc_id = b.doc_id),
         |mem AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |rf AS (SELECT m.rep,
         |    MAX(CASE WHEN m.doc_id % 20 = 0 THEN 1 ELSE 0 END) AS has_bench,
         |    MAX(COALESCE(c.contaminated, 0)) AS has_contam
         |  FROM mem m LEFT JOIN contm c ON m.doc_id = c.doc_id
         |  GROUP BY 1)
         |SELECT m.doc_id, CAST(m.rep AS BIGINT) AS rep_id,
         |  CAST(CASE WHEN rf.has_bench = 1 OR rf.has_contam = 1 THEN 1 ELSE 0 END AS BIGINT) AS quarantined,
         |  CASE WHEN rf.has_bench = 1 OR rf.has_contam = 1 THEN 'quarantine'
         |       ELSE ${splitSql("m.rep")} END AS split
         |FROM mem m JOIN rf ON m.rep = rf.rep
         |WHERE m.doc_id % 20 <> 0
         |ORDER BY m.doc_id""".stripMargin,
    ) { (spark, dir) =>
      // cluster map and contamination verdicts derive independently; overlap
      // their eager build jobs
      val (clusters, cont0) = graft.Concurrently(spark,
        graft.Catalog.byName("ts02_dedup_clusters").build(spark, dir),
        graft.Catalog.byName("dc01_decontamination").build(spark, dir))
      val cont = cont0.select(col("doc_id"), col("contaminated"))
      val mem = Tables(spark, dir).documents.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      val rf = mem.join(cont, Seq("doc_id"), "left")
        .groupBy("rep")
        .agg(max(when(col("doc_id") % 20 === 0, 1).otherwise(0)).as("has_bench"),
          max(coalesce(col("contaminated"), lit(0L))).as("has_contam"))
      val quarantined = col("has_bench") === 1 || col("has_contam") === 1
      mem.join(rf, "rep")
        .filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("rep").cast("long").as("rep_id"),
          when(quarantined, 1L).otherwise(0L).as("quarantined"),
          when(quarantined, "quarantine").otherwise(splitOf(col("rep"))).as("split"))
        .orderBy("doc_id")
    },

    // ----- ds01: importance-weighted data selection (DSIR class — Xie et
    // al. 2023, "Data Selection for Language Models via Importance
    // Resampling"): fit a feature model on a TARGET corpus (here: the
    // English subset — the "Wikipedia-like" side) and on the RAW corpus,
    // score every raw document by how much the target model prefers its
    // features, select the target-like docs. Features are lm01's char
    // bigrams (DSIR uses hashed n-grams; the charset² space needs no
    // hashing), both models Laplace-smoothed over the raw domain V:
    // p(b) = (c(b)+1)/(n+V). The per-doc score is the count-weighted MEAN
    // PROBABILITY ADVANTAGE Σ c·(p_t − p_r)/Σ c — a linear surrogate for
    // DSIR's log-likelihood ratio, chosen because ln() is correctly rounded
    // on neither engine (the lm01 no-transcendentals rule); each p is one
    // exact integer division, the difference is exact, and only the final
    // mean needs round(…, 9) for sum-order parity. selected = score > 0
    // (the doc's features are more probable under the target model).
    //
    // 100 TB shape: both models are |charset|² ≤ 729-row aggregates of the
    // same (doc, bigram) instance frame lm01 builds (map-side partial agg
    // bounded by per-doc distinct bigrams); the advantage table broadcasts
    // back onto the instance stream, so scoring never shuffles the corpus —
    // identical plan skeleton to lm01, one more tiny aggregate.
    QueryDef.sql(
      "ds01_importance_selection",
      s"""WITH $DsirCtes
         |SELECT doc_id, lang, n_bigrams, importance, importance > 0 AS selected
         |FROM scored ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      val inst = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.TextExpressions.charBigrams(col("text"))).as("bg"))
        .groupBy("doc_id", "lang", "bg").agg(count(lit(1)).as("c"))
        .transform(Residency.snap) // feeds both models AND the scoring join
      val modelR = inst.groupBy("bg").agg(sum("c").cast("long").as("c_r"))
      val modelT = inst.filter(col("lang") === "en")
        .groupBy("bg").agg(sum("c").cast("long").as("c_t"))
      val scalR = modelR.agg(sum("c_r").cast("long").as("n_r"),
        count(lit(1)).cast("long").as("v"))
      val scalT = modelT.agg(coalesce(sum("c_t"), lit(0L)).cast("long").as("n_t"))
      val adv = modelR.join(modelT, Seq("bg"), "left")
        .crossJoin(broadcast(scalR)).crossJoin(broadcast(scalT))
        .select(col("bg"),
          ((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_t") + col("v")) -
            (col("c_r") + lit(1L)).cast("double") /
              (col("n_r") + col("v"))).as("adv"))
      val m = round(sum(col("c") * col("adv")) / sum("c"), 9)
      inst.join(broadcast(adv), "bg")
        .groupBy("doc_id", "lang")
        .agg(sum("c").cast("long").as("n_bigrams"),
          m.as("importance"),
          (m > 0d).as("selected"))
        .orderBy("doc_id")
    },

    // ----- ds02: importance RESAMPLING — the sampling step DSIR actually
    // takes after scoring (ds01 selects by threshold; the paper resamples
    // with probability ∝ importance weight). Composition of ds01's scores
    // with spl03's sequential-Poisson order sampling: a positive weight
    // w = importance − min(importance) + 1e-9 (min-shift keeps the weight
    // ordering identical to the score ordering, mirrored exactly in the
    // oracle — both engines compute the same doubles since importance is
    // already round(…,9)-pinned), deterministic pseudo-uniform u from the
    // Knuth hash, rank (u+1)/w, 100 smallest ranks win. No RNG: rerunning
    // draws the identical sample on any engine. The take-100 is a
    // TakeOrderedAndProject (bounded heaps); the min scalar is 1-row
    // broadcast.
    QueryDef.sql(
      "ds02_importance_resampling",
      s"""WITH $DsirCtes,
         |mn AS (SELECT MIN(importance) AS mn FROM scored),
         |k AS (
         |  SELECT s.doc_id, s.lang, s.importance,
         |    s.importance - mn.mn + 1e-9 AS w,
         |    ${Sampling.bucketSql("s.doc_id", 1048576L)} AS u
         |  FROM scored s CROSS JOIN mn)
         |SELECT doc_id, lang, importance, CAST(u + 1 AS DOUBLE) / w AS rank
         |FROM k ORDER BY rank, doc_id LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      val scored = graft.Catalog.byName("ds01_importance_selection").build(spark, dir)
        .select(col("doc_id"), col("lang"), col("importance"))
      val mn = scored.agg(min("importance").as("mn"))
      scored.crossJoin(broadcast(mn))
        .select(col("doc_id"), col("lang"), col("importance"),
          ((Sampling.bucket(col("doc_id"), 1048576L) + 1L).cast("double") /
            (col("importance") - col("mn") + 1e-9)).as("rank"))
        .orderBy("rank", "doc_id").limit(100)
    },
  )

  /** ds01's scoring chain as oracle CTEs ending in
    * `scored(doc_id, lang, n_bigrams, importance)` — shared with ds02's
    * resampling oracle.
    */
  private lazy val DsirCtes: String =
    """bg AS (
      |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, length(text) - 1),
      |    i -> substring(text, i, 2))) AS bg
      |  FROM documents),
      |inst AS (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
      |mr AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c_r FROM inst GROUP BY 1),
      |mt AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c_t FROM inst WHERE lang = 'en' GROUP BY 1),
      |sc AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(COUNT(*) AS BIGINT) AS v FROM mr),
      |st AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS n_t FROM mt),
      |p AS (SELECT mr.bg,
      |    CAST(COALESCE(mt.c_t, 0) + 1 AS DOUBLE) / (st.n_t + sc.v)
      |  - CAST(mr.c_r + 1 AS DOUBLE) / (sc.n_r + sc.v) AS adv
      |  FROM mr LEFT JOIN mt USING (bg), sc, st),
      |scored AS (
      |  SELECT i.doc_id, i.lang,
      |    CAST(SUM(i.c) AS BIGINT) AS n_bigrams,
      |    round(SUM(i.c * p.adv) / SUM(i.c), 9) AS importance
      |  FROM inst i JOIN p USING (bg)
      |  GROUP BY 1, 2)""".stripMargin
}
