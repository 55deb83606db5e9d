package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical similarity and duplicate-cluster resolution — the
  * text-side counterparts of the dense-embedding operators.
  *
  * ts01: TF/DF-weighted sparse cosine between documents over 3-gram shingle
  * "terms", computed by a term-blocked join. Shingles, not unigrams: on a
  * small shared vocabulary every document shares every word and unigram
  * blocking degenerates to n² (measured: 114k candidate pairs at sf0.01);
  * shingles keep the join volume proportional to true overlap. Weights are
  * rational values of integer counts (tf/df), so every arithmetic step is an
  * exact IEEE operation mirrored by the oracle — no transcendental idf (ln
  * differs across libm implementations and would break hash parity); the
  * final cosine is rounded to 9 decimals on both sides to absorb SUM(double)
  * accumulation-order ulps.
  *
  * ts02: connected components over the exact near-dup pair graph (dd02) via
  * min-label propagation — the "keep one doc per duplicate cluster" stage.
  * Spark side iterates bounded label-propagation joins (Pregel-lite); the
  * oracle computes the same components with a recursive-CTE transitive
  * closure.
  */
object SparseText {

  private val CosineThreshold = 0.35

  /** ts02's connected-components CTE chain (shared with dd07's oracle):
    * exact near-dup edges (dd02's Jaccard ≥ 0.5 definition) → undirected
    * graph → recursive transitive closure → `cl(doc_id, cluster_id)` with
    * cluster_id = MIN(reachable doc). Only clustered docs appear in `cl`.
    */
  private[pipeline] val clusterCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM w),
      |n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1),
      |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |edges AS (
      |  SELECT doc_a, doc_b FROM common
      |  JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
      |  WHERE CAST(c AS DOUBLE) / (na.ns + nb.ns - c) >= 0.5),
      |undirected AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM edges
      |  UNION ALL SELECT doc_b, doc_a FROM edges),
      |nodes AS (SELECT DISTINCT src AS doc FROM undirected),
      |reach AS (
      |  WITH RECURSIVE r(doc, peer) AS (
      |    SELECT doc, doc FROM nodes
      |    UNION
      |    SELECT r.doc, u.dst FROM r JOIN undirected u ON r.peer = u.src)
      |  SELECT * FROM r),
      |cl AS (SELECT doc AS doc_id, MIN(peer) AS cluster_id FROM reach GROUP BY doc)""".stripMargin

  /** ts01's TF/DF weight CTE chain ending in `w(doc_id, term, wt)` — shared
    * with ts03's oracle. Rational tf/df weights: every step is an exact IEEE
    * operation mirrored by the Spark side.
    */
  private[pipeline] val weightCtes: String =
    """terms AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS term
      |    FROM documents) t
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM terms GROUP BY term),
      |w AS (SELECT doc_id, t.term, tf / df AS wt FROM terms t JOIN df ON t.term = df.term)""".stripMargin

  /** The Spark-side weight frame matching [[weightCtes]]: per-(doc, term)
    * tf/df weight over 3-word shingle terms. Snapped once because every
    * consumer fans out over it several times.
    */
  private[graft] def weights(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val shingles = graft.functions.TextExpressions.wordShingles(col("text"))
    val terms = Tables(spark, dir).documents
      .select(col("doc_id"), explode(shingles).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    terms.join(terms.groupBy("term").agg(count(lit(1)).cast("double").as("df")), "term")
      .select(col("doc_id"), col("term"), (col("tf") / col("df")).as("wt"))
      .transform(Residency.snap)
  }

  /** Conf key bounding ts02's label-propagation rounds (default 20). */
  val LabelPropMaxItersKey = "graft.labelProp.maxIters"

  /** Conf key for the small-graph fast path (r16): an edge set at or below
    * this many pairs is collected and resolved by exact union-find on the
    * driver instead of the distributed fixpoint. Bound chosen for driver
    * memory — 2 M pairs × 16 B ≈ 32 MB plus hash-map overhead — NOT for
    * speed: the distributed path stays the default above it. 0 disables the
    * local path (A/B control).
    */
  val LabelPropLocalMaxEdgesKey = "graft.labelProp.localMaxEdges"
  private val LabelPropLocalMaxEdgesDefault = 2000000L

  /** (doc_id, cluster_id = min member) for every node of the (doc_a, doc_b)
    * edge set, sorted by doc_id: driver union-find up to
    * [[LabelPropLocalMaxEdgesKey]] edges, the distributed fixpoint above it.
    * `edges` is read twice (count, then collect or every round), so callers
    * pass a materialized frame.
    */
  private[pipeline] def clusterMap(spark: SparkSession, edges: DataFrame): DataFrame = {
    val maxLocal = spark.conf.get(LabelPropLocalMaxEdgesKey,
      LabelPropLocalMaxEdgesDefault.toString).toLong
    // metadata job over the materialized blocks, not a recompute
    val nEdges = edges.count()
    if (maxLocal > 0 && nEdges <= maxLocal) {
      // Small-graph fast path: exact union-find on the collected edge
      // list (bounded by maxLocal — see the key's doc). Same components,
      // same (doc_id, min-member) rows; the result is driver-local, so
      // downstream joins (dd07/dd11/sp01/sp02/pp03) broadcast it for free.
      val comp = localComponents(
        edges.collect().map(r => (r.getLong(0), r.getLong(1))))
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("cluster_id", LongType, nullable = false)))
      // comp is sorted by doc_id; one partition keeps that order — the
      // ORDER BY contract holds without a range-exchange job
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          comp.map(p => org.apache.spark.sql.Row(p._1, p._2)), 1),
        schema)
    } else {
      val undirected = edges
        .unionByName(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst")
      val maxIters = spark.conf.get(LabelPropMaxItersKey, "20").toInt
      propagateMinLabels(undirected, maxIters)
        .select(col("doc").as("doc_id"), col("label").cast("long").as("cluster_id"))
        .orderBy("doc_id")
    }
  }

  /** Exact connected components of an edge list by union-find with path
    * compression — the driver-side twin of [[propagateMinLabels]] for
    * metadata-scale graphs (guide §1.2: the distributed fixpoint costs ~15
    * dispatch-bound jobs per run regardless of graph size; at sf0.1 the
    * near-dup graph is ~500 edges and those jobs were ~0.9 s of the entry's
    * 2.1 s wall — in SIX catalog entries that embed the cluster map).
    * Returns (doc, cluster_id = min member of its component) for every node
    * that appears in an edge, sorted by doc — identical by construction to
    * the fixpoint's output (min is associative/commutative over the
    * component; SparseTextSpec pins equality on a random graph).
    */
  private[graft] def localComponents(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are unioned min-first, so find(x) IS the component's min label
    parent.keys.toArray.sorted.map(d => d -> find(d)).toSeq
  }

  /** Min-label propagation to FIXPOINT over an undirected edge frame
    * `(src, dst)` — connected components with cluster_id = min member.
    *
    * Each round's frame references the previous one twice (neighbor-min +
    * outer join), so without plan truncation the logical plan doubles per
    * round and Catalyst analysis alone goes exponential — this, not the
    * data, was the 225 s r1 cost. A snap replaces the plan with the
    * materialized rows each round.
    * Convergence is an aggregated max(changed) over the just-materialized
    * frame — metadata-scale, no second join job.
    *
    * THROWS on cap exit (r7 verdict item 6): an unconverged labeling is not
    * a fixpoint — shipping it silently would feed non-canonical cluster ids
    * into dd07's survivor selection. Convergence needs rounds ≥ the largest
    * cluster's min-label eccentricity, so a legitimately deep graph raises
    * [[LabelPropMaxItersKey]] explicitly rather than truncating silently —
    * the same refuse-loudly contract as the dd05/ann01 exact-baseline guard.
    */
  private[graft] def propagateMinLabels(
      undirected: org.apache.spark.sql.DataFrame, maxIters: Int): org.apache.spark.sql.DataFrame = {
    // r15 (per-round cost, OPTIMIZATION_r15.md §3: 2 rounds × ~0.3–0.6 s on a 512-row
    // graph — fixed job latency, not data): the neighbor-min and the keep-
    // own-label leg fold into ONE join + ONE aggregate per round by adding
    // self-loops to the edge frame once up front — min over {self} ∪
    // neighbors ≡ least(label, min over neighbors). The convergence probe
    // rides the SAME aggregate output (sum of labels strictly decreases
    // until fixpoint for min-propagation, so an unchanged checksum ⇔ no
    // label changed), read from the just-materialized snap — one
    // metadata-scale action instead of a second join job.
    val nodes = undirected.select(col("src").as("doc")).distinct()
    val withSelf = undirected
      .unionByName(nodes.select(col("doc").as("src"), col("doc").as("dst")))
      .transform(Residency.snap)
    // decimal(38,0) checksum: a BIGINT sum could overflow at extreme
    // node-count × id-width products and ANSI mode would abort the query
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var labels = Residency.snap(nodes.withColumn("label", col("doc")))
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = withSelf
        .join(labels.withColumnRenamed("doc", "src").withColumnRenamed("label", "src_label"), "src")
        .groupBy(col("dst").as("doc"))
        .agg(min("src_label").as("label"))
        .transform(Residency.snap)
      val sumNow = labelSum(next)
      converged = sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"label propagation exited UNCONVERGED at the $maxIters-round cap " +
          s"($LabelPropMaxItersKey): cluster labels are not a fixpoint and must " +
          "not feed downstream survivor selection (dd07). Raise the cap for a " +
          "legitimately deep cluster graph; rounds must cover the largest " +
          "cluster's min-label propagation distance.")
    labels
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "ts01_sparse_text_cosine",
      s"""WITH $weightCtes,
         |norms AS (SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM w GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.wt * b.wt) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(d.dot / (na.nrm * nb.nrm), 9) AS cosine
         |FROM dots d JOIN norms na ON doc_a = na.doc_id JOIN norms nb ON doc_b = nb.doc_id
         |WHERE round(d.dot / (na.nrm * nb.nrm), 9) >= $CosineThreshold
         |ORDER BY cosine DESC, doc_a, doc_b""".stripMargin,
    ) { (spark, dir) =>
      // w feeds three consumers (norms, join side a, join side b) —
      // `weights` materializes it once or the explode+groupBy+join chain
      // runs three times. Hot shingle terms skew the a×b join key; AQE's
      // skew-join split (on by default) re-partitions those at runtime,
      // which preserves exact semantics — unlike dropping high-DF terms,
      // which would change the cosine.
      val w = weights(spark, dir)
      val norms = w.groupBy("doc_id").agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
      val a = w.select(col("term"), col("doc_id").as("doc_a"), col("wt").as("wa"))
      val b = w.select(col("term"), col("doc_id").as("doc_b"), col("wt").as("wb"))
      val dots = a.join(b, Seq("term")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(col("wa") * col("wb")).as("dot"))
      val na = norms.toDF("doc_a", "na")
      val nb = norms.toDF("doc_b", "nb")
      // rounded to 9 decimals on both sides: groupBy SUM(double) accumulation
      // order differs across engines (1-ulp drift); rounding absorbs it while
      // keeping the threshold decision identical
      dots.join(na, "doc_a").join(nb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("dot") / (col("na") * col("nb")), 9).as("cosine"))
        .filter(col("cosine") >= CosineThreshold)
        .orderBy(desc("cosine"), asc("doc_a"), asc("doc_b"))
    },

    QueryDef.sql(
      "ts02_dedup_clusters",
      s"""WITH $clusterCtes
         |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
         |FROM cl
         |ORDER BY doc_id""".stripMargin,
    ) { (spark, dir) =>
      // exact near-dup edges (same definition as dd02, minus dd02's
      // presentation ORDER BY — both component algorithms are
      // order-insensitive, and the union below is not a node EliminateSorts
      // removes a sort beneath, so the range-partition sort exchange was
      // materialized into the snap for nothing). Reused by count +
      // (collect | every round): snap the expensive dd02 shingle join once.
      val edges = Residency.snap(Dedup.nearDupEdges(spark, dir))
      clusterMap(spark, edges)
    },

    // ----- ts03: TF-IDF top terms per document (keyword extraction) — the
    // per-doc top-5 terms by the same rational tf/df weight ts01 uses,
    // executed by the TopKPerGroup custom operator: per-partition bounded
    // heaps (≤5 rows per doc) + map-side combine, so the per-group selection
    // never window-sorts a document's full term list and the shuffle carries
    // at most 5 rows per (partition, doc). Weight ties (uniform tf=1 terms
    // sharing a df) break on the term string — ASCII shingles, so Spark's
    // binary UTF8 ordering and DuckDB's default collation agree.
    QueryDef.sql(
      "ts03_tfidf_top_terms",
      s"""WITH $weightCtes,
         |rk AS (SELECT doc_id, term, wt,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY wt DESC, term) AS BIGINT) AS rnk
         |  FROM w)
         |SELECT doc_id, rnk, term, wt FROM rk WHERE rnk <= 5
         |ORDER BY doc_id, rnk""".stripMargin,
    ) { (spark, dir) =>
      graft.plans.TopKPerGroup.topK(
          weights(spark, dir), Seq("doc_id"), sortCol = "wt", tieCol = "term", k = 5)
        .select(col("doc_id"), col("rnk"), col("term"), col("wt"))
        .orderBy("doc_id", "rnk")
    },

    // ----- ir01: BM25 ranked retrieval — the query-time complement of
    // ts03's keyword EXTRACTION: score every document against a fixed
    // multi-term query with Okapi BM25 (k1 = 1.2, b = 0.75) and return the
    // top 20. The idf factor is Robertson's RATIONAL form
    // (N − df + 0.5)/(df + 0.5) — no ln(), the lm01 no-transcendental hash
    // rule — and the per-term score is a fixed-shape IEEE expression over
    // exact integers-as-doubles (tf, df, N, dl; avgdl is an exact-integer
    // sum / N), so both engines produce identical bits. The 3 per-term
    // scores are PIVOTED to columns and added in one fixed left-to-right
    // expression — never a SUM over a double whose accumulation order the
    // engine picks.
    //
    // 100 TB shape: the term filter lands BEFORE any shuffle (posting-list
    // selection — only rows whose term is in the query reach the tf
    // exchange; everything else dies in the scan's codegen stage), df and
    // (N, avgdl) are broadcast scalars, and the final top-20 is a
    // TakeOrderedAndProject (bounded per-partition heaps). The corpus is
    // never globally sorted and never shuffled beyond the matched postings.
    QueryDef.sql(
      "ir01_bm25_retrieval",
      s"""WITH $bm25Ctes
        |SELECT doc_id,
        |  COALESCE(sv, CAST(0 AS DOUBLE)) + COALESCE(sh, CAST(0 AS DOUBLE))
        |    + COALESCE(sm, CAST(0 AS DOUBLE)) AS score,
        |  matched_terms
        |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    ) { (spark, dir) =>
      bm25Matched(spark, dir)
        .select(col("doc_id"),
          (coalesce(col("sv"), lit(0d)) + coalesce(col("sh"), lit(0d))
            + coalesce(col("sm"), lit(0d))).as("score"),
          col("matched_terms"))
        .orderBy(desc("score"), asc("doc_id")).limit(20)
    },

    // ----- ir02: hybrid retrieval — reciprocal-rank fusion (RRF, k = 60)
    // of ir01's lexical BM25 arm and a semantic vector arm (query =
    // embedding of vec_id 0 via the mx02 doc↔vec id coincidence; the query
    // doc itself excluded). Each arm contributes its top 50 by its own
    // score (score DESC, id ASC — deterministic), a candidate absent from
    // an arm contributes 0 from it, and the fused score is the fixed
    // left-to-right sum 1/(60+r_lex) + 1/(60+r_vec) — exact-integer rank
    // arithmetic, so both engines produce identical doubles. Output: top
    // 20 by fused score with both arm ranks (−1 = not retrieved by that
    // arm).
    //
    // 100 TB shape: the lexical arm is ir01's posting-list selection +
    // TakeOrderedAndProject; the vector arm is a ONE-PASS map-side cosine
    // against a broadcast 1-row query + TakeOrderedAndProject (|1|×n, not
    // n² — no ExactBaseline guard needed; the served production form swaps
    // in ann03/ann09's IVF shortlist, fusion unchanged). Ranking windows
    // run AFTER each arm's limit-50, on 50-row relations — the
    // metadata-scale SinglePartition class.
    QueryDef.sql(
      "ir02_rrf_hybrid",
      s"""WITH $bm25Ctes,
        |lexsc AS (SELECT doc_id,
        |    COALESCE(sv, CAST(0 AS DOUBLE)) + COALESCE(sh, CAST(0 AS DOUBLE))
        |      + COALESCE(sm, CAST(0 AS DOUBLE)) AS score
        |  FROM p),
        |lex50 AS (SELECT doc_id, score FROM lexsc ORDER BY score DESC, doc_id LIMIT 50),
        |lexr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM lex50),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |vc AS (SELECT e.vec_id AS doc_id,
        |    ${Similarity.cosSql("e.embedding", "q.qe")} AS vcos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        |vec50 AS (SELECT doc_id, vcos FROM vc ORDER BY vcos DESC, doc_id LIMIT 50),
        |vecr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY vcos DESC, doc_id) AS r_vec FROM vec50),
        |fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.r_lex), CAST(0 AS DOUBLE))
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + v.r_vec), CAST(0 AS DOUBLE)) AS rrf,
        |    COALESCE(l.r_lex, -1) AS rank_lex, COALESCE(v.r_vec, -1) AS rank_vec
        |  FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rrf, rank_lex, rank_vec
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    ) { (spark, dir) =>
      val lexW = Window.orderBy(desc("score"), asc("doc_id"))
      val lexr = bm25Matched(spark, dir)
        .select(col("doc_id"),
          (coalesce(col("sv"), lit(0d)) + coalesce(col("sh"), lit(0d))
            + coalesce(col("sm"), lit(0d))).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(50)
        .select(col("doc_id"), row_number().over(lexW).cast("long").as("r_lex"))
      val emb = Tables(spark, dir).embeddings
      val q = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val vecW = Window.orderBy(desc("vcos"), asc("doc_id"))
      val vecr = emb.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("doc_id"),
          VectorOps.cosine(col("embedding"), col("qe")).as("vcos"))
        .orderBy(desc("vcos"), asc("doc_id")).limit(50)
        .select(col("doc_id"), row_number().over(vecW).cast("long").as("r_vec"))
      lexr.join(vecr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0d))
            + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0d))).as("rrf"),
          coalesce(col("r_lex"), lit(-1L)).as("rank_lex"),
          coalesce(col("r_vec"), lit(-1L)).as("rank_vec"))
        .orderBy(desc("rrf"), asc("doc_id")).limit(20)
    },
  )

  /** ir01's fixed query — three mid-frequency corpus terms. Constants, not
    * confs: the oracle SQL bakes the same literals in.
    */
  private val Bm25QueryTerms = Seq("vector", "hash", "merge")

  /** ir01's BM25 scoring chain, shared with ir02's lexical arm: ends in
    * `p(doc_id, sv, sh, sm, matched_terms)` — the per-query-term pivoted
    * scores (NULL where the term is absent).
    */
  private lazy val bm25Ctes =
    """dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) / COUNT(*) AS avgdl FROM dl),
      |tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM tok WHERE term IN ('vector', 'hash', 'merge') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT f.doc_id, f.term,
      |    ((n - df + 0.5) / (df + 0.5)) *
      |      ((f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 * (l.dl / avgdl)))) AS s
      |  FROM tf f JOIN df USING (term) JOIN dl l ON f.doc_id = l.doc_id CROSS JOIN st),
      |p AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN term = 'vector' THEN s END) AS sv,
      |    SUM(CASE WHEN term = 'hash' THEN s END) AS sh,
      |    SUM(CASE WHEN term = 'merge' THEN s END) AS sm,
      |    CAST(COUNT(*) AS BIGINT) AS matched_terms
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[bm25Ctes]]: (doc_id, sv, sh, sm, matched_terms). */
  private def bm25Matched(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("dl"))
    // SUM(dl)/COUNT — dl is integer-valued, so the sum is exact in any
    // accumulation order and avgdl is the same double on both engines
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum("dl") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(Bm25QueryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val sc = tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          ((col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))).as("s"))
    def termScore(t: String) = sum(when(col("term") === t, col("s")))
    sc.groupBy("doc_id")
      .agg(termScore("vector").as("sv"), termScore("hash").as("sh"),
        termScore("merge").as("sm"), count(lit(1)).cast("long").as("matched_terms"))
  }
}
