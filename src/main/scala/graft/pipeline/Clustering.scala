package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-means topic clustering over the embedding column (Lloyd iterations with
  * cosine affinity) — the unsupervised sibling of the IVF coarse quantizer
  * ([[Similarity]]): instead of trusting the `label` column, learn the
  * partitions.
  *
  * Iteration shape at 100 TB: centroids are k×dim floats — always broadcast;
  * one Lloyd step is a map-side assignment (broadcast nested-loop over k,
  * then the codegen'd cosine kernel) plus ONE shuffle keyed (cluster, dim)
  * for the centroid recompute. Iterations are a driver-side loop over that
  * plan — k-means on a 1000-executor cluster is exactly this per round.
  *
  * Oracle parity: seeds are the first k vectors (deterministic); recomputed
  * centroid dims are double averages cast to FLOAT — the float rounding
  * absorbs the sub-ulp double-summation-order differences between engines
  * (the ann03/ann05 tactic), after which every cosine is bit-identical.
  */
object Clustering {

  private val K = 8

  private def assign(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("cluster"))
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cluster"),
        VectorOps.cosine(col("embedding"), col("centroid")).as("ccos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "embedding", "cluster", "ccos")
  }

  private def recompute(assigned: DataFrame): DataFrame =
    VectorOps.centroids(assigned, Seq("cluster"), "embedding")

  /** Shared oracle CTE chain for km01 (and mx02's cluster grouping): the
    * one-Lloyd-round assignment, ending in `asg(vec_id, cluster BIGINT,
    * ccos)` — the SQL twin of [[kmeansAssign]].
    */
  private[pipeline] lazy val km01Ctes =
    s"""cent0 AS (SELECT vec_id AS cluster, embedding AS centroid
       |  FROM embeddings WHERE vec_id < $K),
       |s1 AS (SELECT e.vec_id, e.embedding, c.cluster,
       |    ${Similarity.cosSql("e.embedding", "c.centroid")} AS ccos
       |  FROM embeddings e, cent0 c),
       |a1 AS (SELECT vec_id, embedding, cluster FROM (
       |    SELECT vec_id, embedding, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
       |    FROM s1) WHERE rn = 1),
       |dim1 AS (SELECT cluster, t.d, AVG(CAST(embedding[t.d] AS DOUBLE)) AS c
       |  FROM a1, generate_series(1, 64) t(d) GROUP BY 1, 2),
       |cent1 AS (SELECT cluster, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid
       |  FROM dim1 GROUP BY 1),
       |s2 AS (SELECT e.vec_id, c.cluster,
       |    ${Similarity.cosSql("e.embedding", "c.centroid")} AS ccos
       |  FROM embeddings e, cent1 c),
       |asg AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, ccos FROM (
       |  SELECT vec_id, cluster, ccos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
       |  FROM s2) WHERE rn = 1)""".stripMargin

  /** One Lloyd iteration from deterministic seeds, then the final assignment:
    * (vec_id, cluster, cosine). More iterations = more calls to
    * assign/recompute in the driver loop; one is enough to oracle-check the
    * full machinery (both phases, both shuffles).
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val seed = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("cluster"), col("embedding").as("centroid"))
    val cent1 = recompute(assign(e, seed))
    assign(e, cent1)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("ccos").as("cosine"))
      .orderBy("vec_id")
  }

  /** Semantic-dedup cluster count: the smallest K (floor 8) holding expected
    * occupancy n/K at or under [[TargetOcc]], so per-cluster pair work is
    * bounded by TargetOcc²/2 at ANY corpus size and total pair work grows
    * linearly in n — the same adaptive-knob discipline as dd06's signature
    * width (a fixed K here is the identical quadratic trap the r6 sf1 run
    * caught there). Derived from COUNT(*) with integer arithmetic so the
    * DuckDB oracle replays the identical K at every scale.
    */
  private[pipeline] def adaptiveK(n: Long): Long = math.max(8L, (n + TargetOcc - 1) / TargetOcc)

  /** Coarse-level cluster count for sd01's two-level assignment: ⌈√K⌉.
    * With K adaptive in n, a FLAT assignment is n·K = n²/512 cosines — the
    * r8 sd01 superlinearity (measured: the n·K term grew 8.85× on 3× data
    * while pair mass stayed linear at 3.05×). Routing through ⌈√K⌉ coarse
    * cells first costs n·2√K, and the fine within-cell pass ~n·K/√K = n·√K,
    * bending total assignment work from Θ(n²) to Θ(n^1.5) — the IVF
    * coarse-quantizer shape (ann07). Integer-exact both engines: DuckDB's
    * CEIL(SQRT(k)) on k ≤ 2^52 matches this double-precision path.
    */
  private[pipeline] def coarseK(k: Long): Long = math.ceil(math.sqrt(k.toDouble)).toLong
  private val TargetOcc = 512L
  private val Tau = 0.4

  /** SemDeDup-style semantic deduplication: cluster the embeddings, then
    * compare pairs WITHIN each cluster only and drop, from every
    * near-duplicate pair (cosine >= [[Tau]]), the member that sits CLOSER to
    * its cluster representative — keeping the outlier preserves diversity
    * (Abbas et al. 2023, arXiv:2303.09540, §3; threshold lowered to
    * dd05/dd06's 0.4 because the synthetic corpus's pair-cosine mass tops
    * out near 0.49). The drop rule is the pairwise greedy form: x is dropped
    * iff some same-cluster partner y with cos(x,y) >= Tau has strictly lower
    * representative-cosine (ties broken by lower vec_id) — deterministic,
    * and replayed exactly by the oracle since every cosine on both engines
    * is the same sequential double fold over the same float vectors.
    *
    * Clustering is TWO-LEVEL (r9 — the r8 verdict's sd01 superlinearity):
    * one Lloyd round over ⌈√K⌉ coarse cells (n·2√K cosines), then each
    * vector compares only against the fine seeds (the first K vectors)
    * ROUTED TO ITS COARSE CELL — expected n·√K fine cosines instead of the
    * flat n·K = n²/512 that grew 8.85× on 3× data. A coarse cell holding no
    * fine seed keeps its members as their own fine cluster (id −(coarse+1),
    * representative = the coarse centroid) — deterministic, oracle-replayed.
    *
    * 100 TB shape: coarse centroids are √K×64 floats and fine seeds K×64 —
    * both broadcast (at 10⁹ vectors K ≈ 2 M seeds ≈ 0.5 GB: shard the fine
    * probe by coarse cell with a shuffle join instead; the plan shape is
    * already keyed for it); within-cluster pair work is capped by
    * TargetOcc². The clustering result feeds three consumers (both pair
    * sides + the verdict join), so it is materialized once — n rows of
    * (id, vec, cluster, cosine), the operator's own working set, linear.
    * One coarse Lloyd iteration leaves cell sizes at the seeds' mercy; a
    * real deployment loops assign/recompute a few more rounds (each the
    * same broadcast + one shuffle) to tighten occupancy before the pair
    * stage.
    */
  /** The two-level adaptive-K fine assignment — (vec_id, embedding, cluster,
    * ccos), clusters sized so expected occupancy ≤ [[TargetOcc]] at ANY
    * corpus size. Shared blocking structure for sd01 (within-cell dedup
    * pairs) and dc03 (within-cell bench×corpus contamination probes); the
    * SQL twin is [[fineAssignCtes]]'s terminal `ff`.
    */
  private[pipeline] def fineAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val k = adaptiveK(CorpusMeta.embeddingCount(spark, dir))
    val c = coarseK(k)
    val seed = e.filter(col("vec_id") < c)
      .select(col("vec_id").as("cluster"), col("embedding").as("centroid"))
    val coarse = assign(e, recompute(assign(e, seed)))
      .withColumnRenamed("cluster", "coarse")
      .withColumnRenamed("ccos", "ccos_c")
      .transform(Residency.snap)
    val fs = coarse.filter(col("vec_id") < k)
      .select(col("coarse"), col("vec_id").as("fseed_id"), col("embedding").as("fseed_emb"))
    val fw = Window.partitionBy("vec_id").orderBy(desc_nulls_last("fc"), asc_nulls_last("fseed_id"))
    coarse.join(broadcast(fs), Seq("coarse"), "left")
      .withColumn("fc", VectorOps.cosine(col("embedding"), col("fseed_emb")))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"),
        coalesce(col("fseed_id"), -(col("coarse") + lit(1))).as("cluster"),
        coalesce(col("fc"), col("ccos_c")).as("ccos"))
      .transform(Residency.snap)
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val m = fineAssign(spark, dir)
    val a = m.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("ccos").as("ca"))
    val b = m.select(col("cluster").as("cluster_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("ccos").as("cb"))
    val pairs = a.join(b, col("cluster") === col("cluster_b") && col("vec_a") =!= col("vec_b"))
      .withColumn("pc", VectorOps.cosine(col("ea"), col("eb")))
      .filter(col("pc") >= Tau)
    val dominated = col("cb") < col("ca") ||
      (col("cb") === col("ca") && col("vec_b") < col("vec_a"))
    val st = pairs.groupBy(col("vec_a").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"),
        max(when(dominated, 1).otherwise(0)).as("dom"))
    m.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(st, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("dom"), lit(0)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql(
      "km01_kmeans_assign",
      s"""WITH $km01Ctes
         |SELECT vec_id, cluster, ccos AS cosine FROM asg
         |ORDER BY vec_id""".stripMargin,
    ) { (spark, dir) => kmeansAssign(spark, dir) },

    // ----- sd01: SemDeDup — the full chain (two-level adaptive-K clustering
    // + within-cluster pair cosines + the keep-the-outlier drop rule)
    // replayed in DuckDB from COUNT(*) up, so the hash match proves the
    // coarse Lloyd round, the fine seed routing (incl. the seedless-cell
    // fallback), the blocking, AND the survivor verdict — not just the pair
    // set.
    QueryDef.sql(
      "sd01_semantic_dedup",
      s"""WITH $sd01Ctes
         |SELECT ff.vec_id, CAST(ff.cluster AS BIGINT) AS cluster,
         |  COALESCE(st.n_dups, 0) AS n_dups, COALESCE(st.dom, 0) = 0 AS keep
         |FROM ff LEFT JOIN st ON ff.vec_id = st.vec_id
         |ORDER BY ff.vec_id""".stripMargin,
    ) { (spark, dir) => semanticDedup(spark, dir) },
  )

  /** sd01's full oracle CTE chain — two-level adaptive-K clustering ending in
    * `ff(vec_id, embedding, cluster, ccos)` (the fine assignment) and
    * `st(vec_id, n_dups, dom)` (the within-cluster duplicate verdict; dom=1
    * means a centroid-closer twin exists, i.e. this member drops). Shared
    * with dd11's fused dedup-policy oracle.
    */
  /** Oracle twin of [[fineAssign]]: the two-level adaptive-K clustering CTE
    * chain ending in `ff(vec_id, embedding, cluster, ccos)`. Shared by sd01
    * (which appends the pair/verdict CTEs) and dc03 (which appends the
    * bench×corpus contamination probe).
    */
  private[pipeline] lazy val fineAssignCtes =
    s"""kk AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 512.0) AS BIGINT)) AS k
         |  FROM embeddings),
         |cc AS (SELECT CAST(CEIL(SQRT(k)) AS BIGINT) AS c FROM kk),
         |cent0 AS (SELECT vec_id AS cluster, embedding AS centroid
         |  FROM embeddings, cc WHERE vec_id < cc.c),
         |s1 AS (SELECT e.vec_id, e.embedding, c.cluster,
         |    ${Similarity.cosSql("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent0 c),
         |a1 AS (SELECT vec_id, embedding, cluster FROM (
         |    SELECT vec_id, embedding, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
         |    FROM s1) WHERE rn = 1),
         |dim1 AS (SELECT cluster, t.d, AVG(CAST(embedding[t.d] AS DOUBLE)) AS c
         |  FROM a1, generate_series(1, 64) t(d) GROUP BY 1, 2),
         |cent1 AS (SELECT cluster, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid
         |  FROM dim1 GROUP BY 1),
         |s2 AS (SELECT e.vec_id, e.embedding, c.cluster,
         |    ${Similarity.cosSql("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent1 c),
         |a2 AS (SELECT vec_id, embedding, cluster AS coarse, ccos AS ccos_c FROM (
         |    SELECT vec_id, embedding, cluster, ccos,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
         |    FROM s2) WHERE rn = 1),
         |fs AS (SELECT coarse, vec_id AS fseed_id, embedding AS fseed_emb
         |  FROM a2, kk WHERE vec_id < kk.k),
         |fj AS (SELECT a2.vec_id, a2.embedding, a2.coarse, a2.ccos_c, fs.fseed_id,
         |    ${Similarity.cosSql("a2.embedding", "fs.fseed_emb")} AS fc
         |  FROM a2 LEFT JOIN fs USING (coarse)),
         |ff AS (SELECT vec_id, embedding,
         |    COALESCE(fseed_id, -(coarse + 1)) AS cluster,
         |    COALESCE(fc, ccos_c) AS ccos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY fc DESC NULLS LAST, fseed_id ASC NULLS LAST) AS rn
         |    FROM fj) WHERE rn = 1)""".stripMargin

  private[pipeline] lazy val sd01Ctes =
    s"""$fineAssignCtes,
         |p AS (SELECT * FROM (
         |    SELECT a.vec_id AS vec_a, a.ccos AS ca, b.vec_id AS vec_b, b.ccos AS cb,
         |      ${Similarity.cosSql("a.embedding", "b.embedding")} AS pc
         |    FROM ff a JOIN ff b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
         |  WHERE pc >= 0.4),
         |st AS (SELECT vec_a AS vec_id, COUNT(*) AS n_dups,
         |    MAX(CASE WHEN cb < ca OR (cb = ca AND vec_b < vec_a) THEN 1 ELSE 0 END) AS dom
         |  FROM p GROUP BY 1)""".stripMargin
}
