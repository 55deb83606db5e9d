package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * ann01 is the exact brute-force baseline (oracle-checked); ann02 is the
  * scale path: random-hyperplane LSH bucketing so each query only scores
  * vectors sharing a bucket — candidate count tracks bucket occupancy
  * (n / 2^H per table), not n. At 100 TB the bucket build is one map pass +
  * a bucket-keyed shuffle; brute force would be a full cross join.
  *
  * All five entries are oracle-checked: the hyperplane components are ±1
  * sign draws from a portable integer hash (below), so the DuckDB oracle
  * recomputes the exact buckets, candidates, and ranks — no rows-only gaps.
  */
object Similarity {

  private val NumQueries = 8 // query set: vec_id < 8

  // ann07 product quantization — declared BEFORE `defs` (whose oracle string
  // interpolates them at val-init time; declared later they'd read 0)
  private val PqM = 8   // subspaces
  private val PqK = 16  // codebook entries per subspace (seeds: vec_id < PqK)
  // ann08: ADC shortlist size per query before the exact rerank
  private[pipeline] val RerankShortlist = 50
  // ann09: coarse cells probed per query (the nprobe knob; = ann05's count).
  // Up here with the other PQ constants: defs' oracle strings interpolate
  // them at val-init time — declared later they'd read 0.
  private val IvfPqProbes = 2

  // L hash tables × up-to-HMax hyperplanes. Components are Rademacher ±1
  // signs (sign random projection — spherically unbiased for cosine LSH, like
  // Gaussian draws) derived from a two-round multiply/xorshift avalanche of
  // the flat component index, so the identical plane set is reconstructible
  // in ANSI SQL (every intermediate stays far below 2^63 — DuckDB BIGINTs
  // ERROR on overflow rather than wrap, so the mixer is built from bounded
  // products: i < 2^17 ⇒ i·2654435761 < 2^49; the second product caps its
  // operand at 2^24):
  //   v0 = i * 2654435761;  v1 = v0 XOR (v0 >> 13)
  //   v2 = (v1 mod 2^24) * 2246822519;  v3 = v2 XOR (v2 >> 17)
  //   sign(i) = +1 iff bit 16 of v3 is 0.
  //
  // WHY TWO ROUNDS (r12): the original single Knuth multiply took bit 16 of
  // i·2654435761 mod 2^32 — a LINEAR map whose bit-16 sequence has short
  // affine structure under the stride-64 window the plane tensor reads:
  // across what the code believed were 600 independent planes (6 bucket + 24
  // gate tables × 20 rows) only 61 DISTINCT directions existed, half of them
  // appearing complemented, and 457 of the 480 "fresh" gate planes duplicated
  // a bucketing plane. Found when the dd06 confirm-gate histogram (r11
  // verdict item 1) returned an impossible population — 985 k candidate pairs
  // at Hamming 0 across "480 bits" with cosine < 0.4; under working SRP that
  // event has probability e^{−224} per pair. The avalanche restores 600/600
  // distinct planes, zero complement collisions, mean pairwise |corr| 0.10 ≈
  // the 1/√64 random ideal. Consequence at the bucketing layer: the 6 tables
  // were effectively ~2.6 independent tables; with the fix, same-bucket
  // candidate mass and recall both rise (re-measured in SCALE.md §0g).
  //
  // ADAPTIVE BUCKET WIDTH (r6): a fixed signature width makes the bucket join
  // Θ(n²/2^H) — the sf1 run measured dd06 scaling 29× on 10× rows because
  // expected occupancy grew from ~8 to ~78 per bucket. Standard LSH sizing
  // instead holds occupancy constant: every vector gets the full HMax-bit
  // signature, and a query uses the leading `h` bits where h is the smallest
  // value in [HMin, HMax] with 2^h · TargetOcc ≥ n. Candidates then grow
  // LINEARLY in n (n/2 · occ · L), and recall is traded via L/multi-probe as
  // usual. Both sides derive h from COUNT(*) with the same integer
  // thresholds, so the DuckDB oracle replays the identical bucketing at any
  // scale. HMax=20 covers ~8 M vectors at occupancy 8; beyond that, widen
  // HMax (compile-time knob — planes tensor and oracle CTE scale with it).
  private[pipeline] val L = 6
  /** Widest bucket family any shipped entry may instantiate via [[planesFor]]
    * (dd15 uses 12). [[gateSigs]] bases its fresh-plane indices HERE, not at
    * [[L]], so gate planes never alias a bucket family's planes no matter
    * which shipped geometry conditioned the candidates (r12 ADVICE: the old
    * l+L base made gate tables 0–5 bit-identical to dd15 bucket tables 6–11).
    */
  private[pipeline] val MaxBucketTables = 16
  private[pipeline] val HMin = 8
  private[pipeline] val HMax = 20
  private[pipeline] val TargetOcc = 8
  /** Generalized over the occupancy target (r10 verdict item 4's geometry
    * sweep — SCALE.md §0f.4): smaller occ → more leading bits → finer buckets
    * → fewer candidates, traded against recall at the confirm threshold.
    */
  private[graft] def adaptiveBitsFor(n: Long, occ: Int): Int = {
    var h = HMin
    while (h < HMax && (1L << h) * occ < n) h += 1
    h
  }
  private[pipeline] def adaptiveBits(n: Long): Int = adaptiveBitsFor(n, TargetOcc)
  private def planeSign(i: Long): Double = {
    val v0 = i * 2654435761L
    val v1 = v0 ^ (v0 >>> 13)
    val v2 = (v1 % 16777216L) * 2246822519L
    val v3 = v2 ^ (v2 >>> 17)
    if ((v3 & 65536L) == 0L) 1.0 else -1.0
  }
  /** The full plane tensor for `lp` tables — [[planes]] is the shipping L=6
    * prefix; the sweep diagnostics build wider families (the flat-index
    * formula extends to any lp, and the oracle CTE interpolates the same lp).
    */
  private[pipeline] def planesFor(lp: Int): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(lp, HMax, 64)((l, h, d) => planeSign(((l * HMax + h) * 64 + d).toLong))
  private val planes: Seq[Seq[Seq[Double]]] = planesFor(L)

  // MEAN-CENTERED projections (r6): sign-random-projection assumes the data
  // is centered — on a positive-mean corpus every vector agrees with the
  // plane's fixed sign pattern and collapses into a few giant buckets (the
  // sf1 embeddings measured p99 occupancy ~298 vs ~5 expected). Centering is
  // a per-plane threshold, not a data rewrite: sign((e−μ)·s) = (e·s > μ·s),
  // so each plane compares its raw dot against the constant c = μ·s. μ is the
  // per-dimension corpus mean — 64 doubles, a metadata-scale aggregate both
  // engines compute from the data itself, so the oracle replays the identical
  // thresholds at any scale.
  private[pipeline] def dimMeans(e: DataFrame): Array[Double] =
    e.select(posexplode(col("embedding"))).toDF("d", "v")
      .groupBy("d").agg(avg(col("v").cast("double")).as("m"))
      .orderBy("d").collect().map(_.getDouble(1))

  private[pipeline] def planeThresholdsFor(ps: Seq[Seq[Seq[Double]]], mu: Array[Double]): Array[Array[Double]] =
    Array.tabulate(ps.length, HMax) { (l, h) =>
      var s = 0.0
      var d = 0
      while (d < mu.length && d < 64) { s += mu(d) * ps(l)(h)(d); d += 1 }
      s
    }
  private def planeThresholds(mu: Array[Double]): Array[Array[Double]] =
    planeThresholdsFor(planes, mu)

  /** DuckDB CTEs reconstructing the (vec_id, table_id, bucket) frame with the
    * same plane signs and the same `acc*2 + (dot>0)` bit packing as the
    * [[graft.functions.HyperplaneBuckets]] kernel (bit weight 2^(HMax-1-h)),
    * truncated to the adaptive leading `hh.h` bits exactly as
    * [[buckets]] does. Dot products are ±1-weighted sums of the double-cast
    * floats; summation order is immaterial for the sign test away from
    * |dot| ≈ 1e-15 (the values are O(1)).
    *
    * Geometry-parameterized (r10 verdict item 4): `lp` tables × occupancy
    * target `occ`. The plane-sign indexing (l·HMax+h)·64+d is unchanged for
    * l < lp, so a reduced-table oracle reconstructs a strict subset of the
    * default plane set — exactly what the Spark side's `table_id < lp`
    * filter scans. [[bucketCtes]] is the shipping (L, TargetOcc) instance.
    */
  private[graft] def bucketCtesFor(lp: Int, occ: Int): String = {
    val hCases = (HMin until HMax)
      .map(h => s"WHEN COUNT(*) <= ${(1L << h) * occ} THEN $h").mkString(" ")
    s"""hh AS (SELECT CASE $hCases ELSE $HMax END AS h FROM embeddings),
       |sgn AS (
       |  SELECT l, h, d,
       |    CASE WHEN (xor(v2, v2 >> 17) & 65536) = 0
       |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
       |  FROM (
       |    SELECT l, h, d, (xor(v0, v0 >> 13) % 16777216) * 2246822519 AS v2
       |    FROM (
       |      SELECT l, h, d, ((l*$HMax+h)*64+d) * 2654435761 AS v0
       |      FROM generate_series(0, ${lp - 1}) tl(l),
       |           generate_series(0, ${HMax - 1}) th(h),
       |           generate_series(0, 63) td(d)) q0) q1),
       |mu AS (
       |  SELECT t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS m
       |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1),
       |thr AS (
       |  SELECT g.l, g.h, SUM(mu.m * g.s) AS c
       |  FROM sgn g JOIN mu ON mu.d = g.d + 1 GROUP BY 1, 2),
       |dots AS (
       |  SELECT e.vec_id, g.l, g.h, SUM(CAST(e.embedding[g.d + 1] AS DOUBLE) * g.s) AS dp
       |  FROM embeddings e, sgn g GROUP BY 1, 2, 3),
       |sig AS (
       |  SELECT dots.vec_id, dots.l AS table_id,
       |    CAST(SUM(CASE WHEN dots.dp > t.c THEN 1 << ($HMax - 1 - dots.h) ELSE 0 END) AS BIGINT) AS sg
       |  FROM dots JOIN thr t ON t.l = dots.l AND t.h = dots.h GROUP BY 1, 2),
       |bk AS (
       |  SELECT vec_id, table_id, sg >> ($HMax - hh.h) AS bucket FROM sig, hh)""".stripMargin
  }

  private[pipeline] val bucketCtes = bucketCtesFor(L, TargetOcc)

  /** Sequential-fold cosine between two list expressions — the SQL twin of
    * [[VectorOps.cosine]] (identical left-to-right double fold).
    */
  private[graft] def cosSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip($a, $b),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (s1, v) -> s1 + v)
       |  / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($a,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s1, v) -> s1 + v))
       |   * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($b,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s1, v) -> s1 + v)))""".stripMargin

  /** Shared oracle CTE chain for ann07/ann08: PQ train → encode → per-query
    * LUT → ADC scores (`sc`) → approx rank (`r`, no rank filter — ann07 takes
    * rnk ≤ 10, ann08 shortlists rnk ≤ [[RerankShortlist]]). Declared before
    * `defs`, which interpolates it at val-init time.
    */
  private lazy val pqScoreCtes =
    s"""sub AS (
       |  SELECT vec_id, g.m, embedding[g.m*8+1 : g.m*8+8] AS sv
       |  FROM embeddings, generate_series(0, 7) g(m)),
       |seeds AS (SELECT m, vec_id AS cluster, sv AS centroid FROM sub WHERE vec_id < $PqK),
       |a0 AS (SELECT s.vec_id, s.m, c.cluster, s.sv,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${ssqSql("s.sv")} + ${ssqSql("c.centroid")}
       |        - 2 * ${dotSql("s.sv", "c.centroid")} ASC, c.cluster) AS rn
       |  FROM sub s JOIN seeds c USING (m)),
       |cd AS (SELECT m, cluster,
       |    unnest(generate_series(1, len(sv))) AS dim,
       |    unnest(list_transform(sv, x -> CAST(x AS DOUBLE))) AS v
       |  FROM a0 WHERE rn = 1),
       |cent1 AS (SELECT m, cluster, list(CAST(c AS FLOAT) ORDER BY dim) AS centroid
       |  FROM (SELECT m, cluster, dim, AVG(v) AS c FROM cd GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2),
       |enc AS (SELECT vec_id, m, cluster AS code FROM (
       |  SELECT s.vec_id, s.m, c.cluster,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${ssqSql("s.sv")} + ${ssqSql("c.centroid")}
       |        - 2 * ${dotSql("s.sv", "c.centroid")} ASC, c.cluster) AS rn
       |  FROM sub s JOIN cent1 c USING (m)) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS qid, q.m, c.cluster AS code,
       |    ${dotSql("q.sv", "c.centroid")} AS v
       |  FROM sub q JOIN cent1 c USING (m) WHERE q.vec_id < $NumQueries),
       |sc AS (SELECT l.qid, e.vec_id AS nid,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.v ORDER BY l.m)),
       |      (s1, v) -> s1 + v) AS approx_dot
       |  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
       |  WHERE e.vec_id <> l.qid
       |  GROUP BY 1, 2),
       |r AS (SELECT qid, nid, approx_dot,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY approx_dot DESC, nid) AS BIGINT) AS rnk FROM sc)""".stripMargin

  /** (vec_id, table_id, bucket) — one row per vector per hash table; bucket
    * is the leading `h` bits of the HMax-bit signature (see the adaptive
    * sizing note above). Signature computation is the codegen'd
    * [[graft.functions.HyperplaneBuckets]] kernel; the r1 nested-HOF
    * formulation evaluated ~L×H×dim interpreted lambdas per row and dominated
    * every LSH entry's runtime.
    */
  private[pipeline] def buckets(e: DataFrame, h: Int, mu: Array[Double]): DataFrame =
    e.select(col("vec_id"),
      posexplode(graft.functions.LshExpressions.hyperplaneBuckets(
        col("embedding"), planes, planeThresholds(mu))))
      .toDF("vec_id", "table_id", "sig")
      .select(col("vec_id"), col("table_id"),
        shiftrightunsigned(col("sig"), HMax - h).as("bucket"))

  /** [[buckets]] generalized to `lp` tables (sweep diagnostics; lp ≤ L is a
    * strict prefix of the shipping family).
    */
  private[pipeline] def bucketsFor(e: DataFrame, lp: Int, h: Int, mu: Array[Double]): DataFrame = {
    val ps = planesFor(lp)
    e.select(col("vec_id"),
      posexplode(graft.functions.LshExpressions.hyperplaneBuckets(
        col("embedding"), ps, planeThresholdsFor(ps, mu))))
      .toDF("vec_id", "table_id", "sig")
      .select(col("vec_id"), col("table_id"),
        shiftrightunsigned(col("sig"), HMax - h).as("bucket"))
  }

  /** Full HMax-bit GATE signatures over `tables` fresh hyperplane tables —
    * plane indices start at l = [[MaxBucketTables]] (above the WIDEST shipped
    * bucket family, not just the L=6 default), so
    * (a) the gate bits are independent of the bucket-match conditioning for
    * ANY shipped geometry (a candidate pair shares ≥h bits in some bucket
    * table l < MaxBucketTables by construction; Hoeffding on the gate bits
    * needs unconditioned Bernoullis — the old l+L base silently aliased
    * dd15's tables 6–11), and
    * (b) [[bucketCtesFor]]-style SQL replays them with the same flat-index
    * sign formula. One codegen kernel call per row; (vec_id, gsig) rows are
    * ~8·(1+tables) bytes — metadata-scale next to the embeddings.
    */
  private[pipeline] def gateSigs(e: DataFrame, tables: Int, mu: Array[Double]): DataFrame = {
    val gatePlanes: Seq[Seq[Seq[Double]]] = Seq.tabulate(tables, HMax, 64)(
      (l, h, d) => planeSign((((l + MaxBucketTables) * HMax + h) * 64 + d).toLong))
    val thr = Array.tabulate(tables, HMax) { (l, h) =>
      var s = 0.0
      var d = 0
      while (d < mu.length && d < 64) { s += mu(d) * gatePlanes(l)(h)(d); d += 1 }
      s
    }
    e.select(col("vec_id"), graft.functions.LshExpressions.hyperplaneBuckets(
      col("embedding"), gatePlanes, thr).as("gsig"))
  }

  private def lshTopK(spark: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val h = adaptiveBits(CorpusMeta.embeddingCount(spark, dir))
    val bk = Residency.snap(buckets(e, h, CorpusMeta.embeddingMeans(spark, dir))) // 2 consumers
    val qbBase = bk.filter(col("vec_id") < NumQueries).toDF("qid", "table_id", "bucket")
    val qb =
      if (!multiProbe) qbBase
      else qbBase.select(col("qid"), col("table_id"),
        explode(expr(
          s"transform(sequence(-1, ${h - 1}), i -> if(i < 0, bucket, bucket ^ shiftleft(1L, i)))"))
          .as("bucket"))
    val cands = qb.join(bk.toDF("nid", "table_id", "bucket"), Seq("table_id", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    cands.join(broadcast(q), "qid").join(n, "nid")
      .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("qid", "rnk", "nid", "cosine")
      .orderBy("qid", "rnk")
  }

  /** Oracle for ann02/ann04: bucket CTEs + (optionally multi-probe) candidate
    * join + exact cosine re-rank — the same pipeline as [[lshTopK]].
    */
  private def lshOracle(multiProbe: Boolean): String = {
    val qb =
      if (!multiProbe)
        "qb AS (SELECT vec_id AS qid, table_id, bucket FROM bk WHERE vec_id < 8)"
      else
        s"""qb AS (
           |  SELECT b.vec_id AS qid, b.table_id,
           |    CASE WHEN gi.i < 0 THEN b.bucket ELSE xor(b.bucket, CAST(1 AS BIGINT) << gi.i) END AS bucket
           |  FROM bk b, generate_series(-1, ${HMax - 1}) gi(i), hh
           |  WHERE b.vec_id < 8 AND gi.i < hh.h)""".stripMargin
    s"""WITH $bucketCtes,
       |$qb,
       |cands AS (
       |  SELECT DISTINCT qb.qid, nb.vec_id AS nid
       |  FROM qb JOIN bk nb ON nb.table_id = qb.table_id AND nb.bucket = qb.bucket
       |  WHERE nb.vec_id <> qb.qid),
       |s AS (
       |  SELECT c.qid, c.nid,
       |    ${cosSql("eq.embedding", "en.embedding")} AS cosine
       |  FROM cands c
       |  JOIN embeddings eq ON eq.vec_id = c.qid
       |  JOIN embeddings en ON en.vec_id = c.nid),
       |r AS (SELECT qid, nid, cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM s)
       |SELECT qid, rnk, nid, cosine FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  /** Oracle for ann03/ann05: per-label mean centroids (double avg, cast to
    * float exactly as the Spark build does), top-`probes` centroid assignment,
    * exact cosine re-rank inside the probed partitions.
    */
  private def ivfOracle(probes: Int): String =
    s"""WITH dimvals AS (
       |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
       |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
       |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid FROM dimvals GROUP BY 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |aq AS (
       |  SELECT q.qid, q.qe, c.label,
       |    ${cosSql("q.qe", "c.centroid")} AS ccos
       |  FROM q, cent c),
       |assign AS (
       |  SELECT qid, qe, label FROM (
       |    SELECT aq.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS r FROM aq)
       |  WHERE r <= $probes),
       |s AS (
       |  SELECT a.qid, CAST(a.label AS BIGINT) AS probed_label, b.vec_id AS nid,
       |    ${cosSql("a.qe", "b.embedding")} AS cosine
       |  FROM assign a JOIN embeddings b ON b.label = a.label AND b.vec_id <> a.qid),
       |r AS (SELECT qid, probed_label, nid, cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM s)
       |SELECT qid, rnk, nid, probed_label, cosine FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- ann01: exact top-K cosine neighbors, brute force (the correctness
    // baseline). Cosine arithmetic mirrored fold-for-fold in the oracle.
    QueryDef.sql(
      "ann01_topk_bruteforce",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         |s AS (
         |  SELECT qid, b.vec_id AS nid,
         |    ${cosSql("qe", "b.embedding")} AS cosine
         |  FROM q JOIN embeddings b ON b.vec_id <> qid),
         |r AS (SELECT qid, nid, cosine,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM s)
         |SELECT qid, rnk, nid, cosine FROM r WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) =>
      ExactBaseline.guard(spark, CorpusMeta.embeddingCount(spark, dir), "ann01_topk_bruteforce",
        "ann02_topk_lsh / ann04_topk_lsh_multiprobe (or ann03/ann05 IVF)")
      bruteTopK(spark, dir).orderBy("qid", "rnk")
    },

    // ----- ann02: LSH-bucketed ANN — candidates share a (table, bucket) key
    // with the query; exact cosine re-rank within candidates only.
    QueryDef.sql("ann02_topk_lsh", lshOracle(multiProbe = false)) { (spark, dir) =>
      lshTopK(spark, dir, multiProbe = false)
    },

    // ----- ann04: multi-probe LSH — queries additionally probe every
    // Hamming-1 neighbor bucket (one hyperplane sign flipped), recovering
    // most of the recall single-probe loses for ~(H+1)× the candidate reads —
    // still a tiny fraction of a full scan.
    QueryDef.sql("ann04_topk_lsh_multiprobe", lshOracle(multiProbe = true)) { (spark, dir) =>
      lshTopK(spark, dir, multiProbe = true)
    },

    // ----- ann03: IVF-style coarse quantization, probe=1 — the `label` column
    // plays the role of a trained coarse partition; centroids are per-label
    // mean vectors, each query probes only its nearest centroid's partition.
    // At scale: centroid build is one shuffle on (label, dim); the search scan
    // touches 1/nlist of the data (partition pruning on the inverted list).
    QueryDef.sql("ann03_ivf_probe1", ivfOracle(probes = 1)) { (spark, dir) =>
      ivfTopK(spark, dir, probes = 1)
    },

    // ----- ann06: index-quality evaluation — recall@10 of single-probe LSH
    // against the exact brute-force neighbors, per query. This is the eval
    // harness an ANN deployment runs on a QUERY SAMPLE to tune h/L/nprobe:
    // the brute denominator inherits ann01's exact-baseline ceiling (at
    // corpus scale you sample queries, never brute-force the full set —
    // the guard enforces exactly that posture). Both top-10 sets come from
    // the same shared chains the graded entries use (bruteTopK, lshTopK),
    // so the recall number measures the real index, not a re-derivation.
    QueryDef.sql(
      "ann06_lsh_recall",
      s"""WITH $bucketCtes,
         |qb AS (SELECT vec_id AS qid, table_id, bucket FROM bk WHERE vec_id < $NumQueries),
         |cands AS (
         |  SELECT DISTINCT qb.qid, nb.vec_id AS nid
         |  FROM qb JOIN bk nb ON nb.table_id = qb.table_id AND nb.bucket = qb.bucket
         |  WHERE nb.vec_id <> qb.qid),
         |s AS (
         |  SELECT c.qid, c.nid, ${cosSql("eq.embedding", "en.embedding")} AS cosine
         |  FROM cands c
         |  JOIN embeddings eq ON eq.vec_id = c.qid
         |  JOIN embeddings en ON en.vec_id = c.nid),
         |r AS (SELECT qid, nid, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk FROM s),
         |lshr AS (SELECT qid, nid FROM r WHERE rnk <= 10),
         |bs AS (
         |  SELECT q.vec_id AS qid, b.vec_id AS nid,
         |    ${cosSql("q.embedding", "b.embedding")} AS cosine
         |  FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |br AS (SELECT qid, nid,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk FROM bs),
         |brute AS (SELECT qid, nid FROM br WHERE rnk <= 10)
         |SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(COUNT(l.nid) AS BIGINT) AS n_hit,
         |  CAST(COUNT(l.nid) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS recall
         |FROM brute b LEFT JOIN lshr l ON l.qid = b.qid AND l.nid = b.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin,
    ) { (spark, dir) =>
      ExactBaseline.guard(spark, CorpusMeta.embeddingCount(spark, dir), "ann06_lsh_recall",
        "evaluate recall on a sampled query set against a sampled corpus slice")
      val brute = bruteTopK(spark, dir).select("qid", "nid")
      val lsh = lshTopK(spark, dir, multiProbe = false)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      brute.join(lsh, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).cast("long").as("n_true"),
          count(col("hit")).cast("long").as("n_hit"))
        .select(col("qid"), col("n_true"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true")).as("recall"))
        .orderBy("qid")
    },

    // ----- ann05: IVF probe-2 — each query searches its two nearest
    // centroids' partitions: ~2× the scan of probe-1, recovers the recall
    // lost when a true neighbor sits just across a partition boundary
    // (the standard nprobe knob; SimilaritySpec asserts recall ≥ probe-1).
    QueryDef.sql("ann05_ivf_probe2", ivfOracle(probes = 2)) { (spark, dir) =>
      ivfTopK(spark, dir, probes = 2)
    },

    // ----- rp01: signed random projection 64 → 16 dims (Achlioptas-style
    // ±1 matrix) — the cheap dimensionality-reduction stage in front of an
    // ANN index. The sign matrix is pseudo-random but engine-independent:
    // sign(j,d) = parity of the first hex digit of md5("rp:j:d"), computed
    // driver-side here (16×64 MessageDigest calls at plan build) and by
    // DuckDB's md5() in the oracle. Each projected value is the codegen'd
    // FloatVecDot of the embedding against a ±1f literal row — products are
    // exact sign flips of float32 values, accumulated left-to-right in
    // double, and the oracle replays the identical fold via list_reduce, so
    // the doubles are bit-identical. Map-side only (the 16 dot products per
    // row fuse into one whole-stage-codegen pass); output is long-format
    // (vec_id, j, value) — scalar columns, no array hashing at the gate.
    QueryDef.sql(
      "rp01_random_projection",
      """WITH sgn AS (
        |  SELECT j.j, list(CAST(CASE WHEN strpos('02468ace',
        |      substr(md5('rp:' || j.j || ':' || d.d), 1, 1)) > 0
        |    THEN 1 ELSE -1 END AS FLOAT4) ORDER BY d.d) AS row
        |  FROM generate_series(0, 15) j(j), generate_series(0, 63) d(d)
        |  GROUP BY j.j)
        |SELECT e.vec_id, CAST(sgn.j AS BIGINT) AS j,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list_zip(e.embedding, sgn.row),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |    (s1, v) -> s1 + v) AS value
        |FROM embeddings e, sgn
        |ORDER BY e.vec_id, sgn.j""".stripMargin,
    ) { (spark, dir) =>
      val projCols = (0 until 16).map { j =>
        VectorOps.dot(col("embedding"), typedLit(projectionSignRow(j))).as(s"p$j")
      }
      Tables(spark, dir).embeddings
        .select(col("vec_id") +: projCols: _*)
        .select(col("vec_id"),
          posexplode(array((0 until 16).map(j => col(s"p$j")): _*)))
        .toDF("vec_id", "j", "value")
        .select(col("vec_id"), col("j").cast("long").as("j"), col("value"))
        .orderBy("vec_id", "j")
    },

    // ----- ann07: product quantization (Jégou et al. 2011, the IVF-PQ
    // memory-side of a billion-scale ANN index): 64 dims → 8 subspaces × 8
    // dims, each with a 16-entry codebook (seeds = first 16 vectors'
    // subvectors, one Lloyd step — km01's proven double-avg→float recipe);
    // every vector compresses to 8 one-byte codes (64× smaller than the
    // float vector). Queries never touch raw corpus vectors: a per-query
    // lookup table (8×16 partial dots) is summed over each vector's codes —
    // asymmetric distance computation. The per-(query, vector) sum of 8 LUT
    // entries is folded in subspace order on both engines (sorted-struct
    // fold here, 0-prepended list_reduce there), so scores are
    // bit-identical with no rounding.
    //
    // 100 TB shape: codebooks and LUTs are KB-scale broadcasts; the encode
    // passes are map-side joins on `m` (16-row build side per subspace); the
    // only corpus-sized shuffle keys (qid, vec_id) for the score fold — at
    // production scale the LUT-sum fuses into one mapPartitions over the
    // code table (8 bytes/vector resident), which is the whole point of PQ.
    QueryDef.sql(
      "ann07_pq_topk",
      s"""WITH $pqScoreCtes
         |SELECT qid, rnk, nid, approx_dot FROM r WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) => pqTopK(spark, dir) },

    // ----- ann08: two-stage retrieval — the PQ shortlist (top-$RerankShortlist
    // by ADC score, ann07's chain) re-ranked by EXACT cosine over the raw
    // vectors, emitting top-10. This is the production billion-scale pattern
    // (IVF-PQ memory side + rerank from storage, Jégou et al. 2011 §VI;
    // DiskANN-style refinement): the approximate index whittles the corpus to
    // R candidates per query, and the expensive exact math touches ONLY
    // |Q|×R rows — never the corpus.
    //
    // 100 TB shape: the shortlist (|Q|×R keys) is broadcast; fetching raw
    // vectors for it is one map-side semi-join against the vector store (at
    // production scale, point lookups into a bucketed-by-vec_id table), and
    // the rerank itself is |Q|×R cosines — constant per query regardless of
    // corpus size. Recall lifts toward exact because ADC quantization error
    // only has to keep a true neighbor inside the top-R, not the top-10
    // (SimilaritySpec pins rerank recall ≥ PQ-only recall).
    QueryDef.sql(
      "ann08_pq_rerank",
      s"""WITH $pqScoreCtes,
         |short AS (SELECT qid, nid FROM r WHERE rnk <= $RerankShortlist),
         |ex AS (SELECT s.qid, s.nid,
         |    ${cosSql("q.embedding", "n.embedding")} AS cosine
         |  FROM short s
         |  JOIN embeddings q ON q.vec_id = s.qid
         |  JOIN embeddings n ON n.vec_id = s.nid),
         |rr AS (SELECT qid, nid, cosine,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM ex)
         |SELECT qid, rnk, nid, cosine FROM rr WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) => pqRerankTopK(spark, dir) },

    // ----- ann09: IVF-PQ with residual encoding (Jégou et al. 2011 §IV —
    // IVFADC, the full billion-scale index): the coarse quantizer (ann03's
    // per-label centroids) routes vectors to cells, the PQ codebooks (ann07's
    // train recipe) quantize each vector's RESIDUAL from its cell centroid —
    // residuals are far smaller in magnitude than raw vectors, so the same
    // 8×16 codebook budget spends its precision where the coarse quantizer
    // left error. Queries probe their 2 nearest cells; within a probed cell
    // the query's own residual drives a per-(query, cell) LUT of subspace
    // squared-L2 terms, summed over each vector's codes in subspace order
    // (ADC) — approximate distance, ascending rank.
    //
    // 100 TB shape: the code table (8 B/vector + cell id) is the maintained
    // index, bucketed by cell — exactly the cell structure st14 maintains on
    // the ingest path; a query touches only probed cells' codes via the
    // broadcast (query, cell) LUT join, never raw vectors or other cells.
    // Codebooks and LUTs are KB-scale broadcasts; the only corpus-wide work
    // is the one-off encode pass. Residual floats are bit-identical across
    // engines (float subtraction of identical floats; centroids via the
    // double-avg→float parity recipe), so every ADC double fold hash-matches.
    QueryDef.sql(
      "ann09_ivfpq_topk",
      s"""WITH dimvals AS (
         |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
         |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid
         |  FROM dimvals GROUP BY 1),
         |res AS (SELECT e.vec_id, e.label,
         |    list_transform(list_zip(e.embedding, c.centroid), x -> x[1] - x[2]) AS resid
         |  FROM embeddings e JOIN cent c USING (label)),
         |sub AS (SELECT vec_id, label, g.m, resid[g.m*8+1 : g.m*8+8] AS sv
         |  FROM res, generate_series(0, ${PqM - 1}) g(m)),
         |seeds AS (SELECT m, vec_id AS cluster, sv AS centroid FROM sub WHERE vec_id < $PqK),
         |a0 AS (SELECT s.vec_id, s.m, c.cluster, s.sv,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY ${ssqSql("s.sv")} + ${ssqSql("c.centroid")}
         |        - 2 * ${dotSql("s.sv", "c.centroid")} ASC, c.cluster) AS rn
         |  FROM sub s JOIN seeds c USING (m)),
         |cd AS (SELECT m, cluster,
         |    unnest(generate_series(1, len(sv))) AS dim,
         |    unnest(list_transform(sv, x -> CAST(x AS DOUBLE))) AS v
         |  FROM a0 WHERE rn = 1),
         |cent1 AS (SELECT m, cluster, list(CAST(c AS FLOAT) ORDER BY dim) AS centroid
         |  FROM (SELECT m, cluster, dim, AVG(v) AS c FROM cd GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |enc AS (SELECT vec_id, label, m, cluster AS code FROM (
         |  SELECT s.vec_id, s.label, s.m, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY ${ssqSql("s.sv")} + ${ssqSql("c.centroid")}
         |        - 2 * ${dotSql("s.sv", "c.centroid")} ASC, c.cluster) AS rn
         |  FROM sub s JOIN cent1 c USING (m)) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         |aq AS (SELECT q.qid, q.qe, c.label, c.centroid,
         |    ${cosSql("q.qe", "c.centroid")} AS ccos
         |  FROM q, cent c),
         |probe AS (SELECT qid, label,
         |    list_transform(list_zip(qe, centroid), x -> x[1] - x[2]) AS qr
         |  FROM (SELECT aq.*, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY ccos DESC, label) AS r FROM aq)
         |  WHERE r <= $IvfPqProbes),
         |qsub AS (SELECT qid, label, g.m, qr[g.m*8+1 : g.m*8+8] AS qsv
         |  FROM probe, generate_series(0, ${PqM - 1}) g(m)),
         |lut AS (SELECT s.qid, s.label, s.m, c.cluster AS code,
         |    ${ssqSql("s.qsv")} + ${ssqSql("c.centroid")}
         |      - 2 * ${dotSql("s.qsv", "c.centroid")} AS v
         |  FROM qsub s JOIN cent1 c USING (m)),
         |sc AS (SELECT l.qid, e.vec_id AS nid, e.label,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.v ORDER BY l.m)),
         |      (s1, v) -> s1 + v) AS approx_d
         |  FROM enc e JOIN lut l ON l.label = e.label AND l.m = e.m AND l.code = e.code
         |  WHERE e.vec_id <> l.qid
         |  GROUP BY 1, 2, 3),
         |r AS (SELECT qid, nid, label, approx_d,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY approx_d ASC, nid) AS BIGINT) AS rnk FROM sc)
         |SELECT qid, rnk, nid, CAST(label AS BIGINT) AS probed_label, approx_d
         |FROM r WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) => ivfPqTopK(spark, dir) },

    // ----- ann10: FILTERED vector search — top-k under a metadata
    // predicate (here: neighbor's document is German, via the mx02
    // id-coincidence doc↔vec join), the shape every production vector store
    // must serve ("nearest German documents"). Strategy is
    // selectivity-driven, and this entry takes the SELECTIVE branch:
    // PREFILTER + exact cosine over the filtered subset — exact recall by
    // construction, cost |Q|×|filtered| (the predicate prunes ~6/7 of the
    // corpus before any vector math; the filter and join sit below the
    // cosine in the plan). The ExactBaseline guard fires on the FILTERED
    // count, not the corpus: if the predicate stops being selective, the
    // entry refuses loudly and names the postfilter path (probe ann02/ann03
    // buckets, then apply the predicate, accepting its recall loss) — at
    // 100 TB that decision is the filtered-ANN planner in one sentence.
    QueryDef.sql(
      "ann10_filtered_topk",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         |f AS (
         |  SELECT e.vec_id AS nid, e.embedding AS ne
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = 'de'),
         |s AS (
         |  SELECT qid, nid, ${cosSql("qe", "ne")} AS cosine
         |  FROM q JOIN f ON nid <> qid),
         |r AS (SELECT qid, nid, cosine,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM s)
         |SELECT qid, rnk, nid, cosine FROM r WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val docs = Tables(spark, dir).documents
        .filter(col("lang") === "de").select(col("doc_id").as("nid"))
      val filtered = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        .join(docs, "nid")
        .transform(Residency.snap) // guard count + search scan share one build
      ExactBaseline.guard(spark, filtered.count(), "ann10_filtered_topk",
        "the postfilter path (probe ann02/ann03 buckets, then apply the predicate)")
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
      broadcast(q).join(filtered, col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("qid", "rnk", "nid", "cosine")
        .orderBy("qid", "rnk")
    },

    // ----- ann11: hard-negative mining — the contrastive-training data
    // op: for each anchor query, the top-10 most-similar vectors of a
    // DIFFERENT label (close in embedding space, different class — the
    // negatives that actually move an embedding model). Production shape
    // rides the IVF structure: each query probes its 2 nearest FOREIGN
    // centroids (own-label cell excluded at the centroid rank), then
    // exact-cosine ranks only those inverted lists — per-query work is
    // 2/nlist of the corpus, the ann05 cost class, and every candidate is
    // a negative by construction (cell label == candidate label ≠ anchor
    // label), so no post-filter discards paid-for cosines. Cross-cell
    // negatives are the accepted recall trade, exactly the ann03/ann05
    // probe trade.
    QueryDef.sql(
      "ann11_hard_negatives",
      s"""WITH dimvals AS (
         |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
         |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid FROM dimvals GROUP BY 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |aq AS (
         |  SELECT q.qid, q.qe, q.qlabel, c.label,
         |    ${cosSql("q.qe", "c.centroid")} AS ccos
         |  FROM q, cent c WHERE c.label <> q.qlabel),
         |assign AS (
         |  SELECT qid, qe, qlabel, label FROM (
         |    SELECT aq.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS r FROM aq)
         |  WHERE r <= 2),
         |s AS (
         |  SELECT a.qid, CAST(a.qlabel AS BIGINT) AS qlabel,
         |    CAST(a.label AS BIGINT) AS neg_label, b.vec_id AS nid,
         |    ${cosSql("a.qe", "b.embedding")} AS cosine
         |  FROM assign a JOIN embeddings b ON b.label = a.label),
         |r AS (SELECT qid, qlabel, neg_label, nid, cosine,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM s)
         |SELECT qid, qlabel, rnk, nid, neg_label, cosine FROM r WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val centroids = labelCentroids(e)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlabel"))
      val wAssign = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
      val assigned = q.crossJoin(broadcast(centroids))
        .filter(col("label") =!= col("qlabel"))
        .select(col("qid"), col("qe"), col("qlabel"), col("label"),
          VectorOps.cosine(col("qe"), col("centroid")).as("ccos"))
        .withColumn("r", row_number().over(wAssign))
        .filter(col("r") <= 2)
        .select("qid", "qe", "qlabel", "label")
      val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label"))
      val wRank = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
      assigned.join(n, Seq("label"))
        .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
          col("label").cast("long").as("neg_label"), col("nid"),
          VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .filter(col("rnk") <= 10)
        .select("qid", "qlabel", "rnk", "nid", "neg_label", "cosine")
        .orderBy("qid", "rnk")
    },

    // ----- tp01: contrastive triplet mining — the (anchor, positive,
    // negative) roster an embedding-model trainer consumes. Positives are
    // the anchor's top-3 SAME-label neighbors (its own IVF cell — the
    // inverted list is the candidate set, no centroid probe needed);
    // negatives are ann11's top-3 hard negatives (2 nearest FOREIGN
    // cells); rank r pairs with rank r, and the margin pos_cos − neg_cos
    // is a fixed-order subtraction of already-bit-identical doubles. A
    // positive margin means the anchor's class structure survives the
    // mining — the quantity a trainer monitors.
    //
    // 100 TB shape: both arms are label-equi-keyed inverted-list scans
    // (the ann03/ann11 cost class); the rank-r join is 24 rows.
    QueryDef.sql(
      "tp01_contrastive_triplets",
      s"""WITH dimvals AS (
         |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
         |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid FROM dimvals GROUP BY 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |pos AS (SELECT qid, nid AS pos_id, cosine AS pos_cos, rnk FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    ${cosSql("q.qe", "b.embedding")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q.qid
         |      ORDER BY ${cosSql("q.qe", "b.embedding")} DESC, b.vec_id) AS rnk
         |  FROM q JOIN embeddings b ON b.label = q.qlabel AND b.vec_id <> q.qid)
         |  WHERE rnk <= 3),
         |aq AS (
         |  SELECT q.qid, q.qe, q.qlabel, c.label,
         |    ${cosSql("q.qe", "c.centroid")} AS ccos
         |  FROM q, cent c WHERE c.label <> q.qlabel),
         |assign AS (
         |  SELECT qid, qe, label FROM (
         |    SELECT aq.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS r FROM aq)
         |  WHERE r <= 2),
         |neg AS (SELECT qid, nid AS neg_id, cosine AS neg_cos, rnk FROM (
         |  SELECT a.qid, b.vec_id AS nid,
         |    ${cosSql("a.qe", "b.embedding")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY a.qid
         |      ORDER BY ${cosSql("a.qe", "b.embedding")} DESC, b.vec_id) AS rnk
         |  FROM assign a JOIN embeddings b ON b.label = a.label)
         |  WHERE rnk <= 3)
         |SELECT p.qid, CAST(p.rnk AS BIGINT) AS rnk, p.pos_id, p.pos_cos,
         |  n.neg_id, n.neg_cos, p.pos_cos - n.neg_cos AS margin
         |FROM pos p JOIN neg n ON p.qid = n.qid AND p.rnk = n.rnk
         |ORDER BY p.qid, rnk""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlabel"))
      val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label"))
      val wq = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
      val pos = broadcast(q).join(n, col("label") === col("qlabel") && col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= 3)
        .select(col("qid"), col("nid").as("pos_id"), col("cosine").as("pos_cos"), col("rnk"))
      val centroids = labelCentroids(e)
      val wAssign = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
      val assigned = q.crossJoin(broadcast(centroids))
        .filter(col("label") =!= col("qlabel"))
        .select(col("qid"), col("qe"), col("label"),
          VectorOps.cosine(col("qe"), col("centroid")).as("ccos"))
        .withColumn("r", row_number().over(wAssign))
        .filter(col("r") <= 2)
        .select("qid", "qe", "label")
      val neg = assigned.join(n, Seq("label"))
        .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= 3)
        .select(col("qid"), col("nid").as("neg_id"), col("cosine").as("neg_cos"), col("rnk"))
      pos.join(neg, Seq("qid", "rnk"))
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
          (col("pos_cos") - col("neg_cos")).as("margin"))
        .orderBy("qid", "rnk")
    },

    // ----- knn01: kNN label-agreement eval — the label-noise screen a
    // training-data pipeline runs before trusting a labeled embedding set
    // (Confident-Learning-class: a vector whose 10 nearest neighbors
    // majority-vote a DIFFERENT label is a mislabeling candidate; the
    // per-label agreement rate is the label-quality scorecard). Query set is
    // a deterministic 5% slice (vec_id % 20 = 0 — at corpus scale you audit
    // a sample, never re-rank every vector); neighbors come from the 2
    // nearest IVF cells (ann05's probe posture — centroid assign is a
    // broadcast cross of |labels| rows, the candidate scan touches
    // 2/nlist of the corpus, never all-pairs). Majority vote ties break to
    // the smaller label on both engines.
    QueryDef.sql(
      "knn01_knn_label_eval",
      knnEvalOracleSql(
        """q AS (SELECT vec_id AS qid, embedding AS qe, label AS own_label
          |  FROM embeddings WHERE vec_id % 20 = 0)""".stripMargin),
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      knnLabelEval(e, e.filter(col("vec_id") % 20 === 0))
    },

    // ----- knn02: knn01's SIZE-PINNED twin — the deployment shape (r11
    // verdict item 4). knn01's 5% RATE slice makes the audited pair mass
    // ∝ n²/nlist (quadratic-class by construction); a production audit pins
    // an absolute sample size instead, so cost stays LINEAR in corpus size.
    // The slice is vec_id % K = 0 with K = max(1, ⌊n/2000⌋) derived from
    // COUNT(*) metadata — deterministic and oracle-replayable (the oracle
    // derives the same K in SQL, the dd06 adaptive-bits pattern), bounding
    // the audit at 2000–4000 queries at any scale. Below 2000 vectors the
    // slice degenerates to the full corpus (K=1) — the audit IS exhaustive
    // at toy scale, sampled at deployment scale.
    QueryDef.sql(
      "knn02_knn_label_eval_pinned",
      knnEvalOracleSql(
        """kk AS (SELECT GREATEST(1, COUNT(*) // 2000) AS k FROM embeddings),
          |q AS (SELECT vec_id AS qid, embedding AS qe, label AS own_label
          |  FROM embeddings WHERE vec_id % (SELECT k FROM kk) = 0)""".stripMargin),
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val k = math.max(1L, CorpusMeta.embeddingCount(spark, dir) / 2000L)
      knnLabelEval(e, e.filter(col("vec_id") % k === 0))
    },
  )

  /** Shared knn01/knn02 oracle — `qCtes` supplies the audited query slice
    * (knn01: the 5% rate slice; knn02: the size-pinned `% K` slice with K
    * derived in SQL from COUNT(*), so both engines replay the same set).
    */
  private def knnEvalOracleSql(qCtes: String): String =
    s"""WITH dimvals AS (
       |  SELECT e.label, t.d, AVG(CAST(e.embedding[t.d] AS DOUBLE)) AS c
       |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY 1, 2),
       |cent AS (SELECT label, list(CAST(c AS FLOAT4) ORDER BY d) AS centroid FROM dimvals GROUP BY 1),
       |$qCtes,
       |aq AS (
       |  SELECT q.qid, q.qe, q.own_label, c.label,
       |    ${cosSql("q.qe", "c.centroid")} AS ccos
       |  FROM q, cent c),
       |assign AS (
       |  SELECT qid, qe, own_label, label FROM (
       |    SELECT aq.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS r FROM aq)
       |  WHERE r <= 2),
       |s AS (
       |  SELECT a.qid, a.own_label, b.vec_id AS nid, b.label AS nlabel,
       |    ${cosSql("a.qe", "b.embedding")} AS cosine
       |  FROM assign a JOIN embeddings b ON b.label = a.label AND b.vec_id <> a.qid),
       |r AS (SELECT qid, own_label, nlabel,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk FROM s),
       |votes AS (SELECT qid, own_label, nlabel, COUNT(*) AS cnt
       |  FROM r WHERE rnk <= 10 GROUP BY 1, 2, 3),
       |maj AS (SELECT qid, own_label, nlabel FROM (
       |  SELECT v.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, nlabel) AS vr FROM votes v)
       |  WHERE vr = 1)
       |SELECT CAST(own_label AS BIGINT) AS label, COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN nlabel = own_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(CASE WHEN nlabel <> own_label THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
       |FROM maj GROUP BY 1 ORDER BY label""".stripMargin

  /** Shared knn01/knn02 body: 10-NN label-agreement over the `qs` query
    * slice, neighbors from the 2 nearest IVF cells (never all-pairs).
    */
  private def knnLabelEval(e: DataFrame, qs: DataFrame): DataFrame = {
    val centroids = labelCentroids(e)
    val q = qs.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("label").as("own_label"))
    val wAssign = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
    val assigned = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qe"), col("own_label"), col("label"),
        VectorOps.cosine(col("qe"), col("centroid")).as("ccos"))
      .withColumn("r", row_number().over(wAssign)).filter(col("r") <= 2)
      .select("qid", "qe", "own_label", "label")
    val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label"))
    // top-10 via the bounded-heap operator, not a window: each qid group
    // holds 2/nlist of the corpus — a row_number sort buffers whole groups,
    // the heap keeps 10 rows/group with a map-side partial pass (q37's
    // plan; ordering identical: cosine DESC, nid ASC)
    val scored = assigned.join(n, Seq("label")).filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("own_label"), col("label").as("nlabel"), col("nid"),
        VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
    val top = graft.plans.TopKPerGroup.topK(scored, Seq("qid"), "cosine", "nid", 10)
    val votes = top.groupBy("qid", "own_label", "nlabel").agg(count(lit(1)).as("cnt"))
    val wVote = Window.partitionBy("qid").orderBy(desc("cnt"), asc("nlabel"))
    val maj = votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
    maj.groupBy(col("own_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("nlabel") === col("own_label"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("nlabel") =!= col("own_label"), 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("label")
  }

  /** rp01's ±1f sign row for projected dim `j`: parity of the first hex
    * digit of md5("rp:j:d") per input dim d — the same formula the oracle
    * evaluates with DuckDB's md5().
    */
  private def projectionSignRow(j: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(64) { d =>
      val hex = md.digest(s"rp:$j:$d".getBytes("UTF-8"))
      md.reset()
      // first hex digit = high nibble of byte 0
      if ((hex(0) >> 4 & 0x1) == 0) 1.0f else -1.0f
    }
  }

  // ---- ann07 product quantization ----

  private[pipeline] def ssqSql(a: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($a,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s1, v) -> s1 + v)""".stripMargin

  private[pipeline] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip($a, $b),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (s1, v) -> s1 + v)""".stripMargin

  /** (id, m, sv[, keep...]): each vector split into PqM contiguous 8-dim
    * subvectors; `vcol` names the array column (ann07 slices raw embeddings,
    * ann09 slices residuals and carries the cell label through).
    */
  private def pqSub(e: DataFrame, vcol: String = "embedding",
                    keep: Seq[String] = Nil): DataFrame =
    e.select(col("vec_id") +: keep.map(col) :+ posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> slice($vcol, m*8 + 1, 8))"))
      .as(Seq("m", "sv")): _*)

  /** Nearest codebook entry per (vector, subspace) by squared L2 — the
    * `|a|² + |c|² − 2·a·c` form keeps every term a deterministic sequential
    * fold (no sqrt round trip), matching the oracle op-for-op.
    */
  private def pqAssign(sub: DataFrame, cents: DataFrame,
                       keep: Seq[String] = Nil): DataFrame = {
    val d = VectorOps.sumSq(col("sv")) + VectorOps.sumSq(col("centroid")) -
      lit(2.0) * VectorOps.dot(col("sv"), col("centroid"))
    val w = Window.partitionBy("vec_id", "m").orderBy(col("d").asc, col("cluster").asc)
    sub.join(broadcast(cents), Seq("m"))
      .select(col("vec_id") +: keep.map(col) :+ col("m") :+ col("cluster") :+
        col("sv") :+ d.as("d"): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(("vec_id" +: keep :+ "m" :+ "cluster" :+ "sv").map(col): _*)
  }

  /** One Lloyd step over the subvector frame: seeds = the first [[PqK]]
    * vectors' subvectors, assignment by squared L2, recompute as
    * double-avg → float (km01's proven parity recipe). Shared by ann07/ann08
    * (raw subvectors) and ann09 (residual subvectors).
    */
  private def pqTrain(sub: DataFrame): DataFrame = {
    val seeds = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cluster"), col("sv").as("centroid"))
    VectorOps.centroids(pqAssign(sub, seeds), Seq("m", "cluster"), "sv")
  }

  /** (qid, nid, approx_dot, rnk) — the ADC score table behind ann07/ann08,
    * ranked per query by (approx_dot DESC, nid). No rank filter here: ann07
    * takes rnk ≤ 10, ann08 shortlists rnk ≤ [[RerankShortlist]].
    */
  private def pqScores(spark: SparkSession, dir: String): DataFrame = {
    val sub = Residency.snap(pqSub(Tables(spark, dir).embeddings))
    // one Lloyd step: assign to seeds, recompute as double-avg → float
    val cent1 = Residency.snap(pqTrain(sub)) // feeds the encode pass AND the query LUT
    val enc = pqAssign(sub, cent1).select(col("vec_id"), col("m"), col("cluster").as("code"))
    val lut = sub.filter(col("vec_id") < NumQueries)
      .join(broadcast(cent1), Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("cluster").as("code"),
        VectorOps.dot(col("sv"), col("centroid")).as("v"))
    // ADC: sum the 8 LUT entries per (query, vector) in subspace order —
    // the same 0-seeded left fold as the oracle's list_reduce
    val folded = aggregate(
      transform(array_sort(collect_list(struct(col("m"), col("v")))), x => x.getField("v")),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("qid").orderBy(desc("approx_dot"), asc("nid"))
    enc.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(folded.as("approx_dot"))
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  private def pqTopK(spark: SparkSession, dir: String): DataFrame =
    pqScores(spark, dir)
      .filter(col("rnk") <= 10)
      .select("qid", "rnk", "nid", "approx_dot")
      .orderBy("qid", "rnk")

  /** ann08: exact-cosine rerank of the per-query ADC top-[[RerankShortlist]].
    * The shortlist (|Q|×R keys) is broadcast, so the raw-vector fetch is a
    * map-side join against the corpus — the only corpus-wide work is ann07's
    * encode pass, shared unchanged.
    */
  private def pqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val short = pqScores(spark, dir)
      .filter(col("rnk") <= RerankShortlist)
      .select("qid", "nid")
    val qv = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val nv = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    broadcast(short.join(broadcast(qv), Seq("qid")))
      .join(nv, Seq("nid"))
      .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("qid", "rnk", "nid", "cosine")
      .orderBy("qid", "rnk")
  }

  /** Exact top-10 cosine neighbors per query — the shared brute chain behind
    * ann01 and ann06's recall denominator. Unguarded: callers decide whether
    * the exact-baseline ceiling applies.
    */
  private def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val b = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    broadcast(q).join(b, col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("qid", "rnk", "nid", "cosine")
  }

  /** Per-label mean centroid — the IVF coarse quantizer shared by
    * ann03/ann05 (probe + exact re-rank) and ann09 (probe + residual-PQ ADC).
    */
  private def labelCentroids(e: DataFrame): DataFrame =
    VectorOps.centroids(e, Seq("label"), "embedding")

  private def ivfTopK(spark: SparkSession, dir: String, probes: Int): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val centroids = labelCentroids(e)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wAssign = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
    val assigned = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qe"), col("label"),
        VectorOps.cosine(col("qe"), col("centroid")).as("ccos"))
      .withColumn("r", row_number().over(wAssign))
      .filter(col("r") <= probes)
      .select("qid", "qe", "label")
    val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("label"))
    val wRank = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    assigned.join(n, Seq("label"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("label").cast("long").as("probed_label"), col("nid"),
        VectorOps.cosine(col("qe"), col("ne")).as("cosine"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= 10)
      .select("qid", "rnk", "nid", "probed_label", "cosine")
      .orderBy("qid", "rnk")
  }

  // ---- ann09 IVF-PQ: coarse cells + residual product quantization ----

  /** IVF-PQ with residual encoding (Jégou et al. 2011 §IV, IVFADC): each
    * vector's RESIDUAL from its coarse-cell centroid is product-quantized,
    * queries probe their [[IvfPqProbes]] nearest cells and rank by ADC
    * squared-L2 — Σ_m ‖(q−c)_m − codebook[m][code_m]‖², folded in subspace
    * order, bit-identical to the oracle. Residuals are float subtractions of
    * identical floats on both engines (centroids are the double-avg→float
    * recipe), so every downstream double fold sees identical inputs.
    */
  private def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cent = Residency.snap(labelCentroids(e)) // residual pass + probing
    val resid = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        zip_with(col("embedding"), col("centroid"), (a, b) => a - b).as("resid"))
    val sub = Residency.snap(pqSub(resid, "resid", Seq("label")))
    val cent1 = Residency.snap(pqTrain(sub)) // encode pass + query LUTs
    val enc = pqAssign(sub, cent1, keep = Seq("label"))
      .select(col("vec_id"), col("label"), col("m"), col("cluster").as("code"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
    val probed = q.crossJoin(broadcast(cent))
      .select(col("qid"), col("qe"), col("label"), col("centroid"),
        VectorOps.cosine(col("qe"), col("centroid")).as("ccos"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= IvfPqProbes)
      .select(col("qid"), col("label"),
        zip_with(col("qe"), col("centroid"), (a, b) => a - b).as("qr"))
    val qsub = probed.select(col("qid"), col("label"), posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> slice(qr, m*8 + 1, 8))"))
      .as(Seq("m", "qsv")))
    val lut = qsub.join(broadcast(cent1), Seq("m"))
      .select(col("qid"), col("label"), col("m"), col("cluster").as("code"),
        (VectorOps.sumSq(col("qsv")) + VectorOps.sumSq(col("centroid")) -
          lit(2.0) * VectorOps.dot(col("qsv"), col("centroid"))).as("v"))
    val folded = aggregate(
      transform(array_sort(collect_list(struct(col("m"), col("v")))), x => x.getField("v")),
      lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy("qid").orderBy(asc("approx_d"), asc("nid"))
    enc.join(broadcast(lut), Seq("label", "m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"), col("label"))
      .agg(folded.as("approx_d"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("nid"),
        col("label").cast("long").as("probed_label"), col("approx_d"))
      .orderBy("qid", "rnk")
  }
}
