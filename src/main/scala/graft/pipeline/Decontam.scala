package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data step that removes corpus
  * documents overlapping an evaluation/benchmark set (n-gram-overlap
  * decontamination, the standard pretraining-hygiene pass).
  *
  * The benchmark set here is carved deterministically out of `documents`
  * (doc_id % 20 == 0 — a stand-in for an external eval suite); the corpus is
  * everything else. A corpus document is contaminated when ≥ 30% of its
  * 3-word shingles appear in any single benchmark document.
  *
  * 100 TB posture: the benchmark side of a decontamination pass is small by
  * construction (eval suites are MBs, the corpus is TBs) — so the shingle
  * join is a BROADCAST join: one map-side pass over the corpus, no corpus
  * shuffle at all for candidate generation; only the (doc, bench) overlap
  * counts (bounded by actual overlap, not corpus size) shuffle for the
  * per-document verdict.
  */
object Decontam {

  private def shingles(text: Column): Column =
    array_distinct(graft.functions.TextExpressions.wordShingles(text))

  /** On-disk (compressed) size of the documents table — file or directory of
    * parts. Input to dc02's snap-residency gate; metadata-scale.
    */
  private def docsFileBytes(dir: String): Long = {
    def len(f: java.io.File): Long = {
      val children = f.listFiles()
      if (children == null) f.length() else children.map(len).sum
    }
    len(new java.io.File(s"$dir/documents.parquet"))
  }

  /** dc02's shingle builder, exposed for st17's streaming twin. */
  private[graft] def docShingles(text: Column): Column = shingles(text)

  /** Bench-side static artifacts of the streaming decontamination firewall
    * (st17): the distinct benchmark shingle set and the Bloom blob over it —
    * exactly dc02's bench build (same repartition-before-explode, same
    * memoized sizeBits derivation), so the stream probes the identical
    * filter the batch pass uses.
    */
  private[graft] def benchShingleBloom(spark: SparkSession, dir: String): (Array[Byte], DataFrame) = {
    import graft.functions.BloomExpressions._
    val bench = Tables(spark, dir).documents.filter(col("doc_id") % 20 === 0)
    val shB = bench.repartition(col("doc_id"))
      .select(explode(shingles(col("text"))).as("s")).distinct()
    val bits = sizeBits(CorpusMeta.benchShingleCount(spark, dir)(shB.count()))
    val blob = shB.agg(bloomBuild(xxhash64(col("s")), bits, DefaultNumHashes).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    (blob, shB)
  }

  /** Per-corpus-document contamination verdict against the benchmark set. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val shC = corpus.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
    val shB = bench.select(col("doc_id").as("bench_id"), explode(shingles(col("text"))).as("s"))
    val nc = shC.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val overlap = shC.join(broadcast(shB), "s")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("doc_id").orderBy(desc("frac"), asc("bench_id"))
    val best = overlap.join(nc, "doc_id")
      .select(col("doc_id"), col("bench_id"),
        (col("c").cast("double") / col("ns")).as("frac"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    corpus.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bench_id").cast("long"), lit(-1L)).as("bench_id"),
        coalesce(col("frac"), lit(0.0)).as("overlap_frac"),
        when(coalesce(col("frac"), lit(0.0)) >= 0.3, 1L).otherwise(0L).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of dc01.
    *
    * dc01 broadcasts the benchmark shingle set itself; that holds while the
    * eval suite fits an executor as a join hash relation. dc02 instead builds
    * a mergeable Bloom filter over the benchmark shingles (fixed few-MB blob
    * however large the suite text — [[graft.functions.BloomBuildAgg]]),
    * collects the one-row blob driver-side and embeds it as a LITERAL in the
    * probe expression (the crossJoin-a-one-row-frame column form was
    * abandoned after the r7 sf3 drive: codegen re-copies a column-borne blob
    * per probe row — see the comment at the probe site), and drops
    * non-overlapping shingles map-side inside codegen. Only bloom survivors
    * — true overlap plus ~2e-4 false positives — reach the exact-confirm
    * join, so the join input is bounded by overlap mass, not corpus size,
    * and AQE is left to pick the confirm strategy (broadcast here; at a
    * suite too big to broadcast it degrades to a tiny shuffle join, which is
    * the point). False positives cost work, never results: the confirm
    * compares shingle strings, making the output bit-identical to the
    * bloom-free oracle.
    *
    * The verdict is the set-level overlap (fraction of a corpus document's
    * shingles found anywhere in the benchmark union) — the other standard
    * decontamination formulation, complementing dc01's per-benchmark-doc
    * attribution.
    */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomExpressions._
    val docs = Tables(spark, dir).documents
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    // Repartition BEFORE the explode: a shingle explode amplifies each doc
    // ~500×, so task count must be set by the post-explode volume, not the
    // input split count — a single-file documents table otherwise runs the
    // whole 30× corpus explode + partial aggregate in ONE task (measured:
    // dc02 went ~40× on 10× data at sf1 purely from this; the sf3 drive
    // sat 25+ min in one spilling task while 15 cores idled). The doc-hash
    // shuffle moves only the raw docs (tiny next to the shingle stream).
    val shB = bench.repartition(col("doc_id"))
      .select(explode(shingles(col("text"))).as("s")).distinct()
    val bits = sizeBits(CorpusMeta.benchShingleCount(spark, dir)(shB.count()))
    val bloomDf = shB.agg(bloomBuild(xxhash64(col("s")), bits, DefaultNumHashes).as("bf"))
    val shC = corpus.repartition(col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("s"))
    // Two consumers (per-doc denominator + bloom-survivor stream): the
    // materialize-once-vs-recompute-twice trade. A snap stores the FULL
    // ~500×-amplified shingle stream in executor storage — residency that
    // scales with corpus size, against this operator's bounded-by-
    // overlap-mass posture. So the snap is GATED: estimated shingle
    // residency (compressed documents bytes × ~32 for decompress + shingle
    // amplification + row overhead) must fit a quarter of the heap;
    // past that, recompute the map-side explode per consumer — two cheap
    // scans instead of an executor-storage cliff. Every driven scale
    // (sf0.1/sf1/sf3/sf10 ≈ tens of MB compressed) keeps the snap; the
    // gate exists for the corpus that wouldn't.
    val estResidency = docsFileBytes(dir) * 32L
    val shCMat =
      if (estResidency <= Runtime.getRuntime.maxMemory / 4) Residency.snap(shC)
      else shC
    val nc = shCMat.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // The blob reaches the probe as a LITERAL, not a cross-joined column.
    // A column-borne blob is re-materialized by codegen on EVERY probe row
    // (UnsafeRow.getBinary copies the field): at sf3 that was a ~1 MB memcpy
    // × 7.4 M shingle rows × k probes' stage — dc02 ran 169 s while DuckDB's
    // bloom-free exact replay took 12 s, and the 9.7×-on-3× curve was pure
    // blob copying (the governing overlap mass measures linear: 943 k →
    // 2.83 M pairs). A literal is one object reference in the generated
    // class. Driver-side collect of one few-MB blob is the same
    // metadata-scale boundary as dd06's 64-double mean vector.
    // Render cost of the literal (ADVICE r7): Literal.toString hex-encodes
    // binary, so every plan render (explain, the CatalogSpec plan audit's
    // executedPlan string, UI/event-log plan strings) builds a ~2×-blob-size
    // string.
    // At the sizeBits clamp's 16 MB ceiling that is a 32 MB string per
    // render — acceptable at the observed ~1 MB blobs and bounded by the
    // clamp, but a reason to wrap the blob in a non-printing expression if
    // blobs ever grow toward the ceiling.
    val bfBlob = bloomDf.head().getAs[Array[Byte]]("bf")
    val survivors = shCMat
      .where(bloomMightContain(lit(bfBlob), xxhash64(col("s"))))
      .select("doc_id", "s")
    val matched = survivors.join(shB, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
    nc.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)).cast("double") / col("n_shingles")).as("overlap_frac"))
      .withColumn("contaminated",
        when(col("overlap_frac") >= 0.3, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** dc01's oracle CTE chain ending in `best(doc_id, bench_id, frac)` — the
    * top-overlapping benchmark doc per corpus doc (corpus = doc_id % 20 ≠ 0,
    * bench = % 20 = 0). Shared with sp02's contamination-safe split oracle.
    */
  private[pipeline] lazy val dc01Ctes: String =
    """wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 <> 0),
      |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wc),
      |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 = 0),
      |shb AS (SELECT doc_id AS bench_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wb),
      |nc AS (SELECT doc_id, COUNT(*) AS ns FROM shc GROUP BY 1),
      |ov AS (SELECT c.doc_id, b.bench_id, COUNT(*) AS c
      |  FROM shc c JOIN shb b ON c.s = b.s GROUP BY 1, 2),
      |best AS (SELECT doc_id, bench_id, frac FROM (
      |    SELECT o.doc_id, o.bench_id, CAST(o.c AS DOUBLE) / n.ns AS frac,
      |      ROW_NUMBER() OVER (PARTITION BY o.doc_id
      |        ORDER BY CAST(o.c AS DOUBLE) / n.ns DESC, o.bench_id) AS rn
      |    FROM ov o JOIN nc n ON o.doc_id = n.doc_id) WHERE rn = 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql(
      "dc01_decontamination",
      s"""WITH $dc01Ctes
        |SELECT d.doc_id, CAST(COALESCE(b.bench_id, -1) AS BIGINT) AS bench_id,
        |  COALESCE(b.frac, 0.0) AS overlap_frac,
        |  CAST(CASE WHEN COALESCE(b.frac, 0.0) >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN best b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    ) { (spark, dir) => contamination(spark, dir) },

    // ----- dc02: Bloom-prefiltered set-level decontamination. The oracle is
    // the exact (bloom-free) formulation — identical output because bloom
    // false positives are removed by the exact-confirm string join.
    QueryDef.sql(
      "dc02_bloom_decontamination",
      """WITH wc AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 <> 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(words) - 2, 1)),
        |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wc),
        |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id % 20 = 0),
        |shb AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(words) - 2, 1)),
        |    i -> array_to_string(words[i:i+2], ' ')))) AS s FROM wb),
        |nc AS (SELECT doc_id, COUNT(*) AS ns FROM shc GROUP BY 1),
        |mt AS (SELECT c.doc_id, COUNT(*) AS m FROM shc c JOIN shb b ON c.s = b.s GROUP BY 1)
        |SELECT n.doc_id, CAST(n.ns AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(m.m, 0) AS BIGINT) AS n_matched,
        |  CAST(COALESCE(m.m, 0) AS DOUBLE) / n.ns AS overlap_frac,
        |  CAST(CASE WHEN CAST(COALESCE(m.m, 0) AS DOUBLE) / n.ns >= 0.3
        |       THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM nc n LEFT JOIN mt m ON n.doc_id = m.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    ) { (spark, dir) => bloomContamination(spark, dir) },

    // ----- dc03: SEMANTIC decontamination — the embedding-level net that
    // catches paraphrase leaks dc01/dc02's n-gram overlap misses (and the
    // complement of sp02, which quarantines via ts02's LEXICAL clusters).
    // Benchmark = the same deterministic carve (id % 20 == 0, via the mx02
    // doc↔vec id coincidence); a corpus vector is contaminated when a
    // benchmark vector in ITS CLUSTER has cosine ≥ 0.4 (dd05's near-dup
    // threshold). Blocking goes through sd01's two-level ADAPTIVE-K fine
    // assignment (Clustering.fineAssign) — NOT km01's fixed 8 cells: with
    // fixed K, cell occupancy grows ∝ n and bench×corpus pair mass inside
    // cells is Θ(n²/K) (first cut measured 5.3× on 3× data at sf3);
    // adaptive K keeps expected occupancy ≤ 512 so pair mass is linear in
    // n. Cross-cell paraphrases are the accepted recall trade, exactly
    // sd01's. Output: each contaminated corpus doc with its best benchmark
    // match (max cosine, id tiebreak).
    //
    // 100 TB shape: a real eval suite is constant-size (MBs) → broadcast;
    // the assignment is fineAssign's Θ(n^1.5) coarse→fine route; the
    // per-cell probe join's partition sizes track bounded cell occupancy.
    QueryDef.sql(
      "dc03_semantic_decontamination",
      s"""WITH ${Clustering.fineAssignCtes},
         |bench AS (SELECT vec_id AS bench_id, cluster, embedding AS be
         |  FROM ff WHERE vec_id % 20 = 0),
         |corp AS (SELECT vec_id, cluster, embedding AS ce
         |  FROM ff WHERE vec_id % 20 <> 0),
         |hits AS (
         |  SELECT c.vec_id, c.cluster, b.bench_id,
         |    ${graft.pipeline.Similarity.cosSql("c.ce", "b.be")} AS cosine
         |  FROM corp c JOIN bench b USING (cluster)
         |  WHERE ${graft.pipeline.Similarity.cosSql("c.ce", "b.be")} >= 0.4),
         |best AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, bench_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, bench_id) AS rn
         |  FROM hits)
         |SELECT vec_id, cluster, bench_id, cosine
         |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    ) { (spark, dir) =>
      val cell = Clustering.fineAssign(spark, dir)
      val bench = broadcast(cell.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("bench_id"), col("cluster"), col("embedding").as("be")))
      val corp = cell.filter(col("vec_id") % 20 =!= 0)
        .select(col("vec_id"), col("cluster"), col("embedding").as("ce"))
      val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("bench_id"))
      corp.join(bench, "cluster")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("bench_id"), VectorOps.cosine(col("ce"), col("be")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("vec_id")
    },
  )
}
