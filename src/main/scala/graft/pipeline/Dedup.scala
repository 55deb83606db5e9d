package graft.pipeline

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table (BASELINE.json north star; not part of the reference's
  * own surface).
  *
  * Scale posture: the scale paths are blocking-based — exact dedup is a
  * hash-groupBy; near-dup candidates come from shingle / band-bucket joins
  * (dd02/dd03/dd04) or hyperplane-LSH buckets (dd06) whose fan-out is bounded
  * by bucket occupancy, so the shuffle volume tracks the duplicate density,
  * not n². The one deliberate exception is dd05: an all-pairs theta join kept
  * as the oracle-checkable exact baseline (CatalogSpec's plan audit lists
  * its BNLJ as accounted for) — at scale you run dd06, the bucketed variant
  * of the same cosine threshold, and accept LSH recall in exchange for
  * sublinear work.
  */
object Dedup {

  /** 3-word shingles of a document, distinct unless `distinct` is false
    * (qf02, tx07 and ts01 count repeats). ~O(words) per doc; the window
    * build is the codegen'd [[graft.functions.StringWordShingles]] kernel.
    */
  private[graft] def shingles(text: Column, distinct: Boolean = true): Column = {
    val all = graft.functions.TextExpressions.wordShingles(text)
    if (distinct) array_distinct(all) else all
  }

  /** Oracle twin of [[shingles]] over a DuckDB word-list expression. */
  private[pipeline] def shinglesSql(words: String, distinct: Boolean = true): String = {
    val all = s"list_transform(generate_series(1, greatest(len($words) - 2, 1)), " +
      s"i -> array_to_string($words[i:i+2], ' '))"
    if (distinct) s"list_distinct($all)" else all
  }

  /** Oracle twin of [[graft.functions.LshExpressions.polyFold]]: the
    * polynomial fold (acc * m + x) mod 1e9+7 over a BIGINT list, from 0.
    */
  private def polyFoldSql(list: String, m: Int = 31): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $list), (acc, c) -> (acc * $m + c) % 1000000007)"

  /** Oracle twin of [[graft.functions.TextExpressions.polyHash]]: the fold
    * over a string's character codes (dd03, dd04, tx04).
    */
  private[pipeline] def polyHashSql(s: String, m: Int = 31): String =
    polyFoldSql(s"list_transform(generate_series(1, length($s)), i -> CAST(ascii($s[i:i]) AS BIGINT))", m)

  /** Document-frequency cap for blocking shingles (SCALE §4's named control):
    * a shingle present in more than this many documents is boilerplate —
    * template headers, license blurbs — and is dropped from the shingle
    * UNIVERSE before pair generation, bounding the blocked join's
    * per-shingle fan-out at df²/2 ≤ cap²/2 instead of n². The cap sits far
    * above the measured maxima (max df 25 at sf1 — SCALE §4), so results are
    * unchanged at every tested scale; the capped definition is mirrored in
    * [[jaccardCtes]], the oracle of every entry built on these edges (dd02,
    * dd13, ts02 and its consumers), so a corpus where the cap DOES bite
    * stays oracle-consistent. Jaccard then reads "Jaccard over discriminative
    * shingles": the common count AND the per-doc sizes both use the kept
    * universe, keeping the score self-consistent. Same design as the
    * q15/q17 basket caps (13f28f0).
    */
  private[pipeline] val ShingleDfCap = 4096

  /** dd10 window: any run of this many words occurring more than once
    * corpus-wide is removed at every occurrence AFTER the corpus-wide first
    * (ordered by doc_id, then position) — the ExactSubstr rule of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499 §4.1), with the suffix array replaced by a rolling
    * word-gram first-occurrence window, the shuffle-native way to get the
    * same "keep one canonical copy of every long duplicated span" contract.
    * 10 words ≈ their 50-token threshold scaled to this corpus's 10–99-word
    * documents. Declared ABOVE `defs`, which interpolates it into the dd10
    * oracle SQL at initialization (the minhashCtes ordering rule).
    */
  private[pipeline] val ExactSubstrGramWords = 10

  // MinHash machinery: h_j(s) = (a_j * H(s) + b_j) mod P over polynomial
  // shingle hashes, K permutations drawn from a fixed seed (deterministic
  // across runs). H(s) is the rolling 31-base hash mod 1e9+7
  // (TextExpressions.polyHash) rather than murmur3 so the identical shingle
  // hash — and hence the whole signature/band/candidate chain — is
  // reconstructible in the DuckDB oracle; MinHash theory only needs H to be
  // uniform, not any particular hash family.
  private val P = 2147483647L // 2^31 - 1: a*h + b stays < 2^62, no overflow
  private val K = 128
  private val NumBands = 32
  private val RowsPerBand = K / NumBands // 4 → LSH s-curve threshold ≈ 0.42
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Seq.fill(K)(1L + rnd.nextLong(P - 1)), Seq.fill(K)(rnd.nextLong(P)))
  }

  /** doc_id + minhash signature (array<long> of length K).
    *
    * Shape note: explode + 128 codegen'd min-aggregate buffers, not a nested
    * higher-order `transform` — HOF lambdas evaluate interpreted and made the
    * signature build ~100× slower at sf0.1 (191 s → ~2 s). Values are
    * identical: sig_j = min over shingles of (a_j·H(s) + b_j) mod P.
    */
  private[pipeline] def signatures(docs: DataFrame): DataFrame = {
    val exploded = docs.select(col("doc_id"), explode(col("hashes")).as("h"))
    val minAggs = (0 until K).map(j =>
      min((lit(hashA(j)) * col("h") + lit(hashB(j))) % P).as(s"m$j"))
    exploded.groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"), array((0 until K).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** dd02's body, parameterized so the spec can prove the df cap fires.
    * Exact n-gram Jaccard over the df-capped shingle universe: candidates
    * share ≥1 kept shingle (no quadratic blow-up on diverse corpora), and
    * the cap bounds fan-out even on boilerplate-dense ones.
    */
  private[pipeline] def ngramJaccardPairs(docs: DataFrame, threshold: Double, dfCap: Int): DataFrame =
    ngramJaccardPairsRaw(docs, threshold, dfCap)
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))

  /** dd02's exact near-dup edge set WITHOUT the presentation ORDER BY — for
    * embedding consumers (ts02's connected components, dd13's truth join)
    * that are order-insensitive: the global range-partition sort exchange is
    * pure overhead there (guide §2.4 "an orderBy used only to make output
    * deterministic"), and EliminateSorts does not remove a sort under a
    * union or a snap.
    */
  private[graft] def nearDupEdges(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsRaw(Tables(spark, dir).documentsWide,
      threshold = 0.5, dfCap = ShingleDfCap)
      .select(col("doc_a"), col("doc_b"))

  private def ngramJaccardPairsRaw(docs: DataFrame, threshold: Double, dfCap: Int): DataFrame = {
    val shAll = docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
    // df cap: drop boilerplate shingles BEFORE pair generation. The extra
    // aggregate shares the candidate join's shuffle key (s), and at scale a
    // hot shingle's rows are exactly what this prunes — an aggregate+join
    // streams through AQE where a count-window would buffer the hot key.
    val kept = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("s")
    // sh feeds three consumers (per-doc counts, join side a, join side b) —
    // snap the POST-cap join result once. The uncapped explode shAll is
    // deliberately NOT snapped and runs twice (df aggregate + join input):
    // it is cheap codegen map work, while materializing it would pin the
    // full pre-cap explode — the largest intermediate here — in block
    // storage for no downstream reuse beyond these two.
    val sh = Residency.snap(shAll.join(kept, "s").select("doc_id", "s"))
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val a = sh.toDF("doc_a", "s")
    val b = sh.toDF("doc_b", "s")
    val common = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val na = n.toDF("doc_a", "na")
    val nb = n.toDF("doc_b", "nb")
    common.join(na, "doc_a").join(nb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      transform(shingles(col("text")),
        s => graft.functions.TextExpressions.polyHash(s)).as("hashes"))

  /** The banded keys of a signature as an in-row array (band_id implied by
    * position): polyFold over each RowsPerBand slice. Every band build —
    * dd03, dd08, st18's corpus index and its stream — explodes this array;
    * `mbands` in [[minhashCtes]] is its oracle twin.
    */
  private def bandArray(sig: Column): Column =
    transform(sequence(lit(0), lit(NumBands - 1)), b =>
      graft.functions.LshExpressions.polyFold(
        slice(sig, b * RowsPerBand + 1, lit(RowsPerBand))))

  /** st18's static side — the standing corpus's band index and signature
    * table (the "maintained bucketed index" dd08's 100 TB posture names),
    * built ONCE at MV creation from the corpus carve (doc_id % 10 ≠ 0).
    */
  private[graft] def corpusIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val corpus = Tables(spark, dir).documentsWide.filter(col("doc_id") % 10 =!= 0)
    val sigs = Residency.snap(signatures(shingleHashes(corpus)))
    val bands = sigs.select(col("doc_id"), posexplode(bandArray(col("sig"))))
      .toDF("corpus_id", "band_id", "band_hash")
    (bands, sigs.toDF("corpus_id", "sig_c"))
  }

  /** st18's streaming plan: each arriving batch doc (one row = one doc) gets
    * its signature from the ROW-LOCAL codegen kernel (minhashSig — no
    * aggregation, so the query's single streaming-agg slot stays free for
    * the verdict), probes the static band index, and folds its candidates to
    * the best corpus match via max(struct(est, −corpus_id)) — the same
    * (est DESC, corpus ASC) tiebreak as dd08's ROW_NUMBER. Band collisions
    * may duplicate a (doc, corpus) candidate; est is identical per copy, so
    * the max-fold absorbs them without dd08's pre-DISTINCT (a second
    * streaming aggregation, which Spark forbids).
    */
  private[graft] def streamingDedupProbe(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val (corpusBands, corpusSigs) = corpusIndex(spark, dir)
    val s = shingleHashes(stream).select(col("doc_id"),
      graft.functions.LshExpressions.minhashSig(col("hashes"), hashA, hashB, P).as("sig"))
    val sb = s.select(col("doc_id"), col("sig"), posexplode(bandArray(col("sig"))))
      .toDF("doc_id", "sig", "band_id", "band_hash")
    sb.join(corpusBands, Seq("band_id", "band_hash"))
      .join(corpusSigs, "corpus_id")
      .select(col("doc_id"), col("corpus_id"),
        (graft.functions.LshExpressions.eqCount(col("sig"), col("sig_c"))
          .cast("double") / K).as("est"))
      .filter(col("est") >= 0.5)
      .groupBy("doc_id")
      .agg(max(struct(col("est"), (-col("corpus_id")).as("neg"))).as("best"))
  }

  /** Candidate near-dup pairs via banded LSH + signature-estimated Jaccard. */
  private[pipeline] def minhashPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // snapped: 3 consumers (bands, sig_a, sig_b).
    // documentsWide: the shingle+128-permutation signature build is the
    // kernel-heavy map stage; widening by doc_id parallelizes it AND its
    // groupBy(doc_id) reuses the same hash partitioning (no exchange).
    val sigs = Residency.snap(signatures(shingleHashes(Tables(spark, dir).documentsWide)))
    val bands = sigs.select(col("doc_id"), posexplode(bandArray(col("sig"))))
      .toDF("doc_id", "band_id", "band_hash")
    val a = bands.toDF("doc_a", "band_id", "band_hash")
    val b = bands.toDF("doc_b", "band_id", "band_hash")
    val cands = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.toDF("doc_a", "sig_a")
    val sb = sigs.toDF("doc_b", "sig_b")
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // codegen'd signature-match count (K×2 interpreted lambdas per pair otherwise)
        (graft.functions.LshExpressions.eqCount(col("sig_a"), col("sig_b")).cast("double") / K)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy(desc("est_jaccard"), asc("doc_a"), asc("doc_b"))
  }

  // SimHash: 62-bit signature over 3-gram shingle hashes (shingles, not bare
  // words — on a small shared vocabulary word-sets are near-identical across
  // documents and word-level SimHash loses all discrimination). Near-dups have
  // small Hamming distance. Blocking on 4 × 16-bit chunks (a pair within
  // distance 3 must agree on ≥1 chunk — pigeonhole), so candidate generation
  // is a bucket join, never all-pairs.
  // The shingle hash is two independent polynomial folds (mult 37 and 31)
  // packed as hi<<31 | lo — 62 bits of spread from arithmetic the DuckDB
  // oracle replays exactly (xxhash64 isn't portable); bits 62–63 are
  // constant 0 on every doc, so Hamming distances are unaffected.
  // Shape note: explode + 64 codegen'd bit-sum aggregate buffers (one per
  // signature bit), not nested HOF lambdas — the interpreted form recomputed
  // the shingle hashes 64× per document and ran 155 s at sf0.1.
  private[pipeline] def simhashes(docs: DataFrame): DataFrame = {
    import graft.functions.TextExpressions.polyHash
    val hs = docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .select(col("doc_id"),
        (shiftleft(polyHash(col("s"), 37), 31) + polyHash(col("s"), 31)).as("h"))
    val bitAggs = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    hs.groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private[pipeline] def simhashPairs(spark: SparkSession, dir: String, maxDist: Int): DataFrame = {
    val sh = Residency.snap(simhashes(Tables(spark, dir).documentsWide))
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)")))
      .toDF("doc_id", "simhash", "chunk_id", "chunk")
    val a = chunks.toDF("doc_a", "sim_a", "chunk_id", "chunk")
    val b = chunks.toDF("doc_b", "sim_b", "chunk_id", "chunk")
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy(asc("hamming"), asc("doc_a"), asc("doc_b"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- dd01: exact dedup — hash-groupBy on full text; keeper = min doc_id.
    QueryDef.sql(
      "dd01_exact_dedup",
      s"""WITH keep AS (${keeperSql("documents")})
        |SELECT d.doc_id,
        |  CAST(CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_keeper,
        |  CAST(k.copies AS BIGINT) AS copies
        |FROM documents d JOIN keep k ON d.text = k.text
        |ORDER BY d.doc_id""".stripMargin,
    ) { (spark, dir) => exactDedup(Tables(spark, dir).documents) },

    // ----- dd02: exact n-gram Jaccard near-dup with shingle blocking —
    // candidates share ≥1 KEPT shingle (df ≤ ShingleDfCap), so no quadratic
    // blow-up on diverse corpora AND bounded fan-out on boilerplate-dense
    // ones; the cap is mirrored here so both engines score the same universe.
    QueryDef.sql(
      "dd02_ngram_jaccard",
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, jaccard FROM edges
         |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin,
    ) { (spark, dir) =>
      // documentsWide: the shingle explode + df-cap + pair join chain
      // inherits the scan's single-partition layout; widening by doc_id
      // restores map parallelism for the kernel stages. ts02 → dd07/dd11
      // and sp01/sp02/pp03 inherit through Catalog.byName.
      ngramJaccardPairs(Tables(spark, dir).documentsWide, threshold = 0.5, dfCap = ShingleDfCap)
    },

    // ----- dd03: MinHash + banded LSH (K=128, 32 bands × 4 rows) — the
    // sublinear scale path for near-dup detection; signature build is one
    // map-side pass, candidates come from band-bucket joins. The oracle
    // replays the full chain (shingles → polyhash → K permutations → band
    // folds → candidate join → signature Jaccard) in DuckDB — every stage is
    // portable integer arithmetic.
    QueryDef.sql(
      "dd03_minhash_lsh",
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b, est_jaccard FROM mest WHERE est_jaccard >= 0.5
         |ORDER BY est_jaccard DESC, doc_a, doc_b""".stripMargin,
    ) { (spark, dir) =>
      minhashPairs(spark, dir, threshold = 0.5)
    },

    // ----- dd13: LSH quality evaluation — precision/recall of dd03's
    // MinHash pipeline against dd02's exact-Jaccard truth, the tuning
    // evidence a pipeline owner needs before trusting banded LSH at a scale
    // where the exact join is unaffordable (ann06 is the same harness for
    // the dense ANN side). Two stages measured: `banding` = the raw
    // band-bucket candidate set (what the 32×4 banding surfaces), `confirm`
    // = candidates whose signature-estimated Jaccard ≥ 0.5 (what dd03
    // ships). Truth and candidates both recompute in-plan; the metrics are
    // exact integer counts with round(…,9) ratios. At 100 TB this runs on a
    // SAMPLE (the truth join is quadratic in the sampled block) — the
    // harness shape is what matters: it composes the same shared frames.
    QueryDef.sql(
      "dd13_lsh_eval",
      s"""WITH $jaccardCtes,
         |$minhashCtes,
         |j AS (
         |  SELECT m.doc_a, m.doc_b, m.est_jaccard,
         |    CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS tp
         |  FROM mest m LEFT JOIN edges t USING (doc_a, doc_b)),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM edges),
         |s AS (
         |  SELECT 'banding' AS stage, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(tp) AS BIGINT) AS tp FROM j
         |  UNION ALL
         |  SELECT 'confirm', CAST(COUNT(*) AS BIGINT), CAST(SUM(tp) AS BIGINT)
         |  FROM j WHERE est_jaccard >= 0.5)
         |SELECT stage, n_pairs, tp, n_truth,
         |  round(CAST(tp AS DOUBLE) / n_pairs, 9) AS prec,
         |  round(CAST(tp AS DOUBLE) / n_truth, 9) AS rec
         |FROM s CROSS JOIN nt ORDER BY stage""".stripMargin,
    ) { (spark, dir) =>
      // unordered edge set (same rows as dd02's entry): the truth frame only
      // feeds a join and a count — see nearDupEdges. Truth (shingle snap)
      // and candidates (signature snap) build independently — overlap their
      // snap jobs (guide §2.6).
      val (truth0, j0) = graft.Concurrently(spark,
        nearDupEdges(spark, dir),
        minhashPairs(spark, dir, threshold = 0.0))
      val truth = truth0.withColumn("t", lit(1L))
      val j = j0
        .join(truth, Seq("doc_a", "doc_b"), "left")
        .transform(Residency.snap) // feeds both stage aggregates
      val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum("t"), lit(0L)).cast("long").as("tp"))
          .crossJoin(broadcast(nTruth))
          .select(lit(name).as("stage"), col("n_pairs"), col("tp"), col("n_truth"),
            round(col("tp").cast("double") / col("n_pairs"), 9).as("prec"),
            round(col("tp").cast("double") / col("n_truth"), 9).as("rec"))
      stage("banding", j)
        .unionByName(stage("confirm", j.filter(col("est_jaccard") >= 0.5)))
        .orderBy("stage")
    },

    // ----- dd08: INCREMENTAL batch-vs-corpus near-dup check — the shape
    // dedup takes at ingestion time: an incoming batch (doc_id % 10 == 0
    // here) is probed against the standing corpus via the banded MinHash
    // index, asymmetrically — batch bands join corpus bands, never
    // batch×batch or corpus×corpus. At 100 TB the corpus band table is a
    // MAINTAINED index bucketed on (band_id, band_hash) (st11's streaming
    // state is the exact-hash twin of it), so only the tiny batch side
    // shuffles; here both sides derive in-plan from the same signatures
    // (snapped once, shared). Per batch doc: the best corpus
    // match above the 0.5 estimated-Jaccard threshold, or a loud
    // no-match row — the roster left join keeps every batch doc in the
    // output so a downstream filter can't silently drop unmatched docs.
    // Oracle: [[incrementalVerdictSql]].
    QueryDef.sql("dd08_incremental_dedup", incrementalVerdictSql) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      // signature build over the widened scan (see minhashPairs); the
      // roster read below keeps the narrow scan — it is one thin column
      val sigs = Residency.snap(signatures(shingleHashes(Tables(spark, dir).documentsWide)))
      val bands = sigs.select(col("doc_id"), posexplode(bandArray(col("sig"))))
        .toDF("doc_id", "band_id", "band_hash")
      val batchBands = bands.filter(col("doc_id") % 10 === 0)
        .toDF("batch_id", "band_id", "band_hash")
      val corpusBands = bands.filter(col("doc_id") % 10 =!= 0)
        .toDF("corpus_id", "band_id", "band_hash")
      val cands = batchBands.join(corpusBands, Seq("band_id", "band_hash"))
        .select("batch_id", "corpus_id").distinct()
      val sa = sigs.toDF("batch_id", "sig_a")
      val sb = sigs.toDF("corpus_id", "sig_b")
      val est = cands.join(sa, "batch_id").join(sb, "corpus_id")
        .select(col("batch_id"), col("corpus_id"),
          (graft.functions.LshExpressions.eqCount(col("sig_a"), col("sig_b"))
            .cast("double") / K).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
      val w = Window.partitionBy("batch_id")
        .orderBy(desc("est_jaccard"), asc("corpus_id"))
      val best = est.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      docs.filter(col("doc_id") % 10 === 0).select("doc_id")
        .join(best, docs("doc_id") === best("batch_id"), "left")
        .select(col("doc_id"),
          coalesce(col("corpus_id"), lit(-1L)).as("matched_corpus_doc"),
          coalesce(col("est_jaccard"), lit(0.0)).as("est_jaccard"),
          col("corpus_id").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    },

    // ----- dd04: SimHash + 16-bit-chunk blocking, Hamming ≤ 3. The oracle
    // replays the full chain: portable shingle hash → 64 bit-majority sums →
    // signature pack → chunk blocking → Hamming filter.
    QueryDef.sql(
      "dd04_simhash",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id, unnest(${shinglesSql("words")}) AS s FROM w),
        |hh AS (SELECT doc_id, (${polyHashSql("s", 37)} << 31) + ${polyHashSql("s")} AS h
        |  FROM sh),
        |bits AS (SELECT doc_id, gi.i,
        |    SUM(CASE WHEN ((h >> gi.i) & 1) = 1 THEN 1 ELSE -1 END) AS bsum
        |  FROM hh, generate_series(0, 63) gi(i) GROUP BY 1, 2),
        |sim AS (SELECT doc_id,
        |    SUM(CASE WHEN bsum > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END) AS simhash
        |  FROM bits GROUP BY 1),
        |chunks AS (SELECT doc_id, simhash, gc.c AS chunk_id,
        |    (simhash >> (gc.c * 16)) & 65535 AS chunk
        |  FROM sim, generate_series(0, 3) gc(c)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sim_a, b.simhash AS sim_b
        |  FROM chunks a JOIN chunks b
        |    ON b.chunk_id = a.chunk_id AND b.chunk = a.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming FROM cand)
        |WHERE hamming <= 3
        |ORDER BY hamming, doc_a, doc_b""".stripMargin,
    ) { (spark, dir) =>
      simhashPairs(spark, dir, maxDist = 3)
    },

    // ----- dd05: embedding-cosine near-dup — exact arithmetic mirrored in the
    // oracle (sequential fold, double ops in identical order on both sides).
    QueryDef.sql(
      "dd05_embedding_neardup",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (s, v) -> s + v)
        |  / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(a.embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s, v) -> s + v))
        |   * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(b.embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s, v) -> s + v))) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (s, v) -> s + v)
        |  / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(a.embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s, v) -> s + v))
        |   * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(b.embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (s, v) -> s + v))) >= 0.4
        |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      ExactBaseline.guard(spark, CorpusMeta.embeddingCount(spark, dir),
        "dd05_embedding_neardup", "dd06_embedding_neardup_lsh")
      // (1) the BNLJ STREAM side reads the single-row-group embeddings
      // file — one task computed all n²/2 cosines; embeddingsWide restores
      // the cores (measured 3.2 → 0.45 s at sf0.1). The broadcast build
      // side keeps the narrow scan. (2) norms are projected per ROW before
      // the join instead of per PAIR inside it — sqrt(sumSq(e)) is the same
      // double either way (identical fold), so cosine stays bit-identical
      // to the oracle while the pair kernel drops from 3 array passes to 1.
      val a = t.embeddingsWide.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), VectorOps.norm(col("embedding")).as("na"))
      val b = t.embeddings.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), VectorOps.norm(col("embedding")).as("nb"))
      val cosine = VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), cosine.as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
    },

    // ----- dd06: the scale path for embedding near-dup — candidates share a
    // hyperplane-LSH bucket (Similarity's L=6 tables × ADAPTIVE-width
    // signatures: the leading h bits where 2^h·8 ≥ n, so expected occupancy
    // stays ≤8 at any corpus size and candidates grow linearly — a
    // fixed-width variant measured 29× on 10× rows at sf1), exact
    // cosine + the same 0.4 threshold within buckets only.
    //
    // *** MEASURED OPERATING POINT — READ BEFORE CALLING THIS A "DEDUP" ***
    // At the shipping geometry this is a cheap low-recall SCREEN, not an
    // exhaustive dedup: against TRUE all-pairs ground truth on this corpus
    // (dups at cos 0.40–0.55, the shallow part of the hyperplane s-curve)
    // recall is ≈2.9 % at sf1, ≈1.9 % at sf3 (full exact baselines,
    // SCALE.md §0g.1b) and 0.75 % ± 0.02 at sf10 (avalanche-sampled
    // baseline, stride 97, validated against the sf3 full baseline to
    // ±0.02 pp — SCALE.md §0h.2) — recall FALLS as n grows at fixed
    // geometry because adaptive h widens buckets' bit depth. Every pair it
    // DOES emit is an exact-cosine-confirmed true dup (precision 1.0 at
    // τ=0.4). Need more recall? dd15 ships the measured wide point
    // (L=12/occ=16, ~3.1× recall at ~3.9× mass); recall is LINEAR in
    // candidate mass on this corpus (~175 candidates per recalled dup at
    // sf3), so geometry is an honest, budgetable dial. Need the DUP RATE
    // rather than the pairs? dd14 monitors it ~10× cheaper via sampling.
    QueryDef.sql(
      "dd06_embedding_neardup_lsh",
      s"""WITH ${Similarity.bucketCtes()},
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b ON b.table_id = a.table_id AND b.bucket = a.bucket
         |   AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT c.vec_a, c.vec_b,
         |    ${Similarity.cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM cands c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
         |WHERE cosine >= 0.4
         |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val bk = Similarity.buckets(e,
        Similarity.adaptiveBits(CorpusMeta.embeddingCount(spark, dir)),
        CorpusMeta.embeddingMeans(spark, dir))
      val a = bk.toDF("vec_a", "table_id", "bucket")
      val b = bk.toDF("vec_b", "table_id", "bucket")
      val cands = a.join(b, Seq("table_id", "bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      cands.join(ea, "vec_a").join(eb, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          VectorOps.cosine(col("ea"), col("eb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
    },

    // ----- dd15: the recall dial as a first-class operator — dd06's chain at
    // the WIDE geometry (L=12 tables, occupancy target 16). A
    // ground-truth sweep (SCALE.md §0g.1b) measured recall LINEAR in
    // candidate mass on this corpus (dups sit at cos 0.40–0.55 where the
    // hyperplane s-curve is shallow), so geometry is an honest knob, not a
    // tuning trick: this point buys ~3.1× dd06's recall at ~3.9× its mass
    // (sf3: recall 5.8 % vs 1.9 %, mass 7.9 M vs 2.05 M). The oracle
    // interpolates the same (L, occ) into the shared CTE family, so the
    // wide family is hash-checked end-to-end like the shipping one.
    QueryDef.sql(
      "dd15_embedding_neardup_lsh_wide",
      s"""WITH ${Similarity.bucketCtes(12, 16)},
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b ON b.table_id = a.table_id AND b.bucket = a.bucket
         |   AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT c.vec_a, c.vec_b,
         |    ${Similarity.cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM cands c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
         |WHERE cosine >= 0.4
         |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val bk = Similarity.buckets(e,
        Similarity.adaptiveBits(CorpusMeta.embeddingCount(spark, dir), 16),
        CorpusMeta.embeddingMeans(spark, dir), lp = 12)
      val a = bk.toDF("vec_a", "table_id", "bucket")
      val b = bk.toDF("vec_b", "table_id", "bucket")
      val cands = a.join(b, Seq("table_id", "bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      cands.join(ea, "vec_a").join(eb, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          VectorOps.cosine(col("ea"), col("eb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy(desc("cosine"), asc("vec_a"), asc("vec_b"))
    },

    // ----- dd14: SAMPLED exact-confirm — dd06's 100 TB operating posture for
    // the confirm stage (the doctrine dd13 pins in-code:
    // "at 100 TB you run this evaluation over a SAMPLE"). A pipeline that
    // only needs the DUP RATE (to monitor corpus health, tune LSH params, or
    // decide whether a full confirm is worth scheduling) draws a
    // deterministic Knuth-hash 10% sample of candidate PAIRS and pays the
    // exact cosine only on the sample. The sample gate sits INSIDE the
    // candidate build, BEFORE the cross-table DISTINCT — the pair key is a
    // pure function of the pair, so sample-then-distinct ≡ distinct-then-
    // sample, and the gate is a map-side filter on the bucket join's output:
    // the candidate-dedup exchange (dd06's dominant cost beyond the shared
    // LSH build — measured, SCALE §0e) shrinks 10× along with the confirm.
    // The sample key is the modulo-first overflow-immune form on a pair
    // fingerprint, so the same pairs are drawn on any engine and any run —
    // making even the SAMPLED estimate hash-checkable. The per-pair signal
    // stays the EXACT cosine (rp01's signature-derived estimate was measured
    // and rejected: σ=0.255 per-pair noise, SCALE §0c.4); what's sampled is
    // which pairs pay it. est_dups/est_candidates are the 10× Horvitz-
    // Thompson expansions. Accuracy/cost operating curve: SCALE.md §0e.
    QueryDef.sql(
      "dd14_sampled_confirm",
      s"""WITH ${Similarity.bucketCtes()},
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b ON b.table_id = a.table_id AND b.bucket = a.bucket
         |   AND a.vec_id < b.vec_id
         |  WHERE ${Sampling.bucketSql("((a.vec_id % 1048576) * 1048583 + (b.vec_id % 1048576))")} < 100),
         |conf AS (
         |  SELECT s.vec_a, s.vec_b,
         |    ${Similarity.cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM cands s
         |  JOIN embeddings ea ON ea.vec_id = s.vec_a
         |  JOIN embeddings eb ON eb.vec_id = s.vec_b),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
         |    CAST(COALESCE(SUM(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_confirmed
         |  FROM conf)
         |SELECT n_sampled, n_confirmed,
         |  n_sampled * 10 AS est_candidates,
         |  CAST(n_confirmed AS DOUBLE) * 10 AS est_dups
         |FROM ns""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val bk = Similarity.buckets(e,
        Similarity.adaptiveBits(CorpusMeta.embeddingCount(spark, dir)),
        CorpusMeta.embeddingMeans(spark, dir))
      val a = bk.toDF("vec_a", "table_id", "bucket")
      val b = bk.toDF("vec_b", "table_id", "bucket")
      // modulo-first pair fingerprint: (vec % 2^20) terms keep every product
      // inside int64 at ANY id, as Sampling.bucket does for the hash itself
      val sampleKey = Sampling.bucket(pmod(col("vec_a"), lit(1048576L)) * 1048583L
        + pmod(col("vec_b"), lit(1048576L)))
      // sample gate BEFORE the distinct: map-side on the bucket join's
      // output, so only the drawn 10% ever reaches the dedup exchange
      val sampled = a.join(b, Seq("table_id", "bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(sampleKey < 100)
        .select("vec_a", "vec_b").distinct()
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val conf = sampled
        .join(ea, "vec_a").join(eb, "vec_b")
        .select(VectorOps.cosine(col("ea"), col("eb")).as("cosine"))
      conf.agg(count(lit(1)).cast("long").as("n_sampled"),
        coalesce(sum(when(col("cosine") >= 0.4, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_confirmed"))
        .select(col("n_sampled"), col("n_confirmed"),
          (col("n_sampled") * 10L).as("est_candidates"),
          (col("n_confirmed").cast("double") * 10L).as("est_dups"))
    },

    // ----- dd07: survivor selection — the step that turns near-dup CLUSTERS
    // (ts02's connected components) into a per-document keep/drop verdict:
    // within each cluster keep the highest-quality document (tx02's score,
    // doc_id tiebreak); singletons keep themselves. This completes the dedup
    // story — dd02..dd06 find duplicates, dd07 decides which copy survives,
    // which is what a pipeline actually writes out. One window pass over the
    // clustered membership (partitioned by cluster_id — partition count
    // tracks document count, size tracks cluster size, so the sort inside
    // each partition is bounded by the largest duplicate cluster, not the
    // corpus). Quality doubles are bit-identical across engines (tx02 is
    // hash-green), so the DESC order — and therefore the survivor — is too.
    QueryDef.sql(
      "dd07_dedup_survivors",
      s"""WITH ${graft.pipeline.SparseText.clusterCtes},
         |${graft.pipeline.TextAnalysis.qualityCtes},
         |mem AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM (SELECT doc_id FROM documents) d LEFT JOIN cl c ON d.doc_id = c.doc_id),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM mem GROUP BY 1),
         |rk AS (SELECT m.doc_id, m.cluster_id, q.quality_score,
         |    ROW_NUMBER() OVER (PARTITION BY m.cluster_id
         |      ORDER BY q.quality_score DESC, m.doc_id) AS rn
         |  FROM mem m JOIN qs q ON m.doc_id = q.doc_id)
         |SELECT r.doc_id, CAST(r.cluster_id AS BIGINT) AS cluster_id,
         |  r.quality_score, CAST(s.cluster_size AS BIGINT) AS cluster_size,
         |  CAST(CASE WHEN r.rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM rk r JOIN sz s ON r.cluster_id = s.cluster_id
         |ORDER BY r.doc_id""".stripMargin,
    ) { (spark, dir) =>
      val docs = Tables(spark, dir).documents.select(col("doc_id"))
      val clusters = graft.Catalog.byName("ts02_dedup_clusters").build(spark, dir)
      val quality = graft.Catalog.byName("tx02_quality_score").build(spark, dir)
        .select(col("doc_id"), col("quality_score"))
      val mem = docs.join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).cast("long").as("cluster_id"))
      val wAll = Window.partitionBy("cluster_id")
      val wOrd = Window.partitionBy("cluster_id")
        .orderBy(desc("quality_score"), asc("doc_id"))
      mem.join(quality, "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("quality_score"),
          count(lit(1)).over(wAll).as("cluster_size"),
          when(row_number().over(wOrd) === 1, 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id")
    },

    // ----- dd10: exact substring dedup — the ExactSubstr rule of Lee et al.
    // (arXiv:2107.06499): every 10-word run that occurs more than once
    // corpus-wide is removed at each occurrence after the corpus-wide first
    // (doc_id, position order); overlapping hits merge into maximal spans.
    // Complements dd01 (whole-doc exact) and dd02/dd06 (whole-doc near):
    // this is the only operator that removes PARTIAL duplication — shared
    // boilerplate inside otherwise-unique documents. The md5 of each
    // scrubbed document is the oracle witness that both engines removed
    // exactly the same spans. Scale posture at exactSubstringDedup's doc.
    QueryDef.sql(
      "dd10_exact_substring",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(generate_series(0, len(words) - $ExactSubstrGramWords)) AS pos,
         |    unnest(list_transform(generate_series(0, len(words) - $ExactSubstrGramWords),
         |      i -> array_to_string(words[i+1 : i+$ExactSubstrGramWords], ' '))) AS gram
         |  FROM w WHERE len(words) >= $ExactSubstrGramWords),
         |rk AS (SELECT doc_id, pos,
         |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |  FROM g),
         |cov AS (SELECT DISTINCT doc_id, cpos FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos + ${ExactSubstrGramWords - 1})) AS cpos
         |  FROM rk WHERE rn > 1)),
         |wp AS (SELECT doc_id,
         |    unnest(generate_series(0, len(words) - 1)) AS pos,
         |    unnest(words) AS word
         |  FROM w),
         |kept AS (SELECT wp.doc_id, wp.pos, wp.word
         |  FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.cpos
         |  WHERE cov.cpos IS NULL),
         |n AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words FROM w)
         |SELECT n.doc_id, n.n_words,
         |  CAST(n.n_words - COUNT(k.pos) AS BIGINT) AS n_removed,
         |  md5(COALESCE(string_agg(k.word, ' ' ORDER BY k.pos), '')) AS cleaned_md5
         |FROM n LEFT JOIN kept k ON n.doc_id = k.doc_id
         |GROUP BY n.doc_id, n.n_words ORDER BY n.doc_id""".stripMargin,
    ) { (spark, dir) =>
      exactSubstringDedup(Tables(spark, dir).documents)
    },

    // ----- dd11: fused dedup policy — the single per-document verdict a
    // production pipeline actually applies, with the standard precedence:
    // exact copy (dd01, cheapest signal wins) > near-duplicate cluster loser
    // (dd07's survivor rule over ts02's components) > semantic duplicate
    // (sd01's SemDeDup drop, joined by the doc_id↔vec_id convention mx02
    // documents; documents without an embedding skip the semantic stage).
    // Running the three detectors as ONE roster catches precedence bugs the
    // per-stage oracles can't (e.g. a semantic drop shadowing an exact keep).
    //
    // 100 TB shape: pure composition — each stage's verdict frame is keyed by
    // doc_id, so the fusion is three doc_id-partitioned joins (one broadcast-
    // sized: sd01's roster is bounded by the embedded subset); in production
    // each stage's roster is materialized once and this join is the only new
    // work. The entry deliberately recomputes the stages from their defs to
    // keep the oracle self-contained (pp03's documented trade).
    QueryDef.sql(
      "dd11_dedup_policy",
      s"""WITH ${graft.pipeline.SparseText.clusterCtes},
         |${graft.pipeline.TextAnalysis.qualityCtes},
         |${graft.pipeline.Clustering.sd01Ctes},
         |ek AS (${keeperSql("documents")}),
         |ex AS (SELECT d.doc_id,
         |    CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS is_keeper, k.copies
         |  FROM documents d JOIN ek k ON d.text = k.text),
         |mem AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM (SELECT doc_id FROM documents) d LEFT JOIN cl c ON d.doc_id = c.doc_id),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM mem GROUP BY 1),
         |rk AS (SELECT m.doc_id, m.cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY m.cluster_id
         |      ORDER BY q.quality_score DESC, m.doc_id) AS rn
         |  FROM mem m JOIN qs q ON m.doc_id = q.doc_id),
         |sem AS (SELECT ff.vec_id AS doc_id, COALESCE(st.n_dups, 0) AS semantic_dups,
         |    COALESCE(st.dom, 0) AS sem_drop
         |  FROM ff LEFT JOIN st ON ff.vec_id = st.vec_id)
         |SELECT ex.doc_id,
         |  CASE WHEN ex.is_keeper = 0 THEN 'exact'
         |       WHEN rk.rn > 1 THEN 'near_dup'
         |       WHEN COALESCE(sem.sem_drop, 0) = 1 THEN 'semantic'
         |       ELSE 'kept' END AS verdict,
         |  CAST(ex.copies AS BIGINT) AS exact_copies,
         |  CAST(sz.cluster_size AS BIGINT) AS near_cluster_size,
         |  CAST(COALESCE(sem.semantic_dups, 0) AS BIGINT) AS semantic_dups
         |FROM ex
         |JOIN rk ON ex.doc_id = rk.doc_id
         |JOIN sz ON rk.cluster_id = sz.cluster_id
         |LEFT JOIN sem ON ex.doc_id = sem.doc_id
         |ORDER BY ex.doc_id""".stripMargin,
    ) { (spark, dir) =>
      // the three detectors are independent until the final joins; their
      // eager build jobs (ts02's edge snap + union-find inside dd07, sd01's
      // centroid work) overlap instead of serializing (guide §2.6)
      val (near0, sem0, exact) = graft.Concurrently(spark,
        graft.Catalog.byName("dd07_dedup_survivors").build(spark, dir),
        graft.Catalog.byName("sd01_semantic_dedup").build(spark, dir),
        graft.Catalog.byName("dd01_exact_dedup").build(spark, dir))
      val near = near0
        .select(col("doc_id"), col("cluster_size"), col("keep").as("near_keep"))
      val sem = sem0
        .select(col("vec_id").as("doc_id"), col("n_dups").as("semantic_dups"),
          col("keep").as("sem_keep"))
      exact.join(near, "doc_id")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_keeper") === 0, "exact")
            .when(col("near_keep") === 0, "near_dup")
            .when(!coalesce(col("sem_keep"), lit(true)), "semantic")
            .otherwise("kept").as("verdict"),
          col("copies").as("exact_copies"),
          col("cluster_size").as("near_cluster_size"),
          coalesce(col("semantic_dups"), lit(0L)).as("semantic_dups"))
        .orderBy("doc_id")
    },
  )

  /** dd02's exact-Jaccard chain as oracle CTEs over the df-capped shingle
    * universe, ending in `edges(doc_a, doc_b, jaccard)` (threshold 0.5):
    * dd02 and dd13 read it, and ts02's components (so dd07, dd11, sp01,
    * sp02 and pp03) build on it, as their Spark sides build on
    * [[nearDupEdges]]. `sh`, `n`, `common` and `edges` are the CTE names
    * tools/check_sharded.py slices dd07's oracle at.
    */
  // lazy: referenced from `defs` above, which initializes first
  private[pipeline] lazy val jaccardCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |sh0 AS (SELECT doc_id, unnest(${shinglesSql("words")}) AS s FROM w),
       |keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= $ShingleDfCap),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
       |n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |edges AS (SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na.ns + nb.ns - c) AS jaccard
       |  FROM common JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** DuckDB CTE chain reconstructing [[minhashPairs]] bit-for-bit: shingles
    * → rolling polyhash → K=128 permutation mins → per-band poly folds →
    * band-bucket candidate join → signature-match Jaccard. `mest` is the
    * estimated-Jaccard pair frame; shared with dd08, dd13 and pp01. The 256
    * permutation constants are embedded as a VALUES relation.
    */
  // lazy: referenced from `defs` above, which initializes first
  private[graft] lazy val minhashCtes: String = {
    val permRows = (0 until K).map(j => s"($j, ${hashA(j)}, ${hashB(j)})").mkString(", ")
    s"""mw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |msh AS (SELECT doc_id, unnest(${shinglesSql("words")}) AS s FROM mw),
       |mhs AS (SELECT doc_id, ${polyHashSql("s")} AS h FROM msh),
       |perm(j, pa, pb) AS (VALUES $permRows),
       |msig AS (SELECT doc_id, p.j, MIN((p.pa * h + p.pb) % $P) AS m
       |  FROM mhs, perm p GROUP BY 1, 2),
       |msgl AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM msig GROUP BY 1),
       |mbands AS (SELECT doc_id, gb.b AS band_id,
       |    ${polyFoldSql(s"sig[gb.b*$RowsPerBand+1 : gb.b*$RowsPerBand+$RowsPerBand]")} AS band_hash
       |  FROM msgl, generate_series(0, ${NumBands - 1}) gb(b)),
       |mcand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM mbands a JOIN mbands b2
       |    ON b2.band_id = a.band_id AND b2.band_hash = a.band_hash AND a.doc_id < b2.doc_id),
       |mest AS (SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(list_zip(sa.sig, sb.sig), x -> x[1] = x[2])) AS DOUBLE) / $K AS est_jaccard
       |  FROM mcand c JOIN msgl sa ON sa.doc_id = c.doc_a JOIN msgl sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  /** dd08's verdict as oracle SQL: [[minhashCtes]] restricted to cross-side
    * pairs and re-keyed (batch, corpus), the best corpus match per batch doc
    * (est DESC, corpus ASC), over the whole batch roster. st18 streams the
    * batch side and answers with this same query: a streaming query's answer
    * is the batch answer over the prefix it has read.
    */
  // lazy: referenced from `defs` above, which initializes first
  private[graft] lazy val incrementalVerdictSql: String =
    s"""WITH $minhashCtes,
       |hits AS (SELECT
       |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS batch_id,
       |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id,
       |    est_jaccard
       |  FROM mest
       |  WHERE est_jaccard >= 0.5 AND (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |best AS (SELECT batch_id, corpus_id, est_jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY batch_id
       |      ORDER BY est_jaccard DESC, corpus_id) AS rn
       |  FROM hits)
       |SELECT d.doc_id,
       |  COALESCE(b.corpus_id, -1) AS matched_corpus_doc,
       |  COALESCE(b.est_jaccard, 0.0) AS est_jaccard,
       |  b.corpus_id IS NOT NULL AS is_dup
       |FROM documents d LEFT JOIN best b ON b.batch_id = d.doc_id AND b.rn = 1
       |WHERE d.doc_id % 10 = 0
       |ORDER BY d.doc_id""".stripMargin

  /** dd10's core over any `(doc_id, text)` frame (shared with DedupSpec's
    * planted-duplicate cases). Overlapping duplicated grams merge naturally:
    * a covered position is covered once (collect_set), so any maximal
    * duplicated span ≥ L words is removed wholesale.
    *
    * 100 TB shape: all word-level work (gram build, final filter/reassembly)
    * is map-side lambdas over the per-doc array; the two shuffles are the
    * gram first-occurrence window (partition size tracks per-gram duplicate
    * count — the dd09 posture; key by xxhash64(gram) in production to cut
    * shuffle bytes) and a per-doc covered-position set whose volume is
    * ≤ L × duplicated-instance count, joined back onto the one-row-per-doc
    * frame. Nothing is quadratic; everything tracks corpus size and
    * duplicate density.
    */
  def exactSubstringDedup(docs: DataFrame): DataFrame = {
    val L = ExactSubstrGramWords
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("words"))
    val grams = w.filter(size(col("words")) >= L)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(words) - $L), i -> array_join(slice(words, i + 1, $L), ' '))"))
        .as(Seq("pos", "gram")))
    val rk = grams.withColumn("rn",
      row_number().over(Window.partitionBy("gram").orderBy("doc_id", "pos")))
    val covered = rk.filter(col("rn") > 1)
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${L - 1})")).as("cpos"))
      .groupBy("doc_id").agg(collect_set("cpos").as("cov"))
    val cov = coalesce(col("cov"), typedLit(Array.empty[Int]))
    w.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(filter(col("words"), (_, i) => !array_contains(cov, i)), " ")
          .cast("binary")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** dd01's keeper rule: `docs` joined to its text group's `keeper` (the
    * min doc_id) and `copies` (the group size).
    */
  private[pipeline] def withKeeper(docs: DataFrame): DataFrame = {
    val keep = docs.groupBy("text")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
    docs.join(keep, "text")
  }
  // oracle twin of withKeeper's per-text aggregate over `rel`
  private[pipeline] def keeperSql(rel: String): String =
    s"SELECT text, MIN(doc_id) AS keeper, COUNT(*) AS copies FROM $rel GROUP BY text"

  /** Exact dedup verdict per document (shared with the dd01 entry and tests). */
  def exactDedup(docs: DataFrame): DataFrame =
    withKeeper(docs)
      .select(col("doc_id"),
        when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("is_keeper"),
        col("copies").cast("long").as("copies"))
      .orderBy("doc_id")
}
