package graft.operators

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable-sketch distincts (SURVEY.md §2.4 A3/A8, §7.3): the persisted
  * counterpart of ClickHouse `uniqState`/`uniqMerge`. Per-day HLL sketches are
  * stored in the MV result (binary column), re-aggregation unions sketches —
  * unlike the reference's lossy sum-of-uniq-estimates (app.py:339, noted in
  * SURVEY §2.4 A13), the union is mathematically correct across any regrouping.
  * Approximate results ⇒ rows-only entries; accuracy is asserted in
  * SketchesSpec against exact distincts.
  */
object Sketches {

  /** Misra–Gries counter capacity for uq05 (per input partition). The
    * coverage guarantee below needs kth_freq · (MgCapacity+1) > N, which the
    * entry checks IN-PLAN and emits as the `guaranteed` column.
    */
  val MgCapacity: Int = 2048

  /** One Misra–Gries pass over a partition: keeps ≤ `cap` counters; any item
    * with partition count > m_p/(cap+1) is guaranteed retained (each
    * decrement-all cancels cap+1 distinct occurrences, so an item's counter
    * can lose at most m_p/(cap+1) of its count). Returns the retained keys —
    * candidate heavy hitters; their counts are re-derived exactly in pass 2,
    * so the candidate set only needs to be a superset.
    */
  private[operators] def misraGries(it: Iterator[String], cap: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      m.get(w) match {
        case Some(n) => m(w) = n + 1
        case None if m.size < cap => m(w) = 1L
        case None =>
          // decrement-all (amortized O(1)/word: every decrement cancels a
          // previous increment; triggers ≤ N/(cap+1) times)
          val ks = m.keysIterator.toArray
          ks.foreach { k =>
            val n = m(k)
            if (n == 1L) m.remove(k) else m(k) = n - 1
          }
      }
    }
    m.keysIterator
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- uq01: store per-day sketches, merge across days per type, compare
    // with the exact distinct — the AggregatingMergeTree MV read path.
    // Oracle strategy for approx aggregates: the estimate itself is engine-
    // specific, so the *error bound* becomes the checked column — `sketch_ok`
    // is computed in-plan (|estimate−exact| ≤ 5%·exact, ≈3σ for lgK=12 HLL)
    // and the oracle asserts it is 1 for every group. A wrong sketch merge
    // breaks the hash; SketchesSpec additionally bounds the raw estimates.
    QueryDef.sql(
      "uq01_hll_mergeable_distinct",
      """SELECT event_type, COUNT(*) AS total_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      val events = Tables(spark, dir).events
      val daily = events
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("users_sketch"),
          count(lit(1)).as("events"))
      val merged = daily
        .groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("users_sketch"))).as("sketch_users"),
          sum("events").cast("long").as("total_events"))
      val exact = events.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("total_events"), col("exact_users"),
          when(abs(col("sketch_users") - col("exact_users")) <=
            col("exact_users") * 0.05, 1L).otherwise(0L).as("sketch_ok"))
        .orderBy("event_type")
    },

    // ----- uq03: quantiles — exact interpolated percentile (ClickHouse
    // quantileExactInclusive ≡ Spark `percentile` ≡ DuckDB percentile_cont)
    // as scalar columns, plus a bound check on percentile_approx (the
    // t-digest-class estimator): |approx−exact| ≤ 1%·exact.
    QueryDef.sql(
      "uq03_quantiles",
      """SELECT o_orderstatus,
        |  ROUND(CAST(percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS median_exact,
        |  ROUND(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS q25,
        |  ROUND(CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS q75,
        |  ROUND(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS q95,
        |  COUNT(*) AS orders, CAST(1 AS BIGINT) AS approx_ok
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .select("o_orderstatus", "o_totalprice")
        // r16: the exact-percentile PARTIAL buffers every value it sees, and
        // the 3-split orders scan ran that buffering on 3 tasks (1.1 s
        // stage). Round-robin the two projected columns across the cores
        // first: the exchange ships ~16 B/row once, the per-task value
        // buffering and partial sort spread 32-ways. Aggregation result is
        // partitioning-independent.
        .repartition(spark.sparkContext.defaultParallelism)
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("m"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("ma"),
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.75)").as("p75"),
          expr("percentile(o_totalprice, 0.95)").as("p95"),
          count(lit(1)).as("orders"))
        .select(col("o_orderstatus"),
          round(col("m"), 4).as("median_exact"),
          round(col("p25"), 4).as("q25"),
          round(col("p75"), 4).as("q75"),
          round(col("p95"), 4).as("q95"),
          col("orders"),
          when(abs(col("ma") - col("m")) <= col("m") * 0.01, 1L).otherwise(0L).as("approx_ok"))
        .orderBy("o_orderstatus")
    },

    // ----- uq02: query-time approximate distinct (`uniq` ≈
    // approx_count_distinct, default rsd 5%) — bound-checked at 15% (3σ).
    QueryDef.sql(
      "uq02_uniq_approx",
      """SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS uniq_ok
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(
          count(lit(1)).as("events"),
          approx_count_distinct(col("user_id")).as("uniq_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_date"), col("events"), col("exact_users"),
          when(abs(col("uniq_users") - col("exact_users")) <=
            col("exact_users") * 0.15, 1L).otherwise(0L).as("uniq_ok"))
        .orderBy("event_date")
    },

    // ----- uq05: exact top-K frequent terms via two-pass Misra–Gries —
    // ClickHouse `topK(20)` with the approximation REMOVED: pass 1 runs a
    // bounded MG summary per partition (capacity 2048, mapPartitions — the
    // genuine per-partition imperative case) whose union is a guaranteed
    // superset of every term with count > N/2049; pass 2 re-counts ONLY the
    // candidates exactly (broadcast semi-join, map-side combine bounds the
    // shuffle to ≤ partitions × |candidates| partial rows) and takes the
    // exact top 20. The in-plan `guaranteed` flag proves the sketch covered
    // the answer: kth_freq·(cap+1) > N ⇒ no un-candidate term can outrank
    // the reported top-20 — so the output is EXACT, deterministic, and
    // hash-checkable even though pass 1 is an order-sensitive sketch.
    //
    // 100 TB shape: a plain groupBy-topK shuffles |vocab|×partitions partial
    // rows (web-scale vocab is billions of terms); here the shuffle carries
    // only MG survivors (≤ 2048/partition), and the confirm pass touches
    // only candidate occurrences. On THIS corpus vocab (31 words) fits one
    // summary so evictions never fire — SketchesSpec proves the eviction
    // path and the superset guarantee on a 10k-term skewed toy where the
    // domain is 156× the capacity.
    QueryDef.sql(
      "uq05_heavy_hitters",
      // MgCapacity+1 interpolated (not hardcoded) so the guard below, this
      // oracle, and the emitted `guaranteed` column move together when the
      // capacity is retuned (ADVICE r10)
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM w GROUP BY 1),
        |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM c),
        |top AS (SELECT word, freq FROM c ORDER BY freq DESC, word LIMIT 20),
        |g AS (SELECT CAST(MIN(freq) AS BIGINT) AS kth FROM top)
        |SELECT top.word, top.freq, (g.kth * ${MgCapacity + 1} > t.n) AS guaranteed
        |FROM top, t, g ORDER BY freq DESC, word""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val words = docs.select(explode(split(col("text"), " ")).as("word"))
      // pass 1: per-partition MG summaries → candidate union (≤ parts×2048)
      val cands = words.as[String]
        .mapPartitions(it => misraGries(it, MgCapacity))
        .toDF("word").distinct()
      // pass 2: exact counts of candidates only; map-side combine collapses
      // each task to ≤ |candidates| partial rows before the shuffle
      val exact = words.join(broadcast(cands), Seq("word"), "left_semi")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      // 20 rows; feeds the result AND the kth scalar
      val top = Residency.snap(exact.orderBy(desc("freq"), asc("word")).limit(20))
      // N from a doc-level metadata aggregate (split width, no explode) —
      // pass 1 in a real deployment carries this alongside the summaries
      val totals = docs.agg(
        coalesce(sum(size(split(col("text"), " "))), lit(0L)).cast("long").as("n"))
      val kth = top.agg(min("freq").cast("long").as("kth"))
      // Coverage guard (ADVICE r9): when kth·(cap+1) ≤ N the MG union is no
      // longer a proven superset of every possible top-20 term, so the
      // candidate-only top-20 COULD silently omit a true heavy hitter — rows
      // otherwise presented as exact. Refuse loudly (the ExactBaseline-guard
      // doctrine: a scale regime the sketch can't certify must fail, not
      // ship a maybe-wrong answer); the remedy is raising MgCapacity, which
      // tightens the bound linearly. Two 1-row scalars — metadata-scale.
      // SketchesSpec proves the refusal fires on a corpus that breaks the
      // bound and that the green path is unchanged.
      val nVal = totals.head.getLong(0)
      val kthVal = kth.head.getAs[Any](0) match { case null => 0L; case v: Long => v }
      require(nVal == 0L || kthVal * (MgCapacity + 1L) > nVal,
        s"uq05_heavy_hitters: Misra-Gries coverage NOT guaranteed at this scale " +
          s"(kth_freq=$kthVal x ${MgCapacity + 1} <= N=$nVal): the candidate-only " +
          s"top-20 could omit a true heavy hitter. Raise Sketches.MgCapacity " +
          s"(bound is linear in capacity) instead of shipping a possibly-inexact top-K.")
      top.crossJoin(broadcast(totals)).crossJoin(broadcast(kth))
        .select(col("word"), col("freq"),
          (col("kth") * (MgCapacity + 1L) > col("n")).as("guaranteed"))
        .orderBy(desc("freq"), asc("word"))
    },

    // ----- uq04: mergeable histogram quantile sketch — the A8
    // persisted-state pattern for PERCENTILES: uq03's exact percentile needs
    // a per-group sort of raw values at query time; at 100 TB the stored
    // form is a fixed-bin histogram whose counts are trivially re-aggregable
    // (the same property that makes sums/counts MV-safe). Daily
    // (date, type, bin) counts are the persisted MV state; a read merges
    // them with one SUM and interpolates p50/p90/p99 inside the target bin.
    // Unlike HLL/t-digest (engine-specific estimates, bound-checked
    // oracles), the histogram estimate is a deterministic function of the
    // counts — both engines produce bit-identical doubles, so the ESTIMATE
    // ITSELF is hash-checked, not just an error flag. Bin edges derive from
    // a per-type (min, max) metadata aggregate; 128 bins, width = range/128
    // (exact power-of-2 division), bin = min(127, floor((v−mn)/width)).
    // Estimate error is bounded by bin width — SketchesSpec pins it against
    // uq03-style exact percentiles.
    QueryDef.sql(
      "uq04_histogram_quantiles",
      """WITH b AS (SELECT event_type, MIN(value) AS mn, MAX(value) AS mx FROM events GROUP BY 1),
        |binned AS (SELECT CAST(e.ts AS DATE) AS event_date, e.event_type,
        |    CASE WHEN b.mx = b.mn THEN 0
        |         ELSE CAST(LEAST(127, FLOOR((e.value - b.mn) / ((b.mx - b.mn) / 128.0))) AS BIGINT)
        |    END AS bin
        |  FROM events e JOIN b USING (event_type)),
        |daily AS (SELECT event_date, event_type, bin, COUNT(*) AS c
        |  FROM binned GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, bin, CAST(SUM(c) AS BIGINT) AS n
        |  FROM daily GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin, n,
        |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
        |  FROM merged),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM merged GROUP BY 1),
        |tq AS (SELECT event_type, total, q, q * total AS target
        |  FROM tot, (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                            CAST(0.99 AS DOUBLE)]) AS q)),
        |pick AS (SELECT event_type, total, q, target, bin, n, cm,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
        |  FROM (SELECT t.event_type, t.total, t.q, t.target, c.bin, c.n, c.cm
        |        FROM tq t JOIN cum c USING (event_type) WHERE c.cm >= t.target)),
        |est AS (SELECT p.event_type, p.total, p.q,
        |    CASE WHEN b.mx = b.mn THEN b.mn
        |         ELSE b.mn + ((b.mx - b.mn) / 128.0) * p.bin
        |            + ((b.mx - b.mn) / 128.0) * ((p.target - (p.cm - p.n)) / p.n)
        |    END AS v
        |  FROM pick p JOIN b USING (event_type) WHERE p.rn = 1)
        |SELECT event_type, MAX(total) AS n_total,
        |  MAX(CASE WHEN q = 0.5 THEN v END) AS p50_hist,
        |  MAX(CASE WHEN q = 0.9 THEN v END) AS p90_hist,
        |  MAX(CASE WHEN q = 0.99 THEN v END) AS p99_hist
        |FROM est GROUP BY 1 ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
      val bounds = e.groupBy("event_type")
        .agg(min("value").as("mn"), max("value").as("mx"))
      val width = (col("mx") - col("mn")) / 128.0d
      val binned = e.join(broadcast(bounds), "event_type")
        .select(to_date(col("ts")).as("event_date"), col("event_type"),
          when(col("mx") === col("mn"), 0L)
            .otherwise(least(lit(127L), floor((col("value") - col("mn")) / width)))
            .as("bin"))
      // daily partials = the persisted, mergeable state; the read below is
      // the only thing a serving query runs
      val daily = binned.groupBy("event_date", "event_type", "bin")
        .agg(count(lit(1)).as("c"))
      val merged = daily.groupBy("event_type", "bin")
        .agg(sum("c").cast("long").as("n"))
      val wCum = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = merged.withColumn("cm", sum("n").over(wCum).cast("long"))
      val tq = merged.groupBy("event_type").agg(sum("n").cast("long").as("total"))
        .select(col("event_type"), col("total"),
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
        .withColumn("target", col("q") * col("total"))
      val wPick = Window.partitionBy("event_type", "q").orderBy("bin")
      val est = tq.join(cum, "event_type")
        .filter(col("cm") >= col("target"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .join(broadcast(bounds), "event_type")
        .select(col("event_type"), col("total"), col("q"),
          when(col("mx") === col("mn"), col("mn"))
            .otherwise(col("mn") + width * col("bin") +
              width * ((col("target") - (col("cm") - col("n"))) / col("n")))
            .as("v"))
      est.groupBy("event_type")
        .agg(max("total").as("n_total"),
          max(when(col("q") === 0.5, col("v"))).as("p50_hist"),
          max(when(col("q") === 0.9, col("v"))).as("p90_hist"),
          max(when(col("q") === 0.99, col("v"))).as("p99_hist"))
        .orderBy("event_type")
    },

    // ----- uq06: EXACT quantiles by global-rank selection — the offline
    // complement of uq04's mergeable approximation. ClickHouse's
    // quantileExact materializes the group's values in memory; Spark's
    // `percentile` aggregate does the same (per-group value buffer — a
    // 100 TB group OOMs the reducer). The scale-safe exact shape is
    // two-pass rank selection: (1) a count scalar (one metadata-scale
    // collect, the sel01/bp02 class), (2) DistributedRank's range-partition
    // global rank (per-partition row_number + broadcast offsets — never a
    // single-partition window), then a 3-row broadcast join picks the rows
    // whose rank equals ceil(q·n) (lower discrete quantile — value at the
    // smallest rank with cdf ≥ q, so the result is an actual data value,
    // exact and hash-checkable; no interpolation arithmetic to drift).
    QueryDef.sql(
      "uq06_exact_quantile_rank",
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
        |s AS (
        |  SELECT l_extendedprice AS v,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS rk
        |  FROM lineitem),
        |t AS (
        |  SELECT CAST(qq AS DOUBLE) AS q,
        |    CAST(CEIL(CAST(qq AS DOUBLE) * n) AS BIGINT) AS rank
        |  FROM (VALUES (0.5), (0.9), (0.99)) vals(qq) CROSS JOIN n)
        |SELECT q, rank, v AS value
        |FROM s JOIN t ON s.rk = t.rank ORDER BY q""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val li = Tables(spark, dir).lineitem
        .select(col("l_extendedprice").as("v"), col("l_orderkey"), col("l_linenumber"))
      // pass 1: the count scalar (1-row driver collect, metadata-scale)
      val n = li.count()
      val targets = Seq(0.5, 0.9, 0.99)
        .map(q => (q, math.ceil(q * n.toDouble).toLong)).toDF("q", "rank")
      // pass 2: exact global rank, then a 3-row broadcast equi-join — the
      // rank filter reaches every partition; only 3 rows survive
      DistributedRank.withGlobalRank(li, "rk",
          col("v"), col("l_orderkey"), col("l_linenumber"))
        .join(broadcast(targets), col("rk") === col("rank"))
        .select(col("q"), col("rank").cast("long").as("rank"), col("v").as("value"))
        .orderBy("q")
    },

    // ----- uq07: uniqUpTo(N) — ClickHouse's capped exact-distinct aggregate
    // (exact count while ≤ N, the sentinel N+1 beyond; its point is BOUNDED
    // per-group state). Spark-first shape: a distinct PRE-AGGREGATION
    // (groupBy(key, value) — map-side partial combine means each input
    // partition ships at most its own distinct pairs into the exchange,
    // never raw rows) followed by a capped count. N = 1000 exercises both
    // regimes across the SFs: exact below it (sf0.001/0.01 user counts),
    // capped at the sentinel above (sf0.1's 1,500 users/type). The
    // `is_exact` flag mirrors ClickHouse's implicit contract: a reading of
    // N+1 means "more than N", not a count.
    QueryDef.sql(
      "uq07_uniq_upto",
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS uniq FROM d GROUP BY 1)
        |SELECT event_type, LEAST(uniq, 1001) AS uniq_upto, uniq <= 1000 AS is_exact
        |FROM g ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).cast("long").as("uniq"))
        .select(col("event_type"),
          least(col("uniq"), lit(1001L)).as("uniq_upto"),
          (col("uniq") <= 1000L).as("is_exact"))
        .orderBy("event_type")
    },

    // ----- uq08: EXACT WEIGHTED quantiles (quantileExactWeighted) — the
    // weighted sibling of uq06: the quantile of l_extendedprice with each
    // row weighted by its l_quantity is the value at the first crossing of
    // the cumulative-weight threshold q·W. Same two-pass scale shape:
    // (1) total-weight scalar (1-row collect), (2) DistributedRank's
    // running total (range partition + per-partition weight sums +
    // broadcast prefix offsets — no single-partition window), then the
    // 3-row threshold frame finds each first crossing with
    // cum ≥ thr AND cum − w < thr. Weights are integer-valued (cast BIGINT
    // on both engines), so cumulative sums are exact in any order and the
    // q·W thresholds are the same doubles on both sides.
    QueryDef.sql(
      "uq08_weighted_quantile",
      """WITH s AS (
        |  SELECT l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS w,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM lineitem),
        |tot AS (SELECT SUM(CAST(l_quantity AS BIGINT)) AS tot FROM lineitem),
        |t AS (
        |  SELECT CAST(qq AS DOUBLE) AS q, CAST(qq AS DOUBLE) * tot AS thr
        |  FROM (VALUES (0.5), (0.9), (0.99)) vals(qq) CROSS JOIN tot)
        |SELECT q, v AS value, CAST(cum AS BIGINT) AS cum_weight
        |FROM s JOIN t ON cum >= thr AND cum - w < thr
        |ORDER BY q""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val li = Tables(spark, dir).lineitem
        .select(col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val tot = li.agg(sum("w")).head().getLong(0) // 1-row metadata collect
      val targets = Seq(0.5, 0.9, 0.99)
        .map(q => (q, q * tot.toDouble)).toDF("q", "thr")
      DistributedRank
        .withRunningTotal(li, "cum", "w", col("v"), col("l_orderkey"), col("l_linenumber"))
        .crossJoin(broadcast(targets)) // 3 rows; first-crossing filter below
        .filter(col("cum") >= col("thr") && (col("cum") - col("w")) < col("thr"))
        .select(col("q"), col("v").as("value"), col("cum").cast("long").as("cum_weight"))
        .orderBy("q")
    },
  )
}
