package graft

/** Read-only plan audit across the whole catalog: flags plan shapes that are
  * fine at test scale but wrong at 100 TB (cartesian products, broadcast
  * nested loops, single-partition exchanges) so intentional uses stay
  * documented and accidental ones get caught.
  *
  * Round-2 audit result — every flag accounted for, no CartesianProduct:
  *   - BroadcastNestedLoopJoin: 1-row max(ts)/centroid anchor cross-joins
  *     (q18/q26/q35/ann03/ann05 — broadcasting one row is free) and the
  *     non-equi brute-force similarity baselines (dd05/ann01 — whose scale
  *     paths are the LSH/IVF variants ann02/ann04/ann03/ann05, dd03/dd04,
  *     dd06).
  *   - SinglePartition: single-row global aggregates (q08/q09/q18/q26/q34/
  *     sq06/pp01/pp02 stage stats), whole-relation windows over
  *     already-aggregated small relations (q05/q31 share-of-total over ~5
  *     event types), the 1-row-seeded date spine (q14), and the
  *     global-ranking windows (q22/q23/q35/q40) whose distributed twins are
  *     q36/DistributedRank and pk01/withRunningTotal.
  *   - lambdafunction (interpreted HOF): only constant-width builds —
  *     dd03/pp01 band hashing (32 evals/doc), dd04 chunk split (4/doc),
  *     ann04 probe expansion (9/bucket-row). Every per-element hot path
  *     (vector math, stopword counts, shingles, LSH signatures, rolling
  *     hashes, signature compares) runs codegen kernels (graft.functions.*,
  *     equivalence-tested in KernelEquivalenceSpec).
  *
  * Round-4 audit: unchanged flag set plus km01 (BroadcastNestedLoopJoin —
  * the k=8 broadcast-centroid cross join, same accounted class as
  * ann03/ann05). pr01–pr05, sq07, dc01 are clean: routed MV aggregates and
  * the broadcast shingle join introduce no flagged shapes.
  *
  * Round-8 audit: px01/qf01/qf02/sh01/rp01/sd01/st12 are clean. mx01 flags
  * BroadcastNestedLoopJoin + SinglePartition — the 1-row (total_tokens,
  * Σ√tokens) anchor cross-joined onto the |domains|-row rate table, the
  * accounted q18/q26 class. dd08 flags lambdafunction — the constant-width
  * band build (32 evals/doc), the accounted dd03 class; its per-pair hot
  * path (eqCount) is the codegen kernel.
  *
  * Round-8 second batch: lm01/sel01/sp01/bp02 are clean (lm01's per-char
  * bigram explode moved to the codegen StringCharBigrams kernel after its
  * first bench showed the interpreted form costing 3.4 s at sf0.1). ann07
  * flags SinglePartition — the 128-row codebook aggregate (8 subspaces × 16
  * entries, metadata-scale by construction; the q18 tiny-aggregate class).
  * dd09 flags lambdafunction twice: the 5-word segmenter (≈ words/5 slice+
  * join evals per doc — linear in text, vocab-free, measured 1.7× on the
  * 3.3× fourth decade) and the kept-segment reassembly fold, which runs
  * post-aggregation on per-doc arrays. Both are below kernel-worthy cost at
  * every measured scale; the segmenter is the first candidate if dd09 ever
  * tops a profile.
  *
  * Round-9 audit: dd10 flags lambdafunction — the rolling 10-gram build
  * (≈ words slice+join evals per doc, the dd09 segmenter class: linear in
  * text, vocab-free) and the kept-word indexed filter, which runs on per-doc
  * arrays after the covered-set join. Same cost class and same kernel-
  * upgrade path as dd09's two lambdas.
  *
  * ann08 flags SinglePartition — both hits are inside Spark's OWN runtime
  * bloom-filter pushdown (InjectRuntimeFilter's bloom_filter_agg): a scalar
  * partial+final aggregate whose final merge is single-partition by
  * definition and whose input is per-task bloom buffers, not data rows.
  * Optimizer-injected, metadata-scale, benign.
  *
  * Round-9 second batch: dd11 and ck02 are clean (dd11 is three doc_id-keyed
  * joins over existing stages; ck02's per-word window partitions by doc and
  * its merge regexes are the codegen'd bp03 vocab pass). ann09 flags
  * BroadcastNestedLoopJoin — the |Q|×cells centroid probe cross join, the
  * accounted ann03/ann05/km01 class — and lambdafunction from the
  * QUERY-side residual/LUT build (zip_with + slices over |Q|×nprobe = 16
  * rows; metadata-scale). The corpus-side residual zip_with + subvector
  * slicing (64 + 8 interpreted evals per vector) runs ONCE inside the
  * checkpointed encode pass — the same accepted cost class as ann07's
  * pqSub encode (an index build, not a query path); FloatVecSub is the
  * kernel upgrade if the encode pass ever tops a profile.
  *
  * Round-9 session-5 batch: st15 is clean (stream-static broadcast bounds
  * join + count-only state). uq05 and ds01 both flag
  * BroadcastNestedLoopJoin + SinglePartition — the accounted q18/q26/mx01
  * scalar-anchor class: uq05 cross-joins the 1-row corpus-total and
  * kth-frequency scalars onto its 20-row result (its pass-1 Misra–Gries
  * summaries run in mapPartitions — bounded 2048-entry maps, not a plan
  * flag), and ds01 cross-joins the two 1-row model-normalizer scalars onto
  * the ≤ |charset|² advantage table before broadcasting it. spl03 and q49
  * are clean: spl03's take-100-smallest-ranks is a TakeOrderedAndProject,
  * and q49's per-user funnel fold (`aggregate` over the collected, sorted
  * event array — 3-long state, linear in the user's events) runs inside the
  * post-shuffle projection with no flagged shapes. q50 and ir01 flag only
  * their 1-row scalar cross joins (q50's anchor-date aggregate, ir01's
  * (N, avgdl) stats aggregate — the q18/q26 metadata-scale class); q51's
  * fold is the q49 shape (clean) and uq06's rank selection is
  * DistributedRank's documented pattern (range partition + per-partition
  * metadata collect — no flagged shapes in the final plan). prof01 flags
  * its four 1-row distinct-count scalars cross-joined onto the 1-row
  * per-column stat aggregates (metadata-scale by construction); q52's fold
  * is the q49 shape and uq07's two-level distinct is plain exchanges —
  * both clean. Late session-5 flags, all accounted: q54's BNLJ is the
  * 5-region × 31-day SPINE cross join (never the fact table); mx03 and
  * dd13 flag their 1-row scalar cross joins (Σ√tokens / n_truth — the
  * q18/q26 class); ann10's BNLJ is the broadcast 8-query × filtered-corpus
  * search itself, the same deliberate exact-scan shape as ann01, guarded
  * by ExactBaseline on the FILTERED count.
  *
  * Round-9 session-6 batch: dc03 and qf03 are clean (dc03 rides
  * fineAssign's equi-joins; qf03 is two (doc, gram)-keyed agg chains).
  * ann11 flags BroadcastNestedLoopJoin — the 8-query × foreign-centroid
  * probe cross join, the accounted ann03/ann05/km01 class (the search
  * join itself is label-equi-keyed). ir02 flags BNLJ + SinglePartition —
  * the 1-row broadcast query vector cross join (q18/q26 class) plus the
  * rank windows that run AFTER each arm's limit-50 on 50-row relations
  * (documented in the entry: metadata-scale by construction; the heavy
  * ranking is TakeOrderedAndProject heaps).
  *
  * Round-10 audit: dd14 flags SinglePartition — the final 1-row
  * (n_sampled, n_confirmed) scalar aggregate (the q18/q26 metadata-scale
  * class); its heavy stages (bucket join, sampled distinct, confirm join)
  * are all key-partitioned exchanges. st14–st18 now audit through their
  * maintained-MV serve reads; the maintenance streams carry the same plans
  * the r9 audit accounted for.
  *
  * Round-9 session-6 late batch: st17/st18/cur01/prof02/qf03 are clean
  * (the streaming firewalls are equi-keyed stream-static joins + one agg;
  * cur01 is DistributedRank's documented pattern; prof02's window runs on
  * |sources×langs| aggregated rows). tp01 flags BroadcastNestedLoopJoin —
  * the 8-anchor broadcast joins (own-cell positives on label=qlabel with
  * nid<>qid, and the foreign-centroid probe), the accounted
  * ann03/ann05/ann11 class.
  *
  * Round-11 audit: q55 and st19 flag SinglePartition — the final 1-row
  * max-concurrency scalar aggregate over the (already per-ts-collapsed)
  * prefix-sum frame (the q18/q26 metadata-scale class; the prefix sum
  * itself is DistributedRank's range-partitioned pattern, and st19's runs
  * over the maintained MV's rows). knn01 flags BroadcastNestedLoopJoin —
  * the query × centroid probe cross join, the accounted
  * ann03/ann05/km01/ann11 class; its candidate scan is label-equi-keyed
  * and its top-10 is the TopKPerGroup bounded heap, not a window.
  *
  * Round-12/13 audit (the r12 additions' deferred paragraph + r13's):
  * q56 and dd15 are CLEAN — q56's sweep windows partition by the
  * (user_id, d) group key (no global exchange; the q55 DistributedRank
  * shape is not needed because the sweep is per-key), and dd15 is dd06's
  * audited bucket chain at the (12, 16) geometry (equi-keyed bucket join +
  * confirm joins, no new shapes). knn02 flags BroadcastNestedLoopJoin —
  * the ~2000-query × centroid probe cross join, the same accounted
  * ann03/ann05/km01/knn01 class (its candidate scan is 2-cell
  * label-equi-keyed, its top-10 the bounded heap). lt01 (r13) is CLEAN:
  * the series windows partition by event_type over PRE-AGGREGATED
  * per-minute counts, bucket sums are a group-key agg, both anchor joins
  * broadcast ≤(k−1)·|series| rows, and the per-bucket argmax window
  * partitions by (series, bucket) — no global sort over the input, no
  * BNLJ, no single-partition exchange.
  *
  * Round-14 audit: st20 is CLEAN (lt01's serve shape over the maintained
  * minute MV — same windows, MV-sized input), and q15/q17 keep their flag-
  * free shapes through the capBasket primitive-state rework (the heap
  * passes changed internals, not plan structure: TopKPerGroupPartial →
  * exchange on the basket key → TopKPerGroup, ReusedExchange across the
  * self-join intact — BasketCapSpec asserts it). ur01 flags
  * `lambdafunction`: the tracking-param filter HOF runs ≤ 4 evals per URL
  * (constant-width, the dd03/dd04 accounted class); every other ur01 step
  * is codegen'd string expressions. ur02 adds the accounted 1-row
  * token-total pattern: `SinglePartition` is the single-row global SUM and
  * `BroadcastNestedLoopJoin` its broadcast cross join onto the ≤|domains|
  * rollup (the q18/q26 anchor class — broadcasting one row is free).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder("graft-plan-audit", sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // "lambdafunction" marks interpreted higher-order-function evaluation —
    // acceptable only on metadata-scale or post-aggregation columns; hot-path
    // occurrences must move to codegen kernels (graft.functions.*)
    val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition",
      "lambdafunction")
    val verbose = sys.env.contains("SPARK_GRAFT_AUDIT_VERBOSE")
    Catalog.all.foreach { d =>
      try {
        if (verbose) println(s"[audit] building ${d.name}")
        val plan = d.build(spark, sfDir).queryExecution.executedPlan.toString
        val hits = flags.filter(plan.contains)
        if (hits.nonEmpty) println(s"[audit] ${d.name}: ${hits.mkString(", ")}")
      } catch { case e: Throwable => println(s"[audit] ${d.name}: PLAN FAILED ${e.getMessage.take(100)}") }
      finally Residency.release(spark) // eager checkpoints materialize during build

    }
    println("[audit] done")
    spark.stop()
  }
}
