package graft

class CatalogSpec extends SparkSpec {

  test("query names are unique") {
    val names = Catalog.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  // on the distributed twin: the flags describe plans for inputs larger than
  // one file split
  test("every entry has unique column names and only its allowlisted plan flags") {
    def show(fs: Set[String]) = fs.toSeq.sorted.mkString("{", ", ", "}")
    val wrong = Catalog.all.flatMap { d =>
      val df = d.build(distributed, sf())
      // The driver sorts columns by name before hashing — duplicate names
      // would make the compare ambiguous.
      val cols = df.columns
      assert(cols.distinct.length == cols.length, s"${d.name} has duplicate columns: ${cols.mkString(",")}")
      val plan = df.queryExecution.executedPlan.toString
      Residency.release(distributed) // eager checkpoints materialize during build
      val flags = PlanFlags.Flags.filter(plan.contains).toSet
      val allowed = PlanFlags.allowed.getOrElse(d.name, Set.empty).map(_.flag)
      if (flags == allowed) None else Some(s"${d.name}: plans ${show(flags)}, allowed ${show(allowed)}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("funnel is monotone: viewers >= clickers >= purchasers") {
    val r = Catalog.byName("q08_conversion_funnel").build(spark, sf()).collect()(0)
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= 0 && c >= 0 && p >= 0)
    // funnel steps are independent event types in the testdata, so only
    // check they are all bounded by total users
    val users = Tables(spark, sf()).events.select("user_id").distinct().count()
    assert(v <= users && c <= users && p <= users)
  }

  test("tx08 vocab audit: counting identities hold per source") {
    val rows = Catalog.byName("tx08_vocab_audit").build(spark, sf()).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length, "duplicate source rows")
    rows.foreach { r =>
      val (docs, tokens, distinct, hapax) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(docs > 0 && tokens >= distinct && distinct >= hapax && hapax >= 0,
        s"counting identity broken for ${r.getString(0)}: $r")
      val ttr = r.getDouble(5)
      assert(ttr > 0 && ttr <= 1.0 && math.abs(ttr - distinct.toDouble / tokens) < 1e-12)
      val topShare = r.getDouble(7)
      // the modal term's share can't be below the uniform floor 1/distinct
      assert(topShare >= 1.0 / distinct && topShare <= 1.0)
    }
  }

  test("re-aggregation of the MV rollup equals direct aggregation (A13 invariant)") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf())
    val direct = t.events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reagg = Catalog.byName("q29_reaggregation").build(spark, sf())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct == reagg)
  }
}

/** Plan shapes that are fine at test scale but wrong at 100 TB unless
  * accounted for, and the entries allowed to plan them, each flag with the
  * reason it is safe. An entry's executed plan must flag exactly its listed
  * set: a new flag is either a regression or needs a reason here, and a
  * flag that went away is dropped from the list.
  */
object PlanFlags {

  sealed abstract class Why(val flag: String)
  // BroadcastNestedLoopJoin
  /** A 1-row scalar or anchor (max(ts), totals, a query vector) cross-joined onto a small result. */
  case object AnchorCrossJoin extends Why("BroadcastNestedLoopJoin")
  /** A small spine or threshold table cross-joined, never the fact table. */
  case object SpineCrossJoin extends Why("BroadcastNestedLoopJoin")
  /** Queries × centroids or anchors probe: both sides metadata-sized. */
  case object ProbeCrossJoin extends Why("BroadcastNestedLoopJoin")
  /** The deliberate exact all-pairs scan, bounded by ExactBaseline; its scale path is the bucketed twin. */
  case object ExactScan extends Why("BroadcastNestedLoopJoin")
  // SinglePartition
  /** A single-row global aggregate or a metadata-sized final merge. */
  case object TinyAggregate extends Why("SinglePartition")
  /** A whole-relation window over an already-aggregated small relation. */
  case object SmallWindow extends Why("SinglePartition")
  /** A global ranking window; its distributed twin is DistributedRank. */
  case object GlobalRank extends Why("SinglePartition")
  /** The final merge of Spark's own runtime bloom-filter aggregate. */
  case object RuntimeBloomFilter extends Why("SinglePartition")
  // lambdafunction (interpreted higher-order function)
  /** A constant-width HOF: a fixed number of evaluations per row. */
  case object ConstantWidthHof extends Why("lambdafunction")
  /** A HOF linear in a document's words, or run on post-aggregation arrays. */
  case object PerDocHof extends Why("lambdafunction")

  val Flags: Seq[String] =
    Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition", "lambdafunction")

  val allowed: Map[String, Set[Why]] = Map(
    "q05_event_type_share" -> Set(SmallWindow),
    "q08_conversion_funnel" -> Set(TinyAggregate),
    "q09_funnel_steps_union" -> Set(TinyAggregate),
    "q14_date_spine_gapfill" -> Set(TinyAggregate),
    "q18_kpi_snapshot" -> Set(AnchorCrossJoin, TinyAggregate),
    "q22_customer_percentiles" -> Set(GlobalRank),
    "q23_running_revenue" -> Set(GlobalRank),
    "q26_period_metrics" -> Set(AnchorCrossJoin, TinyAggregate),
    "q31_order_tiers" -> Set(SmallWindow),
    "q34_semi_anti_full" -> Set(TinyAggregate),
    "q35_rfm_scores" -> Set(AnchorCrossJoin, GlobalRank),
    "q40_revenue_deltas" -> Set(GlobalRank),
    "q50_retention" -> Set(AnchorCrossJoin, TinyAggregate),
    "q54_with_fill" -> Set(SpineCrossJoin),
    "q55_peak_concurrency" -> Set(TinyAggregate),
    "uq05_heavy_hitters" -> Set(AnchorCrossJoin, TinyAggregate),
    "uq08_weighted_quantile" -> Set(SpineCrossJoin),
    "mx01_domain_mixture" -> Set(AnchorCrossJoin, TinyAggregate),
    "mx02_cluster_mixture" -> Set(AnchorCrossJoin, TinyAggregate),
    "mx03_upsample_repeat" -> Set(AnchorCrossJoin, TinyAggregate),
    "dd03_minhash_lsh" -> Set(ConstantWidthHof),
    "dd04_simhash" -> Set(ConstantWidthHof),
    "dd05_embedding_neardup" -> Set(ExactScan),
    "dd08_incremental_dedup" -> Set(ConstantWidthHof),
    "dd09_segment_dedup" -> Set(PerDocHof),
    "dd10_exact_substring" -> Set(PerDocHof),
    "dd13_lsh_eval" -> Set(AnchorCrossJoin, TinyAggregate),
    "dd14_sampled_confirm" -> Set(TinyAggregate),
    "ann01_topk_bruteforce" -> Set(ExactScan),
    "ann03_ivf_probe1" -> Set(ProbeCrossJoin),
    "ann04_topk_lsh_multiprobe" -> Set(ConstantWidthHof),
    "ann05_ivf_probe2" -> Set(ProbeCrossJoin),
    "ann06_lsh_recall" -> Set(ExactScan),
    "ann07_pq_topk" -> Set(TinyAggregate),
    "ann08_pq_rerank" -> Set(RuntimeBloomFilter),
    "ann09_ivfpq_topk" -> Set(ProbeCrossJoin, ConstantWidthHof),
    "ann10_filtered_topk" -> Set(ExactScan),
    "ann11_hard_negatives" -> Set(ProbeCrossJoin),
    "tp01_contrastive_triplets" -> Set(ProbeCrossJoin),
    "knn01_knn_label_eval" -> Set(ProbeCrossJoin),
    "knn02_knn_label_eval_pinned" -> Set(ProbeCrossJoin),
    "km01_kmeans_assign" -> Set(ProbeCrossJoin),
    "bp01_bpe_pair_counts" -> Set(PerDocHof),
    "prof01_column_profile" -> Set(AnchorCrossJoin, TinyAggregate),
    "ur01_url_canonical" -> Set(ConstantWidthHof),
    "ur02_domain_rollup" -> Set(AnchorCrossJoin, TinyAggregate, ConstantWidthHof),
    "ds01_importance_selection" -> Set(AnchorCrossJoin, TinyAggregate),
    "ds02_importance_resampling" -> Set(AnchorCrossJoin, TinyAggregate),
    "pp01_corpus_pipeline" -> Set(TinyAggregate, ConstantWidthHof),
    "pp02_corpus_stages_checked" -> Set(TinyAggregate),
    "ir01_bm25_retrieval" -> Set(AnchorCrossJoin, TinyAggregate),
    "ir02_rrf_hybrid" -> Set(AnchorCrossJoin, SmallWindow),
    "st19_streaming_concurrency" -> Set(TinyAggregate),
    "sq06_funnel_state_merge" -> Set(TinyAggregate),
  )
}
