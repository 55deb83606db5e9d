package graft

/** Plan-shape assertions: lock in the 100 TB posture — broadcasts where a
  * dimension is joined, pushdown reaching the parquet scan, top-K planning as
  * TakeOrderedAndProject, map-literal dictionaries joining nothing. A
  * regression here means a future change silently bought a shuffle or a full
  * scan that small-SF correctness tests would never notice. Plans are taken
  * on the distributed twin, where no input fits in one file split.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Catalog.byName(name).build(distributed, sf()).queryExecution.executedPlan.toString

  test("dimension enrichment joins broadcast") {
    assert(plan("q02_region_rollup").contains("BroadcastHashJoin"))
    assert(plan("q19_order_region_revenue").contains("BroadcastHashJoin"))
    assert(plan("q20_top_products").contains("BroadcastHashJoin"))
  }

  test("filters are pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
    val p3 = plan("q03_shipping_priority")
    assert(p3.contains("PushedFilters") && p3.contains("c_mktsegment"))
  }

  test("global top-K plans as TakeOrderedAndProject") {
    assert(plan("q32_top_events").contains("TakeOrderedAndProject"))
  }

  test("column pruning: q32 scan reads only projected columns") {
    val p = plan("q32_top_events")
    val scanSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      p.linesIterator.find(_.contains("Scan parquet")).getOrElse(""))
    // props/ts must not be read for a 4-column projection (ts excluded since
    // events rebuilds it; the point is props is pruned)
    assert(!p.contains("props"), s"props should be pruned from scan:\n$p")
  }

  test("dictGet map-literal enrichment plans with no extra join for the dict") {
    val p = plan("qd01_dict_zone_revenue")
    // two broadcast joins (customer, nation) — the zone dictionary itself is
    // a map literal, not a third join
    val joins = "BroadcastHashJoin".r.findAllIn(p).length
    assert(joins == 2, s"expected exactly 2 joins, got $joins:\n$p")
  }

  test("partial aggregation precedes the shuffle (map-side combine)") {
    val p = plan("q04_daily_events")
    assert(p.contains("HashAggregate"))
    // partial + final pairs appear as two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("as-of join plans as one key shuffle + window, no range explosion") {
    val p = plan("aj01_asof_join")
    assert(!p.contains("CartesianProduct"), s"as-of must not cross-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"as-of must not BNLJ:\n$p")
    assert(p.contains("Window"), s"carry-forward window missing:\n$p")
  }

  test("token packing has no single-partition window stage") {
    val p = plan("pk01_token_packing")
    assert(!p.contains("SinglePartition"),
      s"running total must use the distributed offsets pattern:\n$p")
  }

  test("per-group reservoir sampling runs through the bounded-heap operator") {
    val p = plan("spl02_reservoir_per_group")
    assert(p.contains("TopKPerGroupPartial"), s"map-side top-K pass missing:\n$p")
    assert(!p.contains("WindowExec"), s"must not fall back to a window sort:\n$p")
  }

  test("stratified sample broadcasts the rate table and pushes nothing extra") {
    val p = plan("spl01_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), s"rate table should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join for a 5-row dim:\n$p")
  }

  test("domain mixture broadcasts the per-source rate table onto the selection scan") {
    val p = plan("mx01_domain_mixture")
    assert(p.contains("BroadcastHashJoin"), s"rate table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"the totals row must broadcast, not cartesian:\n$p")
  }
}
