package graft.plans

import graft.{Catalog, SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {

  test("custom operator equals window row_number formulation") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
      ("b", 5L, 5.0), ("b", 6L, 5.0),
      ("c", 7L, 1.0),
    ).toDF("g", "id", "score")
    val viaWindow = df.withColumn("rnk",
      row_number().over(Window.partitionBy("g").orderBy(desc("score"), asc("id"))).cast("long"))
      .filter(col("rnk") <= 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val viaCustom = TopKPerGroup.topK(df, Seq("g"), "score", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(viaCustom == viaWindow)
    // ties: group a has two 30.0 scores — id asc breaks them
    assert(viaCustom.contains(("a", 2L, 1L)) && viaCustom.contains(("a", 4L, 2L)))
  }

  test("physical plan uses TopKPerGroupExec with a clustered exchange, no sort") {
    val t = Tables(distributed, sf())
    val rev = t.lineitem.groupBy("l_partkey", "l_suppkey")
      .agg(sum("l_quantity").cast("double").as("qty"))
    val plan = TopKPerGroup.topK(rev, Seq("l_suppkey"), "qty", "l_partkey", 3)
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the "Exec" suffix in plan strings
    assert(plan.contains("TopKPerGroup"), s"custom exec missing:\n$plan")
    assert(plan.contains("TopKPerGroupPartial"),
      s"map-side partial pass missing — shuffle would carry whole groups:\n$plan")
    assert(!plan.contains("WindowExec"), "must not fall back to a window")
  }

  test("q37 equals q21 row for row") {
    val q21 = Catalog.byName("q21_top_parts_per_brand").build(spark, sf())
      .collect().map(_.toSeq.toList).toSet
    val q37 = Catalog.byName("q37_topk_custom_operator").build(spark, sf())
      .select("p_brand", "p_partkey", "p_name", "revenue", "line_count", "rnk")
      .collect().map(_.toSeq.toList).toSet
    assert(q37 == q21 && q21.nonEmpty)
  }

  test("q21 plans through the bounded-heap rewrite, not a whole-group sort") {
    // r10 verdict item 3: q21's naive window plan was the one named
    // scale-killer (25 brand reducers each sorting the full group at sf10);
    // the entry now plans through WindowTopKRewrite — pin that here so a
    // refactor can't silently put the sort back
    val plan = Catalog.byName("q21_top_parts_per_brand").build(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"q21 rewrite did not fire:\n$plan")
    assert(plan.contains("TopKPerGroupPartial"),
      s"q21 map-side partial pass missing:\n$plan")
    assert(!plan.contains("WindowExec"), s"q21 fell back to a window sort:\n$plan")
  }

  test("optimizer rule rewrites the window idiom onto the bounded-heap operator") {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, sf())
    val base = t.lineitem.groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").cast("double").as("qty"))
    val idiom = base
      .withColumn("rnk", row_number().over(
        Window.partitionBy("l_suppkey").orderBy(desc("qty"), asc("l_partkey"))))
      .filter(col("rnk") <= 3)
    val rewritten = TopKPerGroup.withAutoRewrite(idiom)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    // identical rows to the un-rewritten idiom
    val viaWindow = idiom.collect().map(_.toSeq.toList).toSet
    assert(rewritten.collect().map(_.toSeq.toList).toSet == viaWindow && viaWindow.nonEmpty)
    // and the rule must NOT leak into later queries on the same session
    val later = idiom.queryExecution.executedPlan.toString
    assert(!spark.experimental.extraOptimizations.contains(WindowTopKRewrite))
  }

  test("rewrite declines patterns it cannot prove identical") {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, sf())
    val base = t.lineitem.groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").cast("double").as("qty"))
    // ORDER BY ... ASC (not DESC+tiebreak): must stay a window plan
    val asc1 = base.withColumn("rnk", row_number().over(
      Window.partitionBy("l_suppkey").orderBy(asc("qty"))))
      .filter(col("rnk") <= 3)
    val p1 = TopKPerGroup.withAutoRewrite(asc1).queryExecution.executedPlan.toString
    assert(!p1.contains("TopKPerGroup") && p1.contains("Window"), p1)
    // global rank (no partition): must stay a window plan
    val glob = base.withColumn("rnk", row_number().over(
      Window.orderBy(desc("qty"), asc("l_partkey"))))
      .filter(col("rnk") <= 3)
    val p2 = TopKPerGroup.withAutoRewrite(glob).queryExecution.executedPlan.toString
    assert(!p2.contains("TopKPerGroup"), p2)
    // non-default null ordering (DESC NULLS FIRST): the heap ranks with
    // default ordering, so matching would silently re-rank null sort keys
    val nf = base.withColumn("rnk", row_number().over(
      Window.partitionBy("l_suppkey").orderBy(col("qty").desc_nulls_first, asc("l_partkey"))))
      .filter(col("rnk") <= 3)
    val p3 = TopKPerGroup.withAutoRewrite(nf).queryExecution.executedPlan.toString
    assert(!p3.contains("TopKPerGroup") && p3.contains("Window"), p3)
    // rank referenced inside a projection expression (rnk + 1): whether the
    // rule fires (filter pushed under the projection leaves a bare-rnk match)
    // or declines (non-bare ref in the matched projection), the result must
    // equal the window formulation — the guard in WindowTopKRewrite.rewrite
    // declines the non-bare case rather than emit a dangling attribute
    val nested = base.withColumn("rnk", row_number().over(
      Window.partitionBy("l_suppkey").orderBy(desc("qty"), asc("l_partkey"))))
      .select(col("l_suppkey"), col("rnk"), (col("rnk") + 1).as("rank1"))
      .filter(col("rnk") <= 3)
    val viaHeap = TopKPerGroup.withAutoRewrite(nested).collect().map(_.toSeq.toList).toSet
    assert(viaHeap == nested.collect().map(_.toSeq.toList).toSet && viaHeap.nonEmpty)
  }

  test("ts03 tf-idf top terms equals its window formulation, string tiebreak") {
    val entry = Catalog.byName("ts03_tfidf_top_terms").build(spark, sf()).collect()
    val w = graft.pipeline.SparseText.weights(spark, sf())
    val viaWindow = w.withColumn("rnk",
        row_number().over(Window.partitionBy("doc_id").orderBy(desc("wt"), asc("term"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("term"), col("wt"))
      .orderBy("doc_id", "rnk").collect()
    assert(entry.toSeq == viaWindow.toSeq)
    assert(entry.nonEmpty)
    // every document contributes at most 5 terms, ranked 1..n
    entry.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 5 && rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
  }

  test("k larger than group size emits the whole group, ranked") {
    import spark.implicits._
    val df = Seq(("g", 1L, 2.0), ("g", 2L, 1.0)).toDF("g", "id", "score")
    val out = TopKPerGroup.topK(df, Seq("g"), "score", "id", 10)
      .orderBy("rnk").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("topKDistinct == distinct + row_number cap on a duplicate-heavy relation") {
    // the basket-cap shape: raw (key, item) with duplicates, keep the cap
    // smallest DISTINCT items per key — dedup folded into the heap passes
    val t = Tables(spark, sf())
    val raw = t.lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("item"))
      .withColumn("__neg", -col("item"))
    val viaHeap = TopKPerGroup.topKDistinct(raw, Seq("k"), "__neg", "item", 3)
      .drop("__neg", "rnk")
      .collect().map(_.toSeq.toList).toSet
    import org.apache.spark.sql.expressions.Window
    val oracle = raw.drop("__neg").distinct()
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(asc("item"))))
      .filter(col("rn") <= 3).drop("rn")
      .collect().map(_.toSeq.toList).toSet
    assert(viaHeap == oracle && viaHeap.nonEmpty)
    // duplicates never survive, even duplicated across input partitions
    val dup = raw.union(raw).repartition(7)
    val out = TopKPerGroup.topKDistinct(dup, Seq("k"), "__neg", "item", 3)
      .drop("__neg", "rnk").collect().map(_.toSeq.toList)
    assert(out.length == out.toSet.size)
    assert(out.toSet == viaHeap)
  }

  test("topKSmallestDistinct (primitive path) == distinct + ascending row_number cap") {
    // the r14 basket-cap shape: non-null long (key, item) engages the
    // open-addressed long→long[] state — same semantics as the generic
    // descending-on-negated-item formulation, proven against the window
    val t = Tables(spark, sf())
    val raw = t.lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("item"))
    val viaHeap = TopKPerGroup.topKSmallestDistinct(raw, Seq("k"), "item", 3)
      .drop("rnk").collect().map(_.toSeq.toList).toSet
    import org.apache.spark.sql.expressions.Window
    val oracle = raw.distinct()
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(asc("item"))))
      .filter(col("rn") <= 3).drop("rn")
      .collect().map(_.toSeq.toList).toSet
    assert(viaHeap == oracle && viaHeap.nonEmpty)
    // ranks are 1..n ascending by item
    val ranked = TopKPerGroup.topKSmallestDistinct(raw, Seq("k"), "item", 3)
      .filter(col("k") === raw.select(min("k")).head.getLong(0))
      .orderBy("rnk").collect()
    assert(ranked.map(_.getLong(2)).toSeq == (1L to ranked.length).toSeq)
    assert(ranked.map(_.getLong(1)).toSeq.sorted == ranked.map(_.getLong(1)).toSeq)
  }

  test("primitive map survives growth: many keys, duplicates, eviction, cross-partition") {
    import spark.implicits._
    // 20k keys forces LongTopKMap rehash (initial 4096 slots) and the
    // per-key array growth (9 -> 17 items > the initial 8-slot value array);
    // duplicates across partitions prove the final pass re-dedups
    val rows = for (k <- 0L until 20000L; i <- 0L until 17L)
      yield (k, (i * 7919L + k) % 1000L) // collisions within a key too
    val df = rows.toDF("k", "item").union(rows.toDF("k", "item")).repartition(13)
    val got = TopKPerGroup.topKSmallestDistinct(df, Seq("k"), "item", 12)
      .drop("rnk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = rows.toSet[(Long, Long)].groupBy(_._1).toSeq.flatMap { case (k, s) =>
      s.map(_._2).toSeq.distinct.sorted.take(12).map((k, _))
    }.toSet
    assert(got == exp)
  }

  test("primitive path falls back per-partition on NULL (ADVICE r14) — generic semantics") {
    import spark.implicits._
    // parquet attrs are nullable=true regardless of data, so the primitive
    // path engages on static LongType alone; a real null mid-partition must
    // hand that partition to the generic comparator path (which orders nulls
    // by the default ASC NULLS FIRST), not abort the query
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 5L), (1L, null), (1L, 2L), (1L, 7L), (1L, 2L),
      (2L, 9L), (2L, 1L)).toDF("k", "item").repartition(3)
    val got = TopKPerGroup.topKSmallestDistinct(df, Seq("k"), "item", 3)
      .collect().map(r => (r.getLong(0), r.getAs[java.lang.Long]("item"), r.getLong(2))).toSet
    // k=1: distinct {null,2,5,7} ASC NULLS FIRST capped at 3 -> null,2,5
    val exp = Set[(Long, java.lang.Long, Long)](
      (1L, null, 1L), (1L, 2L, 2L), (1L, 5L, 3L),
      (2L, 1L, 1L), (2L, 9L, 2L))
    assert(got == exp, s"got $got")
    // and a null-free frame through the same code path is untouched
    val clean = Seq((1L, 5L), (1L, 2L), (1L, 7L), (2L, 3L)).toDF("k", "item")
    val got2 = TopKPerGroup.topKSmallestDistinct(clean, Seq("k"), "item", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == Set((1L, 2L, 1L), (1L, 5L, 2L), (2L, 3L, 1L)))
  }
}
