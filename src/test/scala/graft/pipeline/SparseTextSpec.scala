package graft.pipeline

import graft.SparkSpec

class SparseTextSpec extends SparkSpec {

  test("label propagation throws loudly when the round cap exits unconverged (r7 item 6)") {
    import spark.implicits._
    // A 12-node path graph: the min label (1) walks one hop per round, so
    // the fixpoint needs 11 propagation rounds plus one no-change round.
    // Capped at 3 the loop exits UNCONVERGED — the old code would silently
    // ship non-canonical cluster ids into dd07's survivor selection; now it
    // must refuse loudly, naming the cap.
    val edges = (1L to 11L).map(i => (i, i + 1))
    val undirected = edges.toDF("src", "dst")
      .unionByName(edges.map(_.swap).toDF("src", "dst"))
    val e = intercept[IllegalStateException] {
      SparseText.propagateMinLabels(undirected, maxIters = 3)
    }
    assert(e.getMessage.contains("UNCONVERGED") && e.getMessage.contains("3-round cap"))
    // and with an adequate cap the same graph converges to one cluster
    val labels = SparseText.propagateMinLabels(undirected, maxIters = 20)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 12 && got.values.forall(_ == 1L),
      s"path graph must collapse to cluster 1, got $got")
  }

  test("localComponents (driver union-find) == propagateMinLabels on a random graph (r16)") {
    import spark.implicits._
    // 200 nodes, 150 random edges from a fixed seed: a mix of singleton
    // pairs, chains and merged components — the two algorithms must produce
    // the identical (doc, min-member) map. Only nodes that appear in an
    // edge are labeled (the ts02 contract: `cl` holds clustered docs only).
    val rnd = new scala.util.Random(7)
    val edges = Array.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val local = SparseText.localComponents(edges).toMap
    val undirected = edges.toSeq.toDF("src", "dst")
      .unionByName(edges.toSeq.map(_.swap).toDF("src", "dst"))
    val dist = SparseText.propagateMinLabels(undirected, maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"union-find and fixpoint disagree: " +
      s"only-local=${(local.toSet -- dist.toSet).take(5)} only-dist=${(dist.toSet -- local.toSet).take(5)}")
    // the fast path must also be byte-compatible with the entry contract:
    // sorted by doc_id, min-member labels
    assert(SparseText.localComponents(edges).map(_._1).toSeq ==
      SparseText.localComponents(edges).map(_._1).toSeq.sorted)
  }

  test("the distributed fixpoint gives the union-find rows, even on no edges") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // the distributed path ends in the ORDER BY; the driver union-find
    // returns a pre-sorted one-partition RDD with no Sort node
    def distributed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.isInstanceOf[Sort]
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val chain = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    assert(!distributed(SparseText.clusterMap(spark, empty)))
    val local = SparseText.clusterMap(spark, chain).collect().map(_.toSeq).toSeq
    assert(!distributed(SparseText.clusterMap(spark, chain)))
    val e = SparseText.clusterMapDistributed(empty)
    assert(distributed(e) && e.isEmpty)
    val c = SparseText.clusterMapDistributed(chain)
    assert(distributed(c))
    assert(c.collect().map(_.toSeq).toSeq == local)
    assert(local == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 5L), Seq(6L, 5L)))
  }

  test("ir01: BM25 top-20 matches a brute-force recompute of every doc's score") {
    val got = graft.Catalog.byName("ir01_bm25_retrieval").build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.length == 20)
    assert(got.map(_._2).zip(got.map(_._2).tail).forall { case (a, b) => a >= b })
    assert(got.forall { case (_, s, m) => s > 0d && m >= 1L && m <= 3L })
    // brute-force BM25 over the collected corpus with the same constants
    val q = Seq("vector", "hash", "merge")
    val docs = graft.Tables(spark, sf()).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toDouble).sum / n
    val df = q.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    def score(words: Seq[String]): Double = {
      val dl = words.length.toDouble
      q.map { t =>
        val tf = words.count(_ == t).toDouble
        if (tf == 0d) 0d
        else ((n - df(t) + 0.5) / (df(t) + 0.5)) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }.sum
    }
    val want = docs.map { case (id, ws) => (id, score(ws)) }
      .filter(_._2 > 0d)
      .sortBy { case (id, s) => (-s, id) }.take(20)
    // same docs in the same order; scores equal to double precision (the
    // engine sums 3 pivoted terms in fixed order, as does this recompute)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"got ${got.map(_._1).toSeq} want ${want.map(_._1).toSeq}")
    got.zip(want).foreach { case ((_, gs, _), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-12, s"$gs vs $ws")
    }
  }
}
