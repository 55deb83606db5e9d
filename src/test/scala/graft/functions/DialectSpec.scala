package graft.functions

import graft.SparkSpec

class DialectSpec extends SparkSpec {

  // the spec session has the dialect functions (GraftSession installs them)
  private def sql1(q: String): Any =
    spark.sql(Dialect.translate(q)).collect()(0).get(0)

  test("toYYYYMM") {
    assert(sql1("SELECT toYYYYMM(DATE '2024-03-15')") == 202403)
  }

  test("toDate / toHour / toStartOfMonth / toMonday / toStartOfMinute") {
    assert(sql1("SELECT toDate(TIMESTAMP '2024-03-15 13:45:12')").toString == "2024-03-15")
    assert(sql1("SELECT toHour(TIMESTAMP '2024-03-15 13:45:12')") == 13)
    assert(sql1("SELECT toStartOfMonth(DATE '2024-03-15')").toString == "2024-03-01")
    // 2024-03-15 is a Friday; Monday of that week is 2024-03-11
    assert(sql1("SELECT toMonday(DATE '2024-03-15')").toString == "2024-03-11")
    assert(sql1("SELECT toStartOfMinute(TIMESTAMP '2024-03-15 13:45:12')").toString == "2024-03-15 13:45:00.0")
  }

  test("countIf and sumIf") {
    assert(sql1("SELECT countIf(x > 2) FROM VALUES (1),(2),(3),(4) AS t(x)") == 2L)
    assert(sql1("SELECT sumIf(x, x > 2) FROM VALUES (1),(2),(3),(4) AS t(x)") == 7)
    // empty condition set → 0, not NULL (ClickHouse behavior)
    assert(sql1("SELECT sumIf(x, x > 100) FROM VALUES (1),(2) AS t(x)") == 0)
  }

  test("avgIf/minIf/maxIf/uniqExact") {
    assert(sql1("SELECT avgIf(x, x > 2) FROM VALUES (1),(3),(5) AS t(x)") == 4.0)
    assert(sql1("SELECT minIf(x, x > 2) FROM VALUES (1),(3),(5) AS t(x)") == 3)
    assert(sql1("SELECT maxIf(x, x < 4) FROM VALUES (1),(3),(5) AS t(x)") == 3)
    assert(sql1("SELECT uniqExact(x) FROM VALUES (1),(1),(2) AS t(x)") == 2L)
  }

  test("toStartOfInterval floor-buckets timestamps") {
    assert(sql1("SELECT toStartOfInterval(TIMESTAMP '2024-03-15 13:47:12', INTERVAL 30 MINUTE)").toString
      == "2024-03-15 13:30:00.0")
    assert(sql1("SELECT toStartOfInterval(TIMESTAMP '2024-03-15 13:47:12', INTERVAL 1 HOUR)").toString
      == "2024-03-15 13:00:00.0")
    // pre-epoch timestamps floor DOWN into their bucket (ClickHouse
    // semantics) — truncate-toward-zero division rounded them up
    assert(sql1("SELECT toStartOfInterval(TIMESTAMP '1969-12-31 23:47:12', INTERVAL 30 MINUTE)").toString
      == "1969-12-31 23:30:00.0")
    assert(sql1("SELECT toStartOfInterval(TIMESTAMP '1969-12-31 23:59:59', INTERVAL 1 HOUR)").toString
      == "1969-12-31 23:00:00.0")
  }

  test("argMax/argMin/arrayJoin/quantile") {
    assert(sql1("SELECT argMax(name, score) FROM VALUES ('a', 1), ('b', 9), ('c', 3) AS t(name, score)") == "b")
    assert(sql1("SELECT argMin(name, score) FROM VALUES ('a', 1), ('b', 9), ('c', 3) AS t(name, score)") == "a")
    assert(spark.sql("SELECT arrayJoin(array(1, 2, 3)) AS v").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(sql1("SELECT quantile(0.5, x) FROM VALUES (1), (2), (3), (4) AS t(x)") == 2.5)
  }

  test("median and quantileExact") {
    assert(sql1("SELECT median(x) FROM VALUES (1),(2),(3),(100) AS t(x)") == 2.5)
    assert(sql1("SELECT quantileExact(0.25, x) FROM VALUES (1),(2),(3),(4),(5) AS t(x)") == 2.0)
  }

  test("uniq approximates distinct count") {
    val n = sql1("SELECT uniq(x) FROM (SELECT explode(sequence(1, 1000)) AS x)").asInstanceOf[Long]
    assert(math.abs(n - 1000) < 100)
  }

  test("groupArray + arrayStringConcat") {
    assert(sql1("SELECT arrayStringConcat(groupArray(x), ' -> ') FROM VALUES ('a'),('b') AS t(x)") == "a -> b")
  }

  test("dateDiff month counts boundary crossings (ClickHouse semantics)") {
    // one day apart but crosses a month boundary → 1 (floor(months_between) would say 0)
    assert(sql1("SELECT dateDiff('month', DATE '2024-01-31', DATE '2024-02-01')") == 1)
    assert(sql1("SELECT dateDiff('month', DATE '2024-01-01', DATE '2024-01-31')") == 0)
    assert(sql1("SELECT dateDiff('day', DATE '2024-01-01', DATE '2024-01-31')") == 30)
    assert(sql1("SELECT dateDiff('year', DATE '2023-12-31', DATE '2024-01-01')") == 1)
  }

  test("translate leaves string literals untouched") {
    // dialect spellings inside quoted literals must survive verbatim
    assert(sql1("SELECT 'count()'") == "count()")
    assert(sql1("SELECT 'dateDiff(''month'', a, b)'") == "dateDiff('month', a, b)")
    // while the same spellings outside literals still rewrite, in the same query
    assert(sql1("SELECT count() || ' ' || 'count()' FROM VALUES (1),(2) AS t(x)") == "2 count()")
    // '' escapes don't end the masked span
    assert(sql1("SELECT 'it''s count() here'") == "it's count() here")
  }
}
