package graft.sql

import graft.SparkSpec

class GatewaySpec extends SparkSpec {

  test("accepts SELECT / WITH / EXPLAIN") {
    assert(SqlGateway.validate("SELECT 1").isRight)
    assert(SqlGateway.validate("  with x as (select 1) select * from x").isRight)
    assert(SqlGateway.validate("EXPLAIN SELECT 1").isRight)
  }

  test("rejects mutations — as statements and smuggled mid-query") {
    assert(SqlGateway.validate("DROP TABLE users").isLeft)
    assert(SqlGateway.validate("INSERT INTO t VALUES (1)").isLeft)
    assert(SqlGateway.validate("SELECT 1; DROP TABLE users").isLeft)
    assert(SqlGateway.validate("select * from t where x = (delete from u)").isLeft)
  }

  test("does not false-positive on column names containing denied substrings") {
    // 'created_date' contains 'create'; word-boundary tokenization must allow it
    assert(SqlGateway.validate("SELECT created_date, updated_at FROM t").isRight)
  }

  test("executes dialect SQL over the testdata views") {
    val df = SqlGateway.execute(spark, sf(),
      "SELECT countIf(o_orderstatus = 'F') AS f, count(*) AS n FROM orders")
    val r = df.collect()(0)
    assert(r.getLong(1) > 0 && r.getLong(0) <= r.getLong(1))
  }

  test("execute refuses a rejected query") {
    intercept[IllegalArgumentException] {
      SqlGateway.execute(spark, sf(), "DROP TABLE orders")
    }
  }

  test("reference observability SQL runs via the gateway over the system views") {
    SystemTables.registerViews(spark, sf())
    // sample_queries.sql:503–510 (compression effectiveness), near-verbatim:
    // system.parts → system_parts, table → table_name
    val rows = SqlGateway.execute(spark, sf(),
      """SELECT table_name,
        |  formatReadableSize(sum(compressed_bytes)) AS compressed_size,
        |  formatReadableSize(sum(uncompressed_bytes)) AS uncompressed_size,
        |  round(sum(uncompressed_bytes) / sum(compressed_bytes), 2) AS compression_ratio
        |FROM system_parts
        |GROUP BY table_name
        |ORDER BY table_name""".stripMargin).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getString(1).matches("""[\d.,]+ (B|KiB|MiB|GiB|TiB|PiB)"""), r.getString(1))
      assert(r.getDouble(3) > 0)
    }
  }

  test("formatReadableSize matches ClickHouse rendering") {
    val got = spark.sql(
      "SELECT formatReadableSize(999), formatReadableSize(1024), " +
        "formatReadableSize(1536), formatReadableSize(1073741824), formatReadableSize(0)")
      .collect()(0)
    assert(got.getString(0) == "999 B")
    assert(got.getString(1) == "1.00 KiB")
    assert(got.getString(2) == "1.50 KiB")
    assert(got.getString(3) == "1.00 GiB")
    assert(got.getString(4) == "0 B")
  }
}
