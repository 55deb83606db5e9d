package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

/** One catalog entry: a named DataFrame query plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL the driver hash-compares against.
  *
  * Oracle-parity rules (see README §correctness):
  *   - Every output column is aliased identically in the Spark build and the
  *     oracle SQL (the driver sorts columns by name before hashing).
  *   - Money/measure doubles are aggregated through exact `DECIMAL(18,2)`
  *     casts on BOTH sides, then cast to DOUBLE — bit-identical results
  *     ([[QueryDef.dec]], [[QueryDef.decSum]], [[QueryDef.decSumSql]]).
  *   - Integer outputs are cast to BIGINT on both sides (DuckDB `count` et al
  *     are int64; Spark `hour`/`year` are int32 — unify). This includes every
  *     integer SUM in the ORACLE: DuckDB types `SUM(BIGINT)` as HUGEINT
  *     (int128) and the driver's hash gate is type-sensitive — identical
  *     values still hash-mismatch (r6's mm05–mm07). README §correctness has
  *     the full canonical-type rule; tools/check.py enforces it via DESCRIBE.
  *   - Deterministic ORDER BY with a unique tiebreaker, never on a nullable
  *     column (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST).
  *   - `now()`/`today()` are anchored on in-plan `max(ts)` scalar aggregates.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
)(val build: (SparkSession, String) => DataFrame)

object QueryDef {
  /** Entry with a DuckDB oracle. */
  def sql(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle))(build)

  /** Entry without an oracle (non-SQL-expressible → driver does a rows-only check). */
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, None)(build)

  /** Exact decimal view of a 2-decimal double column. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** SUM through the exact decimal view, as DOUBLE. */
  def decSum(c: Column): Column = sum(dec(c)).cast("double")

  /** The oracle-side twin of [[decSum]]. */
  def decSumSql(c: String): String = s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
}
