package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus (when SQL-expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB as the correctness oracle.
  *
  * Determinism contract (driver hash-compares values): every query output is
  * totally ordered, every aggregate/computed column is aliased identically on
  * both sides, doubles produced by non-integer-exact arithmetic are rounded,
  * and timestamps are emitted as strings or epoch integers.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Oracle SQL that can only be produced AGAINST a concrete data dir —
      * e.g. q34's forest replay, generated from the model fitted on that
      * dir's tables. Verify/Bench evaluate it when dumping oracle_sql.json;
      * the static `oracle` stays None for such queries.
      */
    dynamicOracle: Option[(SparkSession, String) => String] = None)

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def dynamicSql(name: String)(oracle: (SparkSession, String) => String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None, Some(oracle))
}
