package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query or operator: the Spark side `fn` plus (when the
  * semantics are SQL-expressible) the DuckDB oracle text the correctness
  * gate hash-compares against at sf0.01. Where the oracle text is Redshift SQL
  * that Spark's surface runs unchanged, both sides are that one text
  * (`T2`'s split rule); otherwise `fn` is a separate implementation.
  *
  * Canonicalization rules shared by both sides (SURVEY.md §5.2, §7.4.5-6):
  *   - explicit total-order ORDER BY (unique tie-break key) in both engines;
  *   - double aggregation goes through DECIMAL casts (`SUM(CAST(x AS
  *     DECIMAL(18,4)))`) so the result is independent of addition order,
  *     then back to DOUBLE for a stable schema;
  *   - no raw TIMESTAMP columns in outputs (epoch micros or DATE instead);
  *   - integral aggregates cast to BIGINT on the oracle side (DuckDB's
  *     SUM(BIGINT) is HUGEINT);
  *   - column names aliased identically in both engines.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
