package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract: a Spark
  * query over a TESTDATA scale-factor dir, plus (when SQL-expressible)
  * an equivalent DuckDB oracle over the same parquet tables.
  *
  * Determinism rules (so the driver's hash compare passes):
  *   - every query ends in a total ORDER BY (unique tiebreaker);
  *   - double aggregates go through DECIMAL(18,4) per-row casts so the
  *     sum is exact and order-independent in both engines, then back to
  *     DOUBLE (deterministic IEEE conversion);
  *   - averages are computed as CAST(exact_sum AS DOUBLE) / COUNT(*).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
