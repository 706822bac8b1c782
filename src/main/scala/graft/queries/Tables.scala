package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the query layer.
  *
  * Oracle-parity rules (driver compares our parquet output against DuckDB
  * running `SparkEntry.oracleSql` on the same tables):
  *  - double aggregation order is engine-dependent -> cast source doubles to
  *    DECIMAL first, aggregate exactly, cast the final result back to double;
  *  - averages are computed as exact-decimal-sum / count in double;
  *  - every query ends with an explicit deterministic ORDER BY mirrored in
  *    the oracle SQL (ties broken by a unique key);
  *  - DuckDB sum(BIGINT) returns HUGEINT -> oracles cast to BIGINT.
  */
object T {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact money/quantity arithmetic: double -> DECIMAL(18,2). */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Final projection back to double for schema parity with DuckDB. */
  def dbl(c: Column): Column = c.cast("double")

  /** sum over exact decimals, emitted as double. */
  def dsum(c: Column): Column = dbl(sum(dec(c)))

  /** F1 from true-positive, false-positive and false-negative counts
    * (metrics.py: 2tp / (2tp + fp + fn)) — exact integer arithmetic until
    * the one double divide. Callers guard the all-zero case where they
    * need a value there.
    */
  def f1(tp: Column, fp: Column, fn: Column): Column =
    tp.cast("double") * 2 / (tp * 2 + fp + fn)

  /** The ±0.02 F1-delta bar of run comparison (benchmark.py:310-355), the
    * A/B decision rule and the regression ladder.
    */
  val DeltaGate = 0.02

  /** regression / improvement / stable of an F1 delta against DeltaGate. */
  def deltaStatus(delta: Column): Column =
    when(delta < -DeltaGate, "regression")
      .when(delta > DeltaGate, "improvement")
      .otherwise("stable")
}
