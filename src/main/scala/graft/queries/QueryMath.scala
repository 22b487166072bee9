package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared oracle-hash-stable arithmetic for the query files.
  *
  * The driver's comparator reads Spark parquet through pandas and the
  * DuckDB oracle through fetchdf, dtype-exact: a DECIMAL(38,x) output
  * column arrives as Python Decimal objects on one side and float64 on
  * the other and can NEVER hash-match (round-1 lesson). So: accumulate
  * in exact decimal (partition-order-independent), cast only the FINAL
  * value to DOUBLE (correctly rounded, deterministic) — both engines
  * then emit bit-identical float64. Any change to this convention must
  * be mirrored in every oracle's SQL.
  */
object QueryMath {

  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum at scale 2 (money), surfaced as DOUBLE. */
  def sumDbl2(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact decimal sum at scale 6 (measures), surfaced as DOUBLE. */
  def sumDbl6(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Deterministic average: exact-decimal sum ÷ count (a plain
    * avg(double) is partition-order-dependent). */
  def avgDec2(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))

  private[queries] def one: Column = lit(1).cast(DecimalType(3, 2))

  /** revenue := extprice * (1 - discount), exact decimal. */
  private[queries] def revenue: Column =
    dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))

  /** The oracle SQL twin of [[revenue]]. */
  private[queries] val Rev =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** DuckDB SQL replicating [[graft.operators.Similarity.dot]]
    * bit-exactly: per-element FLOAT multiply (list elements stay REAL),
    * then a sequential left fold into a DOUBLE accumulator — the same
    * order and precision as the VecDot fold, so the resulting doubles
    * are bit-identical. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), i -> CAST($a[CAST(i AS INT)] * $b[CAST(i AS INT)] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  /** DuckDB twin of [[graft.operators.Similarity.cosine]]. */
  private[queries] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
}
