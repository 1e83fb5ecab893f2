package graft.operators

import graft.sources.GraftCatalog
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The expressions that Relational, Analytic and TpchPatterns share,
  * defined once so every TPC-H-style query sums money the same way.
  */
private[operators] object TpchExprs {

  def cat(s: SparkSession, dir: String) = new GraftCatalog(s, dir)

  def ts(v: String) = to_timestamp(lit(v))

  /** Discounted revenue expression used across TPC-H-style queries. */
  def revenueExpr = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Exact-decimal sum of a "money" double column, returned as double.
    *
    * The raw inputs carry ≤2 decimals and products of them ≤6, so
    * casting each term to DECIMAL(28,6) recovers the exact decimal
    * value; the decimal sum is then order-independent and identical in
    * any engine — a plain double sum is order-dependent in its last
    * bits and flips round(x,2) at half-cent boundaries.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  def dsumr(c: Column, scale: Int = 2): Column = round(dsum(c), scale)
}
