package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-exact numeric helpers.
  *
  * Cross-engine hash-equality demands bit-identical doubles. Per-row
  * IEEE arithmetic is deterministic across engines, but multi-row
  * double summation is order-dependent (Spark partial aggregation vs
  * DuckDB sequential). We therefore sum money-like doubles as scaled
  * integers: round per row (deterministic, identical in both engines),
  * sum exactly as BIGINT, divide once at the end (single deterministic
  * op). Mirrors the reference's own integer length-normalization idiom
  * (reference bin/interpersonaldiversity.R:41-42 `round(1e7*count/len)`).
  */
object ExactNum {
  /** Per-row scaled-integer view of a money/score column. */
  def scaled(c: Column, scale: Long): Column =
    round(c * scale.toDouble, 0).cast("long")

  /** Order-independent exact sum of a double column with `dp` decimal
    * digits of real precision; returns a double.
    * SQL twin: `sum(CAST(round(x * S, 0) AS BIGINT)) / S.0`
    */
  def exactSum(c: Column, dp: Int): Column = {
    val s = math.pow(10, dp).toLong
    sum(scaled(c, s)) / s.toDouble
  }

  /** Exact sum for integral-valued doubles (e.g. l_quantity). */
  def intSum(c: Column): Column = sum(c.cast("long"))
}
