package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic ranking / argmax operators.
  *
  * The reference picks "the value paired with the max" with
  * `agg(max(cnt), first(v))` (reference README.md:460,489,521,568) which
  * is order-dependent in Spark. The declared semantic (SURVEY.md §2.4
  * A3/A4) is a total-order argmax: max by the measure, ties broken by an
  * ascending secondary key, so results are reproducible and
  * oracle-comparable.
  *
  * Physical shape: a single window pass — one shuffle on the partition
  * keys — instead of the reference's two-phase groupBy+join-back (two
  * shuffles, README.md:509-521). At 100 TB this halves the largest
  * shuffle; skew on hot group keys is handled by AQE.
  */
object Ranking {

  /** Keep the top `n` rows per group under `order` (a full tie-broken
    * ordering — pass every tie-break key explicitly).
    */
  def topPerGroup(df: DataFrame, partitionBy: Seq[Column], order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Per-group argmax of `measure`, ties → ascending `tieBreak`. */
  def argmax(df: DataFrame, partitionBy: Seq[Column], measure: Column, tieBreak: Column): DataFrame =
    topPerGroup(df, partitionBy, Seq(measure.desc, tieBreak.asc), 1)

  /** Total order for a SMALL result: `coalesce(1)` then `orderBy`, so
    * the sort runs in one task and needs no range-sampling job and no
    * range exchange (a single partition already satisfies any ordering
    * requirement). Bound it relies on: every caller's input is already
    * an argmax per group (one row per country / year / age range, after
    * `WindowGroupLimit`) or a per-year count — a few hundred rows at
    * most reach the single task. Never use it on a corpus-grain input.
    */
  def ordered(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).orderBy(order: _*)

  /** Global argmax (A4): single row with the max measure, deterministic
    * tie-break. Planned as TakeOrderedAndProject — no full sort.
    */
  def argmaxGlobal(df: DataFrame, measure: Column, tieBreak: Column): DataFrame =
    df.orderBy(measure.desc, tieBreak.asc).limit(1)
}
