package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tie-broken mode-per-group — the reference's signature operator (A4/W1,
  * used twice to pick the most-frequent trip length / stop count per route,
  * `src/queries.py:22-35` and `:45-58`). The reference SQL formulates it
  * as count per (group, value) + `row_number() OVER (ORDER BY count DESC,
  * value DESC)`; the *semantics* — "most frequent value, ties broken by
  * largest value" — are exactly `max` over the pair (freq, value) under
  * lexicographic struct ordering, so the Spark plan needs no window, no
  * sort and no rank filter at all.
  *
  * Scale shape: two partial+final aggregation pairs, no window.
  *   1. `groupBy(group, value).count()` — a true HashAggregate (long
  *      buffer), shuffles only the distinct (group,value) pairs, which is
  *      usually orders of magnitude smaller than the input;
  *   2. `groupBy(group).agg(max(struct(freq, value)))` over that already
  *      aggregated frame — plans as a SortAggregate pair (a struct
  *      buffer is not fixed-width, so hash aggregation cannot apply),
  *      but on the tiny distinct-pair frame, sorted only by group key
  *      within partitions.
  * At 100 TB the expensive exchange is step 1's, and Spark's partial
  * aggregation keeps it proportional to distinct pairs, not rows; step 2
  * reduces per group to ONE struct, where the window formulation would
  * range-sort every raw (group, value) row. Spark's built-in `mode()`
  * (3.4+) lacks the deterministic value-desc tie-break, hence the
  * explicit max-struct.
  */
object ModeAgg {

  /** `modeOf(df, groupCols, valueCol)` → one row per group:
    * (groupCols*, valueCol = the most frequent value, ties → largest). */
  def modeOf(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val counted = df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__freq"))
    counted
      .groupBy(groupCols.map(col): _*)
      .agg(max(struct(col("__freq"), col(valueCol))).as("__m"))
      .select((groupCols.map(col) :+
        col(s"__m.$valueCol").as(valueCol)): _*)
  }

  /** Generic deterministic top-k per group (O3 generalized): rank rows by
    * `ordering` within each group, keep the first k. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   ordering: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
