package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval-union / breadth / depth aggregates
  * (reference: merge_intervals src/commands/coverage.rs:92-121, breadth sweep
  * coverage.rs:277-377, depth dedup src/commands/depth.rs:121-217).
  *
  * All pure Catalyst: the union-merge is the classic window "island" trick —
  * running max(end) over preceding rows, a new island starts where
  * start > max-so-far (touching intervals MERGE, matching coverage.rs:99
  * `s <= cur_end`), island id = running sum of breaks. One shuffle on the
  * grouping keys; window sort is reused by Catalyst across the stacked
  * window expressions.
  */
object Coverage {

  /** Total covered length + island count per `keys`.
    *
    * r6 (guide §2.4): computed WITHOUT materializing the islands — in
    * start-sorted order each interval extends the covered length by
    * `max(0, end - max(maxe, start))` (maxe = running max of preceding
    * ends; a fully-covered interval contributes 0, a partially-overlapped
    * one its uncovered suffix, an island-opener its full length), and the
    * island count is the sum of break flags. Identical values to summing
    * `e - s` over the merged islands (each island's length is exactly the
    * telescoped sum of its members' contributions), one window + ONE
    * aggregate instead of window + island-groupBy + aggregate — a full
    * shuffle less per coverage query (q08/q09/q43).
    */
  def unionLength(df: DataFrame, keys: Seq[String], startCol: String = "start",
      endCol: String = "end", orderTiebreak: Seq[String] = Nil): DataFrame = {
    val ord = (Seq(startCol, endCol) ++ orderTiebreak).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__maxe", max(col(endCol)).over(wPrev))
      .withColumn("__contrib",
        greatest(col(endCol) - greatest(coalesce(col("__maxe"), col(startCol)), col(startCol)),
          lit(0L)))
      .withColumn("__brk",
        when(col("__maxe").isNull || col(startCol) > col("__maxe"), 1L).otherwise(0L))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__contrib")).as("covered"), sum(col("__brk")).as("n_islands"))
  }

  /** Breadth per feature: union length of (probe ∩ feature) clips
    * (coverage.rs:277-377). `pairs` = an Overlap interval-join result.
    */
  def breadth(pairs: DataFrame, featKey: String, tiebreak: Seq[String]): DataFrame = {
    val clipped = pairs
      .withColumn("cs", greatest(col("p_start"), col("f_start")))
      .withColumn("ce", least(col("p_end"), col("f_end")))
    unionLength(clipped, Seq(featKey), "cs", "ce", tiebreak)
      .withColumnRenamed("covered", "breadth")
  }

  /** Depth per feature: EXACT distinct probe count (depth.rs:193-207 —
    * parity requires exact, not approx).
    */
  def depth(pairs: DataFrame, featKey: String, probeKey: String): DataFrame =
    pairs.groupBy(col(featKey)).agg(countDistinct(col(probeKey)).as("depth"))
}
