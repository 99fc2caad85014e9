package graft.ops

import graft.plans.AsOfAggRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Point-in-time (as-of) join: for each probe (entity, t), the latest
  * feature row of that entity with t' <= t — STRICT bound, zero temporal
  * leakage by construction (reference: closed point-containment probe,
  * src/utils/tree.rs:66-94, reinterpreted per BASELINE.json north_rule).
  *
  * Column convention: probes carry `entity`, `t` and payload columns in
  * any order; feats carry (`entity`, `t`, values...). Output: the probe's
  * columns in their own order + `f_t` (matched feature time, null if none)
  * + feature value columns (null if none). A null entity or a null time
  * never matches (SQL equality, as in DuckDB's ASOF join).
  *
  * Two physical paths:
  *  1. [[windowed]] — AsOfAggRule's fill plan: the latest feature struct
  *     over an (entity, t)-ordered frame up to the probe's own row. Pure
  *     Catalyst: one shuffle on entity, whole-stage codegen, scales by
  *     entity cardinality; the frame bound IS the leakage guarantee.
  *  2. broadcast ([[join]] with a provably small feature side): broadcast
  *     per-entity time-sorted arrays, binary-search per probe, zero shuffle.
  */
object AsOfJoin {

  /** Pure-Catalyst union-window as-of merge. Feature rows sort BEFORE probe
    * rows at equal t, so t' == t is visible — the `<=` bound. Among feature
    * rows sharing (entity, t) the pick is unspecified.
    */
  def windowed(probes: DataFrame, feats: DataFrame): DataFrame = {
    val p = probes.queryExecution.analyzed
    val f = feats.queryExecution.analyzed
    def named(plan: LogicalPlan, n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"as-of input has no column `$n`: ${plan.output}"))
    val fVal = f.output.filterNot(a => a.name == "entity" || a.name == "t")
    val (plan, fill) = AsOfAggRule.fillPlan(p, Seq(named(p, "entity")), named(p, "t"),
      f, Seq(named(f, "entity")), named(f, "t"), fVal)
    val out = p.output ++ (Alias(GetStructField(fill, 0), "f_t")() +:
      fVal.zipWithIndex.map { case (a, i) => Alias(GetStructField(fill, i + 1), a.name)() })
    Bridge.dataFrame(probes.sparkSession, Project(out, plan))
  }

  /** Auto path (same decision as IntervalJoin.join): broadcast the feature
    * side iff it is PROVABLY small — plan-statistics prefilter, then
    * [[BroadcastSide.withinCap]] (the plan's row bound, else one bounded
    * count) — else the windowed merge. At 100 TB the feature side blows the
    * stats ceiling and the join stays windowed (one shuffle, zero driver
    * traffic).
    */
  def join(probes: DataFrame, feats: DataFrame): DataFrame =
    if (BroadcastSide.planBytes(feats) <= BroadcastSide.MaxPlanBytes && BroadcastSide.withinCap(feats))
      broadcastChecked(probes, feats)
    else windowed(probes, feats)

  /** Greatest i with `ts(i) <= t` in the ascending `ts`, or -1. */
  private[graft] def lastAtOrBefore(ts: Array[Long], t: Long): Int = {
    var lo = 0; var hi = ts.length - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
    }
    ans
  }

  /** Broadcast as-of through [[BroadcastSide.join]] (row cap proven by
    * [[join]]): features with a non-null entity and time, time-sorted per
    * entity; each probe binary-searches the greatest t' <= t and gets
    * (f_t, values...), all null on a miss or a null t.
    */
  private def broadcastChecked(probes: DataFrame, feats: DataFrame): DataFrame = {
    val fVal = feats.columns.filterNot(Set("entity", "t"))
    val f = feats.where(col("entity").isNotNull && col("t").isNotNull)
      .select((Seq(col("entity"), col("t")) ++ fVal.map(col)): _*)
    val pFields = probes.schema.fields
    val fFields = f.schema.fields
    // probe key ordinals resolved by name: the probe frame may carry
    // payload columns before `entity` and `t`
    val pT = probes.schema.fieldIndex("t")
    val schema = StructType(pFields ++
      (StructField("f_t", LongType, nullable = true) +: fFields.drop(2).map(_.copy(nullable = true))))
    // JoinedRow layout: (probe row, feature row); feature's entity dropped
    val out =
      pFields.indices.map(i => BoundReference(i, pFields(i).dataType, pFields(i).nullable)) ++
        (1 until fFields.length).map(j =>
          BoundReference(pFields.length + j, fFields(j).dataType, nullable = true))
    BroadcastSide.join(probes, probes.schema.fieldIndex("entity"), f, out, schema, nullOnMiss = true)(
      (rows, is) => {
        val sorted = is.sortBy(i => (rows(i).getLong(1), i.toLong)).toArray
        (sorted.map(i => rows(i).getLong(1)), sorted)
      }) {
      case (pr, (ts, order), rows) =>
        val at = if (pr.isNullAt(pT)) -1 else lastAtOrBefore(ts, pr.getLong(pT))
        if (at < 0) Iterator.empty else Iterator.single(rows(order(at)))
    }
  }
}
