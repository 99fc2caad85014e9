package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Point-in-time (as-of) join: for each probe (entity, t), the latest
  * feature row of that entity with t' <= t — STRICT bound, zero temporal
  * leakage by construction (reference: closed point-containment probe,
  * src/utils/tree.rs:66-94, reinterpreted per BASELINE.json north_rule).
  *
  * Column convention: probes carry (`entity`, `t`, payload...); feats carry
  * (`entity`, `t`, values...). Output: probe columns + `f_t` (matched
  * feature time, null if none) + feature value columns (null if none).
  *
  * Two physical paths:
  *  1. [[windowed]] — tag-union + `last(struct, ignoreNulls)` over an
  *     (entity, t)-ordered frame `rowsBetween(unboundedPreceding, 0)`.
  *     Pure Catalyst: one shuffle on entity, whole-stage codegen, scales by
  *     entity cardinality; the frame bound IS the leakage guarantee.
  *  2. broadcast ([[join]] with a provably small feature side): broadcast
  *     per-entity time-sorted arrays, binary-search per probe, zero shuffle.
  *     Like [[windowed]], it pairs a null entity with null-entity features.
  */
object AsOfJoin {

  /** Pure-Catalyst union-window as-of merge. Feature rows sort BEFORE probe
    * rows at equal t (tag 0 < 1), so t' == t is visible — the `<=` bound.
    * If multiple feature rows share (entity, t), the one with the largest
    * `tiebreak` column wins deterministically.
    */
  def windowed(probes: DataFrame, feats: DataFrame, tiebreak: Option[String] = None): DataFrame = {
    val pPay = probes.columns.filterNot(Set("entity", "t"))
    val fVal = feats.columns.filterNot(Set("entity", "t"))
    val fStruct = struct((col("t").as("f_t") +: fVal.map(col)): _*)
    val tb = tiebreak.map(col).getOrElse(lit(0L))
    val fu = feats.select(col("entity"), col("t"), lit(0).as("__tag"),
      tb.cast("long").as("__tb"), fStruct.as("__fv"),
      lit(null).cast(StructType(probes.schema.fields.filter(f => pPay.contains(f.name)))).as("__pv"))
    val pu = probes.select(col("entity"), col("t"), lit(1).as("__tag"), lit(0L).as("__tb"),
      lit(null).cast(fu.schema("__fv").dataType).as("__fv"),
      struct(pPay.map(col): _*).as("__pv"))
    val w = Window.partitionBy(col("entity"))
      .orderBy(col("t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, 0)
    fu.unionByName(pu)
      .withColumn("__last", last(col("__fv"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select((Seq(col("entity"), col("t")) ++ pPay.map(n => col("__pv").getField(n).as(n)) ++
        Seq(col("__last").getField("f_t").as("f_t")) ++
        fVal.map(n => col("__last").getField(n).as(n))): _*)
  }

  /** Auto path (same decision as IntervalJoin.join): broadcast the feature
    * side iff it is PROVABLY small — plan-statistics prefilter, then
    * [[BroadcastSide.withinCap]] (the plan's row bound, else one bounded
    * count) — else the windowed merge. At 100 TB the feature side blows the
    * stats ceiling and the join stays windowed (one shuffle, zero driver
    * traffic).
    */
  def join(probes: DataFrame, feats: DataFrame, tiebreak: Option[String] = None): DataFrame = {
    // the broadcast path has no tiebreak semantics knob; only take it when
    // the default (latest by time, any-dup) semantics were requested.
    if (tiebreak.isEmpty && BroadcastSide.planBytes(feats) <= BroadcastSide.MaxPlanBytes &&
        BroadcastSide.withinCap(feats))
      broadcastChecked(probes, feats)
    else windowed(probes, feats, tiebreak)
  }

  /** Broadcast as-of through [[BroadcastSide.join]] (row cap proven by
    * [[join]]): features time-sorted per entity; each probe binary-searches
    * the greatest t' <= t and gets (f_t, values...), all null on a miss.
    */
  private def broadcastChecked(probes: DataFrame, feats: DataFrame): DataFrame = {
    val fVal = feats.columns.filterNot(Set("entity", "t"))
    val f = feats.select((Seq(col("entity"), col("t")) ++ fVal.map(col)): _*)
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
        val t = pr.getLong(pT)
        // greatest index with ts(i) <= t
        var lo = 0; var hi = ts.length - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (ts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
        }
        if (ans < 0) Iterator.empty else Iterator.single(rows(order(ans)))
    }
  }
}
