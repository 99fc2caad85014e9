package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** SQL front-end for the POINT-IN-TIME (as-of) pattern — the second half
  * of closing the gap between the operator API and what a user types at a
  * SQL prompt (the first half is [[IntervalBinRule]]). The ad-hoc SQL for
  * "latest feature at or before each probe's time" is
  *
  *   SELECT p.k, max_by(f.x, f.t), max(f.t)
  *   FROM p JOIN f ON p.entity = f.entity AND f.t <= p.t
  *   GROUP BY p.k
  *
  * whose default physical plan is a sort-merge join on `entity` alone
  * with the range conjunct as a post-join filter: every probe pairs with
  * EVERY earlier feature of its entity before the aggregate throws all
  * but one pair away — per-entity |P|x|F| work and a leakage hazard the
  * reference's tree lookup exists to avoid (tree.rs:66-94). This rule
  * re-plans the (Aggregate over Join) compound onto the engine's
  * leakage-safe windowed as-of shape, [[fillPlan]] (also the plan of
  * ops.AsOfJoin.windowed, q05/q31): tag-union features(0) and probes(1),
  * one window `last(struct(t, v...), ignoreNulls) OVER (PARTITION BY
  * entity ORDER BY t, tag ROWS UNBOUNDED PRECEDING..CURRENT ROW)`, keep
  * probe rows with a non-null fill (the inner join drops match-less
  * probes), and aggregate the FILLS — O((|P|+|F|) log) per entity, one
  * shuffle, no pair blow-up.
  *
  * Exactness:
  *  - ordering (t asc, tag asc) puts features BEFORE probes at equal t,
  *    so a fill includes the feature at exactly f.t == p.t (the `<=`);
  *  - per probe row the fill is its max-t match; a group's
  *    max_by-over-fills equals max_by-over-all-pairs because
  *    max over rows of (max over that row's matches) = max over pairs,
  *    and the same holds for max(f.t);
  *  - a null entity/t never matches in the theta join (null comparison),
  *    and never fills here (see [[fillPlan]]); a probe with no fill is
  *    dropped by the fill filter exactly as the inner join drops it.
  *  - ties: max_by across equal f.t is non-deterministic in the theta
  *    plan and window-order-dependent here — the same contract Spark
  *    documents for max_by itself.
  *
  * STRICTLY SCOPED — the rule rewrites only when ALL hold (else the plan
  * is left untouched): inner join; conjuncts = entity equalities plus
  * exactly ONE `f.t <= p.t` (either written direction); every group key
  * references the probe side only; every other output aggregate is
  * max_by(<feature-side expr>, f.t) or max(f.t) on the SAME f.t. A
  * count(*), a strict `<`, or any extra conjunct leaves Spark's plan
  * alone. Guarded like IntervalBinRule: fires only when both sides exceed
  * the broadcast threshold (a threshold of -1 lets it fire at any size).
  */
object AsOfAggRule extends Rule[LogicalPlan] with PredicateHelper {
  import JoinSides._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // column pruning usually leaves a Project between the Aggregate and
    // the Join — look through it, substituting any computed aliases back
    // into the group/aggregate expressions so the pattern sees join-level
    // expressions either way
    case agg @ Aggregate(groupExprs, aggExprs, child, _) if agg.resolved =>
      val unwrapped = child match {
        case j: Join => Some((j, Map.empty[Attribute, Expression]))
        case Project(plist, j: Join)
            if plist.forall(pe => pe.isInstanceOf[Attribute] || pe.isInstanceOf[Alias]) =>
          Some((j, plist.collect {
            case al: Alias => (al.toAttribute: Attribute) -> al.child }.toMap))
        case _ => None
      }
      unwrapped match {
        case Some((j @ Join(l, r, Inner, Some(cond), _), subst))
            if j.resolved && beyondBroadcast(l, r) =>
          def sub(e: Expression): Expression = e.transformUp {
            case a: Attribute if subst.contains(a) => subst(a)
          }
          val g = groupExprs.map(sub)
          val a = aggExprs.map(ne => sub(ne).asInstanceOf[NamedExpression])
          rewrite(agg, g, a, j, l, r, cond).getOrElse(agg)
        case _ => agg
      }
  }

  private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], j: Join, l: LogicalPlan,
      r: LogicalPlan, cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // entity equalities, and exactly one non-strict range conjunct
    val eqs = conjuncts.flatMap(equality(_, l, r)) // (leftExpr, rightExpr)
    val ranges = conjuncts.flatMap(comparison(_, l, r))
    if (eqs.isEmpty || ranges.length != 1 || ranges.head.strict ||
      conjuncts.length != eqs.length + 1) return None
    val Comparison(fT, pT, featIsLeft, _) = ranges.head
    val probeIsLeft = !featIsLeft
    val (probe, feat) = if (probeIsLeft) (l, r) else (r, l)
    // every group key on the probe side only
    if (!groupExprs.forall(_.references.subsetOf(probe.outputSet))) return None
    // orient each equality as (probe side, feature side)
    val entPairs = eqs.map { case (le, re) =>
      if (probeIsLeft) (le, re) else (re, le)
    }
    if (!entPairs.forall { case (pe, fe) =>
      pe.references.subsetOf(probe.outputSet) &&
        fe.references.subsetOf(feat.outputSet) }) return None
    // decompose output aggregates: max_by(featureExpr, fT) | max(fT) |
    // pure group expressions; anything else vetoes the rewrite
    val maxByVals = scala.collection.mutable.ArrayBuffer[Expression]()
    sealed trait Kind
    final case class FillMaxBy(idx: Int) extends Kind
    case object FillMaxT extends Kind
    val kinds: Seq[Option[(NamedExpression, Map[Expression, Kind])]] =
      aggExprs.map { ne =>
        var ok = true
        val m = scala.collection.mutable.Map[Expression, Kind]()
        ne.foreach {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case MaxBy(v, o) if o.semanticEquals(fT) && !ae.isDistinct &&
                ae.filter.isEmpty &&
                v.references.subsetOf(feat.outputSet) =>
              maxByVals += v
              m(ae) = FillMaxBy(maxByVals.length - 1)
            case Max(o) if o.semanticEquals(fT) && !ae.isDistinct &&
                ae.filter.isEmpty =>
              m(ae) = FillMaxT
            case _ => ok = false
          }
          case _ => ()
        }
        if (!ok) None
        else if (m.isEmpty &&
          !ne.references.subsetOf(probe.outputSet)) None
        else Some((ne, m.toMap))
      }
    if (kinds.exists(_.isEmpty)) return None

    val (filled, fill) = fillPlan(probe, entPairs.map(_._1), pT,
      feat, entPairs.map(_._2), fT, maxByVals.toSeq)
    val kept = Filter(IsNotNull(fill), filled)
    def fillT: Expression = GetStructField(fill, 0, Some("t"))
    def fillV(i: Int): Expression = GetStructField(fill, i + 1, Some(s"v$i"))
    // final aggregate: identical group keys and output names/exprIds;
    // max_by/max collapse onto the fills (max over rows of per-row max
    // == max over pairs). The filled struct is extracted per field, so a
    // null VALUE at the winning t stays null, exactly like the theta plan.
    val newAggExprs = aggExprs.zip(kinds).map { case (ne, k) =>
      val subst = k.get._2
      ne.transformUp {
        case ae: AggregateExpression if subst.contains(ae) =>
          subst(ae) match {
            case FillMaxBy(i) =>
              MaxBy(fillV(i), fillT).toAggregateExpression()
            case FillMaxT => Max(fillT).toAggregateExpression()
          }
      }.asInstanceOf[NamedExpression]
    }
    logInfo(s"graft: rewrote as-of aggregate (join + max_by) onto the " +
      s"windowed point-in-time plan (${entPairs.length} entity key(s), " +
      s"${maxByVals.length} filled column(s))")
    Some(Aggregate(groupExprs, newAggExprs, kept))
  }

  /** The windowed as-of plan, shared by this rule and
    * ops.AsOfJoin.windowed: the probe rows (tag 1) tag-unioned with the
    * feature rows whose keys and time are all non-null (tag 0), then
    * `last(struct(t, v0..vn), ignoreNulls)` over each entity ordered by
    * (t, tag), keeping the probe rows. The fill source is ONE struct,
    * non-null for every feature row even when a value is null, so a null
    * value at the winning t stays null (per-column fills would skip it).
    * PROBE FIRST: Union keeps the first child's exprIds, so the probe's
    * own attributes flow through to the caller unchanged.
    *
    * Returns the plan and its fill attribute: the latest feature's
    * (t, v0..vn) with f.t <= p.t (features sort before probes at equal t),
    * null where there is none. A null key or time never matches, as under
    * SQL equality: a partition holding a probe with a null key holds no
    * feature, and a probe with a null t sorts first in its partition.
    */
  private[graft] def fillPlan(probe: LogicalPlan, pKeys: Seq[Expression], pT: Expression,
      feat: LogicalPlan, fKeys: Seq[Expression], fT: Expression,
      vals: Seq[Expression]): (LogicalPlan, Attribute) = {
    val fClean = Filter((fKeys :+ fT).map(IsNotNull(_): Expression).reduce(And), feat)
    val fvStruct = CreateNamedStruct(Seq(Literal("t"), fT) ++
      vals.zipWithIndex.flatMap { case (v, i) => Seq(Literal(s"v$i"), v) })
    // union layout: [ent*, t, tag, fv-struct, probeCols*]
    val pProj = Project(pKeys.map(Alias(_, "__g_e")()) ++
      Seq(Alias(pT, "__g_t")(), Alias(Literal(1), "__g_tag")(),
        Alias(Literal(null, fvStruct.dataType), "__g_fv")()) ++ probe.output, probe)
    val fProj = Project(fKeys.map(Alias(_, "__g_e")()) ++
      Seq(Alias(fT, "__g_t")(), Alias(Literal(0), "__g_tag")(), Alias(fvStruct, "__g_fv")()) ++
      probe.output.map(a => Alias(Literal(null, a.dataType), a.name)()), fClean)
    val union = Union(Seq(pProj, fProj))
    val uo = union.output
    val (entA, tA, tagA, fvA) = (uo.take(pKeys.length), uo(pKeys.length),
      uo(pKeys.length + 1), uo(pKeys.length + 2))
    val order = Seq(SortOrder(tA, Ascending), SortOrder(tagA, Ascending))
    val spec = WindowSpecDefinition(entA, order,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val fill = Alias(WindowExpression(
      Last(fvA, ignoreNulls = true).toAggregateExpression(), spec), "__g_fill_fv")()
    (Filter(EqualTo(tagA, Literal(1)), Window(Seq(fill), entA, order, union)), fill.toAttribute)
  }
}
