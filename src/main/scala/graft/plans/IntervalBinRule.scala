package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** SQL front-end for the interval-join family: an optimizer rule that
  * rewrites the interval-overlap THETA join pattern
  *
  *   a JOIN b ON a.entity = b.entity
  *             AND a.start < b.end AND a.end > b.start
  *
  * into the engine's binned equi-join: both sides explode into
  * fixed-width coordinate bins, the join becomes an equi-join on
  * (entity, bin), and a pair is emitted ONLY in one bin of its two bin
  * ranges' intersection — exactly-once, no dedup (proof at [[binned]]).
  * The same [[rewrite]] builds the operator API's
  * ops.IntervalJoin.binnedJoin, so SQL and API run one binned plan.
  * Registered via [[graft.functions.GraftExtensions]], so AD-HOC SQL (including the DuckDB oracle queries themselves) takes
  * the engine's physical path instead of Spark's default for this
  * pattern: a SortMergeJoin on `entity` alone with the range predicates
  * as a post-join filter — per-entity |a|x|b| pair work, the q35/q36
  * quadratic this engine exists to avoid (reference analog: the
  * index-vs-scan choice at query open, intersect.rs:104-133).
  *
  * Guarded: fires only when BOTH sides' plan stats exceed the session's
  * autoBroadcastJoinThreshold — a broadcastable side is better served by
  * Spark's own BroadcastNestedLoopJoin, and at 100 TB both sides blow the
  * threshold and the rewrite engages. Extra join conjuncts beyond the
  * recognized pattern are preserved untouched.
  */
object IntervalBinRule extends Rule[LogicalPlan] with PredicateHelper {
  import JoinSides._

  /** Bin width of the binned join when neither the caller nor
    * `spark.graft.intervalBin.size` names one. */
  val DefaultBinSize = 8192L

  /** Bin width for the rewritten equi-join. Session-tunable
    * (`spark.graft.intervalBin.size`): per-key pair work in the binned
    * SMJ grows with (rows-per-bin)^2, so the right width tracks the
    * DATA's interval lengths and coordinate span, not a constant — r6
    * measured the same q36-shaped join at 2-3x the wall clock through
    * this rule (fixed 8192) vs the operator API (1024 chosen for the
    * corpus): 16 entities x ~12 coarse bins left ~3k rows per key on
    * EACH side, ~8x the pair evaluations of the 1024-bin layout.
    * Correctness is width-independent (the emit-once proof holds for any
    * positive width); only the work shape changes.
    */
  private def binSize: Long = {
    val size = conf.getConfString("spark.graft.intervalBin.size", DefaultBinSize.toString)
    size.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"spark.graft.intervalBin.size must be a positive integer, got '$size'"))
  }

  private def toLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** child + Generate(explode(sequence(from, to))) -> bin attr. */
  private def withBins(child: LogicalPlan, from: Expression, to: Expression)
      : (LogicalPlan, Attribute) = {
    // Sequence is TimeZoneAwareExpression: without an explicit zone the
    // node stays unresolved and the optimizer rejects the rewritten plan
    val seq = new Sequence(from, to).withTimeZone(conf.sessionLocalTimeZone)
    // explode over a sequence of longs never yields a null: a nullable
    // attribute would only add isnotnull(bin) filters under the join
    val binAttr = AttributeReference("__graft_bin", LongType, nullable = false)()
    (Generate(Explode(seq), Nil, outer = false, None, Seq(binAttr), child), binAttr)
  }

  /** Session override `spark.graft.intervalBin.force=1` bypasses the
    * broadcastability guard — the only reliable way to exercise the
    * engine path at fixture scale from a QUERY (q53): the guard reads
    * plan stats lazily at each optimization, and wrappers like
    * `.coalesce(1).write` or a checksum agg re-optimize the plan later,
    * when any temporary autoBroadcastJoinThreshold juggling has been
    * restored. At 100 TB the stats guard engages by itself.
    */
  private def forced: Boolean =
    conf.getConfString("spark.graft.intervalBin.force", "0") == "1"

  /** The rewritten join is FORCED to a shuffle-merge join. A broadcast
    * plan leaves the pair-predicate work on the streamed side's scan
    * partitions — ONE task for a single-row-group parquet file (76 s for
    * q36 at sf0.1). And the binned
    * equi-join has FEW distinct keys (entities x coordinate-bins) with
    * thousands of rows per key, and a broadcast-hash plan walks the hashed
    * relation's duplicate chain per streamed row — random access per
    * candidate pair (measured 539 s on the q53 join at sf0.1, where the
    * sort-merge plan's sequential buffered-run iteration takes 16 s, 33x).
    * At the design scale both sides blow the broadcast threshold anyway;
    * the hint only closes the mid-scale window where the planner would
    * still pick broadcast. A user-supplied strategy hint wins.
    */
  private def shuffleMerge(h: JoinHint): JoinHint = {
    def f(o: Option[HintInfo]): Option[HintInfo] = o match {
      case Some(hi) if hi.strategy.isDefined => o
      case Some(hi) => Some(hi.copy(strategy = Some(SHUFFLE_MERGE)))
      case None => Some(HintInfo(strategy = Some(SHUFFLE_MERGE)))
    }
    if (h.leftHint.exists(_.strategy.isDefined) ||
        h.rightHint.exists(_.strategy.isDefined)) h
    else JoinHint(f(h.leftHint), f(h.rightHint))
  }

  /** Plans this rule must leave alone: binned joins, its own SQL rewrites
    * and the operator API's alike (`__graft_bin`). Once filter pushdown
    * folds a mode predicate into a binned (entity, bin) equi-join, the
    * condition matches this rule's patterns, and re-binning an
    * already-binned join adds useless layers until the optimizer crawls —
    * observed as a 20-minute ColumnPruning stall on q35's two-join
    * pipeline with the q53/q55 force flag set. The marker column is
    * REFERENCED by the join condition, so column pruning cannot strip it
    * (the lesson of the retired `__graft_nobin` residue marker, which
    * nothing referenced).
    */
  private def marker(p: LogicalPlan): Boolean = p.output.exists(_.name == "__graft_bin")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // read once per pass, and only once a join is rewritten
    lazy val width = binSize
    plan.transformUp {
      case j @ Join(l, r, Inner, Some(_), _)
          if j.resolved &&
            (forced || beyondBroadcast(l, r)) &&
            !marker(l) && !marker(r) => // already rewritten
        rewrite(j, width)
    }
  }

  /** The overlap or containment rewrite of a resolved inner join at bin
    * width `width` (evaluated once, when a pattern matches); any other
    * join comes back unchanged.
    */
  private[graft] def rewrite(j: Join, width: => Long): LogicalPlan = j match {
    case Join(l, r, Inner, Some(cond), hint) =>
      lazy val bin = {
        val w = width
        // the emit-once proof needs a positive width; 0 divides by zero
        require(w > 0, s"spark.graft.intervalBin.size must be positive, got $w")
        Literal(w, LongType)
      }
      val conjuncts = splitConjunctivePredicates(cond)
      val eqs = conjuncts.filter(equality(_, l, r).isDefined)
      val (strict, loose) = conjuncts.flatMap(comparison(_, l, r)).partition(_.strict)
      // the overlap pattern: two strict comparisons facing opposite
      // sides, the first of each in conjunct order
      (strict.find(_.smallIsLeft), strict.find(!_.smallIsLeft)) match {
        case _ if eqs.isEmpty => j
        case (Some(lr), Some(rl)) => // lr: lStart < rEnd, rl: rStart < lEnd
          binned(j, conjuncts, eqs, bin, (lr.small, rl.big), (rl.small, lr.big))
        case _ =>
          containment(loose) match {
            case Some((lSpan, rSpan)) => binned(j, conjuncts, eqs, bin, lSpan, rSpan)
            case None => j
          }
      }
    case _ => j
  }

  /** Detect the CONTAINMENT pattern (VERDICT r4 #5 — Contained /
    * ContainsRegion-shaped SQL) among the non-strict comparisons `loose`:
    *
    *   outer.lo <= inner.lo  AND  inner.hi <= outer.hi
    *
    * with the two inner expressions on one side of the join and the two
    * outer expressions on the other (either side may be the inner one —
    * `p contained-in f` and `f contains p` are the same shape with roles
    * swapped). Returns the left side's (lo, hi) and the right side's.
    */
  private def containment(loose: Seq[Comparison])
      : Option[((Expression, Expression), (Expression, Expression))] =
    (for {
      lo <- loose.view  // outer.lo <= inner.lo
      hi <- loose.view  // inner.hi <= outer.hi, inner on lo's big side
      if lo.smallIsLeft != hi.smallIsLeft
    } yield {
      val (inner, outer) = ((lo.big, hi.small), (lo.small, hi.big))
      if (lo.smallIsLeft) (outer, inner) else (inner, outer)
    }).headOption

  /** The binned equi-join of `j`'s two sides, each with its (lo, hi)
    * coordinates: both explode over `sequence(lo div B, (hi-1) div B)`,
    * the join keeps the entity equalities `eqs` plus bin equality plus
    * every original conjunct, and a pair is emitted only in the bin
    * `greatest(lower(L), lower(R))`, where lower(X) = least(lo div B,
    * (hi-1) div B) is the low end of X's bin range.
    *
    * EXACTLY ONCE, for every row shape. Spark's `sequence(a, b)` steps
    * DOWNWARD when a > b, so a side emits each bin of the contiguous range
    * [lower(X), upper(X)] exactly once, with upper(X) = max(lo div B,
    * (hi-1) div B) — ascending for a well-formed interval (lo < hi), the
    * reversed span for an empty or inverted one. Both patterns bound each
    * side's lower end by the other side's upper end (truncating `div` is
    * monotone for B > 0):
    *   - overlap (lo_l < hi_r, lo_r < hi_l): lower(L) <= lo_l div B <=
    *     (hi_r-1) div B <= upper(R), and symmetrically for R;
    *   - containment (inner.lo >= outer.lo, inner.hi <= outer.hi):
    *     lower(I) <= (hi_i-1) div B <= (hi_o-1) div B <= upper(O), and
    *     lower(O) <= lo_o div B <= lo_i div B <= upper(I).
    * So the two ranges intersect, and the greater of their low ends lies
    * in both ([a1,b1] and [a2,b2] with a1<=b2 and a2<=b1 share max(a1,a2)):
    * the bin equality meets it for exactly one (bin_l, bin_r). Candidate
    * pairs the predicate rejects fail the kept conjuncts, and a null
    * coordinate emits no bins (Generate, outer=false), matching the theta
    * join where a null comparison is never true. For well-formed overlap
    * pairs the emit bin is the familiar greatest(starts) div B.
    *
    * WHY one join and no residue branch for degenerate rows (an earlier
    * design): its `__graft_nobin` guard column was referenced by nothing,
    * so ColumnPruning stripped it each optimizer iteration and this rule
    * re-matched its own residue to fixed point — q55's physical plan grew
    * to 1547 nodes (~30 duplicated scan+join branches, 31 s where the
    * overlap twin took 4 s). A single join with a complete emit-once proof
    * has nothing to re-match: its children carry `__graft_bin`, which the
    * join condition references, so pruning keeps it.
    *
    * Scale note: a degenerate interval's reversed span explodes into
    * |lo - hi| / B bins — the same hazard class as an extreme well-formed
    * span, inherent to fixed-width binning.
    */
  private def binned(j: Join, conjuncts: Seq[Expression], eqs: Seq[Expression], b: Literal,
      lSpan: (Expression, Expression), rSpan: (Expression, Expression)): LogicalPlan = {
    // (lo div B, (hi-1) div B): a side's first and last bin
    def ends(span: (Expression, Expression)) = (IntegralDivide(toLong(span._1), b),
      IntegralDivide(Subtract(toLong(span._2), Literal(1L, LongType)), b))
    val (l0, l1) = ends(lSpan)
    val (r0, r1) = ends(rSpan)
    val (lGen, lBin) = withBins(j.left, l0, l1)
    val (rGen, rBin) = withBins(j.right, r0, r1)
    val emitOnce = EqualTo(Greatest(Seq(Least(Seq(l0, l1)), Least(Seq(r0, r1)))), lBin)
    val newCond = (eqs :+ EqualTo(lBin, rBin)) ++ conjuncts.filterNot(eqs.contains) :+ emitOnce
    logInfo(s"graft: rewrote interval theta join to (entity, bin) equi-join " +
      s"(bin=${b.value}, ${eqs.length} entity key(s))")
    Project(j.output, Join(lGen, rGen, Inner, Some(newCond.reduce(And)), shuffleMerge(j.hint)))
  }
}
