package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL front-end for the interval-join family: an optimizer rule that
  * rewrites the interval-overlap THETA join pattern
  *
  *   a JOIN b ON a.entity = b.entity
  *             AND a.start < b.end AND a.end > b.start
  *
  * into the engine's binned equi-join (ops.IntervalJoin.binnedJoin's plan
  * shape, built directly in the logical algebra): both sides explode into
  * fixed-width coordinate bins, the join becomes an equi-join on
  * (entity, bin), and a pair is emitted ONLY in its intersection-start
  * bin — exactly-once, no dedup. Registered via [[graft.functions.GraftExtensions]],
  * so AD-HOC SQL (including the DuckDB oracle queries themselves) takes
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
  def BinSize: Long = {
    val size =
      try conf.getConfString("spark.graft.intervalBin.size", "8192").toLong
      catch { case _: NumberFormatException => 8192L }
    // the emit-once proof above needs a positive width; 0 divides by zero
    require(size > 0, s"spark.graft.intervalBin.size must be positive, got $size")
    size
  }

  private def toLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** Which side of the join an expression's references live on entirely:
    * Some(true)=left, Some(false)=right, None=mixed/neither.
    */
  private def sideOf(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(l.outputSet)) Some(true)
    else if (refs.subsetOf(r.outputSet)) Some(false)
    else None
  }

  private def isCoord(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** Normalized strict inequality: (leftSideExpr, rightSideExpr, leftIsLess). */
  private def normalize(c: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Boolean)] = c match {
    case LessThan(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
      case (Some(true), Some(false)) if isCoord(a) && isCoord(b) => Some((a, b, true))
      case (Some(false), Some(true)) if isCoord(a) && isCoord(b) => Some((b, a, false))
      case _ => None
    }
    case GreaterThan(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
      case (Some(true), Some(false)) if isCoord(a) && isCoord(b) => Some((a, b, false))
      case (Some(false), Some(true)) if isCoord(a) && isCoord(b) => Some((b, a, true))
      case _ => None
    }
    case _ => None
  }

  /** Normalized NON-STRICT inequality `big >= small` with each expression
    * entirely on one side: (bigExpr, smallExpr, bigIsLeft). Feeds the
    * containment pattern (Contained / ContainsRegion-shaped SQL).
    */
  private def normalizeGe(c: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Boolean)] = c match {
    case GreaterThanOrEqual(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
      case (Some(x), Some(y)) if x != y && isCoord(a) && isCoord(b) => Some((a, b, x))
      case _ => None
    }
    case LessThanOrEqual(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
      case (Some(x), Some(y)) if x != y && isCoord(a) && isCoord(b) => Some((b, a, y))
      case _ => None
    }
    case _ => None
  }

  /** child + Generate(explode(sequence(s div B, (e-1) div B))) -> bin attr. */
  private def withBins(child: LogicalPlan, s: Expression, e: Expression)
      : (LogicalPlan, Attribute) = {
    val b = Literal(BinSize, LongType)
    // Sequence is TimeZoneAwareExpression: without an explicit zone the
    // node stays unresolved and the optimizer rejects the rewritten plan
    val seq = new Sequence(
      IntegralDivide(toLong(s), b),
      IntegralDivide(Subtract(toLong(e), Literal(1L, LongType)), b))
      .withTimeZone(conf.sessionLocalTimeZone)
    val binAttr = AttributeReference("__graft_bin", LongType, nullable = true)()
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

  /** The rewritten join is FORCED to a shuffle-merge join — the same
    * contract as ops.IntervalJoin.binnedJoin's hint("shuffle_merge"), for
    * the same reason, re-measured on this rule's own output: the binned
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

  /** Plans this rule must leave alone: its own rewrites (`__graft_bin`)
    * and the engine's OWN binned kernels (`__bin` — ops.IntervalJoin):
    * once filter pushdown folds the kernel's mode predicate into its
    * (entity, __bin) equi-join, the condition matches this rule's
    * patterns, and re-binning an already-binned join adds useless layers
    * until the optimizer crawls — observed as a 20-minute ColumnPruning
    * stall on q35's two-join pipeline with the q53/q55 force flag set.
    * Both marker columns are REFERENCED by their join conditions, so
    * column pruning cannot strip them (the lesson of the retired
    * `__graft_nobin` residue marker, which nothing referenced). A user
    * column literally named `__bin` is an accepted blind spot
    * (documented here).
    */
  private def marker(p: LogicalPlan): Boolean =
    p.output.exists(a => a.name == "__graft_bin" || a.name == "__bin")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint)
        if j.resolved &&
          (forced ||
            (l.stats.sizeInBytes > conf.autoBroadcastJoinThreshold &&
              r.stats.sizeInBytes > conf.autoBroadcastJoinThreshold)) &&
          !marker(l) && !marker(r) => // already rewritten / residue branch
      val conjuncts = splitConjunctivePredicates(cond)
      val eqs = conjuncts.filter {
        case EqualTo(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
        case _ => false
      }
      val ranges: Seq[(Expression, (Expression, Expression, Boolean))] =
        conjuncts.flatMap(c => normalize(c, l, r).map(n => (c, n)))
      val less = ranges.collectFirst {
        case (c, (a, b, isLess)) if isLess => (c, a, b) }
      val greater = ranges.collectFirst {
        case (c, (a, b, isLess)) if !isLess => (c, a, b) }
      (less, greater) match {
        case (Some((cLess, lStart, rEnd)), Some((cGreater, lEnd, rStart)))
            if eqs.nonEmpty && cLess != cGreater =>
          // a.start < b.end AND a.end > b.start with an entity equality:
          // the overlap pattern. Bin both sides on their own (start, end).
          val (lGen, lBin) = withBins(l, lStart, lEnd)
          val (rGen, rBin) = withBins(r, rStart, rEnd)
          val emitOnce = EqualTo(
            IntegralDivide(Greatest(Seq(toLong(lStart), toLong(rStart))),
              Literal(BinSize, LongType)),
            lBin)
          val newCond = (eqs :+ EqualTo(lBin, rBin)) ++
            conjuncts.filterNot(eqs.contains) :+ emitOnce
          logInfo(s"graft: rewrote interval theta join to (entity, bin) equi-join " +
            s"(bin=$BinSize, ${eqs.length} entity key(s))")
          Project(j.output, Join(lGen, rGen, Inner,
            Some(newCond.reduce(And)), shuffleMerge(hint)))
        case _ if eqs.nonEmpty =>
          containment(conjuncts, l, r) match {
            case Some((iLo, iHi, oLo, oHi, innerIsLeft)) =>
              rewriteContainment(j, l, r, hint, cond, conjuncts, eqs,
                iLo, iHi, oLo, oHi, innerIsLeft)
            case None => j
          }
        case _ => j
      }
  }

  /** Detect the CONTAINMENT pattern (VERDICT r4 #5 — Contained /
    * ContainsRegion-shaped SQL): two non-strict conjuncts
    *
    *   inner.lo >= outer.lo  AND  inner.hi <= outer.hi
    *
    * with the two inner expressions on one side of the join and the two
    * outer expressions on the other (either side may be the inner one —
    * `p contained-in f` and `f contains p` are the same shape with roles
    * swapped). Returns (innerLo, innerHi, outerLo, outerHi, innerIsLeft).
    */
  private def containment(conjuncts: Seq[Expression], l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression, Boolean)] = {
    val ges = conjuncts.flatMap(c => normalizeGe(c, l, r).map(n => (c, n)))
    (for {
      (c1, (iLo, oLo, s1)) <- ges.view  // c1: inner.lo >= outer.lo (big on s1)
      (c2, (oHi, iHi, s2)) <- ges.view  // c2: outer.hi >= inner.hi (big on s2)
      if (c1 ne c2) && s1 != s2
    } yield (iLo, iHi, oLo, oHi, s1)).headOption
  }

  /** Containment -> ONE binned equi-join, exactly-once for EVERY row
    * shape, degenerate intervals included — no residue branch.
    *
    * Each side explodes over `sequence(lo div B, (hi-1) div B)`. Spark's
    * `sequence(a, b)` steps DOWNWARD when a > b, so the bins emitted are
    * always the contiguous range [min(loB, hi1B), max(loB, hi1B)] (where
    * xB = x div B, hi1B = (hi-1) div B), each bin exactly once — for a
    * well-formed interval (lo < hi) that is the ascending [loB, hi1B]; for
    * a degenerate one (lo >= hi: empty/inverted) it is the reversed span.
    *
    * EXACTLY-ONCE emit bin: a pair is emitted only where the inner side's
    * bin equals `greatest(innerLower, outerLower)` with
    * innerLower = least(iLoB, iHi1B), outerLower = least(oLoB, oHi1B) —
    * the lower end of the bin-range INTERSECTION. It lies in BOTH ranges
    * for every pair satisfying the raw predicates: from iLo >= oLo and
    * iHi <= oHi,
    *   - inner's upper end max(iLoB, iHi1B) >= iLoB >= oLoB >= outerLower,
    *   - outer's upper end max(oLoB, oHi1B) >= oHi1B >= iHi1B >= innerLower,
    * so the two ranges overlap and the greatest of their lower ends is in
    * both ([a1,b1] and [a2,b2] with a1<=b2 and a2<=b1 share max(a1,a2)).
    * For the normal well-formed case this reduces to the familiar
    * intersection-start bin `iLo div B` (iLo >= oLo makes it the max).
    * Both sequences are duplicate-free, so at most one (iBin, oBin)
    * combination satisfies it: exactly-once, no dedup. The original
    * conjuncts are preserved, so candidate pairs never produce false rows;
    * null coordinates emit no bins (Generate, outer=false), matching the
    * theta join where a null comparison is never true.
    *
    * WHY not a residue branch for degenerate rows (the first round-5
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
    * span in the overlap rewrite, inherent to fixed-width binning.
    */
  private def rewriteContainment(j: Join, l: LogicalPlan, r: LogicalPlan,
      hint: JoinHint, cond: Expression, conjuncts: Seq[Expression],
      eqs: Seq[Expression], iLo: Expression, iHi: Expression,
      oLo: Expression, oHi: Expression, innerIsLeft: Boolean): LogicalPlan = {
    val inner = if (innerIsLeft) l else r
    val (iGen, iBin) = withBins(inner, iLo, iHi)
    val (oGen, oBin) = withBins(if (innerIsLeft) r else l, oLo, oHi)
    val b = Literal(BinSize, LongType)
    def binOf(e: Expression) = IntegralDivide(toLong(e), b)
    def binOfHi(e: Expression) =
      IntegralDivide(Subtract(toLong(e), Literal(1L, LongType)), b)
    val innerLower = Least(Seq(binOf(iLo), binOfHi(iHi)))
    val outerLower = Least(Seq(binOf(oLo), binOfHi(oHi)))
    val emitOnce = EqualTo(Greatest(Seq(innerLower, outerLower)), iBin)
    val newCond = (eqs :+ EqualTo(iBin, oBin)) ++
      conjuncts.filterNot(eqs.contains) :+ emitOnce
    val binned =
      if (innerIsLeft) Join(iGen, oGen, Inner, Some(newCond.reduce(And)), shuffleMerge(hint))
      else Join(oGen, iGen, Inner, Some(newCond.reduce(And)), shuffleMerge(hint))
    logInfo(s"graft: rewrote containment theta join to (entity, bin) equi-join " +
      s"(bin=$BinSize, ${eqs.length} entity key(s), inner=${if (innerIsLeft) "left" else "right"})")
    Project(j.output, binned)
  }
}
