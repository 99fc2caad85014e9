package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Join-condition readers of the SQL rewrite rules. */
private[plans] object JoinSides {

  /** A coordinate comparison `small < big` (`strict`) or `small <= big`
    * between the two sides of a join; `smallIsLeft` names the side of
    * `small`, and `big` lies on the other. */
  final case class Comparison(small: Expression, big: Expression, smallIsLeft: Boolean,
      strict: Boolean)

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

  /** `c` read as a comparison of two integer coordinates, one from each
    * side, written in either direction. */
  def comparison(c: Expression, l: LogicalPlan, r: LogicalPlan): Option[Comparison] = {
    val (small, big, strict) = c match {
      case LessThan(a, b) => (a, b, true)
      case GreaterThan(a, b) => (b, a, true)
      case LessThanOrEqual(a, b) => (a, b, false)
      case GreaterThanOrEqual(a, b) => (b, a, false)
      case _ => return None
    }
    (sideOf(small, l, r), sideOf(big, l, r)) match {
      case (Some(x), Some(y)) if x != y && isCoord(small) && isCoord(big) =>
        Some(Comparison(small, big, x, strict))
      case _ => None
    }
  }

  /** `c` read as an equality between the two sides: its (left, right)
    * expressions. */
  def equality(c: Expression, l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    c match {
      case EqualTo(a, b) => (sideOf(a, l, r), sideOf(b, l, r)) match {
        case (Some(x), Some(y)) if x != y => Some(if (x) (a, b) else (b, a))
        case _ => None
      }
      case _ => None
    }

  /** Both sides' plan statistics exceed the session's broadcast threshold
    * (any side does at a threshold of -1): the guard of both rules, which
    * leave a broadcastable side to Spark's own broadcast joins. */
  def beyondBroadcast(l: LogicalPlan, r: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    l.stats.sizeInBytes > threshold && r.stats.sizeInBytes > threshold
  }
}
