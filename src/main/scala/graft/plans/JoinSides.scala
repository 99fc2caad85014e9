package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Join-condition helpers of the SQL rewrite rules. */
private[plans] object JoinSides {

  /** Which side of the join an expression's references live on entirely:
    * Some(true)=left, Some(false)=right, None=mixed/neither.
    */
  def sideOf(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(l.outputSet)) Some(true)
    else if (refs.subsetOf(r.outputSet)) Some(false)
    else None
  }

  def isCoord(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType
}
