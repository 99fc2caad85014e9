package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The broadcast-side decision and build-side collect shared by the
  * broadcast paths of [[IntervalJoin]] and [[AsOfJoin]]. NOTHING unbounded
  * is ever collected: a side is broadcast only once it is proven to hold at
  * most [[MaxRows]] rows, and at 100 TB both sides blow the plan-stats
  * ceiling before any proof is attempted.
  */
private[graft] object BroadcastSide {

  /** Plan-stats ceiling for considering a side at all. */
  val MaxPlanBytes = BigInt(256L * 1024 * 1024)

  /** Hard row cap on a collected build side. */
  val MaxRows = 1000000L

  def planBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether `df` provably holds at most [[MaxRows]] rows. The optimized
    * plan's row bound decides without a job (a driver-local relation, a
    * limit, a global aggregate); a side with no bound, or a bound above the
    * cap that proves nothing, is counted by one bounded job — `limit(cap+1)`
    * stops a side whose stats lied big after cap+1 rows.
    */
  def withinCap(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.maxRows match {
      case Some(n) if n <= MaxRows => true
      case _ => df.limit((MaxRows + 1).toInt).count() <= MaxRows
    }

  /** The build side's rows, each its own copy. A `LocalTableScanExec` plan
    * returns its rows without a job; any other plan runs one. */
  def collect(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()
}
