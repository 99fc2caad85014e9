package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.graftx.InternalRows
import org.apache.spark.sql.types.StructType

/** The broadcast-side decision and the broadcast join loop shared by
  * [[IntervalJoin]] and [[AsOfJoin]]. NOTHING unbounded
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

  /** The broadcast join loop, InternalRow end to end. `build` (row cap
    * proven) is collected and grouped by entity (ordinal 0) once; `index`
    * makes each entity's lookup from its row ordinals. Each `stream` row
    * takes its entity's (ordinal `streamEntity`) lookup, `matches` yields
    * its build rows, and each pair is one projection of `out` over
    * JoinedRow(stream, build). A miss emits nothing, or with `nullOnMiss`
    * one row against an all-null build row.
    */
  def join[L](stream: DataFrame, streamEntity: Int, build: DataFrame,
      out: Seq[Expression], schema: StructType, nullOnMiss: Boolean)(
      index: (Array[InternalRow], Seq[Int]) => L)(
      matches: (InternalRow, L, Array[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val eType = build.schema.fields(0).dataType
    val width = build.schema.length
    val rows = collect(build)
    val byEntity: Map[Any, L] =
      rows.indices.groupBy(i => rows(i).get(0, eType)).map { case (e, is) => e -> index(rows, is) }
    val bc = stream.sparkSession.sparkContext.broadcast((rows, byEntity))
    val outRdd = stream.queryExecution.toRdd.mapPartitions { it =>
      val (rows, idx) = bc.value
      val proj = UnsafeProjection.create(out)
      val joined = new JoinedRow
      val nullRow = new GenericInternalRow(width)
      it.flatMap { sr =>
        val hits = idx.get(sr.get(streamEntity, eType)) match {
          case Some(l) => matches(sr, l, rows)
          case None => Iterator.empty
        }
        if (nullOnMiss && !hits.hasNext) Iterator.single(proj(joined(sr, nullRow)): InternalRow)
        else hits.map(br => proj(joined(sr, br)): InternalRow)
      }
    }
    InternalRows.create(stream.sparkSession, outRdd, schema)
  }
}
