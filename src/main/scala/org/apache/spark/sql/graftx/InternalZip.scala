package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.Utils

/** Dense global ordinal assignment WITHOUT the external-Row round trip.
  *
  * `df.rdd.zipWithIndex()` (the round-2..5 IndexBuild path) deserializes
  * every InternalRow to an external Row and `createDataFrame` re-encodes
  * it — two full serde passes over the corpus just to append one long
  * (guide §1.2 "per-task work": don't pay conversions the algorithm does
  * not need). This variant persists `queryExecution.toRdd` (UnsafeRow)
  * and appends the ordinal with one UnsafeProjection, zero external-Row
  * serde.
  *
  * Ordering contract is identical to `.rdd.zipWithIndex()`: partition
  * index order x within-partition row order. Callers must feed a plan
  * whose partitions are globally ordered (e.g. repartitionByRange +
  * sortWithinPartitions), exactly as before.
  */
object InternalZip {

  /** `df`'s rows plus a dense ordinal column, their count, and the thunk
    * that unpersists them.
    *
    * One job counts every partition and, in the same pass, persists the
    * input rows, so the returned frame reads them back instead of
    * recomputing `df`. The frame carries its row count and a size
    * estimate as plan statistics, so joins against it are planned as if
    * it were a materialized cache: a small side is broadcast up front
    * instead of after a shuffle of both sides.
    */
  def withOrdinal(df: DataFrame, colName: String): (DataFrame, Long, () => Unit) = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val outSchema = StructType(df.schema.fields :+ StructField(colName, LongType, nullable = false))
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val starts = spark.sparkContext.runJob(rows, Utils.getIteratorSize _).scanLeft(0L)(_ + _)
    val zipped = rows.mapPartitionsWithIndex { (p, it) =>
      val proj = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
      val idxRow = new GenericInternalRow(1)
      var i = starts(p)
      it.map { row =>
        idxRow.update(0, i)
        i += 1
        proj(joined(row, idxRow)): InternalRow
      }
    }
    val n = starts.last
    val stats = Statistics(sizeInBytes = BigInt(n) * (8 + outSchema.defaultSize), rowCount = Some(n))
    val plan = LogicalRDD(DataTypeUtils.toAttributes(outSchema), zipped)(spark, Some(stats))
    (Dataset.ofRows(spark, plan), n, () => { rows.unpersist(false); () })
  }
}
