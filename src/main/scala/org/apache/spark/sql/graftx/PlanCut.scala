package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** A DataFrame's rows as a leaf plan over its RDD: the same rows and the
  * same statistics, so join planning is unchanged, without the plan tree
  * that produced them. Iterative plans (one self-join per round over the
  * last round's cache) otherwise nest every earlier round inside each
  * cached plan, and printing one doubles per round — AQE's initial and
  * final plans double it again, so ten rounds print ~4^10 subtrees.
  */
object PlanCut {

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD(qe.analyzed.output, qe.toRdd)(ds.sparkSession, Some(qe.optimizedPlan.stats)))
  }
}
