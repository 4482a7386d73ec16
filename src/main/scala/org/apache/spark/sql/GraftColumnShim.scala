package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge between graft and Spark's private[sql] API. `classic.ExpressionUtils`
  * (graft's custom Catalyst expressions as Columns) and the pieces of
  * `Dataset.checkpoint` that [[graft.ops.Materialize]] reuses are
  * private[sql], so this shim lives in the org.apache.spark.sql package —
  * the standard extension-library pattern. */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s executed plan run once (one SQL execution, so its
    * `Observation`s fire), its rows persisted MEMORY_AND_DISK, and a frame
    * over that RDD with `df`'s partitioning, ordering and stats — the plan
    * cut `Dataset.checkpoint` makes, without cutting the RDD lineage. */
  def persistedCut(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
  }
}
