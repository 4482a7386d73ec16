package graft.ops

import org.apache.spark.sql.{DataFrame, GraftColumnShim}
import org.apache.spark.sql.execution.LogicalRDD

/** The one lineage cut: a frame computed once and read many times.
  *
  * `Materialize(df)` runs `df` once (one SQL execution, so attached
  * `Observation`s fire) and returns a frame over its persisted rows
  * (MEMORY_AND_DISK) whose plan is a single leaf with `df`'s partitioning,
  * ordering and stats — downstream plans stay O(1) deep and plan the same
  * joins as over `df`. The RDD keeps its lineage: a lost block is
  * recomputed from it instead of failing the job. A recompute of a store
  * probe re-reads the file list pinned in the RDD when it was planned,
  * never a fresh listing, so a frame read before an append keeps its
  * pre-append view.
  *
  * `Materialize.release(m)` frees the blocks. The caller releases what it
  * materialized once nothing later reads it; the returned frame of an
  * operator belongs to its caller. */
object Materialize {

  def apply(df: DataFrame): DataFrame = GraftColumnShim.persistedCut(df)

  /** Unpersists the RDD under every frame's leaf. `Dataset.unpersist`
    * would free nothing: the rows are not a CacheManager entry. */
  def release(dfs: DataFrame*): Unit = dfs.foreach(
    _.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd.unpersist(blocking = false) })
}
