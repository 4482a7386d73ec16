package graft.ops

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, APPENDABLE link-edge store — the incremental face of the
  * link-graph artifact: crawl batches append `(src, dst)` edges as they
  * are discovered and the graph queries read the deduped union. A
  * full-corpus edge extraction is a 100 TB scan; crawl DELTAS are
  * batch-sized — rebuilding the artifact per snapshot throws the
  * difference away, appending keeps it.
  *
  * '''Layout: a generation is a set of `batch-*` directories''', each a
  * complete ep-partitioned parquet dataset (`ep` = hash(src, dst) mod 16,
  * so membership probes prune to one partition within every batch).
  * Appends are staged-then-renamed: the batch writes to a private
  * `.stage-*` dir OUTSIDE the lock — a Hadoop committer stages task files
  * under `_temporary` INSIDE the output directory, so per-batch staging
  * gives every job its own committer root and concurrent appenders write
  * in parallel (spec'd by the concurrent-appenders EdgeIndexSpec case).
  * Only the publish, ONE atomic rename into the live generation, runs
  * under [[StoreLock]], like every other store write; [[compact]] is a
  * [[GenStore.rewrite]] under the same lock, so a batch is never moved
  * between generations.
  *
  * '''Crash contract''' (the shared [[GenStore]] discipline, swept by
  * FaultInjectionSpec): a crash before the publish rename leaves an
  * ignored `.stage-*` orphan (bounded by crash count — never read, never
  * counted); after it, a complete batch. A replayed batch publishes
  * identical `(src, dst, ord)` rows under a fresh name and [[edges]]
  * collapses them, so replay never changes the graph. [[compact]]
  * rewrites one arbitrated row per edge under the atomic pointer swap.
  *
  * Reference analog: ledger ADD-entry appends with periodic compaction
  * (managed-ledger/.../ManagedLedgerImpl.java) — state accumulates by
  * append, readers see the union, a maintenance pass rewrites.
  */
final class EdgeIndex(spark: SparkSession, path: String) {

  private val gens = new GenStore(path)

  private def ep = pmod(xxhash64(col("src"), col("dst")), lit(16))

  /** A published batch: a `batch-*` dataset holding data files. */
  private def isBatch(f: File): Boolean =
    f.isDirectory && f.getName.startsWith("batch-") && Fs.hasDataFiles(f)

  private def batchDirs(gen: File): Seq[File] =
    Option(gen.listFiles()).getOrElse(Array.empty[File])
      .filter(isBatch).sortBy(_.getName).toSeq

  /** Append one crawl batch's edges. Duplicate edges within the batch
    * collapse before the write; duplicates ACROSS batches (or from a
    * crash-replayed batch) are collapsed by [[edges]]/[[compact]]. An
    * EMPTY batch (a crawl delta with no new links, or a replayed epoch
    * whose every doc was already stored upstream) publishes nothing —
    * the staged dir has no data files and is discarded. The staged write
    * runs outside the lock; the publish rename runs under
    * [[StoreLock.exclusive]], whose fencing check therefore lands at the
    * instant the batch becomes visible. */
  def addEdges(batch: DataFrame, ord: Long): Unit = {
    val stage = new File(path, s".stage-${java.util.UUID.randomUUID()}")
    batch.select(col("src"), col("dst")).distinct()
      .withColumn("ord", graft.functions.Params.paramLong(ord))
      .withColumn("ep", ep)
      .write.mode("overwrite").partitionBy("ep")
      .parquet(stage.getAbsolutePath)
    Fs.step("edge.batch-staged")
    try if (Fs.hasDataFiles(stage)) StoreLock.exclusive(gens.root) {
      java.nio.file.Files.move(stage.toPath, new File(gens.liveOrCreate(),
        s"batch-$ord-${java.util.UUID.randomUUID()}").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Fs.step("edge.batch-published")
    } finally Fs.deleteRecursively(stage)
  }

  /** The live generation's raw `(src, dst, ord)` rows across all
    * published batches (pre-dedup — compaction audits, row counting).
    * One scan per batch dir unioned (each dir is its own ep-partitioned
    * dataset — a single multi-path read would demand one shared
    * basePath); compaction keeps the union width at one. */
  def rawRows(): DataFrame = {
    val gen = gens.currentGen().getOrElse(
      throw new IllegalStateException(s"empty edge index at $path"))
    val dirs = batchDirs(gen)
    if (dirs.isEmpty)
      throw new IllegalStateException(s"empty edge index at $path")
    dirs.map(d => spark.read.parquet(d.getAbsolutePath))
      .reduce(_ unionByName _)
  }

  /** The accumulated edge set, deduped — equal to a full rebuild over
    * the union of every appended batch (spec'd in EdgeIndexSpec). A
    * reader bound to a replaced generation stays scannable for one
    * [[compact]] cycle, the [[GenStore]] guarantee. */
  def edges(): DataFrame =
    rawRows().select(col("src"), col("dst")).dropDuplicates("src", "dst")

  /** Rewrite the live generation to one row per edge (earliest ord wins —
    * pure bookkeeping, the edge set is unchanged) through
    * [[GenStore.rewrite]]; keeps the replaced generation for one cycle.
    * Appends wait for it at their publish. */
  def compact(): Unit = gens.rewrite(isBatch) { (cur, next) =>
    batchDirs(cur).map(d => spark.read.parquet(d.getAbsolutePath))
      .reduce(_ unionByName _)
      .groupBy(col("src"), col("dst")).agg(min(col("ord")).as("ord"))
      .withColumn("ep", ep)
      .transform(d => Par.byCols(d, col("ep")))
      .write.partitionBy("ep")
      .parquet(new File(next, "batch-0-compacted").getAbsolutePath)
  }

  /** Published, uncompacted batch directories in the live generation —
    * the width of the union plan reads build, which is the axis read
    * latency degrades on: measured LINEAR at ~0.10 s per uncompacted
    * batch, returning to the floor after [[compact]]
    * (BATCH_COUNT_R13.json; SCALING.md "store-state accumulation"). A
    * pure directory listing. */
  def uncompactedBatches: Int =
    gens.currentGen().map(batchDirs(_).size).getOrElse(0)

  /** Count-triggered compaction ([[GenStore.compactIfDue]]) over
    * [[uncompactedBatches]], the union-plan width reads pay for. */
  def compactIfDue(maxBatches: Int): Boolean =
    gens.compactIfDue(maxBatches, uncompactedBatches)(compact())

  /** Whether any batch has been published (a pure directory listing). */
  def hasData: Boolean = gens.currentGen().exists(batchDirs(_).nonEmpty)

  /** Live generation path (plan audits / external scans). */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath
}
