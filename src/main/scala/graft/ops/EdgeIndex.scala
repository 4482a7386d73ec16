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
  * `.stage-*` dir and ONE atomic rename publishes it into the live
  * generation. That makes concurrent appenders safe — a Hadoop committer
  * stages task files under `_temporary` INSIDE the output directory, so
  * two concurrent `mode("append")` jobs into one dir delete each other's
  * in-flight task files; per-batch staging gives every job its own
  * committer root (spec'd by the concurrent-appenders EdgeIndexSpec case).
  *
  * '''Crash contract''' (the shared [[GenStore]] discipline, swept by
  * FaultInjectionSpec): a crash before the publish rename leaves an
  * ignored `.stage-*` orphan (bounded by crash count — never read, never
  * counted); after it, a complete batch. A replayed batch publishes
  * identical `(src, dst, ord)` rows under a fresh name and [[edges]]
  * collapses them, so replay never changes the graph. [[compact]]
  * rewrites one arbitrated row per edge under the atomic pointer swap.
  * APPENDS may race each other — and race compact — freely: the
  * publish-retry/carry-over handshake (see [[addEdges]]) converges
  * every append-vs-compact interleaving without a lock, and
  * CrossProcessStoreSpec exercises it under cross-process compaction
  * churn. Compact-vs-compact is the one [[StoreLock]]-serialized pair.
  *
  * Reference analog: ledger ADD-entry appends with periodic compaction
  * (managed-ledger/.../ManagedLedgerImpl.java) — state accumulates by
  * append, readers see the union, a maintenance pass rewrites.
  */
final class EdgeIndex(spark: SparkSession, path: String) {

  private val gens = new GenStore(path)

  private def ep = pmod(xxhash64(col("src"), col("dst")), lit(16))

  private def batchDirs(gen: File): Seq[File] =
    Option(gen.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch-")
        && Fs.hasDataFiles(f))
      .sortBy(_.getName).toSeq

  /** Append one crawl batch's edges. Duplicate edges within the batch
    * collapse before the write; duplicates ACROSS batches (or from a
    * crash-replayed batch) are collapsed by [[edges]]/[[compact]]. An
    * EMPTY batch (a crawl delta with no new links, or a replayed epoch
    * whose every doc was already stored upstream) publishes nothing —
    * the staged dir has no data files and is discarded.
    *
    * '''Append vs compact''' (the one pair the per-store [[StoreLock]]
    * does NOT serialize here — appenders stay lock-free and parallel):
    * a [[compact]] that listed batches BEFORE this publish and swapped
    * the pointer after it would strand the batch in the replaced
    * generation. Both sides close the window without a lock — after
    * publishing, the appender re-reads the pointer and MOVES its batch
    * into the new live generation if it changed (one atomic rename per
    * swap it lost against), while compact carries over any batch that
    * appeared in the replaced generation after its listing. Whichever
    * side sees the race moves the dir; the loser of the (at most one)
    * double-move gets NoSuchFile and stops. A batch that lands twice in
    * the read set is harmless by the store's replay contract —
    * [[edges]]/[[compact]] collapse byte-identical rows. A crash between
    * publish and the re-check is the ordinary crash-replay case: the
    * caller re-appends, the stranded copy is reaped with its
    * generation. */
  def addEdges(batch: DataFrame, ord: Long): Unit = {
    // lock-free appends never pass through StoreLock.exclusive, so the
    // multi-driver fencing check runs explicitly: an appender whose
    // driver lost (or never held) a fenced store's ownership fails
    // loudly here instead of publishing into a store it no longer owns
    StoreFence.verify(gens.root)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      // losing requires a full swap+reap cycle landing inside one
      // publish window — 5 consecutive losses means a runaway
      // compactor, which deserves a loud failure, not a spin
      require(attempts <= 5,
        s"addEdges lost against $attempts maintenance cycles at $path")
      done = tryPublish(batch, ord)
    }
  }

  /** The live generation. Cold start is the ONE append step that must
    * serialize across processes (two creators could allocate DIFFERENT
    * generations and the later pointer swap would orphan the earlier
    * one's batches — GenStore's in-process lock can't see another JVM),
    * so it takes the [[StoreLock]]; steady-state appends never do. */
  private def liveGen(): File = gens.currentGen().getOrElse(
    StoreLock.exclusive(gens.root)(gens.liveOrCreate()))

  /** One staged-write + publish attempt. Returns false — replay the
    * batch — only when a concurrent reap deleted it before it reached
    * the live generation (two full maintenance cycles inside one
    * publish window); a replayed batch that ALSO survived elsewhere
    * collapses under the store's replay dedup. */
  private def tryPublish(batch: DataFrame, ord: Long): Boolean = {
    val gen = liveGen()
    val stage = new File(path,
      s".stage-${java.util.UUID.randomUUID()}")
    batch.select(col("src"), col("dst")).distinct()
      .withColumn("ord", graft.functions.Params.paramLong(ord))
      .withColumn("ep", ep)
      .write.mode("overwrite").partitionBy("ep")
      .parquet(stage.getAbsolutePath)
    Fs.step("edge.batch-staged")
    if (!Fs.hasDataFiles(stage)) { Fs.deleteRecursively(stage); return true }
    // the staged write above is the LONG part of an append — re-check the
    // fence right before the batch becomes visible, so a takeover landing
    // mid-write is caught at the publish instant instead of leaking one
    // batch into a store this driver no longer owns
    try StoreFence.verify(gens.root)
    catch { case t: Throwable => Fs.deleteRecursively(stage); throw t }
    val name = s"batch-$ord-${java.util.UUID.randomUUID()}"
    // publish: the generation we grabbed can be reaped under us by
    // back-to-back compactions — re-aim the rename at the live pointer
    var target = new File(gen, name)
    var published = false
    while (!published) {
      try {
        java.nio.file.Files.move(stage.toPath, target.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        published = true
      } catch {
        case _: java.nio.file.NoSuchFileException =>
          if (!stage.isDirectory) return false
          target = new File(liveGen(), name)
      }
    }
    Fs.step("edge.batch-published")
    // follow any compaction swap(s) since the publish, so the batch is
    // never stranded in a replaced generation (the append-vs-compact
    // handshake — compact's carry-over covers the other orderings)
    var cur = target
    var live = gens.currentGen().orNull
    while (cur != null && live != null &&
        cur.getParentFile.getCanonicalPath != live.getCanonicalPath) {
      try {
        val moved = new File(live, name)
        java.nio.file.Files.move(cur.toPath, moved.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        cur = moved
      } catch {
        // a concurrent compactor's carry-over moved it — or a reap won
        case _: java.nio.file.NoSuchFileException => cur = null
      }
      live = gens.currentGen().orNull
    }
    // when the move chain lost track, distinguish carried-over (name
    // present in the live generation) from reaped (gone — replay). A
    // batch a compactor FOLDED into its rewrite reads as absent and
    // replays; the duplicate collapses under the replay dedup.
    cur != null ||
      gens.currentGen().exists(g => new File(g, name).isDirectory)
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
    * the union of every appended batch (spec'd in EdgeIndexSpec).
    *
    * '''Reader staleness bound''' (weaker for LATE-PUBLISHED batches
    * than the plain one-cycle [[GenStore]] guarantee): the
    * append-vs-compact handshake MOVES a batch dir between generations
    * — compact's carry-over, or the appender's own follow-the-pointer
    * retry — so a lazy reader whose plan captured a listing that
    * included such a batch can hit NoSuchFile mid-scan even though
    * neither generation was reaped yet. Plans consumed promptly
    * (collect/count/write within the maintenance cadence, every use in
    * this library) never see it; a long-lived cached plan should be
    * re-created from a fresh `edges()` call on scan failure rather
    * than retried. Batches present at compaction's LISTING keep the
    * full one-cycle guarantee — they are folded into the rewrite and
    * their source generation is retained for one cycle. */
  def edges(): DataFrame =
    rawRows().select(col("src"), col("dst")).dropDuplicates("src", "dst")

  /** Rewrite the live generation to one row per edge (earliest ord wins —
    * pure bookkeeping, the edge set is unchanged); keeps the replaced
    * generation for one cycle. Safe against concurrent appenders: after
    * the swap, one carry-over pass moves any batch published into the
    * replaced generation after the listing (the other half of the
    * [[addEdges]] append-vs-compact handshake). Compact-vs-COMPACT is
    * serialized on [[StoreLock]] — two unserialized compactors would
    * race `nextGenIndex` onto one generation name and share a committer
    * `_temporary` root inside it (the corruption StoreLock exists for);
    * appends never take the lock. */
  def compact(): Unit = StoreLock.exclusive(gens.root) {
    gens.currentGen().foreach { cur =>
    val dirs = batchDirs(cur)
    if (dirs.nonEmpty) {
      val next = gens.newGenDir()
      dirs.map(d => spark.read.parquet(d.getAbsolutePath))
        .reduce(_ unionByName _)
        .groupBy(col("src"), col("dst")).agg(min(col("ord")).as("ord"))
        .withColumn("ep", ep)
        .transform(d => Par.byCols(d, col("ep")))
        .write.mode("overwrite").partitionBy("ep")
        .parquet(new File(next, "batch-0-compacted").getAbsolutePath)
      gens.swapPointer(next.getName)
      Fs.step("edge.compact-swapped")
      val seen = dirs.map(_.getName).toSet
      batchDirs(cur).filterNot(d => seen(d.getName)).foreach { late =>
        try java.nio.file.Files.move(late.toPath,
          new File(next, late.getName).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // the appender's own pointer re-check moved it first
          case _: java.nio.file.NoSuchFileException => ()
        }
      }
      gens.reapExcept(Set(next.getName, cur.getName))
    }
  } }

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
