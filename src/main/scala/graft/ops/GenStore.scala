package graft.ops

import java.io.File

/** The one generation-store lifecycle every persisted index runs
  * through: state lives in `gen-N` directories under `path`, with a
  * `_current` pointer file atomically renamed onto the live one.
  *
  *  - '''Append''' ([[append]]): under [[StoreLock]], check the batch's
  *    ord against the store's [[OrdHighWater]], write into the live (or
  *    freshly created) generation, then advance the mark.
  *  - '''Rewrite''' ([[rewrite]], [[replaceLive]]): under [[StoreLock]],
  *    write a whole new generation, [[swapPointer]] onto it, and reap
  *    every generation but the new one and the one it replaced.
  *  - '''Compaction policy''' ([[compactIfDue]]): rewrite once the live
  *    generation's append depth reaches a count threshold.
  *
  * Crash contract: a crash between write and swap leaves an orphan that
  * [[nextGenIndex]] counts, so a retry never writes into a half-written
  * directory. Readers bound to a replaced generation stay scannable until
  * the next rewrite reaps it — each store keeps the replaced generation
  * for one cycle (the documented staleness bound).
  *
  * Reference analog: one ledger lifecycle — open-or-create, append, then
  * compaction triggered by a threshold (managed-ledger/.../
  * ManagedLedgerImpl.java open-or-create; pulsar-broker/.../persistent/
  * PersistentTopic.java checkCompaction).
  */
private[ops] final class GenStore(path: String) {

  /** The store root: the [[StoreLock]] and the root-level side files
    * (`_ord_hwm`, `_owner`) live here. */
  val root = new File(path)

  def pointer = new File(path, "_current")
  private def prevPointer = new File(path, "_current.prev")

  private def list(d: File): Array[File] =
    Option(d.listFiles()).getOrElse(Array.empty)

  private def genDirs(): Array[File] =
    list(root).filter(f => f.isDirectory && f.getName.startsWith("gen-"))

  /** Whether generation `g` holds data per `present` — a pure listing of
    * its top level, no Spark job. A zero-row append leaves only a
    * `_SUCCESS` marker, which a schema-inferring read cannot open. */
  private def holds(present: File => Boolean)(g: File): Boolean =
    g.isDirectory && list(g).exists(present)

  private def readNamed(f: File): Option[File] =
    if (!f.exists()) None
    else {
      val name = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      Some(new File(path, name)).filter(_.exists())
    }

  def currentGen(): Option[File] =
    readNamed(pointer).orElse {
      // A missing `_current` beside existing generations means a crash in
      // swapPointer's non-atomic fallback window. Recover from the
      // breadcrumb written before the delete, instead of letting
      // liveOrCreate mint a fresh empty generation that silently orphans
      // all accumulated state (dedup pairs, IVF postings, ...).
      val recovered = readNamed(prevPointer)
      recovered.foreach(g => swapPointer(g.getName))
      recovered
    }

  /** Live generation path (plan audits / external scans). */
  def currentGenerationPath: Option[String] =
    currentGen().map(_.getAbsolutePath)

  /** Next unused generation index — crash orphans (written, never pointed
    * at) count too. */
  def nextGenIndex(): Int = {
    val existing = genDirs().map(_.getName.stripPrefix("gen-").toInt)
    if (existing.isEmpty) 0 else existing.max + 1
  }

  def newGenDir(): File = {
    Fs.step("gen.alloc")
    new File(path, s"gen-${nextGenIndex()}")
  }

  /** Atomically re-point `_current` at `genName`. POSIX rename replaces in
    * one step (no window with no pointer); on filesystems where the atomic
    * move fails, fall back to delete-and-retry — but first copy the old
    * pointer to `_current.prev`, so a crash inside that window is
    * recoverable by [[currentGen]] rather than reading as an empty store. */
  def swapPointer(genName: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption => O}
    Fs.step("swap.begin")
    val tmp = new File(path, "._current.tmp")
    Files.write(tmp.toPath, genName.getBytes("UTF-8"))
    Fs.step("swap.tmp-written")
    try Files.move(tmp.toPath, pointer.toPath,
      O.ATOMIC_MOVE, O.REPLACE_EXISTING)
    catch {
      case _: java.io.IOException =>
        if (pointer.exists())
          Files.copy(pointer.toPath, prevPointer.toPath, O.REPLACE_EXISTING)
        Fs.step("swap.prev-copied")
        pointer.delete()
        Fs.step("swap.old-deleted")
        if (!tmp.renameTo(pointer))
          throw new java.io.IOException(s"pointer swap failed at $path")
    }
    Fs.step("swap.done")
  }

  /** Delete every generation directory not named in `keep` (the live one
    * and, by convention, the one it just replaced). */
  def reapExcept(keep: Set[String]): Unit =
    genDirs().filterNot(g => keep(g.getName))
      .foreach { g => Fs.step("reap.delete"); Fs.deleteRecursively(g) }

  /** The generation appends land in: the live one, or a freshly-created
    * `gen-0` (pointer swapped before the first write, so a crash
    * mid-append leaves a pointed-at generation with partial state — which
    * each store's append semantics must make replayable).
    *
    * '''Call under [[StoreLock]]''': two unserialized creators would
    * allocate different generations and the last replacing pointer swap
    * would orphan everything the other wrote (POSIX rename REPLACES, so
    * there is no portable filesystem test-and-set to build a lock-free
    * cold start on). Every caller holds the lock — [[append]], the IVF
    * stores' appends and first quantizer save, and [[EdgeIndex]]'s
    * publish (CrossProcessStoreSpec races two real JVMs on an empty root
    * to pin this). The reference's shape is the same
    * metadata-op-before-appends: a ledger is created in one metadata
    * operation before entries are appended
    * (managed-ledger/.../ManagedLedgerImpl.java open-or-create). */
  def liveOrCreate(): File =
    currentGen().getOrElse {
      root.mkdirs()
      val gen = newGenDir()
      gen.mkdirs()
      Fs.step("create.gen-made")
      swapPointer(gen.getName)
      gen
    }

  /** Append one ord-stamped batch: under [[StoreLock]], check `ord`
    * against `hwm` (see [[OrdHighWater]]), run `write` on the live (or
    * freshly created) generation, then advance the mark. A crash before
    * the advance leaves the mark stale-low, which only weakens the
    * advisory and never blocks the sanctioned same-ord replay. */
  def append[T](hwm: OrdHighWater, ord: Long)(write: File => T): T =
    StoreLock.exclusive(root) {
      hwm.check(ord)
      val out = write(liveOrCreate())
      hwm.advance(ord)
      out
    }

  /** Rewrite the live generation — every store's compaction. Under
    * [[StoreLock]], and only when the live generation holds data per
    * `present`: `write(live, next)` fills a fresh generation directory
    * (not yet created — writers may use the error-if-exists save mode),
    * which is then swapped in ([[replaceLive]]). None, with nothing
    * written, on a store without data. */
  def rewrite[T](present: File => Boolean)(write: (File, File) => T)
  : Option[T] =
    StoreLock.exclusive(root) {
      currentGen().filter(holds(present))
        .map(cur => replace(Some(cur))(write(cur, _)))
    }

  /** Replace whatever is live — possibly nothing — with a generation
    * `write(live, next)` fills: the merge-on-write face
    * ([[ParquetKvStore.merge]]). The pointer swaps after the write, then
    * every generation but the new one and the one it replaced is reaped
    * (crash orphans included). */
  def replaceLive[T](write: (Option[File], File) => T): T =
    StoreLock.exclusive(root) {
      val cur = currentGen()
      replace(cur)(write(cur, _))
    }

  private def replace[T](cur: Option[File])(write: File => T): T = {
    val next = newGenDir()
    val out = write(next)
    swapPointer(next.getName)
    reapExcept(Set(next.getName) ++ cur.map(_.getName))
    out
  }

  /** Count-triggered compaction — the maintenance-loop policy shared by
    * every store: run `compact` when `depth` (by default [[appendDepth]])
    * has reached `maxBatches`, and return whether it ran. Price K with
    * [[CompactionPolicy.maxBatches]] from a read-latency budget and the
    * store family's measured per-batch read cost, so read latency is
    * bounded by the BUDGET rather than by how often the cron happens to
    * fire, and a quiet store is never rewritten just because time
    * passed. `>=`, not `>`: at exactly K batches reads already sit at
    * floor + the full budget, so waiting for K+1 would overshoot the
    * advertised budget by one per-batch cost before the next fire. A
    * fire on an under-threshold store is a pure directory listing. */
  def compactIfDue(maxBatches: Int, depth: => Int = appendDepth())
                  (compact: => Unit): Boolean = {
    val due = depth >= maxBatches
    if (due) compact
    due
  }

  /** Append depth of the live generation: the maximum number of data
    * files accumulated in any ONE directory (a Hive partition leaf, or a
    * plain append dir for unpartitioned stores) — the store-generic
    * count-compaction trigger ([[CompactionPolicy]]). Each append lands
    * at most one file per touched leaf and a compacted generation holds
    * exactly one, so this is how many uncompacted appends the WIDEST
    * leaf makes a read pay for (listing + footer reads for the
    * mode("append") probe stores; plan width for union-plan stores,
    * which count their own batch dirs — [[EdgeIndex.uncompactedBatches]]).
    * Underscore/dot-prefixed names are skipped: side artifacts
    * (`_bloom`, `_quantizer`, `_stats`) have their own lifecycles. A
    * pure recursive directory listing, no Spark job. */
  def appendDepth(): Int = {
    def walk(d: File): Int = {
      val kids = list(d).filterNot(f => f.getName.startsWith("_") ||
        f.getName.startsWith("."))
      val here = kids.count(f => f.isFile && f.getName.endsWith(".parquet"))
      val below = kids.filter(_.isDirectory).map(walk)
      (here +: below.toSeq).max
    }
    currentGen().map(walk).getOrElse(0)
  }

  /** Whether the live generation holds any data per `present` — a pure
    * directory listing, no Spark job (use for guards where [[readLive]]'s
    * schema-inference read would be wasted work). */
  def hasData(present: File => Boolean): Boolean =
    currentGen().exists(holds(present))

  /** All retained generation names, oldest index first — the live one
    * plus any not-yet-reaped predecessors/orphans. */
  def generations(): Seq[String] =
    genDirs().map(_.getName).sortBy(_.stripPrefix("gen-").toInt).toSeq

  /** A RETAINED generation's data by name — the store's time-travel /
    * rollback read face (the reference's seek-to-earlier-position,
    * `Reader#seek`, applied to index state): a replaced generation stays
    * scannable until reaped, so "what did the index hold before this
    * compaction" is one read away. None only when the generation is
    * missing or empty; read failures propagate. */
  def readGeneration(spark: org.apache.spark.sql.SparkSession,
                     genName: String,
                     present: File => Boolean): Option[org.apache.spark.sql.DataFrame] =
    Some(new File(path, genName)).filter(holds(present))
      .map(g => spark.read.parquet(g.getAbsolutePath))

  /** The store's schema, learned from the FIRST real read and pinned for
    * the life of this handle: schema inference on a parquet read is a
    * footer-read Spark job, and the per-micro-batch probe stores re-read
    * their live generation every trigger — per-process, that job is pure
    * constant overhead after the first batch (a store's schema never
    * changes across appends/compactions). */
  @volatile private var schemaCache
  : Option[org.apache.spark.sql.types.StructType] = None

  /** The live generation's data as a DataFrame, when `present` says it
    * holds any. Only a MISSING store maps to None; an actual read failure
    * (permissions, corrupt footer) propagates rather than degrading into
    * "empty store". */
  def readLive(spark: org.apache.spark.sql.SparkSession,
               present: File => Boolean): Option[org.apache.spark.sql.DataFrame] =
    currentGen().filter(holds(present)).map { g =>
      schemaCache match {
        case Some(s) => spark.read.schema(s).parquet(g.getAbsolutePath)
        case None =>
          val df = spark.read.parquet(g.getAbsolutePath)
          schemaCache = Some(df.schema)
          df
      }
    }
}

private[ops] object GenStore {
  /** The `present` test of the hash-partitioned stores: a Hive partition
    * directory `<column>=...` (a zero-row partitioned append creates
    * none). */
  def partitionDir(column: String): File => Boolean =
    f => f.isDirectory && f.getName.startsWith(column + "=")
}
