package graft.ops

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

/** Cross-process WRITE-face serialization for the single-writer persisted
  * stores (exact dedup, LSH postings, components, BM25, IVF/IVF-PQ,
  * SimHash, paragraph index, KV merges): [[GenStore.append]] and
  * [[GenStore.rewrite]] run under it.
  *
  * Those stores append with `mode("append")` straight into the live
  * generation directory. Two concurrent append JOBS into one directory
  * are unsafe at the committer level — each Hadoop committer stages task
  * files under `_temporary/0` INSIDE the output directory and deletes the
  * whole `_temporary` tree on job commit, destroying the other job's
  * in-flight task output (measured cross-JVM in CrossProcessStoreSpec
  * before this lock existed). Beyond file safety, the probe-then-append
  * stores are SEMANTICALLY single-writer: two concurrent `addAndDedup`
  * calls could both prove one fingerprint novel. The old contract said
  * "appends are serialized by a single driver (the shared cron-loop
  * contract)"; this object turns that assumption into an enforced
  * mutual exclusion:
  *
  *  - threads of ONE process serialize on a per-canonical-path monitor
  *    (also required because JVM `FileLock`s are process-scoped — a
  *    second lock attempt from the same JVM would throw
  *    `OverlappingFileLockException` instead of waiting);
  *  - PROCESSES serialize on an OS advisory lock over `<root>/_lock`
  *    (`FileChannel.lock` → POSIX fcntl), held for the duration of the
  *    append/compact body.
  *
  * Scope: the lock is local-filesystem machinery, matching where these
  * stores' POSIX-rename generation discipline already lives. On a real
  * multi-driver deployment over HDFS/S3 the same single-writer topology
  * is provided by the MaintenanceLoop ownership contract (one cron
  * driver per store); the lock makes the contract self-enforcing
  * everywhere an errant second writer CAN be stopped. [[EdgeIndex]] is
  * deliberately NOT behind it: its staged-then-renamed batch layout is
  * safe for concurrent appenders by construction.
  *
  * Reference analog: the exclusive-producer access mode — one writer
  * owns the topic and competing writers block or fail at attach
  * (pulsar-client-api/src/main/java/org/apache/pulsar/client/api/
  * ProducerAccessMode.java).
  */
private[ops] object StoreLock {

  /** Per-canonical-path monitors for in-process serialization. Unbounded
    * only by the number of distinct store roots a process touches. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding both the in-process monitor and the OS file lock
    * for the store rooted at `root`. Creates the root if needed (the
    * first append provisions the store). Blocks until the current holder
    * releases; lock lifetime is one append/compact call, so waiters see
    * seconds, not sessions.
    *
    * Also the data-path FENCING point: once the lock is held, the write
    * is checked against the store's ownership epoch
    * ([[StoreFence.verify]]) — a pass-through on unfenced stores, a loud
    * [[FencedStoreException]] for a writer whose driver lost (or never
    * held) ownership. */
  def exclusive[T](root: File)(body: => T): T =
    withPathLock(root) { StoreFence.verify(root); body }

  /** The raw lock, WITHOUT the fencing check — [[StoreFence]]'s own
    * owner-file updates go through here (acquire must be able to bump
    * the epoch it is about to hold). Everything else uses
    * [[exclusive]]. */
  def withPathLock[T](root: File)(body: => T): T = {
    val canon = root.getCanonicalFile
    val mon = monitors.computeIfAbsent(canon.getPath, _ => new Object)
    mon.synchronized {
      canon.mkdirs()
      val ch = FileChannel.open(new File(canon, "_lock").toPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val held = ch.lock()
        try body finally held.release()
      } finally ch.close()
    }
  }
}
