package graft.ops

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

/** Cross-process WRITE-face serialization for the single-writer persisted
  * stores (exact dedup, LSH postings, components, BM25, IVF/IVF-PQ,
  * SimHash, paragraph index, link edges, KV merges): every store write
  * runs under it — [[GenStore.append]], [[GenStore.rewrite]], the IVF
  * stores' appends and first quantizer save, and [[EdgeIndex]]'s batch
  * publish.
  *
  * Those stores append with `mode("append")` straight into the live
  * generation directory. Two concurrent append JOBS into one directory
  * are unsafe at the committer level — each Hadoop committer stages task
  * files under `_temporary/0` INSIDE the output directory and deletes the
  * whole `_temporary` tree on job commit, destroying the other job's
  * in-flight task output (measured cross-JVM in CrossProcessStoreSpec
  * before this lock existed). Beyond file safety, the probe-then-append
  * stores are SEMANTICALLY single-writer: two concurrent `addAndDedup`
  * calls could both prove one fingerprint novel. This object turns the
  * single-writer contract into an enforced mutual exclusion:
  *
  *  - threads of ONE process serialize on a per-canonical-path monitor
  *    (also required because JVM `FileLock`s are process-scoped — a
  *    second lock attempt from the same JVM would throw
  *    `OverlappingFileLockException` instead of waiting);
  *  - PROCESSES serialize on an OS advisory lock over `<root>/_lock`
  *    (`FileChannel.lock` → POSIX fcntl), held for the duration of the
  *    write body.
  *
  * Scope: the lock is local-filesystem machinery, matching where these
  * stores' POSIX-rename generation discipline lives (every store works
  * on `java.io.File`). [[EdgeIndex]] keeps its long batch write outside
  * the lock (each batch stages in a private directory) and takes it only
  * for the one-rename publish.
  *
  * Reference analog: the exclusive-producer access mode — one writer
  * owns the topic and competing writers block or fail at attach
  * (pulsar-client-api/src/main/java/org/apache/pulsar/client/api/
  * ProducerAccessMode.java).
  */
private[ops] object StoreLock {

  /** Per-canonical-path monitors for in-process serialization. Entries
    * are never removed — dropping one while another thread waits on it
    * would mint a second monitor — so growth is bounded by the number of
    * distinct store roots a process touches. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding both the in-process monitor and the OS file lock
    * for the store rooted at `root`. Creates the root if needed (the
    * first append provisions the store). Blocks until the current holder
    * releases; lock lifetime is one write call, so waiters see seconds,
    * not sessions.
    *
    * Also the data-path FENCING point: once the lock is held, the write
    * is checked against the store's ownership epoch
    * ([[StoreFence.check]]) — a pass-through on unfenced stores, a loud
    * [[FencedStoreException]] for a writer whose driver lost (or never
    * held) ownership. */
  def exclusive[T](root: File)(body: => T): T =
    withPathLock(root) { StoreFence.check(root); body }

  /** The raw lock, WITHOUT the fencing check — [[StoreFence]]'s own
    * owner-file reads and writes go through here (acquire must be able
    * to bump the epoch it is about to hold). Everything else uses
    * [[exclusive]]. */
  def withPathLock[T](root: File)(body: => T): T = withMonitor(root) {
    val canon = root.getCanonicalFile
    canon.mkdirs()
    val ch = FileChannel.open(new File(canon, "_lock").toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val held = ch.lock()
      try body finally held.release()
    } finally ch.close()
  }

  /** The in-process half alone: serializes against this process's
    * holders of [[withPathLock]] without touching disk (no root is
    * created) — for in-memory state keyed by the store root. */
  def withMonitor[T](root: File)(body: => T): T =
    monitors.computeIfAbsent(root.getCanonicalPath, _ => new Object)
      .synchronized(body)
}
