package graft.ops

import java.io.File

/** A writer whose ownership epoch went stale tried to touch a fenced
  * store — the loud failure that replaces silent corruption when two
  * drivers believe they own one persisted index. */
final class FencedStoreException(msg: String)
  extends IllegalStateException(msg)

/** Lease/fencing epochs for MULTI-DRIVER store ownership — the layer
  * above [[StoreLock]]. The lock serializes writers that share a POSIX
  * filesystem; it cannot stop an errant second DRIVER on HDFS/S3, where
  * `FileChannel.lock` does not exist and the single-writer topology
  * rested on the MaintenanceLoop ownership *convention*. This object
  * turns that convention into a checked epoch:
  *
  *  - `_owner` in the store root carries
  *    `v2|epoch|ownerId|nonce|heartbeatMs|#`, written by an atomic-or-
  *    overwriting replace (torn reads fail safe: an unparseable owner
  *    file REJECTS writers rather than admitting all). The leading
  *    version marker plus trailing terminator make the record
  *    TRUNCATION-PROOF under a non-atomic replace: any proper prefix of
  *    a v2 record still leads with `v2` but lacks the 6-field/`#` shape,
  *    so it parses as unreadable (REJECT) — it can never masquerade as
  *    an older complete record whose last field happens to read as an
  *    ancient heartbeat (which would ADMIT a non-forced takeover over a
  *    LIVE owner, the one fail direction this file must never take).
  *    Records from pre-terminator stores (4-field `epoch|id|nonce|hb`,
  *    3-field nonce-less) stay readable; their truncation hazard is
  *    bounded to records written by old code and disappears at the
  *    store's first v2 write. The nonce is a per-process instance id:
  *    ownerIds are configured names a restarted driver reuses, so "is
  *    this record mine" is decided by nonce, never id.
  *  - [[acquire]] is the attach operation: it bumps the epoch and makes
  *    this process the owner. Attaching over a LIVE owner (heartbeat
  *    younger than the lease) fails loudly unless `force = true` — an
  *    errant second driver is stopped at attach; a deliberate failover
  *    (lease expired, or forced recovery) succeeds and thereby FENCES
  *    the old owner.
  *  - [[verify]] runs at the head of every store write
  *    ([[StoreLock.exclusive]] and [[EdgeIndex]]'s lock-free appends):
  *    an unfenced store (no `_owner`) passes — fencing is opt-in per
  *    store — but once any driver has acquired, a writer that never
  *    attached, or whose epoch is below the on-disk one, throws
  *    [[FencedStoreException]] instead of corrupting silently.
  *  - [[heartbeat]] refreshes the lease and doubles as a fencing probe:
  *    a deposed owner learns it lost the store at its next beat, not at
  *    its next append.
  *
  * The mechanism needs only small-file read-after-write plus an
  * overwriting replace — both available on HDFS and object stores. The
  * owner/high-water IO goes through [[AdvisoryFs]]: [[HadoopAdvisoryFs]]
  * (any Hadoop `FileSystem`) is the non-POSIX deployment path, and the
  * `File` overloads below are the local/shared-mount convenience face
  * over [[LocalAdvisoryFs]]. What it deliberately does NOT provide is
  * mutual exclusion for the acquire itself: two simultaneous FORCED
  * takeovers can race the epoch bump — but the race is no longer silent:
  * both racers mint the same epoch under different process nonces, and
  * [[verify]] fences whichever one the disk file did not keep at its
  * first post-race write. Electing the single rightful owner stays with
  * the deployment's coordinator (the cron/MaintenanceLoop driver
  * assignment here; the metadata store there), matching the reference's
  * shape — fencing protects the data path.
  *
  * Reference analog: exclusive-producer access — one writer owns the
  * topic and a competing attach fails or fences the incumbent
  * (pulsar-client-api/src/main/java/org/apache/pulsar/client/api/
  * ProducerAccessMode.java); BookKeeper ledger fencing — recovery bumps
  * the fence state and the old writer's appends fail from then on
  * (managed-ledger/src/main/java/org/apache/bookkeeper/mledger/impl/
  * ManagedLedgerImpl.java ledger open-with-recovery).
  */
object StoreFence {

  private case class Owner(epoch: Long, ownerId: String, nonce: String,
                           heartbeatMs: Long)

  /** Per-process instance nonce, minted once per JVM and stamped into
    * every owner record this process writes. ownerIds are CONFIGURED
    * names — a restarted driver naturally reuses its id — so identity
    * comparisons that decide "is this record mine" key on the nonce,
    * never on the id: the restarted driver's records are NOT the old
    * process's records, even under the same configured name. */
  private val processNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Epoch this process holds per canonical store root (the in-memory
    * half of the attach; disk is the source of truth for who CURRENTLY
    * owns). */
  private val held =
    new java.util.concurrent.ConcurrentHashMap[String, Owner]()

  /** In-process serialization for the generic [[AdvisoryFs]] faces: a
    * non-POSIX root has no OS lock to take, but threads of one process
    * must still not interleave read-bump-write. The `File` overloads
    * additionally hold [[StoreLock.withPathLock]] (cross-process local
    * exclusion); this monitor nests inside it harmlessly. Like
    * [[StoreLock]]'s monitor map, entries are never removed — dropping
    * one while another thread waits on it would mint a SECOND monitor
    * and break the mutual exclusion — so growth is bounded only by the
    * number of distinct store roots a process touches (one small Object
    * each), the same accepted bound. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def keyLock[T](key: String)(body: => T): T =
    monitors.computeIfAbsent(key, _ => new Object).synchronized(body)

  private def ownerPath(afs: AdvisoryFs, root: String): String =
    afs.child(root, "_owner")

  private def readOwner(afs: AdvisoryFs, root: String): Option[Owner] =
    afs.read(ownerPath(afs, root)).map { rawFull =>
      val raw = rawFull.trim
      def reject(what: String) = new FencedStoreException(
        s"$what owner file at ${ownerPath(afs, root)}: '$raw' — " +
          "refusing to write")
      raw.split('|') match {
        // the one format: v2|epoch|ownerId|nonce|heartbeatMs|#. The
        // terminator proves the heartbeat field arrived whole; a v2
        // record missing it (any truncation under a non-atomic replace)
        // falls through to the v2-prefix reject case below.
        case Array("v2", e, id, n, hb, "#") if e.nonEmpty && hb.nonEmpty =>
          try Owner(e.toLong, id, n, hb.toLong)
          catch { case _: NumberFormatException => throw reject("unparseable") }
        // anything else leading with the v2 marker is a torn v2 record:
        // REJECT. This case is what closes the truncated-record ADMIT
        // path — a prefix cut mid-heartbeat (`v2|7|driver|ab12|17`)
        // must not parse as a complete record from 1970.
        case fields if fields.headOption.contains("v2") =>
          throw reject("torn v2")
        // everything else — including the retired pre-terminator
        // (`epoch|id|nonce|hb`) and nonce-less (`epoch|id|hb`) records —
        // is unparseable: REJECT; a forced acquire recovers past it
        case _ => throw reject("unparseable")
      }
    }

  private def writeOwner(afs: AdvisoryFs, root: String, o: Owner): Unit =
    afs.write(ownerPath(afs, root),
      s"v2|${o.epoch}|${o.ownerId}|${o.nonce}|${o.heartbeatMs}|#")

  /** Attach as the store's owner: bump the epoch past the incumbent's
    * and record it for this process. Fails loudly when the incumbent is
    * a DIFFERENT owner whose heartbeat is younger than `leaseMs` —
    * unless `force` (deliberate failover/recovery, which fences the
    * incumbent). Re-acquiring a store this id already owns refreshes
    * the lease. Returns the held epoch. */
  def acquire(afs: AdvisoryFs, root: String, ownerId: String,
              leaseMs: Long, force: Boolean): Long = {
    // the owner file is '|'-delimited; an id that can't round-trip would
    // write a file no reader can parse — fencing out EVERYONE (fail-safe
    // but bricked until manual deletion). Reject it at the door.
    require(ownerId.nonEmpty && !ownerId.exists(c => c == '|' || c == '\n'
        || c == '\r'),
      s"ownerId must be non-empty and free of '|' and newlines: '$ownerId'")
    val key = afs.canonical(root)
    keyLock(key) {
      val now = System.currentTimeMillis()
      // an UNPARSEABLE owner record rejects ordinary attachers (the
      // fail-safe direction) — but it must not brick the deliberate
      // RECOVERY path too: a writer that crashed mid non-atomic replace
      // ([[HadoopAdvisoryFs.write]] has no tmp+rename) leaves a torn
      // record forever, and force=true is exactly the documented way
      // out. A forced acquire treats the torn record as a fenceable
      // incumbent: the epoch resumes from the record's first field when
      // that much survived (+1), else restarts at 1 — possibly BELOW a
      // live holder's epoch, in which case that holder's next verify
      // throws "regressed" loudly (fencing the incumbent is what force
      // means; the failure is never silent).
      val cur =
        try readOwner(afs, root)
        catch {
          case _: FencedStoreException if force =>
            // epoch field: first for a retired pre-v2 record, second
            // behind the `v2` marker — a torn v2 prefix keeps its marker,
            // so the salvage still resumes past the crashed holder's epoch
            val salvaged = afs.read(ownerPath(afs, root))
              .map(_.trim.split('|').toSeq)
              .map(fs => if (fs.headOption.contains("v2")) fs.drop(1) else fs)
              .flatMap(_.headOption)
              .flatMap(_.toLongOption)
            Some(Owner(salvaged.getOrElse(0L), "<torn>", "", now))
        }
      cur.foreach { o =>
        val fresh = now - o.heartbeatMs < leaseMs
        if (o.ownerId != ownerId && fresh && !force)
          throw new FencedStoreException(
            s"store $key is owned by '${o.ownerId}' (epoch ${o.epoch}, " +
              s"heartbeat ${now - o.heartbeatMs} ms ago, lease $leaseMs ms)" +
              " — a second driver must not attach over a live owner; " +
              "pass force=true only for deliberate failover")
      }
      val next = Owner(cur.map(_.epoch + 1).getOrElse(1L), ownerId,
        processNonce, now)
      writeOwner(afs, root, next)
      held.put(key, next)
      next.epoch
    }
  }

  /** Local/shared-mount face of [[acquire]] (adds the cross-process OS
    * path lock the POSIX deployment has available). */
  def acquire(root: File, ownerId: String, leaseMs: Long = 60000L,
              force: Boolean = false): Long =
    StoreLock.withPathLock(root)(
      acquire(LocalAdvisoryFs, root.getPath, ownerId, leaseMs, force))

  /** Refresh the lease — and learn about a takeover: a beat from a
    * deposed owner throws instead of re-asserting stale ownership. ONE
    * disk read feeds both the fencing decision and the write-back, and a
    * snapshot is adopted ONLY when its nonce is this process's own —
    * a foreign-nonce record (a takeover landing at any point around the
    * beat) throws, never gets copied into the held map. A same-nonce
    * snapshot below the held epoch (a non-atomic-replace store briefly
    * re-exposing this process's own OLDER write) is also not trusted:
    * the write-back keeps `max(disk.epoch, held.epoch)` so the beat can
    * never regress the epoch below values a third party may have
    * observed. */
  def heartbeat(afs: AdvisoryFs, root: String): Unit = {
    val key = afs.canonical(root)
    keyLock(key) {
      val mine = Option(held.get(key)).getOrElse(
        throw new FencedStoreException(
          s"heartbeat on $key without a held ownership — acquire first"))
      // the ONE read: fencing decision and write-back share this snapshot
      val disk = readOwner(afs, root)
      verifySnapshot(key, disk, Some(mine))
      // passed ⇒ disk is this process instance's record (same nonce) or
      // absent (owner file deleted out-of-band — re-establish held copy)
      val base = disk.getOrElse(mine)
      val next = base.copy(
        epoch = math.max(base.epoch, mine.epoch),
        heartbeatMs = System.currentTimeMillis())
      writeOwner(afs, root, next)
      held.put(key, next)
    }
  }

  /** Local/shared-mount face of [[heartbeat]]. */
  def heartbeat(root: File): Unit =
    StoreLock.withPathLock(root)(heartbeat(LocalAdvisoryFs, root.getPath))

  /** The data-path check, run at the head of every store write: pass on
    * an unfenced store; on a fenced one, require this process to hold
    * the CURRENT epoch.
    *
    * '''Granularity: per append/compact CALL.''' The check runs before
    * the write body, so a takeover landing MID-write is detected at the
    * writer's next call (or heartbeat), not mid-flight — the window is
    * one in-flight batch. [[EdgeIndex]] narrows its own window by
    * re-verifying right before the publish rename (the staged write is
    * the long part; the publish is the instant the batch becomes
    * visible). Same shape as the reference: a fenced BookKeeper writer
    * learns at its next addEntry, and in-flight entries of the fenced
    * ledger are the recovery reader's to arbitrate.
    *
    * Lock-free callers can race their OWN driver's re-acquire (disk
    * epoch bumps before the held map updates); the benign case is keyed
    * on the per-process NONCE, not the ownerId — a configured ownerId
    * survives a driver restart, so an id match proves nothing about
    * which process wrote the record, while the nonce is minted per JVM
    * and an epoch gap under OUR nonce can only be our own in-flight
    * refresh. Any different-nonce record fences by epoch, and EQUAL
    * epochs under different nonces throw too: that is the aftermath of
    * a raced double force-takeover (both racers read epoch N and wrote
    * N+1 — disk carries one of them, and the loser must learn at its
    * next write, not keep writing forever). */
  def verify(afs: AdvisoryFs, root: String): Unit = {
    val key = afs.canonical(root)
    // under keyLock: [[HadoopAdvisoryFs.write]]'s create-overwrite is
    // not atomic, so an unlocked read could catch THIS process's own
    // in-flight heartbeat/acquire mid-write and spuriously fence the
    // rightful owner on a torn record. The lock serializes against our
    // own writers; a torn read of a REMOTE writer's replace still
    // rejects — the fail-safe direction, and a transient one (the next
    // call reads the completed record).
    keyLock(key) {
      verifySnapshot(key, readOwner(afs, root), Option(held.get(key)))
    }
  }

  /** Local/shared-mount face of [[verify]]. */
  def verify(root: File): Unit =
    verify(LocalAdvisoryFs, root.getPath)

  /** The fencing decision over ONE owner-file snapshot — shared by
    * [[verify]] (fresh read) and [[heartbeat]] (the same read that feeds
    * its write-back, closing the adopt-a-foreign-record TOCTOU). */
  private def verifySnapshot(key: String, disk: Option[Owner],
                             mine: Option[Owner]): Unit =
    disk.foreach { d =>
      mine match {
        case None => throw new FencedStoreException(
          s"store $key is fenced (owner '${d.ownerId}', epoch " +
            s"${d.epoch}) and this process never acquired ownership — " +
            "an errant writer must fail loudly, not corrupt silently")
        case Some(m) if d.nonce == m.nonce =>
          () // our own record (acquire/heartbeat mid-update) — benign
        case Some(m) if m.epoch < d.epoch =>
          throw new FencedStoreException(
            s"store $key was taken over: held epoch ${m.epoch} " +
              s"('${m.ownerId}') < current epoch ${d.epoch} " +
              s"('${d.ownerId}') — this writer is fenced")
        case Some(m) if m.epoch > d.epoch =>
          throw new FencedStoreException(
            s"store $key owner file regressed below the held epoch " +
              s"(${d.epoch} < ${m.epoch}, owner '${d.ownerId}') " +
              "— refusing to write")
        case Some(m) =>
          // equal epoch, different process instance: a raced double
          // force-takeover minted the same epoch twice (or a second
          // process reused this driver's configured ownerId at the same
          // epoch). The disk file is the arbiter; this writer lost.
          throw new FencedStoreException(
            s"store $key holds epoch ${d.epoch} under a DIFFERENT " +
              s"process (owner '${d.ownerId}') while this process " +
              s"holds the same epoch ('${m.ownerId}') — a raced " +
              "takeover minted one epoch twice; the on-disk record wins " +
              "and this writer is fenced")
      }
    }

  /** Drop this process's held ownership WITHOUT touching disk (tests; a
    * clean shutdown may also release so a successor can attach without
    * waiting out the lease — pass `deleteOwnerFile = true` for that).
    * The delete only happens when the on-disk record is still THIS
    * process's own (nonce match against the PROCESS nonce, not the held
    * map — a release after an earlier no-delete release must still be
    * able to clean up this process's record): a deposed driver's clean
    * shutdown must not delete its successor's owner file — that would
    * un-fence the store for every writer until the successor's next
    * beat. A torn/unparseable record is also left in place (it REJECTS
    * writers, the fail-safe direction; recovery is the forced acquire).
    *
    * '''Non-POSIX scope:''' the check-then-delete is atomic against
    * other LOCAL processes only (the `File` face's OS lock); on an
    * HDFS/S3 root a FORCED takeover racing this release can have its
    * just-written record deleted — a transient unfenced window the
    * successor's own next heartbeat/append closes (heartbeat
    * re-establishes an absent owner file from the held copy). A
    * contested failover on a non-POSIX root should therefore let the
    * lease expire rather than pass `deleteOwnerFile = true`. */
  def release(afs: AdvisoryFs, root: String,
              deleteOwnerFile: Boolean): Unit = {
    val key = afs.canonical(root)
    // under keyLock like every other held/disk mutator: an unserialized
    // release racing an in-flight heartbeat would interleave as
    // remove+delete THEN the beat's writeOwner+held.put — resurrecting
    // both and blocking a successor's ordinary acquire for a full lease
    keyLock(key) {
      held.remove(key)
      if (deleteOwnerFile) {
        val ours =
          try readOwner(afs, root).exists(_.nonce == processNonce)
          catch { case _: FencedStoreException => false }
        if (ours) afs.delete(ownerPath(afs, root))
      }
    }
  }

  /** Local/shared-mount face of [[release]]. The OS path lock (which
    * acquire/heartbeat also hold) is taken only for the delete variant —
    * it is what makes check-then-delete atomic against another local
    * PROCESS's acquire; the no-delete variant touches nothing on disk,
    * and wrapping it would mkdirs the root as a side effect (teardown
    * paths release AFTER deleting the store directory). */
  def release(root: File, deleteOwnerFile: Boolean = false): Unit =
    if (deleteOwnerFile)
      StoreLock.withPathLock(root)(
        release(LocalAdvisoryFs, root.getPath, deleteOwnerFile = true))
    else release(LocalAdvisoryFs, root.getPath, deleteOwnerFile = false)
}
