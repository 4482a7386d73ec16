package graft.ops

import java.io.File

/** A writer whose ownership epoch went stale tried to touch a fenced
  * store — the loud failure that replaces silent corruption when two
  * drivers believe they own one persisted index. */
final class FencedStoreException(msg: String)
  extends IllegalStateException(msg)

/** Lease/fencing epochs for MULTI-DRIVER store ownership — the layer
  * above [[StoreLock]]. The lock serializes one write CALL at a time; it
  * cannot stop an errant second DRIVER from taking its turn between the
  * rightful owner's calls (or from writing where `fcntl` locks are not
  * honoured across hosts, such as some shared mounts), where the
  * single-writer topology rested on the MaintenanceLoop ownership
  * *convention*. This object turns that convention into a checked epoch:
  *
  *  - `_owner` in the store root carries
  *    `v2|epoch|ownerId|nonce|heartbeatMs|#`, replaced atomically
  *    ([[Fs.atomicWriteString]]; its copy fallback can expose a partial
  *    record). The leading version marker plus trailing terminator make
  *    the record TRUNCATION-PROOF: any proper prefix of a v2 record still
  *    leads with `v2` but lacks the 6-field/`#` shape, so it parses as
  *    unreadable (REJECT) — it can never masquerade as a complete record
  *    whose last field happens to read as an ancient heartbeat (which
  *    would ADMIT a non-forced takeover over a LIVE owner, the one fail
  *    direction this file must never take). Any other shape, the retired
  *    3- and 4-field records included, is unparseable: REJECT. The nonce
  *    is a per-process instance id: ownerIds are configured names a
  *    restarted driver reuses, so "is this record mine" is decided by
  *    nonce, never id.
  *  - [[acquire]] is the attach operation: it bumps the epoch and makes
  *    this process the owner. Attaching over a LIVE owner (heartbeat
  *    younger than the lease) fails loudly unless `force = true` — an
  *    errant second driver is stopped at attach; a deliberate failover
  *    (lease expired, or forced recovery) succeeds and thereby FENCES
  *    the old owner.
  *  - [[check]] runs at the head of every store write (inside
  *    [[StoreLock.exclusive]]): an unfenced store (no `_owner`) passes —
  *    fencing is opt-in per store — but once any driver has acquired, a
  *    writer that never attached, or whose epoch is below the on-disk
  *    one, throws [[FencedStoreException]] instead of corrupting
  *    silently.
  *  - [[heartbeat]] refreshes the lease and doubles as a fencing probe:
  *    a deposed owner learns it lost the store at its next beat, not at
  *    its next append.
  *
  * Every `_owner` read and write runs under [[StoreLock.withPathLock]],
  * so this process's own acquires, beats, releases and checks never
  * interleave, and another local process's acquire is serialized by the
  * OS lock. What the fence deliberately does NOT provide is an election:
  * two forced takeovers that do not share a lock can race the epoch bump
  * — but not silently: both racers mint the same epoch under different
  * process nonces, and [[check]] fences whichever one the disk file did
  * not keep at its first post-race write. Electing the single rightful
  * owner stays with the deployment's coordinator (the cron/MaintenanceLoop
  * driver assignment here; the metadata store there), matching the
  * reference's shape — fencing protects the data path.
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
    * owns). Mutated only under the root's [[StoreLock]] monitor. */
  private val held =
    new java.util.concurrent.ConcurrentHashMap[String, Owner]()

  private def ownerFile(root: File) = new File(root, "_owner")

  private def parse(f: File, rawFull: String): Owner = {
    val raw = rawFull.trim
    def reject(what: String) = new FencedStoreException(
      s"$what owner file at $f: '$raw' — refusing to write")
    raw.split('|') match {
      // the one format: v2|epoch|ownerId|nonce|heartbeatMs|#. The
      // terminator proves the heartbeat field arrived whole; a v2
      // record missing it (any truncation) falls through to the
      // v2-prefix reject case below.
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

  private def readOwner(root: File): Option[Owner] = {
    val f = ownerFile(root)
    Fs.readString(f).map(parse(f, _))
  }

  private def writeOwner(root: File, o: Owner): Unit =
    Fs.atomicWriteString(ownerFile(root),
      s"v2|${o.epoch}|${o.ownerId}|${o.nonce}|${o.heartbeatMs}|#")

  /** Attach as the store's owner: bump the epoch past the incumbent's
    * and record it for this process. Fails loudly when the incumbent is
    * a DIFFERENT owner whose heartbeat is younger than `leaseMs` —
    * unless `force` (deliberate failover/recovery, which fences the
    * incumbent). Re-acquiring a store this id already owns refreshes
    * the lease. Returns the held epoch. */
  def acquire(root: File, ownerId: String, leaseMs: Long = 60000L,
              force: Boolean = false): Long = {
    // the owner file is '|'-delimited; an id that can't round-trip would
    // write a file no reader can parse — fencing out EVERYONE (fail-safe
    // but bricked until manual deletion). Reject it at the door.
    require(ownerId.nonEmpty && !ownerId.exists(c => c == '|' || c == '\n'
        || c == '\r'),
      s"ownerId must be non-empty and free of '|' and newlines: '$ownerId'")
    StoreLock.withPathLock(root) {
      val key = root.getCanonicalPath
      val now = System.currentTimeMillis()
      val f = ownerFile(root)
      val raw = Fs.readString(f)
      // an UNPARSEABLE owner record rejects ordinary attachers (the
      // fail-safe direction) — but it must not brick the deliberate
      // RECOVERY path too: force=true is the documented way out. A
      // forced acquire treats the unreadable record as a fenceable
      // incumbent: the epoch resumes from the record's epoch field when
      // that much survived (+1), else restarts at 1 — possibly BELOW a
      // live holder's epoch, in which case that holder's next check
      // throws "regressed" loudly (fencing the incumbent is what force
      // means; the failure is never silent).
      val cur =
        try raw.map(parse(f, _))
        catch {
          case _: FencedStoreException if force =>
            // epoch field: first for a retired pre-v2 record, second
            // behind the `v2` marker — a torn v2 prefix keeps its marker,
            // so the salvage still resumes past the crashed holder's epoch
            val fs = raw.get.trim.split('|').toSeq
            val salvaged = (if (fs.headOption.contains("v2")) fs.drop(1)
              else fs).headOption.flatMap(_.toLongOption)
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
      writeOwner(root, next)
      held.put(key, next)
      next.epoch
    }
  }

  /** Refresh the lease — and learn about a takeover: a beat from a
    * deposed owner throws instead of re-asserting stale ownership. ONE
    * disk read feeds both the fencing decision and the write-back, and a
    * snapshot is adopted ONLY when its nonce is this process's own —
    * a foreign-nonce record (a takeover landing at any point around the
    * beat) throws, never gets copied into the held map. A same-nonce
    * snapshot below the held epoch (this process's own OLDER write
    * re-exposed) is also not trusted: the write-back keeps
    * `max(disk.epoch, held.epoch)` so the beat can never regress the
    * epoch below values a third party may have observed. An owner file
    * deleted out of band is re-established from the held copy. */
  def heartbeat(root: File): Unit = StoreLock.withPathLock(root) {
    val key = root.getCanonicalPath
    val mine = Option(held.get(key)).getOrElse(
      throw new FencedStoreException(
        s"heartbeat on $key without a held ownership — acquire first"))
    // the ONE read: fencing decision and write-back share this snapshot
    val disk = readOwner(root)
    verifySnapshot(key, disk, Some(mine))
    // passed ⇒ disk is this process instance's record (same nonce) or
    // absent (owner file deleted out-of-band — re-establish held copy)
    val base = disk.getOrElse(mine)
    val next = base.copy(
      epoch = math.max(base.epoch, mine.epoch),
      heartbeatMs = System.currentTimeMillis())
    writeOwner(root, next)
    held.put(key, next)
  }

  /** The data-path check on its own: pass on an unfenced store; on a
    * fenced one, require this process to hold the CURRENT epoch. Store
    * writes get it from [[StoreLock.exclusive]] ([[check]]). */
  def verify(root: File): Unit = StoreLock.withPathLock(root)(check(root))

  /** [[verify]] for a caller already holding the root's
    * [[StoreLock.withPathLock]].
    *
    * '''Granularity: per write CALL.''' The check runs before the write
    * body, so a takeover landing MID-write is detected at the writer's
    * next call (or heartbeat), not mid-flight — the window is one
    * in-flight batch. [[EdgeIndex]] checks at its publish rename (its
    * staged write runs before the lock; the publish is the instant the
    * batch becomes visible). Same shape as the reference: a fenced
    * BookKeeper writer learns at its next addEntry, and in-flight entries
    * of the fenced ledger are the recovery reader's to arbitrate.
    *
    * The benign self-refresh case (disk epoch above the held one under
    * THIS process's nonce) is keyed on the per-process NONCE, not the
    * ownerId — a configured ownerId survives a driver restart, so an id
    * match proves nothing about which process wrote the record. Any
    * different-nonce record fences by epoch, and EQUAL epochs under
    * different nonces throw too: that is the aftermath of a raced double
    * force-takeover (both racers read epoch N and wrote N+1 — disk
    * carries one of them, and the loser must learn at its next write,
    * not keep writing forever). */
  private[ops] def check(root: File): Unit = {
    val key = root.getCanonicalPath
    verifySnapshot(key, readOwner(root), Option(held.get(key)))
  }

  /** The fencing decision over ONE owner-file snapshot — shared by
    * [[check]] (fresh read) and [[heartbeat]] (the same read that feeds
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
    * Both variants serialize with this process's acquires and beats, so
    * a racing heartbeat cannot bring back a released entry. The delete
    * variant holds the OS path lock, which makes its check-then-delete
    * atomic against another local process's acquire; the no-delete
    * variant touches nothing on disk and takes only the in-process
    * monitor (teardown paths release AFTER deleting the store directory,
    * which the path lock would re-create). */
  def release(root: File, deleteOwnerFile: Boolean = false): Unit =
    if (!deleteOwnerFile)
      StoreLock.withMonitor(root) { held.remove(root.getCanonicalPath); () }
    else StoreLock.withPathLock(root) {
      held.remove(root.getCanonicalPath)
      val ours =
        try readOwner(root).exists(_.nonce == processNonce)
        catch { case _: FencedStoreException => false }
      if (ours) ownerFile(root).delete()
      ()
    }
}
