package graft.ops

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The non-POSIX deployment path of the store-ownership layer:
  * [[StoreFence]] and [[OrdHighWater]] routed through [[HadoopAdvisoryFs]]
  * over a Hadoop `FileSystem` — exercised here on a `LocalFileSystem`
  * instance, the same `FileSystem` contract surface HDFS/S3A implement.
  * No Spark session: the fencing check is pure owner-file machinery,
  * which is exactly what makes it deployable beyond POSIX.
  *
  * Reference analog: BookKeeper keeps fencing state in the storage layer
  * itself (managed-ledger/.../ManagedLedgerImpl.java). */
class HadoopFsSpec extends AnyFunSuite {

  private def localAfs(): HadoopAdvisoryFs = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new HadoopAdvisoryFs(org.apache.hadoop.fs.FileSystem.getLocal(conf))
  }

  private def now = System.currentTimeMillis()

  test("advisory IO contract: read-absent, round-trip, replace, delete") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-io").toString
    val p = afs.child(root, "_probe")
    assert(afs.read(p).isEmpty)
    afs.write(p, "one|two|3")
    assert(afs.read(p).contains("one|two|3"))
    afs.write(p, "replaced") // overwrite keeps the path present
    assert(afs.read(p).contains("replaced"))
    afs.delete(p)
    assert(afs.read(p).isEmpty)
    // canonical is stable (the held-map key), and for a file-scheme
    // root it ALIGNS with the File face's key — a process mixing the
    // two faces on one local root must share one held-epoch entry, not
    // self-fence under two spellings
    assert(afs.canonical(root) == afs.canonical(root + "/"))
    assert(afs.canonical(root) == LocalAdvisoryFs.canonical(root))
  }

  test("acquire/verify/heartbeat/release through a Hadoop FileSystem") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-fence").toString
    assert(StoreFence.acquire(afs, root, "driver-a", 60000L, false) == 1L)
    StoreFence.verify(afs, root) // the owner passes its own data path
    StoreFence.heartbeat(afs, root)
    // re-acquire by the same id refreshes (epoch still bumps)
    assert(StoreFence.acquire(afs, root, "driver-a", 60000L, false) == 2L)
    // a second id must not attach over the live lease, force fences
    intercept[FencedStoreException](
      StoreFence.acquire(afs, root, "driver-b", 60000L, false))
    // a remote takeover (foreign nonce, higher epoch) fences this holder
    val successor = s"v2|99|driver-b|beefbeefbeef|$now|#"
    afs.write(afs.child(root, "_owner"), successor)
    intercept[FencedStoreException](StoreFence.verify(afs, root))
    intercept[FencedStoreException](StoreFence.heartbeat(afs, root))
    // the DEPOSED driver's clean shutdown must NOT delete its
    // successor's owner record — that would un-fence the store for
    // every writer until the successor's next beat
    StoreFence.release(afs, root, deleteOwnerFile = true)
    assert(afs.read(afs.child(root, "_owner")).contains(successor))
    // ... while the RIGHTFUL owner's release does delete its own record
    StoreFence.acquire(afs, root, "driver-b", 1L, false) // lease expired
    StoreFence.release(afs, root, deleteOwnerFile = true)
    assert(afs.read(afs.child(root, "_owner")).isEmpty)
  }

  test("torn/unparseable owner records fail safe: REJECT, never admit") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-torn").toString
    // a reader landing mid-create-overwrite sees a short record; the
    // fencing path must reject writers on it, not treat it as unfenced
    afs.write(afs.child(root, "_owner"), "7|drive")
    val e = intercept[FencedStoreException](StoreFence.verify(afs, root))
    assert(e.getMessage.contains("unparseable"))
    // an ordinary (non-forced) acquire is rejected on it too
    intercept[FencedStoreException](
      StoreFence.acquire(afs, root, "driver-a", 60000L, false))
    // ... but the torn record must not brick RECOVERY: a writer that
    // crashed mid non-atomic replace leaves it forever, and force=true
    // is the documented way out — the epoch resumes past the salvaged
    // first field (7), so the crashed holder's epoch stays fenced
    assert(StoreFence.acquire(afs, root, "driver-a", 60000L, true) == 8L)
    StoreFence.verify(afs, root)
    StoreFence.release(afs, root, deleteOwnerFile = true)
  }

  test("a v2 record truncated mid-heartbeat REJECTS, never reads as ancient") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-trunc").toString
    // the prefix a non-atomic create-overwrite can expose when the
    // writer dies mid-heartbeat-number: 5 fields, all non-empty. The
    // pre-terminator format would have parsed this as a COMPLETE record
    // whose heartbeat (17 ms after 1970) expired any lease — admitting
    // a non-forced takeover over a LIVE owner, the one fail direction
    // the fencing layer must never take. The v2 marker + `#` terminator
    // make every proper prefix unreadable instead: REJECT.
    afs.write(afs.child(root, "_owner"), "v2|7|driver-a|ab12cd34ef56|17")
    val e = intercept[FencedStoreException](StoreFence.verify(afs, root))
    assert(e.getMessage.contains("torn v2"))
    intercept[FencedStoreException](
      StoreFence.acquire(afs, root, "driver-b", 60000L, false))
    // deliberate recovery stays possible, resuming past the salvaged
    // epoch field (the marker is skipped, 7 survives)
    assert(StoreFence.acquire(afs, root, "driver-b", 60000L, true) == 8L)
    StoreFence.verify(afs, root)
    StoreFence.release(afs, root, deleteOwnerFile = true)
  }

  test("a retired 3- or 4-field owner record is refused; force takes over past it") {
    val afs = localAfs()
    // the pre-terminator (epoch|id|nonce|hb) and nonce-less (epoch|id|hb)
    // records are no longer a format: like any unparseable record they
    // REJECT writers and ordinary attachers, and the forced acquire is
    // the way out, resuming past the record's first field
    Seq(s"7|old-driver|abcdabcdabcd|12345" -> 8L,
        s"3|older-driver|12345" -> 4L).foreach { case (record, epoch) =>
      val root = Files.createTempDirectory("hfs-retired").toString
      afs.write(afs.child(root, "_owner"), record)
      val e = intercept[FencedStoreException](StoreFence.verify(afs, root))
      assert(e.getMessage.contains("unparseable"), e.getMessage)
      intercept[FencedStoreException](
        StoreFence.acquire(afs, root, "driver-a", 60000L, false))
      assert(afs.read(afs.child(root, "_owner")).contains(record),
        "a refused acquire must leave the record untouched")
      assert(StoreFence.acquire(afs, root, "driver-a", 60000L, true) == epoch)
      val rec = afs.read(afs.child(root, "_owner")).get
      assert(rec.startsWith(s"v2|$epoch|driver-a|") && rec.endsWith("|#"), rec)
      StoreFence.verify(afs, root)
      StoreFence.release(afs, root, deleteOwnerFile = true)
    }
  }

  test("release racing a forced takeover: successor's beat closes the window") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-release-race").toString
    // a successor force-takes over a wedged owner's store...
    val e = StoreFence.acquire(afs, root, "driver-b", 60000L, true)
    // ...and the deposed driver's in-flight release(deleteOwnerFile =
    // true) wins the non-POSIX check-then-delete race: its read saw its
    // OWN record, the takeover landed in between, its delete removed
    // the successor's fresh record ([[StoreFence.release]]'s documented
    // race). The out-of-band delete reproduces that race's disk outcome.
    afs.delete(afs.child(root, "_owner"))
    // the transient unfenced window is REAL — the record is absent
    assert(afs.read(afs.child(root, "_owner")).isEmpty)
    // ...and the successor's next heartbeat closes it, re-establishing
    // the owner record from the held copy at the held epoch
    StoreFence.heartbeat(afs, root)
    val restored = afs.read(afs.child(root, "_owner"))
    assert(restored.exists(_.startsWith(s"v2|$e|driver-b|")),
      s"heartbeat must restore the deleted owner record, got $restored")
    // closed: a second driver's ordinary attach is rejected again
    intercept[FencedStoreException](
      StoreFence.acquire(afs, root, "driver-c", 60000L, false))
    StoreFence.release(afs, root, deleteOwnerFile = true)
  }

  test("one root, both faces, one held entry: no self-fencing on local FS") {
    // the RAW local FS: a checksummed FileSystem keeps .crc sidecars a
    // File-face rewrite invalidates, so mixed-face local usage rides the
    // raw face (the AdvisoryFs scaladoc contract)
    val conf = new org.apache.hadoop.conf.Configuration()
    val afs = new HadoopAdvisoryFs(
      org.apache.hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem)
    val root = Files.createTempDirectory("hfs-mixed").toString
    // acquire through the Hadoop face; the data path driven through the
    // File face (StoreLock.exclusive → verify(File)) must see THIS
    // process's ownership, not fence it as a stranger
    StoreFence.acquire(afs, root, "driver-a", 60000L, false)
    StoreFence.verify(new java.io.File(root))
    StoreFence.heartbeat(new java.io.File(root))
    StoreFence.verify(afs, root)
    StoreFence.release(afs, root, deleteOwnerFile = true)
  }

  test("one on-disk format: a Hadoop-face record fences the File face") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-interop").toString
    afs.write(afs.child(root, "_owner"), s"v2|5|hdfs-driver|cafecafecafe|$now|#")
    // a local-face process that never acquired reads the same record
    // and is fenced — the two faces share one format, not two stores
    val e = intercept[FencedStoreException](
      StoreFence.verify(new java.io.File(root)))
    assert(e.getMessage.contains("never acquired"))
  }

  test("ord high-water advisory through a Hadoop FileSystem") {
    val afs = localAfs()
    val root = Files.createTempDirectory("hfs-hwm").toString
    val hwm = new OrdHighWater(afs, root, "hfs-spec", true)
    assert(hwm.value().isEmpty)
    hwm.check(5L)
    hwm.advance(5L)
    assert(hwm.value().contains(5L))
    hwm.check(5L) // same-ord crash replay is the one sanctioned reuse
    intercept[IllegalStateException](hwm.check(3L)) // strict: below fails
    hwm.advance(3L) // the mark never regresses
    assert(hwm.value().contains(5L))
    // unreadable mark degrades to "no check" (advisory), next advance heals
    afs.write(afs.child(root, "_ord_hwm"), "not-a-long")
    assert(hwm.value().isEmpty)
    hwm.check(1L)
    hwm.advance(9L)
    assert(hwm.value().contains(9L))
  }
}
