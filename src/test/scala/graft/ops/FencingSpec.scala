package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Multi-driver store ownership ([[StoreFence]]): [[StoreLock]] stops
  * concurrent writers that share a POSIX filesystem, but a second DRIVER
  * on HDFS/S3 was only a convention. This spec pins the fencing epoch
  * that replaces the convention: attach-over-live-owner fails, a forced
  * takeover fences the incumbent, and a writer with a stale (or absent)
  * epoch gets a loud [[FencedStoreException]] on EVERY probe-then-append
  * store's append face — plus the edge store's publish — with
  * a two-JVM variant for the genuine second-process case.
  *
  * Reference analog: exclusive-producer access modes
  * (pulsar-client-api/.../ProducerAccessMode.java) and ledger fencing on
  * recovery (managed-ledger/.../ManagedLedgerImpl.java).
  */
class FencingSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Simulate a REMOTE driver's takeover: bump the on-disk owner file
    * past this process's held epoch (the in-JVM half; the two-JVM case
    * below does it through a real process). Writes the current v2
    * terminated format under a foreign nonce — the record a real remote
    * acquire leaves. */
  private def remoteTakeover(root: String, epoch: Long): Unit =
    writeOwnerFile(root,
      s"v2|$epoch|remote-driver|feedfeedfeed|${System.currentTimeMillis()}|#")

  private def writeOwnerFile(root: String, content: String): Unit =
    Files.write(new File(root, "_owner").toPath, content.getBytes("UTF-8"))

  private def readOwnerFile(root: String): String =
    new String(Files.readAllBytes(new File(root, "_owner").toPath), "UTF-8")
      .trim

  /** (epoch, ownerId, nonce, heartbeatMs) positions of the on-disk
    * record, with the v2 marker/terminator stripped when present. */
  private def ownerFields(root: String): Array[String] = {
    val fs = readOwnerFile(root).split('|')
    if (fs.headOption.contains("v2")) fs.slice(1, fs.length - 1) else fs
  }

  test("attach semantics: live owner blocks, force or expired lease fences") {
    val root = new File(tmp("fence-attach"))
    assert(StoreFence.acquire(root, "driver-a") == 1L)
    // a second driver must not attach over a live owner
    val e = intercept[FencedStoreException](
      StoreFence.acquire(root, "driver-b"))
    assert(e.getMessage.contains("live owner"))
    // re-acquire by the SAME id refreshes (epoch still bumps)
    assert(StoreFence.acquire(root, "driver-a") == 2L)
    // deliberate failover fences the incumbent
    assert(StoreFence.acquire(root, "driver-b", force = true) == 3L)
    // expired lease admits a successor without force
    Thread.sleep(5)
    assert(StoreFence.acquire(root, "driver-c", leaseMs = 1L) == 4L)
    StoreFence.release(root, deleteOwnerFile = true)
  }

  test("nonce identity: benign self-refresh, equal-epoch fence, zombie beat") {
    val root = new File(tmp("fence-nonce"))
    val e0 = StoreFence.acquire(root, "driver-a")
    val myNonce = ownerFields(root.getPath)(2)
    assert(myNonce.nonEmpty)

    // (1) same-nonce benign self-refresh: disk carries OUR nonce at a
    // NEWER epoch (a record this process instance wrote that the held
    // map has not caught up with) — verify passes,
    // and heartbeat adopts the newer epoch rather than regressing it
    writeOwnerFile(root.getPath,
      s"v2|${e0 + 5}|driver-a|$myNonce|${System.currentTimeMillis()}|#")
    StoreFence.verify(root)
    StoreFence.heartbeat(root)
    assert(ownerFields(root.getPath)(0).toLong == e0 + 5,
      "heartbeat must adopt the disk snapshot's newer same-nonce epoch")

    // (2) a same-nonce snapshot BELOW the held epoch (a non-atomic
    // replace briefly re-exposing this process's own older write) is
    // not trusted either: the beat writes back max(disk, held)
    writeOwnerFile(root.getPath,
      s"v2|$e0|driver-a|$myNonce|${System.currentTimeMillis()}|#")
    StoreFence.heartbeat(root)
    assert(ownerFields(root.getPath)(0).toLong == e0 + 5,
      "heartbeat must never regress the epoch below the held one")

    // (3) equal epoch under a DIFFERENT nonce: the aftermath of a raced
    // double force-takeover (both racers minted the same epoch; disk
    // kept the other one's record) — this writer lost and must fence
    writeOwnerFile(root.getPath,
      s"v2|${e0 + 5}|driver-b|beefbeefbeef|${System.currentTimeMillis()}|#")
    val eq = intercept[FencedStoreException](StoreFence.verify(root))
    assert(eq.getMessage.contains("minted one epoch twice"))

    // (4) zombie heartbeat: after a foreign takeover, the deposed beat
    // throws AND never touches the owner file — a single disk snapshot
    // feeds both the fencing decision and the write-back, so the beat
    // cannot adopt the successor's record or clobber it with its own
    writeOwnerFile(root.getPath, "v2|99|driver-b|beefbeefbeef|12345|#")
    intercept[FencedStoreException](StoreFence.heartbeat(root))
    assert(readOwnerFile(root.getPath) == "v2|99|driver-b|beefbeefbeef|12345|#",
      "a fenced heartbeat must leave the successor's record untouched")

    // (5) a retired 3-field (nonce-less) or 4-field (pre-terminator)
    // record, even under this driver's own id at the held epoch, is
    // unparseable: verify and an ordinary acquire refuse it, and a
    // forced acquire takes over past it, resuming from its first field
    val hb = System.currentTimeMillis()
    Seq(s"${e0 + 5}|driver-a|$hb", s"${e0 + 6}|driver-a|$myNonce|$hb")
      .foreach { record =>
        writeOwnerFile(root.getPath, record)
        val lg = intercept[FencedStoreException](StoreFence.verify(root))
        assert(lg.getMessage.contains("unparseable"), lg.getMessage)
        intercept[FencedStoreException](StoreFence.acquire(root, "driver-a"))
        val first = record.takeWhile(_ != '|').toLong
        assert(StoreFence.acquire(root, "driver-a", force = true) == first + 1)
        StoreFence.verify(root)
      }
    StoreFence.release(root, deleteOwnerFile = true)
  }

  test("acquire/verify/heartbeat/release; a deposed release spares the successor") {
    val root = new File(tmp("fence-lifecycle"))
    assert(StoreFence.acquire(root, "driver-a") == 1L)
    StoreFence.verify(root) // the owner passes its own data path
    StoreFence.heartbeat(root)
    // a remote takeover (foreign nonce, higher epoch) fences this holder
    remoteTakeover(root.getPath, epoch = 99L)
    val successor = readOwnerFile(root.getPath)
    intercept[FencedStoreException](StoreFence.verify(root))
    intercept[FencedStoreException](StoreFence.heartbeat(root))
    // the DEPOSED driver's clean shutdown must NOT delete its
    // successor's owner record — that would un-fence the store for
    // every writer until the successor's next beat
    StoreFence.release(root, deleteOwnerFile = true)
    assert(readOwnerFile(root.getPath) == successor)
    // ... while the RIGHTFUL owner's release does delete its own record
    Thread.sleep(5)
    StoreFence.acquire(root, "driver-b", leaseMs = 1L) // lease expired
    StoreFence.release(root, deleteOwnerFile = true)
    assert(!new File(root, "_owner").exists())
  }

  test("an owner record deleted out of band: the owner's next heartbeat restores it") {
    val root = new File(tmp("fence-restore"))
    val e = StoreFence.acquire(root, "driver-b", force = true)
    new File(root, "_owner").delete()
    // the unfenced window is real: the record is absent...
    assert(!new File(root, "_owner").exists())
    // ...and the owner's next beat closes it from the held copy
    StoreFence.heartbeat(root)
    assert(readOwnerFile(root.getPath).startsWith(s"v2|$e|driver-b|"))
    // closed: a second driver's ordinary attach is rejected again
    intercept[FencedStoreException](StoreFence.acquire(root, "driver-c"))
    StoreFence.release(root, deleteOwnerFile = true)
  }

  test("torn/unparseable owner records fail safe: REJECT, never admit") {
    // a short record, bare and behind the v2 marker: the fencing path
    // must reject writers on it, not treat the store as unfenced
    Seq("7|drive" -> "unparseable", "v2|7|driv" -> "torn v2").foreach {
      case (record, why) =>
        val root = new File(tmp("fence-torn"))
        writeOwnerFile(root.getPath, record)
        val e = intercept[FencedStoreException](StoreFence.verify(root))
        assert(e.getMessage.contains(why), e.getMessage)
        // an ordinary (non-forced) acquire is rejected on it too
        intercept[FencedStoreException](StoreFence.acquire(root, "driver-a"))
        // ... but a torn record must not brick RECOVERY: force=true takes
        // over, resuming past the salvaged epoch field (7), so the
        // crashed holder's epoch stays fenced
        assert(StoreFence.acquire(root, "driver-a", force = true) == 8L)
        StoreFence.verify(root)
        StoreFence.release(root, deleteOwnerFile = true)
    }
  }

  test("a v2 record truncated mid-heartbeat REJECTS, never reads as ancient") {
    val root = new File(tmp("fence-trunc"))
    // the prefix a partial replace can expose when the writer dies
    // mid-heartbeat-number: 5 fields, all non-empty. Read as a complete
    // record, its heartbeat (17 ms after 1970) would have expired any
    // lease — admitting a non-forced takeover over a LIVE owner, the one
    // fail direction the fencing layer must never take. The v2 marker +
    // `#` terminator make every proper prefix unreadable instead: REJECT.
    writeOwnerFile(root.getPath, "v2|7|driver-a|ab12cd34ef56|17")
    val e = intercept[FencedStoreException](StoreFence.verify(root))
    assert(e.getMessage.contains("torn v2"))
    intercept[FencedStoreException](StoreFence.acquire(root, "driver-b"))
    // deliberate recovery stays possible, resuming past the salvaged
    // epoch field (the marker is skipped, 7 survives)
    assert(StoreFence.acquire(root, "driver-b", force = true) == 8L)
    StoreFence.verify(root)
    StoreFence.release(root, deleteOwnerFile = true)
  }

  test("a retired 3- or 4-field owner record is refused; force takes over past it") {
    // the pre-terminator (epoch|id|nonce|hb) and nonce-less (epoch|id|hb)
    // records are no longer a format: like any unparseable record they
    // REJECT writers and ordinary attachers, and the forced acquire is
    // the way out, keeping the epoch count past the record's first field
    Seq("7|old-driver|abcdabcdabcd|12345" -> 8L,
        "3|older-driver|12345" -> 4L).foreach { case (record, epoch) =>
      val root = new File(tmp("fence-retired"))
      writeOwnerFile(root.getPath, record)
      val e = intercept[FencedStoreException](StoreFence.verify(root))
      assert(e.getMessage.contains("unparseable"), e.getMessage)
      intercept[FencedStoreException](StoreFence.acquire(root, "driver-a"))
      assert(readOwnerFile(root.getPath) == record,
        "a refused acquire must leave the record untouched")
      assert(StoreFence.acquire(root, "driver-a", force = true) == epoch)
      val rec = readOwnerFile(root.getPath)
      assert(rec.startsWith(s"v2|$epoch|driver-a|") && rec.endsWith("|#"), rec)
      StoreFence.verify(root)
      StoreFence.release(root, deleteOwnerFile = true)
    }
  }

  test("a stale writer fails loudly on EVERY probe-then-append store") {
    val base = tmp("fence-stores")
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("id", "text")
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(1f, 1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 1f)))
      .toDF("id", "embedding")
    val pqModel = Pq.train(vecs, "id", "embedding", m = 2, k = 2, iters = 1)
    val cents = KMeans.fit(vecs, "id", "embedding", 2, 1)

    // (store name, first append — provisions under OUR epoch,
    //  second append — must be fenced after the takeover)
    val faces: Seq[(String, String => Unit)] = Seq(
      "exact" -> { p: String =>
        new ExactDedupIndex(spark, p, "id", "text").addAndDedup(docs, 1L)
          .count(); () },
      "lsh" -> { p: String =>
        new MinHashIndex(spark, p, "id", "text")
          .addAndFindPairs(docs, 1L).count(); () },
      "components" -> { p: String =>
        new ComponentsIndex(spark, p).addPairs(
          Seq((1L, 2L)).toDF("doc_a", "doc_b"), ord = 1L) },
      "bm25" -> { p: String =>
        new Bm25Index(spark, p, "id", "text").add(docs, 1L) },
      "ivf" -> { p: String =>
        new IvfIndex(spark, p, "id", "embedding").add(vecs, lit(0)) },
      "ivfpq" -> { p: String =>
        new IvfPqIndex(spark, p, "id", "embedding", pqModel, cents)
          .add(vecs) },
      "simhash" -> { p: String =>
        new SimHashIndex(spark, p, "id").addAndDedup(docs, "text", 1L)
          .count(); () },
      "paragraph" -> { p: String =>
        new ParagraphIndex(spark, p, "id", "text").addAndExcise(docs, 1L)
          .count(); () })

    faces.foreach { case (name, append) =>
      val p = s"$base/$name"
      StoreFence.acquire(new File(p), "driver-a")
      append(p) // the owning driver appends fine
      remoteTakeover(p, epoch = 99L)
      val e = intercept[FencedStoreException](append(p))
      assert(e.getMessage.contains("taken over"),
        s"store $name: wrong failure ${e.getMessage}")
      // the deposed owner also learns at its next heartbeat
      intercept[FencedStoreException](StoreFence.heartbeat(new File(p)))
      StoreFence.release(new File(p))
    }

    // the edge store's publish carries the same check
    val ep = s"$base/edges"
    StoreFence.acquire(new File(ep), "driver-a")
    val edges = new EdgeIndex(spark, ep)
    edges.addEdges(Seq((1L, 2L)).toDF("src", "dst"), 1L)
    remoteTakeover(ep, epoch = 99L)
    intercept[FencedStoreException](
      edges.addEdges(Seq((2L, 3L)).toDF("src", "dst"), 2L))
    // ... and so does compaction (the StoreLock.exclusive face)
    intercept[FencedStoreException](edges.compact())
    StoreFence.release(new File(ep))

    // a writer that NEVER attached fails on a fenced store too
    val np = s"$base/never"
    new File(np).mkdirs()
    remoteTakeover(np, epoch = 1L)
    val e2 = intercept[FencedStoreException](
      new ExactDedupIndex(spark, np, "id", "text").addAndDedup(docs, 1L))
    assert(e2.getMessage.contains("never acquired"))

    // an UNFENCED store (no owner file) stays writable — fencing is
    // opt-in; single-driver deployments keep today's behavior
    val up = s"$base/unfenced"
    new ExactDedupIndex(spark, up, "id", "text").addAndDedup(docs, 1L)
  }

  private def fork(mode: String, root: String, extra: String*): Process = {
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java")
      .getAbsolutePath
    val cmd = List(javaBin, "-cp", sys.props("java.class.path"),
      "graft.tools.ForkFence", mode, root) ++ extra
    new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(new File(root, s"fork-$mode.log")).start()
  }

  test("two JVMs: the stale process fails loudly, in both directions") {
    val root = tmp("fence-xproc")
    val docs = Seq((1L, "one doc"), (2L, "two doc")).toDF("id", "text")
    val idx = new ExactDedupIndex(spark, root, "id", "text")

    // direction 1: THIS driver owns; a second real JVM that never
    // attached must fail verify, and must fail to attach over the lease
    StoreFence.acquire(new File(root), "parent-driver")
    idx.addAndDedup(docs, 1L).count()
    // the append above is a Spark job of unbounded wall time on a loaded
    // box — refresh the lease right before forking, so the child's
    // non-forced acquire deterministically sees a LIVE owner (an expired
    // lease would let it attach legitimately and flake the test)
    StoreFence.heartbeat(new File(root))
    val w1 = fork("stale-writer", root)
    assert(w1.waitFor(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(w1.exitValue() == 0, "child must be fenced:\n" + new String(
      Files.readAllBytes(new File(root, "fork-stale-writer.log").toPath)))

    // direction 2: the second JVM force-takes-over; THIS process's next
    // append and heartbeat fail loudly with its now-stale epoch
    val w2 = fork("takeover", root, "successor-driver")
    assert(w2.waitFor(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(w2.exitValue() == 0, "takeover child failed:\n" + new String(
      Files.readAllBytes(new File(root, "fork-takeover.log").toPath)))
    intercept[FencedStoreException](idx.addAndDedup(docs, 2L))
    intercept[FencedStoreException](StoreFence.heartbeat(new File(root)))
    StoreFence.release(new File(root))
  }

  test("two JVMs: raced double takeover — the disk loser's write throws") {
    val root = tmp("fence-race")
    val docs = Seq((1L, "one doc"), (2L, "two doc")).toDF("id", "text")
    val idx = new ExactDedupIndex(spark, root, "id", "text")

    // this driver force-acquires (one racer); a REAL second JVM leaves
    // the disk state of the other racer winning the same epoch (see
    // ForkFence same-epoch-steal: the race itself needs racers that do
    // not share the OS lock, which serializes acquires — so the child
    // plants the post-race record under its own process nonce)
    StoreFence.acquire(new File(root), "parent-driver", force = true)
    idx.addAndDedup(docs, 1L).count()
    StoreFence.heartbeat(new File(root))
    val w = fork("same-epoch-steal", root, "racer-driver")
    assert(w.waitFor(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(w.exitValue() == 0, "steal child failed:\n" + new String(
      Files.readAllBytes(new File(root, "fork-same-epoch-steal.log").toPath)))

    // the disk kept the child's record at OUR epoch: this process is
    // the race's loser and must learn at its next write and next beat
    val e = intercept[FencedStoreException](idx.addAndDedup(docs, 2L))
    assert(e.getMessage.contains("minted one epoch twice"))
    intercept[FencedStoreException](StoreFence.heartbeat(new File(root)))
    StoreFence.release(new File(root))
  }
}
