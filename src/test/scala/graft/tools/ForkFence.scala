package graft.tools

import java.io.File

import graft.ops.{FencedStoreException, StoreFence}

/** Child-JVM worker for FencingSpec's two-JVM cases. [[StoreFence]]'s
  * held-epoch map is per-PROCESS state, so a genuine second driver can
  * only be represented by a second JVM. No Spark session is needed: the
  * fencing check every store append runs ([[StoreFence.verify]]) is pure
  * owner-file machinery.
  *
  * Modes:
  *  - `stale-writer <root>`: this process never attached. Expect
  *    `verify` (the data-path check at the head of every append) AND a
  *    non-forced `acquire` over the parent's live lease to both throw
  *    [[FencedStoreException]]; exit 0 iff both failed loudly.
  *  - `takeover <root> <ownerId>`: deliberate failover — force-acquire,
  *    bumping the epoch past the parent's, then exit 0. The parent's
  *    next append must then fail in ITS process.
  *  - `same-epoch-steal <root> <ownerId>`: the aftermath of a RACED
  *    double force-takeover — both drivers read epoch N and wrote N+1;
  *    disk kept this child's record. The race itself cannot be staged on
  *    a local mount ([[graft.ops.StoreLock]]'s OS lock serializes
  *    acquires there), so the child
  *    reads the parent's owner record and rewrites it at the SAME epoch
  *    under its own freshly-minted process nonce — the exact disk state
  *    the race leaves. The parent (the disk loser) must then fail its
  *    next write loudly instead of writing forever.
  */
object ForkFence {
  def main(args: Array[String]): Unit = args.toList match {
    case "stale-writer" :: root :: Nil =>
      val r = new File(root)
      val verifyFailed =
        try { StoreFence.verify(r); false }
        catch { case _: FencedStoreException => true }
      val attachFailed =
        try { StoreFence.acquire(r, "errant-driver"); false }
        catch { case _: FencedStoreException => true }
      if (!verifyFailed) System.err.println(
        "stale-writer: verify PASSED on a store another driver owns")
      if (!attachFailed) System.err.println(
        "stale-writer: acquire PASSED over a live owner")
      sys.exit(if (verifyFailed && attachFailed) 0 else 1)
    case "takeover" :: root :: ownerId :: Nil =>
      val epoch = StoreFence.acquire(new File(root), ownerId, force = true)
      println(s"takeover epoch=$epoch")
      sys.exit(0)
    case "same-epoch-steal" :: root :: ownerId :: Nil =>
      val f = new File(root, "_owner")
      val cur = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      val fields = cur.split('|').toSeq
      val epoch = (if (fields.headOption.contains("v2")) fields(1)
                   else fields.head).toLong
      val childNonce =
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      java.nio.file.Files.write(f.toPath,
        s"v2|$epoch|$ownerId|$childNonce|${System.currentTimeMillis()}|#"
          .getBytes("UTF-8"))
      println(s"same-epoch-steal epoch=$epoch nonce=$childNonce")
      sys.exit(0)
    case other =>
      System.err.println(s"ForkFence: bad args $other")
      sys.exit(2)
  }
}
