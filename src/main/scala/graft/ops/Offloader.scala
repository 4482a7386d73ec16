package graft.ops

import java.io.File

import graft.sources.v2.{SegmentCodec, SegmentStats, TopicTable}

/** Tiered-storage offload: move cold sealed segments to the topic's
  * `offloaded/` tier with transparent read-back — the managed-ledger
  * offloader posture (reference: tiered-storage/jcloud/.../
  * BlobStoreManagedLedgerOffloader.java:95 moves sealed ledgers to object
  * store; reads fall through to the offloaded copy transparently).
  *
  * Eligibility comes from the per-segment sidecar (newest publish time older
  * than the horizon), the move rewrites the JSONL segment into a parquet
  * twin (the reference offloader likewise rewrites ledgers into its own
  * block format), and the segment KEEPS its (partition, logical-name)
  * identity — so batch readers, pruning, and crucially the name-keyed
  * stream cursor are all unaffected: an already-consumed segment stays
  * consumed after offload, an unconsumed one is still delivered from the
  * cold tier. */
object Offloader {

  /** Offload sealed segments whose newest message is older than `olderThanMs`.
    * JSONL segments are REWRITTEN as parquet twins ([[SegmentCodec]]) under
    * the same logical name — cold reads decode only the requested columns
    * (no JSON re-parse; footer min/max stats serve pruning when the sidecar
    * is absent) while the stream cursor stays oblivious. The rewrite
    * lands first (tmp + rename) and the hot copy is deleted after, so a
    * crash mid-offload leaves at worst BOTH copies, which the listing
    * dedupes to one ([[TopicTable.listPartitioned]]) — never a window
    * with neither.
    * Already-parquet segments (a recalled twin going cold again) move by
    * rename. Returns the number of segments offloaded. */
  def offload(dir: String, olderThanMs: Long): Int = {
    val tier = new File(dir, TopicTable.OffloadTier)
    val victims = TopicTable.listPartitioned(dir)
      .filterNot { case (_, f) => // already offloaded segments stay put
        f.getParentFile.getPath.contains(TopicTable.OffloadTier)
      }
      // provably cold only — unknown-age segments stay hot
      .filter { case (_, f) => SegmentStats.whollyOlderThan(f, olderThanMs) }
    // destination dirs up front, then segments rewrite independently in
    // parallel: each rewrite is a single-threaded parse+encode, and a
    // backlog of cold segments is exactly the embarrassingly-parallel shape
    victims.foreach { case (pid, f) =>
      (if (pid == TopicTable.FlatPartition) tier
       else new File(tier, f.getParentFile.getName)).mkdirs()
    }
    Fs.inParallel(victims) { case (pid, f) =>
      val dst =
        if (pid == TopicTable.FlatPartition) tier
        else new File(tier, f.getParentFile.getName)
      val side = SegmentStats.sidecarFor(f)
      if (f.getName.endsWith(SegmentCodec.ColdExt)) {
        f.renameTo(new File(dst, f.getName))
        if (side.exists()) side.renameTo(new File(dst, side.getName))
      } else {
        // stats BEFORE the move: the sidecar (or scan) of the hot copy
        // becomes the twin's sidecar, keeping pruning metadata-only
        val stats = SegmentStats.statsFor(f)
        val twin = new File(dst, f.getName + SegmentCodec.ColdExt)
        SegmentCodec.rewriteToParquet(f, twin)
        stats.foreach(SegmentStats.writeSidecar(twin, _))
        f.delete()
        side.delete()
      }
    }
    victims.length
  }


  /** Recall a partition's cold segments back to the hot tier (the inverse
    * transition; also metadata-only). Returns segments moved. */
  def recall(dir: String): Int = {
    val tier = new File(dir, TopicTable.OffloadTier)
    if (!tier.exists()) return 0
    val cold = TopicTable.listPartitioned(dir).filter { case (_, f) =>
      f.getParentFile.getPath.contains(TopicTable.OffloadTier)
    }
    cold.foreach { case (pid, f) =>
      val dst =
        if (pid == TopicTable.FlatPartition) new File(dir)
        else TopicTable.partitionDir(dir, pid)
      dst.mkdirs()
      val side = SegmentStats.sidecarFor(f)
      f.renameTo(new File(dst, f.getName))
      if (side.exists()) side.renameTo(new File(dst, side.getName))
    }
    cold.length
  }
}
