package graft.ops

/** WHEN to compact an append-accumulating store — derived from the
  * measured cost curve, not a cron cadence.
  *
  * The measured posture (BATCH_COUNT_R13.json, 200 appended batches;
  * SCALING.md "store-state accumulation"): [[EdgeIndex]] reads grow
  * LINEARLY with the uncompacted batch count at ~0.10 s/batch (each
  * batch directory widens the union plan) and return to the floor after
  * compact; the partition-pruned probe stores (exact dedup, BM25)
  * degrade only mildly (file counts). So the right trigger for the
  * union-plan stores is a BATCH-COUNT threshold
  *
  *   K = readLatencyBudget / perBatchReadCost
  *
  * — compact once K batches have accumulated since the last compaction
  * (the one trigger every store runs is [[GenStore.compactIfDue]], and
  * each compaction it fires is one [[GenStore.rewrite]], EdgeIndex's
  * included).
  * Count, not cadence: a cron that compacts every fire
  * rewrites quiet stores for nothing (EdgeIndex compaction was the
  * single most expensive maintenance op measured, 24.7 s at n=200),
  * while a cron too slow for a hot store lets reads degrade past the
  * budget between fires. Under the count trigger the loop can fire
  * cheaply and often — each fire is a directory listing unless a store
  * is actually due.
  *
  * Reference analog: size/count-triggered ledger rollover + compaction
  * scheduling rather than purely periodic rewrites
  * (pulsar-broker/.../persistent/PersistentTopic.java checkCompaction:
  * compaction triggers on backlog THRESHOLD, not on a timer alone).
  */
object CompactionPolicy {

  /** EdgeIndex's measured per-batch read cost on the r13 curve
    * (~0.10 s/uncompacted batch at sf0.1 on local[32]; re-measure per
    * deployment — the constant scales with batch size and executor
    * count, the LINEARITY is the structural part). */
  val EdgePerBatchReadCostS: Double = 0.10

  /** The partition-pruned probe stores' measured per-append read cost
    * (exact-dedup 0.218→0.546 s and BM25 0.766→1.261 s over 200 appends
    * on the same r13 curve — ~0.002 s/append): these stores keep ONE
    * scan whose file count grows (listing + parquet footer reads), not
    * a union plan whose width grows, so they degrade ~50× milder than
    * the edge store and the same read budget prices a ~50× larger K.
    * The count unit is [[GenStore.appendDepth]] — files accumulated in
    * the WIDEST partition, which is what a pruned probe actually lists. */
  val ProbeStorePerBatchReadCostS: Double = 0.002

  /** The batch-count threshold for a read-latency budget: how many
    * uncompacted batches may accumulate before reads exceed
    * `readBudgetS` above the post-compact floor. At least 1 — a store
    * with one batch is already compact-shaped. */
  def maxBatches(readBudgetS: Double,
                 perBatchReadCostS: Double = EdgePerBatchReadCostS): Int = {
    require(readBudgetS > 0 && perBatchReadCostS > 0,
      s"budget and per-batch cost must be positive: " +
        s"$readBudgetS / $perBatchReadCostS")
    // floor with an epsilon: 0.3/0.1 is 2.9999999999999996 in doubles,
    // and a bare toInt would price K one batch LOW for every budget
    // that is an exact multiple of the per-batch cost
    math.max(1, (readBudgetS / perBatchReadCostS + 1e-9).toInt)
  }
}
