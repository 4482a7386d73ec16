package graft.ops

import java.io.File

import graft.functions.TextFunctions.fingerprint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED exact-dedup fingerprint index — the incremental face of
  * [[Dedup.exactSummary]], and the most common production dedup shape: a
  * corpus ingested forever keeps ONE document per distinct content
  * fingerprint, with the keeper being the first arrival (earliest batch,
  * then smallest id within the batch — a total order, so replays and
  * re-splits converge on the same keeper set).
  *
  * Reference analog: broker message dedup persists the highest-sequence
  * map across restarts (pulsar-broker/.../persistent/MessageDeduplication
  * .java snapshots) — content-hash dedup is the corpus-pipeline
  * counterpart, keyed on what the document says instead of who sent it.
  *
  * '''Layout''' ([[GenStore]] generations): rows (fp, id, ord) partitioned
  * by `fpp` = letter-prefixed first md5 hex char (16 directories). A batch
  * probe anti-joins the batch's first-per-fingerprint rows against ONLY
  * the partitions its fingerprints hash into, then appends the survivors —
  * O(batch) work against a corpus-sized store.
  *
  * '''Crash contract.''' The novelty probe masks a batch row only against
  * rows stored by STRICTLY EARLIER batches (`stored.ord < ord`) — a
  * replayed [[addAndDedup]] with the same ord therefore returns the SAME
  * novel set as the original call (the crashed attempt's own appends
  * cannot mask it), which is what keeps a COMPOSED pipeline convergent: a
  * downstream store fed from this call's return (LSH, BM25, edges, IVF in
  * the curate path) sees the batch again on replay instead of starving
  * (StreamRestartSpec). Re-appended rows are byte-identical (same fp, id,
  * ord) and [[keepers]]/[[compact]] arbitrate by the (ord, id) total
  * order, so the store still converges to at-most-one keeper per
  * fingerprint. Appends and compaction serialize across threads AND
  * processes on [[StoreLock]] (probe-then-append is semantically
  * single-writer — and enforced, not assumed, since
  * CrossProcessStoreSpec); [[compact]] rewrites one file per partition
  * under the atomic pointer swap.
  *
  * '''Ord discipline''': the strictly-earlier mask makes `ord` a
  * LOGICAL BATCH IDENTITY — here a violated discipline flips keepers
  * (min-(ord, id) arbitration reads stored duplicates as novel). The
  * shared advisory high-water mark enforces it; semantics, the
  * fresh-checkpoint footgun, and `strictOrd` live in [[OrdHighWater]].
  */
final class ExactDedupIndex(spark: SparkSession, path: String,
                            idCol: String, textCol: String,
                            strictOrd: Boolean = false) {

  private val gens = new GenStore(path)

  private val hwm = new OrdHighWater(new File(path), "exact-dedup", strictOrd)

  /** The highest ord any append has committed, if any — the advisory
    * high-water mark new appends are checked against (see
    * [[OrdHighWater]], the discipline shared with the other ord-stamped
    * stores). */
  def ordHighWater(): Option[Long] = hwm.value()

  private def fpp = concat(lit("p"), substring(col("fp"), 1, 1))

  private val present = GenStore.partitionDir("fpp")

  /** Bloom rows per hash row — 2×4096 bits caps the summary at 8 KB of
    * (r, bit) rows regardless of store size. */
  private val BloomK = 2

  private def bloomDir(gen: File) = new File(gen, "_bloom")

  /** Probe + append one batch. Returns the batch rows that were NEW
    * (first occurrence of their content across all batches so far) as
    * (id, fp). Duplicate content within the batch keeps the smallest id.
    *
    * With `bloom = true`, a persisted bits-only summary of the store
    * (`_bloom/` beside the partitions — hidden from the main scan by the
    * underscore) screens the batch first: bloom MISSES are proven novel
    * and skip the store entirely; only hits pay the partition-pruned
    * anti-join. Bits are appended BEFORE rows, so a crash between the two
    * writes can only leave the filter over-admitting (safe — the exact
    * join still runs for hits), never missing a stored fingerprint. The
    * summary is bits-only: at 100 TB the common case (a mostly-novel
    * batch) reads kilobytes instead of scanning postings. */
  def addAndDedup(batch: DataFrame, ord: Long,
                  bloom: Boolean = false): DataFrame =
      gens.append(hwm, ord) { gen =>
    val fps = batch
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    val stored = gens.readLive(spark, present)
    def antiJoin(probes: DataFrame): DataFrame = stored match {
      case None => probes
      case Some(st) =>
        // the probes' fingerprint prefixes, collected (bounded: ≤16 hex
        // chars) to drive static partition pruning of the store scan
        val touched = probes.select(substring(col("fp"), 1, 1))
          .distinct().collect().map(r => "p" + r.getString(0))
        if (touched.isEmpty) probes
        // mask only against STRICTLY EARLIER batches: a replayed call's
        // own prior appends (same ord) must not hide the batch from the
        // caller — see the crash contract above
        // fpp isin stays literal (planning-time partition pruning); the
        // ord horizon rides a paramLong so the probe plan's generated
        // source is batch-stable (parquet row-group pruning on ord was
        // worthless anyway — every uncompacted file is a single batch)
        else probes.join(st.where(col("fpp").isin(touched.toSeq: _*)
            && col("ord") < graft.functions.Params.paramLong(ord))
          .select(col("fp")), Seq("fp"), "left_anti")
    }
    val haveBits = bloomDir(gen).exists()
    // Materialize, not cache: caching would register the plan with the
    // CacheManager, and this call's own appends then recacheByPath it with
    // a REFRESHED file listing — the probe must keep its pre-append
    // snapshot. The materialized frame's plan is one RDD leaf (no file
    // relation left to refresh), and a recompute after a lost block
    // re-reads the file list pinned in that RDD. The (md5-fingerprint +
    // bloom-probe + anti-join) subtree runs ONCE instead of once per
    // consumer — bits write, rows append, and the caller's action each
    // re-ran it when lazy. Batch-sized.
    val novel = Materialize(if (bloom && stored.isDefined && haveBits) {
      val bits = spark.read.parquet(bloomDir(gen).getAbsolutePath).distinct()
      val verdicts = Bloom.withHits(fps, "fp", bits, BloomK)
      val proven = verdicts.where(!col("bloom_hit")).drop("bloom_hit")
      proven.unionAll(antiJoin(
        verdicts.where(col("bloom_hit")).drop("bloom_hit")))
    } else antiJoin(fps))
    if (bloom) {
      // bits must cover EVERY stored fingerprint or false negatives
      // would re-append stored content: a store populated before bloom
      // was enabled gets a one-time full backfill
      val bitsSrc =
        if (haveBits || stored.isEmpty) novel.select(col("fp"))
        else stored.get.select(col("fp")).unionAll(novel.select(col("fp")))
      Bloom.bits(bitsSrc, BloomK)
        .write.mode("append").parquet(bloomDir(gen).getAbsolutePath)
    }
    novel.withColumn("ord", graft.functions.Params.paramLong(ord))
      .withColumn("fpp", fpp)
      .write.mode("append").partitionBy("fpp")
      .parquet(gen.getAbsolutePath)
    novel.select(col(idCol), col("fp"))
  }

  /** One arbitrated (fp, id, ord) row per fingerprint: a crashed append
    * replayed under a racing reader could have landed a fingerprint
    * twice — the (ord, id) total order the ingest path uses decides, so
    * the keeper never flips. */
  private def arbitrated(rows: DataFrame): DataFrame =
    rows.groupBy(col("fp"))
      .agg(min(struct(col("ord"), col(idCol))).as("__first"))
      .select(col("fp"), col(s"__first.$idCol").as(idCol),
        col("__first.ord").as("ord"))

  /** The accumulated keeper set: one (content_hash, keeper_id) row per
    * distinct fingerprint ever ingested. */
  def keepers(): DataFrame =
    arbitrated(gens.readLive(spark, present).getOrElse(
        throw new IllegalStateException(s"empty exact-dedup index at $path")))
      .select(col("fp").as("content_hash"), col(idCol).as("keeper_id"))

  /** Rewrite the live generation to one arbitrated row per fingerprint,
    * one file per partition; keeps the replaced generation for one cycle. */
  def compact(): Unit = gens.rewrite(present) { (cur, next) =>
    arbitrated(spark.read.parquet(cur.getAbsolutePath))
      .withColumn("fpp", fpp)
      .transform(d => Par.byCols(d, col("fpp")))
      .write.mode("overwrite").partitionBy("fpp")
      .parquet(next.getAbsolutePath)
    // a bloom-maintained store gets fresh (minimal) bits in the new
    // generation, written before the pointer swap makes it live
    if (bloomDir(cur).exists())
      Bloom.bits(spark.read.parquet(next.getAbsolutePath).select(col("fp")),
          BloomK)
        .write.mode("overwrite").parquet(bloomDir(next).getAbsolutePath)
  }

  /** Files accumulated in the WIDEST partition of the live generation —
    * the count [[compactIfDue]] triggers on, exposed for monitoring and
    * the policy probe (the probe-store analog of
    * [[EdgeIndex.uncompactedBatches]]). A pure directory listing. */
  def appendDepth: Int = gens.appendDepth()

  /** [[GenStore.compactIfDue]] over [[appendDepth]]; price K with this
    * family's per-append read cost,
    * [[CompactionPolicy.ProbeStorePerBatchReadCostS]]. */
  def compactIfDue(maxBatches: Int): Boolean =
    gens.compactIfDue(maxBatches)(compact())

  /** Live generation path (plan audits / external scans). */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath
}
