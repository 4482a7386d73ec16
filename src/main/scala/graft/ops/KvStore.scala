package graft.ops

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Generic keyed-store sink family — the Spark-first analog of the
  * reference's KV/doc-store sinks (pulsar-io/redis `RedisSink` batches
  * key→value SETs with an optional expiry, pulsar-io/hbase buffers
  * Puts/Deletes, pulsar-io/mongo and -dynamodb upsert documents by key).
  * Their shared contract, extracted:
  *
  *  - last-write-wins UPSERT per key, versioned by an `ord` column;
  *  - null value = DELETE (the null→DELETE convention the JDBC sink's
  *    MERGE encodes, [[Sinks.mergeSql]]) — persisted as an ord-carrying
  *    TOMBSTONE, so a delete and an upsert race by version instead of by
  *    arrival order and out-of-order / replayed batches converge to the
  *    same state (an unversioned DEL would let an older delete destroy a
  *    newer value);
  *  - write batching — one micro-batch is ONE set-based merge, never
  *    per-row round-trips;
  *  - optional TTL: entries past their expiry stop being visible and are
  *    reaped at the next merge (the Redis SETEX analog, lazily evicted).
  *    A merge reaps only the state it rewrites — in the bucketed store
  *    that is the touched buckets, so workloads whose keys go cold run
  *    [[BucketedKvStore.reapAll]] periodically to bound cold-bucket disk;
  *  - optional tombstone retention: without a horizon, every deleted key's
  *    tombstone is rewritten into every future generation of its bucket
  *    forever, so a workload with ongoing deletes grows the store
  *    unboundedly. `tombstoneRetainMs` reaps tombstones `retainMs` after
  *    the merge that persisted them (the analog of the reference
  *    compactor's eventual tombstone drop) — set it beyond the maximum
  *    replay window: a batch replayed from FURTHER back than the horizon
  *    can resurrect a key whose tombstone was already reaped, which is the
  *    standard tombstone-GC contract, not a bug.
  *
  * [[ParquetKvStore]] is the embedded implementation: a compacted keyed
  * table maintained by merge-on-write into GENERATION directories with an
  * atomically-swapped `_current` pointer — readers always see a complete
  * generation, a crash mid-merge leaves the previous generation intact,
  * and the replaced generation is retained through the next merge so a
  * lazy [[read]] result stays scannable across one merge cycle (hold it
  * longer and you must re-resolve via [[read]]).
  * Swapping in Redis/HBase/Cassandra = implementing [[KvStore.merge]] with
  * that client's bulk API; everything upstream is unchanged. */
trait KvStore {
  /** Apply one batch, already compacted to last-per-key: rows whose value
    * column is null are DELETES (tombstones). Set-based. */
  def merge(lastPerKey: DataFrame): Unit

  /** Current visible state: live (non-tombstone, non-expired) entries. */
  def read(): DataFrame
}

object KvStoreExpiry {
  /** THE visibility/reap predicate for the whole store family: an entry is
    * live while its expiry is unset or in the future. One definition so the
    * bucketed and unbucketed stores can never diverge on expiry semantics. */
  def notExpired(df: DataFrame, expireAtCol: Option[String]): DataFrame =
    expireAtCol match {
      case Some(c) =>
        df.where(col(c).isNull || col(c) > unix_millis(current_timestamp()))
      case None => df
    }
}

/** Embedded, durable KvStore over parquet generations.
  *
  * @param ord       versioning column (struct allowed): last-write-wins is
  *                  decided by this — across merges, replays, and
  *                  out-of-order batches the state converges.
  *                  '''LWW is by CALLER-SUPPLIED ord, never arrival
  *                  order''': a merge whose ord is below the stored
  *                  entry's LOSES by design (that is what makes replays
  *                  and out-of-order batches converge), which carries the
  *                  same fresh-checkpoint footgun as the ord-stamped
  *                  indexes ([[OrdHighWater]]) — a pipeline restarted
  *                  with RESET ords (epoch ids back at 0) sees every new
  *                  write silently lose to the stored state. Callers own
  *                  the ord axis: derive it from data (event time,
  *                  version numbers) or offset restarted epoch ids past
  *                  the stored maximum
  * @param valueCol  the column whose null marks a tombstone
  * @param expireAtCol optional epoch-ms column; entries with a non-null
  *                  value ≤ `now` are invisible to [[read]] and reaped at
  *                  the next [[merge]]
  * @param tombstoneRetainMs optional horizon: a tombstone leaves disk at
  *                  the first merge that runs ≥ this many ms after the
  *                  merge that persisted it. Choose it beyond the maximum
  *                  replay window (see the class doc's GC contract).
  */
class ParquetKvStore(spark: SparkSession, path: String, keyCols: Seq[String],
                     ord: Column, valueCol: String,
                     expireAtCol: Option[String] = None,
                     tombstoneRetainMs: Option[Long] = None)
  extends KvStore {
  new File(path).mkdirs()

  // generation-directory layout + crash-safe pointer: shared [[GenStore]]
  private val gens = new GenStore(path)

  /** Absolute path of the live generation, if any — lets [[BucketedKvStore]]
    * read all buckets in ONE multi-path scan instead of a union of N. */
  private[ops] def currentGenPath: Option[String] = gens.currentGenerationPath

  private def notExpired(df: DataFrame): DataFrame =
    KvStoreExpiry.notExpired(df, expireAtCol)

  /** Reap-only merge: recompacts the stored generation with no incoming
    * rows, dropping expired entries from disk. No-op before the first
    * merge. */
  private[ops] def reap(): Unit =
    currentGenPath.foreach(g => merge(spark.read.parquet(g).limit(0)))

  override def read(): DataFrame = gens.currentGen() match {
    case Some(gen) =>
      notExpired(spark.read.parquet(gen.getAbsolutePath))
        .where(col(valueCol).isNotNull) // tombstones are bookkeeping
        .drop("__reap_at") // as is the tombstone reap stamp, when present
    case None => throw new IllegalStateException(
      s"ParquetKvStore at $path has no state yet (no merge ran)")
  }

  /** One merge = one [[GenStore.replaceLive]]: the merged state lands in
    * a new generation and the pointer swaps onto it, so readers see the
    * old complete generation until the rename lands, the new one after.
    * The live generation AND the one it replaced are kept: a lazy
    * DataFrame handed out by read() before this merge is still bound to
    * the previous generation's files and must stay scannable. Anything
    * older (including orphans from a crash between write and swap) is
    * dead weight. A reader that holds one read() result across MORE than
    * one merge cycle must re-resolve via read() — that is the documented
    * staleness bound. */
  override def merge(lastPerKey: DataFrame): Unit =
      gens.replaceLive { (prevGen, gen) =>
    // expired entries are reaped BEFORE compaction — and on BOTH sides of
    // the merge, so an expired incoming entry cannot shadow-win against
    // live stored data (and vice versa) and the outcome is independent of
    // which side of a merge an entry arrives on; tombstones are kept and
    // compete by ord — the convergence guarantee
    val now = System.currentTimeMillis()
    // an incoming batch never carries the reap stamp; null-fill it so the
    // union is schema-stable whichever side a row arrives on (and a store
    // predating the horizon option null-fills the stored side)
    val incoming =
      if (tombstoneRetainMs.isDefined)
        lastPerKey.withColumn("__reap_at", lit(null).cast("long"))
      else lastPerKey
    val unioned = prevGen
      .map(g => spark.read.parquet(g.getAbsolutePath).unionByName(incoming,
        allowMissingColumns = tombstoneRetainMs.isDefined))
      .getOrElse(incoming)
    // tombstones stamped by an EARLIER merge whose horizon has passed leave
    // disk here; a replayed old tombstone re-arrives unstamped and is
    // re-stamped below, which only extends its retention, never its version
    val reaped = tombstoneRetainMs match {
      case Some(_) => unioned.where(col(valueCol).isNotNull ||
        col("__reap_at").isNull || col("__reap_at") > now)
      case None => unioned
    }
    val base = notExpired(reaped)
    val compacted = Compaction.compact(base, keyCols, ord)
    // surviving unstamped tombstones get this merge's horizon; live rows
    // never carry a stamp (a key can die and be re-upserted — the stamp
    // must not survive the resurrection)
    val merged = tombstoneRetainMs match {
      case Some(h) => compacted.withColumn("__reap_at",
        when(col(valueCol).isNotNull, lit(null).cast("long"))
          .otherwise(coalesce(col("__reap_at"), lit(now + h))))
      case None => compacted
    }
    merged.write.mode("overwrite").parquet(gen.getAbsolutePath)
  }
}

/** Hash-bucketed [[KvStore]]: keys are sharded into `numBuckets` independent
  * [[ParquetKvStore]] generation chains (`bucket-NNNNN/gen-M`), so one merge
  * rewrites ONLY the buckets the batch touches — O(touched buckets), not
  * O(|store|). This is the 100 TB shape: an unbucketed compacted store
  * rewrites everything every micro-batch no matter how small the batch; here
  * steady-state merge cost tracks the batch (each touched bucket is
  * ~|store|/numBuckets), the LSM/HBase-region idea expressed as parquet
  * directories. Size `numBuckets` so one bucket ≈ a few merge batches.
  *
  * The batch is staged to parquet partitioned by bucket in ONE pass (no
  * per-bucket re-filtering of the input), then each touched bucket merges
  * its slice. [[read]] is a single multi-path parquet scan over all live
  * generations, not a union of `numBuckets` plans.
  *
  * Atomicity is PER KEY, not cross-key: a reader overlapping a merge can see
  * bucket A's new generation and bucket B's old one. That matches the sinks
  * this family models (Redis/HBase/Mongo batch writers commit key by key,
  * with no cross-key snapshot); each bucket alone keeps the full
  * versioned-tombstone convergence contract, and a replay after a crash
  * mid-merge re-merges every bucket idempotently (everything races by
  * `ord`). `numBuckets` is fixed at store creation and persisted — changing
  * it would re-home keys and strand their history. */
class BucketedKvStore(spark: SparkSession, path: String, keyCols: Seq[String],
                      ord: Column, valueCol: String,
                      expireAtCol: Option[String] = None,
                      numBuckets: Int = 64,
                      tombstoneRetainMs: Option[Long] = None)
  extends KvStore {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  new File(path).mkdirs()

  private val bucketsFile = new File(path, "_buckets")
  private val buckets: Int = {
    if (bucketsFile.exists()) {
      val raw = new String(
        java.nio.file.Files.readAllBytes(bucketsFile.toPath), "UTF-8").trim
      val persisted = raw.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalStateException(
          s"store at $path has a corrupt _buckets file ('$raw') — " +
            "refusing to guess the bucket count (merging under the wrong " +
            "count re-homes keys away from their history)"))
      require(persisted == numBuckets,
        s"store at $path was created with $persisted buckets; " +
          s"got $numBuckets — bucket count is fixed for the store's life " +
          "(changing it would re-home keys away from their history)")
      persisted
    } else {
      // tmp + rename, like the generation pointer: a crash mid-write must
      // not leave a truncated count that would silently re-home keys
      val tmp = new File(path, "._buckets.tmp")
      java.nio.file.Files.write(tmp.toPath,
        numBuckets.toString.getBytes("UTF-8"))
      if (!tmp.renameTo(bucketsFile) && !bucketsFile.exists())
        throw new java.io.IOException(s"could not persist _buckets at $path")
      numBuckets
    }
  }

  private def bucketExpr: Column =
    pmod(hash(keyCols.map(col): _*), lit(buckets))

  private def bucketStore(dir: File): ParquetKvStore =
    new ParquetKvStore(spark, dir.getAbsolutePath, keyCols, ord, valueCol,
      expireAtCol, tombstoneRetainMs)

  override def merge(lastPerKey: DataFrame): Unit = {
    // ONE pass over the batch writes it partitioned by bucket; only the
    // partition directories that exist are merged. Repartition ON the
    // bucket column first: otherwise every upstream task writes one file
    // into every bucket it has rows for — tasks × touched-buckets tiny
    // staging files instead of one per touched bucket
    val staging = new File(path, s"_staging-${java.util.UUID.randomUUID()}")
    try {
      lastPerKey.withColumn("__b", bucketExpr)
        .transform(d => Par.byCols(d, col("__b")))
        .write.partitionBy("__b").parquet(staging.getAbsolutePath)
      val touched = Option(staging.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("__b="))
        .map(f => (f.getName.stripPrefix("__b=").toInt, f))
        .sortBy(_._1)
      // the per-bucket merges are independent (disjoint directories) —
      // submit them concurrently so one logical merge is not numBuckets
      // serial Spark jobs
      inParallel(touched.toSeq) { case (b, slice) =>
        // reading the partition dir directly omits the __b column
        bucketStore(new File(path, f"bucket-$b%05d"))
          .merge(spark.read.parquet(slice.getAbsolutePath))
      }
    } finally Fs.deleteRecursively(staging)
  }

  /** Reap expired entries from EVERY bucket, including those no recent
    * batch touched — per-bucket merges only reap the buckets they rewrite,
    * so a periodic reapAll (the Redis active-expire / HBase major-compaction
    * analog) is what bounds disk for workloads whose keys go cold.
    * Tombstones are reaped only past `tombstoneRetainMs` (never, when
    * unset): they must outlive any replayable older upsert to keep
    * convergence. */
  def reapAll(): Unit = inParallel(bucketDirs().toSeq)(bucketStore(_).reap())

  private def inParallel[A](work: Seq[A])(f: A => Unit): Unit =
    Fs.inParallel(work, maxThreads = 8)(f)

  private def bucketDirs(): Array[File] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket-"))
      .sortBy(_.getName)

  override def read(): DataFrame = {
    val gens = bucketDirs().flatMap(bucketStore(_).currentGenPath)
    if (gens.isEmpty) throw new IllegalStateException(
      s"BucketedKvStore at $path has no state yet (no merge ran)")
    KvStoreExpiry.notExpired(spark.read.parquet(gens.toIndexedSeq: _*),
      expireAtCol)
      .where(col(valueCol).isNotNull)
      .drop("__reap_at")
  }

}

object KvStore {

  /** One micro-batch against a store: compact to last-value-per-key first
    * (a batch may carry several updates for one key — only the newest
    * matters, including a newest tombstone), then ONE set-based merge.
    * Replay-idempotent and order-insensitive: everything races by `ord`. */
  def upsertBatch(batch: DataFrame, keyCols: Seq[String], ord: Column,
                  store: KvStore): Unit =
    store.merge(Compaction.compact(batch, keyCols, ord))

  /** Streaming wiring: each micro-batch becomes one [[upsertBatch]] merge —
    * the foreachBatch shape every reference KV sink maps to. */
  def sink(df: DataFrame, keyCols: Seq[String], ord: Column,
           store: KvStore): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => upsertBatch(batch, keyCols, ord, store)
    }
}
