package graft.ops

import java.io.File

import graft.functions.GraftExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection against a PERSISTED LSH bucket
  * index — the 100 TB shape for a training-data pipeline that ingests
  * continuously: you never re-pair the corpus; each new batch
  *
  *  1. computes its minhash band buckets ([[MinHashLsh.bandBuckets]]),
  *  2. probes the stored postings for ONLY the buckets it touches (a
  *     broadcast semi-join on the batch's distinct bucket keys — untouched
  *     clusters are never expanded),
  *  3. emits candidate pairs that involve at least one NEW document
  *     (old–old pairs were emitted when the older batch arrived, so calls
  *     never re-emit and their outputs are disjoint), and
  *  4. appends its own postings.
  *
  * Feeding a corpus through in any batch split yields exactly the pair set
  * of one-shot [[MinHashLsh.candidatePairs]] over the whole corpus (modulo
  * the star cap in degenerate buckets, which is applied per call) — the
  * `q_dedup_incremental` oracle checks that equality hash-for-hash against
  * the same DuckDB SQL as `q_minhash_lsh`.
  *
  * '''Storage lifecycle.''' Postings live in GENERATION directories with an
  * atomically-swapped `_current` pointer (the [[ParquetKvStore]] pattern):
  * appends accumulate one parquet file per touched (band, bp) partition per
  * batch inside the live generation, and a periodic [[compact]] rewrites
  * them into ONE file per partition in a fresh generation — so a pipeline
  * that runs forever (the [[graft.sources.CronTriggerer.runLoop]] shape)
  * keeps per-partition file counts O(1) instead of O(batches). Compaction
  * can also EXPIRE postings by batch age (`retainOrdGe`), the analog of the
  * reference dedup snapshot horizon (`MessageDeduplication.takeSnapshot`,
  * pulsar-broker/.../persistent/MessageDeduplication.java): an expired
  * document silently stops matching future near-dups, which is the
  * retention contract, not a bug.
  *
  * Appends, probes, and compaction serialize across threads and processes
  * on [[StoreLock]] ([[GenStore.append]], [[GenStore.rewrite]]): a reader
  * holding a pre-compact [[addAndFindPairs]] result stays scannable for
  * one compact cycle (the replaced generation is retained until the next
  * one).
  *
  * The reference analog is dedup state that outlives any one run (broker
  * dedup cursors persisted in `MessageDeduplication.java` snapshots).
  */
class MinHashIndex(spark: SparkSession, path: String, idCol: String,
                   textCol: String, shingleK: Int = 3, numHashes: Int = 16,
                   bands: Int = 4, maxBucket: Int = 1024,
                   prefixChars: Int = 1, strictOrd: Boolean = false) {

  // generation-directory layout + crash-safe pointer: shared [[GenStore]]
  private val gens = new GenStore(path)
  private val present = GenStore.partitionDir("band")

  // shared ord-discipline advisory: a below-high-water ord mis-AGES the
  // appended postings (compact's retention horizon prunes on ord), the
  // fresh-checkpoint footgun's shape for this store
  private val hwm = new OrdHighWater(new File(path), "minhash-lsh", strictOrd)

  /** Runs just before the overlapped pair-expansion materialization — the
    * seam a spec uses to make the concurrent postings append commit
    * first. */
  @volatile private[ops] var beforeExpansion: () => Unit = () => ()

  /** Absolute path of the live postings generation, if any — for plan
    * audits and external scans of the raw postings. */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath

  /** The stored postings, partitioned on (band, bucket-prefix) inside the
    * live generation ([[GenStore.readLive]] missing-vs-failure contract). */
  private def postings(): Option[DataFrame] = gens.readLive(spark, present)

  /** The prefix width the index was CREATED with wins over the
    * constructor: probing p3a-style directories with p3-style filters (or
    * vice versa) would silently match nothing and drop every cross-batch
    * pair, splitting the index into mutually-invisible generations. */
  private lazy val effectivePrefixChars: Int = {
    val f = new java.io.File(path, "_prefix")
    if (f.exists()) {
      val raw = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      raw.toIntOption.filter(_ > 0).getOrElse(throw new IllegalStateException(
        s"index at $path has a corrupt _prefix file ('$raw')"))
    } else {
      new java.io.File(path).mkdirs()
      val tmp = new java.io.File(path, "._prefix.tmp")
      java.nio.file.Files.write(tmp.toPath,
        prefixChars.toString.getBytes("UTF-8"))
      if (!tmp.renameTo(f) && !f.exists())
        throw new java.io.IOException(s"could not persist _prefix at $path")
      prefixChars
    }
  }

  /** Bucket prefix of `prefixChars` hex chars (letter-prefixed so
    * partition-column type inference can never read an all-digit value as a
    * number and strip its leading zero): with `bands` × 16^prefixChars
    * partition directories, a probe's static (band, bp) filter prunes the
    * postings scan to the slices the batch touches instead of re-reading
    * the whole index. Default 1 (64 dirs) keeps per-batch file counts sane;
    * raise it when the index dwarfs every batch and finer pruning pays for
    * the extra directories. */
  private def bp =
    concat(lit("p"), substring(col("bucket"), 1, effectivePrefixChars))

  /** Probe + emit + append for one batch, stamped with the current wall
    * clock as its batch ord. Returns (doc_a, doc_b) candidate near-dup
    * pairs, doc_a < doc_b, involving at least one batch document. */
  def addAndFindPairs(batch: DataFrame): DataFrame = {
    // the wall-clock default is for stores whose age axis IS ingest time;
    // on a strict store it is almost certainly a mistake — one ~epoch-ms
    // stamp onto an epoch-id-fed store advances the high-water mark past
    // every future epoch id and wedges all later appends, so refuse it
    // up front instead of bricking the store
    require(!strictOrd, "a strict-ord MinHashIndex requires an explicit " +
      "batch ord: the wall-clock default would advance the high-water " +
      "mark past every epoch-id-scale ord")
    addAndFindPairs(batch, System.currentTimeMillis())
  }

  /** As [[addAndFindPairs]], with an explicit batch ord (epoch-ms or any
    * monotone batch stamp) persisted on the appended postings — the age
    * axis [[compact]]'s retention horizon prunes on. */
  def addAndFindPairs(batch: DataFrame, batchOrd: Long): DataFrame =
      gens.append(hwm, batchOrd) { gen =>
    val rowsPerBand = numHashes / bands
    val newBB = MinHashLsh.bandBuckets(
      MinHashLsh.signatures(batch, idCol, textCol, shingleK, numHashes),
      idCol, bands, rowsPerBand)
      .withColumn("__new", lit(true))
    // the new postings feed three consumers (touched-key set, expansion,
    // append) — materialize the (md5-heavy) signature subtree once
    newBB.persist()
    try {
      val oldTouched = postings() match {
        case Some(old) =>
          // two-stage pruning: STATIC partition filters on the touched
          // bands and bucket-prefixes — collected on the driver ONCE (one
          // distinct job; the prefix projection and the semi-join build
          // side both derive from the same collected rows, as a driver
          // LocalRelation) — cut the listing/scan to (a slight cartesian
          // superset of) the touched slices; the broadcast semi-join then
          // narrows to the exact buckets. Two flat isin filters, NOT a
          // per-pair OR chain: a chain over bands × 256 pairs nests the
          // column tree deep enough to overflow the converter's stack.
          val touchedRows = newBB.select("band", "bucket").distinct()
            .collect().map(r => (r.getInt(0), r.getString(1)))
          val bandsTouched = touchedRows.map(_._1).distinct.toSeq
          val prefixesTouched = touchedRows
            .map(r => "p" + r._2.substring(0, effectivePrefixChars))
            .distinct.toSeq
          import spark.implicits._
          val touched = touchedRows.toSeq.toDF("band", "bucket")
          old.where(col("band").isin(bandsTouched: _*) &&
              col("bp").isin(prefixesTouched: _*))
            .select(col(idCol), col("band"), col("bucket"))
            .join(broadcast(touched), Seq("band", "bucket"), "left_semi")
            .withColumn("__new", lit(false))
        case None => newBB.limit(0)
      }
      // explicit-N repartition on the group key (see
      // [[MinHashLsh.candidatePairs]]): replaces the aggregate's exchange
      // while opting the pair-expansion stage out of AQE's byte-based
      // coalescing, which folded it to one task (2 × 1.7 s of the
      // incremental query was this single-threaded expansion)
      val tagged = oldTouched.unionByName(newBB)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("band"), col("bucket"))
      // in-group expansion, the candidatePairs shape: sort members by id,
      // pairs (ms[i], ms[j]) i<j keeping only pairs with a new side; the
      // degenerate-bucket star cap fans out around the smallest member.
      // Members are DEDUPED by id first (sorted (id, n) puts a doc's
      // old-posting copy right before its new copy; keep the last of each
      // run, which carries n=true): a crash-replayed batch whose postings
      // already landed re-emits its pairs idempotently instead of pairing
      // every document with itself.
      val grouped = tagged.groupBy(col("band"), col("bucket"))
        .agg(sort_array(collect_list(
          struct(col(idCol).as("id"), col("__new").as("n")))).as("msr"))
        .withColumn("ms", filter(col("msr"), (x, i) =>
          (i === size(col("msr")) - 1) ||
            element_at(col("msr"), i + lit(2))("id") =!= x("id")))
        .drop("msr")
        .where(size(col("ms")) > 1)
      val pairsLazy = grouped
        .select(GraftExpressions.group_pairs(col("ms"), maxBucket))
        .where(col("a.n") || col("b.n"))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .distinct()
      // The pair-expansion materialization and the postings append are
      // INDEPENDENT consumers of the persisted newBB, so they run
      // OVERLAPPED (guide §2.6): the expansion's postings scan listed its
      // files when the probe plan was created, so the concurrent append's
      // new files are invisible to it (the same pinned-listing argument
      // as the lazy-recompute note below), and the materialization still
      // cuts the plan before this call returns — the RETURNED pairs never
      // re-list the postings path (a recompute after a lost block
      // re-reads the file list pinned in the RDD). A crash between the
      // two is the already-designed replay case: the member-dedup keeps
      // re-appended postings idempotent. The generation is live before the first
      // write (GenStore.append), so a partial one's rows simply re-pair
      // idempotently on replay.
      //
      // Append shape notes (unchanged): repartition ON the partition
      // columns (one file per touched directory, not tasks × dirs tiny
      // files) WITH an explicit N — exempts the small shuffle from AQE
      // coalescing, which folded it to ONE task writing all ~64 partition
      // files sequentially (measured ~1.1-1.3 s single-task appends).
      // paramLong (not lit) keeps the generated source byte-stable so the
      // codegen cache hits every trigger.
      val pairsHolder = new Array[DataFrame](1)
      Fs.inParallel(Seq(true, false), maxThreads = 2) {
        case true =>
          beforeExpansion()
          // materialize BEFORE this call returns: a lazily re-planned
          // probe would list this batch's own postings back as "old"; a
          // recompute after a lost block re-reads the file list pinned
          // in the RDD
          pairsHolder(0) = Materialize(pairsLazy)
        case false =>
          newBB.drop("__new").withColumn("bp", bp)
            .withColumn("ord", graft.functions.Params.paramLong(batchOrd))
            .repartition(spark.sessionState.conf.numShufflePartitions,
              col("band"), col("bp"))
            .write.mode("append").partitionBy("band", "bp")
            .parquet(gen.getAbsolutePath)
      }
      pairsHolder(0)
    } finally newBB.unpersist()
  }

  /** Rewrite the accumulated per-batch append files into ONE file per
    * (band, bp) partition in a fresh generation, atomically swapped in —
    * per-partition file counts go back to O(1) no matter how many batches
    * appended, and the pair set [[addAndFindPairs]] computes is unchanged.
    *
    * `retainOrdGe` additionally EXPIRES postings whose batch ord predates
    * the horizon: their documents stop matching future near-dups (the
    * dedup-snapshot retention contract). The replaced generation is kept
    * until the next compact so a lazy reader bound to it stays scannable;
    * anything older (including crash orphans) is deleted. No-op on an
    * empty index. */
  def compact(retainOrdGe: Option[Long] = None): Unit =
      gens.rewrite(present) { (cur, next) =>
    val p = spark.read.parquet(cur.getAbsolutePath)
    Par.byCols(retainOrdGe.map(h => p.where(col("ord") >= h)).getOrElse(p),
        col("band"), col("bp"))
      .write.partitionBy("band", "bp").parquet(next.getAbsolutePath)
  }

  /** Count-triggered [[compact]] ([[GenStore.compactIfDue]] over the
    * widest partition's file count), forwarding `retainOrdGe` to the
    * compaction it triggers. */
  def compactIfDue(maxBatches: Int,
                   retainOrdGe: Option[Long] = None): Boolean =
    gens.compactIfDue(maxBatches)(compact(retainOrdGe))
}
