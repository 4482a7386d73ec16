package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ code store — the deployment face of [[Pq.ivfPqTopK]].
  *
  * Postings are (id, codes, cell) rows partitioned by coarse cell: ~4 B of
  * sub-quantizer codes stand in for ~256 B of floats, so the SCAN side of
  * a search reads the 64×-compressed representation and only the
  * per-query shortlist ever touches full vectors — fetched from the BASE
  * table by id, the IVFADC+R deployment reality (the index never stores a
  * float vector at all, which is the storage claim that matters when the
  * corpus is 100 TB). Search must return EXACTLY what the in-memory
  * composed layout ([[Pq.ivfPqTopK]]) returns for the same quantizers:
  * same probed cells, same ADC shortlist with the same (adc desc, id) tie
  * order, same exact-cosine re-rank.
  *
  * '''Quantizers travel with their generation''' (the [[IvfIndex]]
  * contract): the PQ codebooks (`_pq/`) and coarse centroids (`_coarse/`)
  * are persisted INSIDE the generation whose codes they encoded, so a
  * retraining [[compact]] swaps model and layout atomically — a concurrent
  * reader sees either the old pair with the old codes or the new pair with
  * the re-encoded codes, never a mix. The constructor's model/centroids
  * seed the FIRST generation (and serve legacy stores that predate the
  * in-generation artifact); every read path binds to the live generation's
  * own pair.
  *
  * '''Drift monitor.''' With a [[IvfPqIndex.RecallPolicy]] (and the base
  * table to measure against), [[compact]] measures store-search recall@k
  * on a deterministic sample of indexed vectors vs the brute-force answer;
  * when the corpus has drifted from the codebooks it was encoded under and
  * recall sags below target, it re-trains the PQ codebooks ON the stored
  * corpus and re-encodes every posting under the one pointer swap (cells
  * keep the coarse layout — coarse drift is [[IvfIndex]]'s own monitor).
  *
  * Crash contract: ids are IMMUTABLE once added — a replayed append
  * re-lands byte-identical (id, codes, cell) rows, which full-row dedup
  * collapses; a conflicting re-add (same id, different codes) fails
  * [[compact]] loudly instead of keeping an arbitrary row.
  *
  * Reference analog: tiered storage offloads ledger segments into a
  * compact columnar form read transparently on the scan path
  * (tiered-storage/.../impl/BlobStoreManagedLedgerOffloader.java); here
  * the "offloaded" form is the PQ code, and the hot path (re-rank) still
  * reads the authoritative full-precision rows. */
final class IvfPqIndex(spark: SparkSession, path: String, idCol: String,
                       vecCol: String, model: Pq.Model,
                       coarse: Array[Array[Double]]) extends ProbeBudgeted {

  private val gens = new GenStore(path)

  // per-generation quantizer memo: loading two tiny parquet artifacts per
  // op would be pure overhead on the hot path
  private val pairMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Pq.Model, Array[Array[Double]])]()

  /** The quantizer pair bound to generation `g`: its persisted artifacts,
    * or the constructor pair for legacy/unsaved generations. */
  private def pairIn(g: File): (Pq.Model, Array[Array[Double]]) =
    pairMemo.computeIfAbsent(g.getAbsolutePath, _ => {
      val pq = new File(g, "_pq"); val co = new File(g, "_coarse")
      if (new File(pq, "_SUCCESS").exists() &&
          new File(co, "_SUCCESS").exists())
        (Pq.loadModel(spark, pq.getAbsolutePath),
          KMeans.loadCentroids(spark, co.getAbsolutePath))
      else (model, coarse)
    })

  private def savePair(g: File, m: Pq.Model,
                       c: Array[Array[Double]]): Unit = {
    Pq.saveModel(spark, new File(g, "_pq").getAbsolutePath, m)
    KMeans.saveCentroids(spark, new File(g, "_coarse").getAbsolutePath, c)
    pairMemo.put(g.getAbsolutePath, (m, c))
  }

  private def liveGen(): File =
    gens.currentGen().getOrElse(throw new IllegalStateException(
      s"IVF-PQ index at $path has no postings yet (no add ran)"))

  /** The live generation's quantizer pair — what [[search]] scores with
    * right now (changes only when a retraining [[compact]] swaps). */
  def currentPair: (Pq.Model, Array[Array[Double]]) = pairIn(liveGen())

  /** Append one batch: vectors are coarse-assigned and PQ-encoded in the
    * same scan — under the LIVE generation's quantizers — and only
    * (id, codes, cell) is written, never the vector. */
  def add(batch: DataFrame): Unit =
      StoreLock.exclusive(gens.root) {
    val g = gens.liveOrCreate()
    // first write into a fresh generation pins the constructor pair to it,
    // so the generation is self-contained from its first row
    if (!new File(new File(g, "_pq"), "_SUCCESS").exists())
      savePair(g, model, coarse)
    val (liveModel, liveCoarse) = pairIn(g)
    val cell = KMeans.assignExpr(col(vecCol), liveCoarse).cast("int")
    val guarded = when(cell.isNull, raise_error(
      lit("IvfPqIndex.add: null cell assignment — row would be unsearchable")))
      .otherwise(cell)
    batch.select(col(idCol),
        Pq.encodeExpr(col(vecCol), liveModel).as("codes"),
        guarded.as("cell"))
      .transform(d => Par.byCols(d, col("cell")))
      .write.mode("append").partitionBy("cell")
      .parquet(g.getAbsolutePath)
  }

  // the tuned probe budget ([[ProbeBudgeted]]) lives in `_probe_budget`
  // beside `_pq`/`_coarse` — priced against THIS generation's quantizer
  // pair and dropped by a retraining [[compact]] (new codebooks change
  // shortlist quality, so the old budget's cleared recall no longer
  // holds)
  override protected def probeBudgetGens: GenStore = gens

  /** Rewrite to one file per cell in a fresh generation (atomic pointer
    * swap; the replaced generation stays readable for one cycle).
    * Replay-identical rows collapse via FULL-ROW dedup; a same-id row with
    * DIFFERENT codes fails loudly — ids are immutable once added, and a
    * silent arbitrary winner could disagree with the base table the
    * re-rank fetches from.
    *
    * With `recallWith` = (base table, policy), compact is also the drift
    * monitor described in the class doc. Returns what the monitor saw
    * (None when it did not run). */
  def compact(recallWith: Option[(DataFrame, IvfPqIndex.RecallPolicy)] = None)
      : Option[IvfPqIndex.CompactStats] =
      gens.rewrite(GenStore.partitionDir("cell")) { (cur, next) =>
    val (liveModel, liveCoarse) = pairIn(cur)
    val p = spark.read.parquet(cur.getAbsolutePath)
      .dropDuplicates().persist()
    try {
      val clash = p.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1).limit(1).collect()
      if (clash.nonEmpty) throw new IllegalStateException(
        s"IvfPqIndex at $path: id ${clash.head.get(0)} has conflicting " +
          "code rows — ids are immutable once added (delete + rebuild to " +
          "change a vector)")
      val stats = recallWith.map { case (full, pol) =>
        val storedFull = full
          .join(p.select(col(idCol)), Seq(idCol), "left_semi")
        val sample = Materialize(storedFull.orderBy(xxhash64(col(idCol)))
          .limit(pol.sampleN).select(col(idCol), col(vecCol)))
        try {
          val approx = searchAgainst(p, liveModel, liveCoarse, sample, full,
            pol.nprobe, pol.k, pol.shortlist)
            .select(col("query_id"), col("neighbor_id"))
          val exact = Similarity.bruteForceTopK(sample, storedFull, idCol,
            vecCol, pol.k).select(col("query_id"), col("neighbor_id"))
          val slots = exact.count()
          require(slots > 0, "IvfPqIndex.compact: recall undefined — the " +
            "sample produced no exact neighbors")
          val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
            .count()
          IvfPqIndex.CompactStats(hits.toDouble / slots,
            retrained = hits.toDouble / slots < pol.target)
        } finally Materialize.release(sample)
      }
      val (outModel, rows) = stats match {
        case Some(st) if st.retrained =>
          val (full, pol) = recallWith.get
          val storedFull = full
            .join(p.select(col(idCol)), Seq(idCol), "left_semi")
          val nm = Pq.train(storedFull, idCol, vecCol, liveModel.m,
            liveModel.codebooks(0).length, pol.refitIters)
          // cells keep the coarse layout; only the codes re-encode
          val re = storedFull.select(col(idCol), col(vecCol))
            .join(p.select(col(idCol), col("cell")), Seq(idCol))
            .select(col(idCol),
              Pq.encodeExpr(col(vecCol), nm).as("codes"), col("cell"))
          (nm, re)
        case _ => (liveModel, p)
      }
      rows.transform(d => Par.byCols(d, col("cell")))
        .write.partitionBy("cell").parquet(next.getAbsolutePath)
      // quantizers travel with their layout — written BEFORE the swap
      savePair(next, outModel, liveCoarse)
      // the tuned probe budget travels with the quantizer pair it was
      // priced for: carried verbatim when the pair is unchanged,
      // DROPPED on a codebook retrain (the next tunedProbeBudget call
      // re-prices against the new codes)
      if (!stats.exists(_.retrained))
        ProbeBudgetFile.carry(cur, next)
      stats
    } finally { p.unpersist(); () }
  }.flatten

  /** Count-triggered [[compact]] ([[GenStore.compactIfDue]] over the
    * widest cell's file count), forwarding the recall monitor to the
    * compaction it triggers. */
  def compactIfDue(maxBatches: Int,
      recallWith: Option[(DataFrame, IvfPqIndex.RecallPolicy)] = None)
      : Boolean =
    gens.compactIfDue(maxBatches)(compact(recallWith))

  /** IVFADC+R search over the stored codes: probed cells are collected
    * from the (tiny, broadcast) query set and pushed as a STATIC partition
    * filter, the ADC shortlist runs on code rows only, and the exact
    * re-rank fetches shortlist vectors from `full` (the base table) by id.
    * Row-identical to [[Pq.ivfPqTopK]] with the live generation's
    * quantizers. */
  def search(queries: DataFrame, full: DataFrame, nprobe: Int, k: Int,
             shortlist: Int): DataFrame = {
    val g = liveGen()
    val (liveModel, liveCoarse) = pairIn(g)
    searchAgainst(spark.read.parquet(g.getAbsolutePath), liveModel,
      liveCoarse, queries, full, nprobe, k, shortlist)
  }

  private def searchAgainst(stored: DataFrame, liveModel: Pq.Model,
                            liveCoarse: Array[Array[Double]],
                            queries: DataFrame, full: DataFrame, nprobe: Int,
                            k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val probe = KMeans.probeExpr(col(vecCol), liveCoarse, nprobe)
    // static pruning: the probed-cell set is bounded by queries × nprobe
    val probedCells = queries.select(explode(probe).as("__c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val qp = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), explode(probe).as("__probe")))
    val cand = stored
      .where(col("cell").isin(probedCells: _*))
      // crash-replayed appends re-land identical rows — collapse them on
      // the pruned candidate set, never the whole store
      .dropDuplicates()
      .select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
      .join(qp, col("cell") === col("__probe") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", Pq.adcScore(col("__qv"), col("codes"), liveModel))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val short = cand.withColumn("__r", row_number().over(w1))
      .where(col("__r") <= shortlist)
      .select(col("query_id"), col("neighbor_id"), col("__qv"))
    val rescored = short
      .join(full.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv")), Seq("neighbor_id"))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosine(col("__qv"), col("__cv")))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    rescored.withColumn("__r2", row_number().over(w2)).where(col("__r2") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }
}

object IvfPqIndex {

  /** Drift-monitor settings for [[IvfPqIndex.compact]]: measure store
    * recall@`k` (at `nprobe` probes, `shortlist` ADC candidates) on a
    * `sampleN`-vector deterministic sample vs brute force; re-train the PQ
    * codebooks (`refitIters` Lloyd iterations) and re-encode when measured
    * recall drops below `target`. */
  final case class RecallPolicy(target: Double, nprobe: Int = 2, k: Int = 5,
                                sampleN: Int = 32, refitIters: Int = 3,
                                shortlist: Int = 32)

  /** What [[IvfPqIndex.compact]]'s monitor observed. */
  final case class CompactStats(recall: Double, retrained: Boolean)
}
