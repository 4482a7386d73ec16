package graft.ops

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF postings for continuous-ingest ANN — the vector twin of
  * [[MinHashIndex]]: a pipeline that embeds documents batch by batch
  * appends each batch's vectors into their coarse cells and searches
  * against the accumulated index, never re-scanning (let alone
  * re-shuffling) the whole corpus per query batch.
  *
  * Layout: one generation directory ([[GenStore]] pointer contract) holding
  * parquet partitioned by `cell=` — [[add]] appends one file per TOUCHED
  * cell per batch (repartitioned on the partition column first, so a wide
  * batch cannot explode into tasks×cells tiny files), and [[search]] prunes
  * the scan to the probed cells with a static partition filter collected on
  * the driver (bounded by |queries| × nprobe — the query side is broadcast
  * anyway). A periodic [[compact]] rewrites accumulated per-batch files to
  * one per cell, the same maintenance cadence as the other stores.
  *
  * Cell assignment is the caller's expression — `label`-style precomputed
  * cells for oracle-exact tests, [[KMeans.assignExpr]] against trained
  * centroids for real use (probe with [[KMeans.probeExpr]]); the index
  * stores whatever cell ids it is given.
  *
  * Crash contract: a replayed append re-lands the same (id, vector, cell)
  * rows; [[search]] de-duplicates postings by id, so replay never changes
  * results. Appends and compacts serialize on [[StoreLock]].
  *
  * Reference analog: tiered index state that outlives any run — offloaded
  * ledger indexes (`tiered-storage/.../OffloadIndexBlockImpl.java`).
  */
class IvfIndex(spark: SparkSession, path: String, idCol: String,
               vecCol: String) extends ProbeBudgeted {
  import IvfIndex.{CompactStats, RecallPolicy}

  private val gens = new GenStore(path)
  private val present = GenStore.partitionDir("cell")

  private def postingsIn(g: File): Option[DataFrame] =
    gens.readGeneration(spark, g.getName, present)

  // readLive (not postingsIn): the GenStore schema cache spares the
  // per-call footer-inference job — this is the per-micro-batch read path
  private def postings(): Option[DataFrame] = gens.readLive(spark, present)

  /** The quantizer bound to generation `g`: the in-generation artifact
    * (written by [[centroids]] and carried/retrained by [[compact]]), or
    * the root-level `_centroids` of a store created before the quantizer
    * moved inside the generation. That fallback stays: `rag-ivf-store`
    * lives under `Artifacts.baseDir`, which survives Bench runs, and
    * without it an old store would retrain its quantizer and then
    * silently probe the wrong cells. */
  private def quantizerIn(g: Option[File]): Option[Array[Array[Double]]] =
    (g.map(new File(_, "_quantizer")).toSeq :+ new File(path, "_centroids"))
      .find(d => new File(d, "_SUCCESS").exists())
      .map(d => KMeans.loadCentroids(spark, d.getAbsolutePath))

  // the tuned probe budget ([[ProbeBudgeted]]: probeBudget /
  // saveProbeBudget / tunedProbeBudget) lives in `_probe_budget` beside
  // `_quantizer` — the same kind of trained artifact (deterministic in
  // corpus + layout), so it travels with the generation and a
  // retraining [[compact]] DROPS it: a budget priced for the old cell
  // layout says nothing about the new one
  override protected def probeBudgetGens: GenStore = gens

  /** Append one batch: each vector lands in the cell `cell` evaluates to.
    * One file per touched cell. A null cell fails the write loudly — Hive
    * partitioning would otherwise bury the row in the default partition
    * where search's cell filter can never find it (silent data loss). */
  def add(batch: DataFrame, cell: Column): Unit =
      StoreLock.exclusive(gens.root) {
    appendCells(assigned(batch, cell, "add"))
  }

  /** (id, vec, cell) rows; a null cell fails the write loudly. */
  private def assigned(batch: DataFrame, cell: Column,
                       face: String): DataFrame = {
    val c = cell.cast("int")
    batch.select(col(idCol), col(vecCol), when(c.isNull, raise_error(lit(
      s"IvfIndex.$face: null cell assignment — row would be unsearchable")))
      .otherwise(c).as("cell"))
  }

  /** One file per touched cell into the live (or created) generation. */
  private def appendCells(rows: DataFrame): Unit =
    rows.transform(d => Par.byCols(d, col("cell")))
      .write.mode("append").partitionBy("cell")
      .parquet(gens.liveOrCreate().getAbsolutePath)

  /** Replay-idempotent append — the STREAMING face of [[add]]: batch ids
    * are anti-joined against the stored ids of only the touched cells
    * (static partition filter from one bounded driver collect — the
    * probe-store discipline of [[SimHashIndex]]/[[MinHashIndex]]), so a
    * crash-replayed micro-batch re-lands NOTHING. [[search]] was already
    * replay-stable via read-side id dedup; this face keeps the STORE
    * itself converged — no duplicate posting rows accumulating toward
    * every later compaction/count. O(batch + touched-cell postings) work
    * against a corpus-sized store. */
  def addIdempotent(batch: DataFrame, cell: Column): Unit =
      StoreLock.exclusive(gens.root) {
    // two consumers (touched-cell collect, append) — materialize the
    // assignment once
    val rows = assigned(batch, cell, "addIdempotent").persist()
    try {
      val touched = rows.select(col("cell")).distinct()
        .collect().map(_.getInt(0))
      val storedIds = postings()
        .filter(_ => touched.nonEmpty)
        .map(_.where(col("cell").isin(touched.toSeq: _*))
          .select(col(idCol)).distinct())
      appendCells(storedIds
        .map(si => rows.join(si, Seq(idCol), "left_anti"))
        .getOrElse(rows))
    } finally { rows.unpersist(); () }
  }

  /** Live generation path (plan audits / external scans) — the
    * [[SimHashIndex.currentGenerationPath]] convention. */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath

  /** Whether any postings landed yet — a pure directory listing. */
  def hasData: Boolean = gens.hasData(present)

  /** The live postings as (id, vec, cell) — the store-reading face for
    * callers pairing their own probe machinery with the stored layout
    * (recall-profile tuning, [[Similarity.ivfTopKPreassigned]]). */
  def postingsDf(): Option[DataFrame] = postings()

  /** The persisted quantizer of the live generation, if any — the cell
    * layout the stored postings were assigned under. */
  def quantizer(): Option[Array[Array[Double]]] =
    quantizerIn(gens.currentGen())

  /** Distinct stored vectors (0 on an empty store) — the audit face for
    * continuously-ingested stores; id-distinct so a pre-[[addIdempotent]]
    * crash replay's residue can't inflate it. */
  def postingsCount(): Long =
    postings().map(_.select(col(idCol)).distinct().count()).getOrElse(0L)

  /** Top-k cosine neighbors from the probed cells only. `queries` must be
    * small (it is broadcast); `probeCells` is an array column of cell ids
    * to search (a one-element array = classic single-probe IVF,
    * [[KMeans.probeExpr]] = multi-probe). Returns (query_id, neighbor_id,
    * sim, rank). */
  def search(queries: DataFrame, probeCells: Column, k: Int): DataFrame =
    searchStored(postings().getOrElse(throw new IllegalStateException(
      s"IVF index at $path has no postings yet (no add ran)")),
      queries, probeCells, k)

  /** [[search]] with the index's OWN quantizer: probe cells come from the
    * SAME generation as the postings — one pointer resolution covers both
    * reads, so a concurrent retraining [[compact]] can never pair old
    * centroids with a rebucketed layout (the replaced generation stays
    * readable for one cycle, quantizer included). Use this form whenever
    * the index owns its quantizer ([[centroids]]); the caller-supplied
    * [[search]] remains for precomputed cell schemes. */
  def searchOwn(queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val g = gens.currentGen().getOrElse(throw new IllegalStateException(
      s"IVF index at $path has no postings yet (no add ran)"))
    val stored = postingsIn(g).getOrElse(throw new IllegalStateException(
      s"IVF index at $path has no postings yet (no add ran)"))
    val cents = quantizerIn(Some(g)).getOrElse(throw new IllegalStateException(
      s"IVF index at $path has no persisted quantizer — searchOwn needs " +
        "centroids(); use search() for caller-provided cell schemes"))
    searchStored(stored, queries,
      KMeans.probeExpr(col(vecCol), cents, nprobe), k)
  }

  private def searchStored(stored: DataFrame, queries: DataFrame,
                           probeCells: Column, k: Int): DataFrame = {
    // queries feed two consumers (the probe-cell collect and the scoring
    // join) and are small by contract — materialize the plan once
    val q = Materialize(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), probeCells.as("__cells"))
      // explode_OUTER: a null/empty probe array must surface as a null cell
      // for the loud check below — plain explode would silently drop the
      // query from the results, indistinguishable from "no neighbors"
      .withColumn("__cell", explode_outer(col("__cells")))
      .withColumn("__cell", col("__cell").cast("int"))
      .drop("__cells"))
    // static partition filter from the driver-collected probe set: the scan
    // lists and reads ONLY the probed cell directories. Null, empty, or
    // null-element probe arrays fail here, loudly — isin(null) can never
    // match a stored row.
    val cells = q.select("__cell").distinct().collect().map { r =>
      require(!r.isNullAt(0),
        "IvfIndex.search: null or empty probe-cell array")
      r.getInt(0)
    }.toSeq
    val c = stored.where(col("cell").isin(cells: _*))
      // a crash-replayed append re-lands identical rows — id wins once
      .dropDuplicates(idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col("cell").as("__cell"))
    Similarity.topK(
      Similarity.scoreAgainst(Par.spread(c), q, "__cell"),
      k, Seq("query_id"))
  }

  /** The index's own quantizer, trained once and persisted INSIDE the live
    * generation (`_quantizer/`, with a legacy root-level `_centroids/`
    * fallback for older stores): the first call trains
    * on `train` and saves; every later call — including a restarted
    * pipeline, or another consumer opening the same path — loads the saved
    * artifact. This is the restart-safety contract: postings were written
    * under these centroids' cell assignment, so re-fitting on restart
    * (slightly different centroids → different cells) would silently probe
    * cells that do not match the stored layout. Always assign adds with
    * [[KMeans.assignExpr]] and probe with [[KMeans.probeExpr]] over THIS
    * array. */
  def centroids(train: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    // the persisted artifact wins over the arguments — but silently
    // returning a different-k quantizer breaks callers sized to k. The
    // postings were laid out under THIS artifact, so the remedy is to
    // match it, never to delete it (that would strand the postings).
    // (A retraining compact refreshes the artifact and the postings
    // TOGETHER, so "the live artifact" is always the live layout.)
    def persisted(): Option[Array[Array[Double]]] =
      quantizerIn(gens.currentGen()).map { cents =>
        require(cents.length == k,
          s"persisted quantizer at $path has ${cents.length} cells but " +
            s"caller asked for $k — pass k=${cents.length} (the layout the " +
            "postings were written under), or rebuild the index to change k")
        cents
      }
    persisted().getOrElse {
      // refuse to FIRST-train over existing postings: they were written
      // under some other cell layout (caller-provided cells, or a lost
      // artifact) and a fresh quantizer would silently probe cells the
      // postings were not laid out under. Listing-only check — no reason
      // to pay a parquet schema-inference job for an existence question.
      if (hasData)
        throw new IllegalStateException(
          s"IVF index at $path has postings but no persisted quantizer — " +
            "training one now would not match the stored cell layout")
      val cents = KMeans.fit(train, idCol, vecCol, k, iters)
      // validate BEFORE persisting: a tiny training frame can yield < k
      // centroids, and persisting that artifact first would wedge every
      // retry behind a misleading "stale artifact" error
      require(cents.length == k,
        s"training produced ${cents.length} < $k centroids — too few " +
          "distinct vectors in the training frame; lower k or train on more data")
      // saved under the lock, INSIDE the (possibly fresh) live generation,
      // so quantizer and postings always travel — and swap — together. A
      // concurrent first caller that saved while this one trained wins:
      // postings may already be laid out under its quantizer.
      StoreLock.exclusive(gens.root)(persisted().getOrElse {
        KMeans.saveCentroids(spark,
          new File(gens.liveOrCreate(), "_quantizer").getAbsolutePath, cents)
        cents
      })
    }
  }

  /** Rewrite accumulated per-batch append files to ONE file per cell in a
    * fresh generation — per-cell file counts back to O(1) no matter how
    * many batches appended; search results unchanged (unless a retrain
    * triggers, below). The index's quantizer is carried into the new
    * generation, so every generation is self-contained; the replaced one
    * is kept one cycle for lazy readers.
    *
    * With a [[IvfIndex.RecallPolicy]] and an owned quantizer, compact is
    * also the DRIFT monitor: it measures probe-recall@k of the live
    * quantizer on a deterministic sample of the stored vectors against the
    * brute-force answer (the [[Similarity.probeRecalls]] machinery — one
    * extra corpus pass), and when recall has sagged below the target —
    * the corpus drifted away from the centroids it was bucketed under —
    * it re-fits the quantizer ON the stored corpus and rewrites every
    * posting into its new cell. New centroids and rebucketed postings land
    * in the SAME new generation before the one pointer swap, so a
    * concurrent [[searchOwn]] reader sees either the old pair or the new
    * pair, never a mix. Returns what the monitor saw (None when no policy
    * ran: no postings, no policy, or no owned quantizer). */
  def compact(recall: Option[RecallPolicy] = None): Option[CompactStats] =
      gens.rewrite(present) { (cur, next) =>
    val p = spark.read.parquet(cur.getAbsolutePath)
      .dropDuplicates(idCol).persist()
    try {
      val cents = quantizerIn(Some(cur))
      val stats = (recall, cents) match {
        case (Some(pol), Some(c)) =>
          // deterministic hash-ordered sample: orderBy+limit compiles to
          // TakeOrderedAndProject (per-partition top-N, no global sort)
          val sample = Materialize(p
            .orderBy(xxhash64(col(idCol)))
            .limit(pol.sampleN)
            .select(col(idCol), col(vecCol)))
          val rec = try {
            val profile = Similarity.ivfProbeProfile(sample, p, idCol,
              vecCol, c, Seq(pol.nprobe), pol.k)
            val exact = Similarity.bruteForceTopK(sample, p, idCol, vecCol,
              pol.k)
            Similarity.probeRecalls(profile, exact, Seq(pol.nprobe))
              .select(col("recall").cast("double")).head().getDouble(0)
          } finally Materialize.release(sample)
          Some(CompactStats(rec, retrained = rec < pol.target))
        case _ => None
      }
      val retrainTo =
        if (stats.exists(_.retrained)) {
          // retrains SIZE the quantizer to the corpus it now holds
          // (√n rule, [[IvfIndex.grownCells]]): a store that grew 100×
          // since training would otherwise keep its original cell
          // count forever, and per-cell postings lists — hence every
          // probe's candidate volume — would grow linearly with the
          // corpus. The retrain is already a full rewrite, so growing
          // the cell count costs nothing extra beyond the fit itself.
          val grown = IvfIndex.grownCells(cents.get.length, p.count(),
            recall.get.cellsPerSqrtN)
          Some(KMeans.fit(p, idCol, vecCol, grown, recall.get.refitIters))
        } else None
      val rebucketed = retrainTo match {
        case Some(nc) =>
          p.withColumn("cell", KMeans.assignExpr(col(vecCol), nc))
        case None => p
      }
      rebucketed.transform(d => Par.byCols(d, col("cell")))
        .write.partitionBy("cell").parquet(next.getAbsolutePath)
      // quantizer travels with its layout — written BEFORE the swap
      retrainTo.orElse(cents).foreach(cs => KMeans.saveCentroids(spark,
        new File(next, "_quantizer").getAbsolutePath, cs))
      // the tuned probe budget travels with the LAYOUT it was priced
      // for: carried verbatim when the layout is unchanged, DROPPED on
      // a retrain (cells moved and grew — the old budget would price
      // probes against a layout that no longer exists; the next
      // [[tunedProbeBudget]] call re-prices against the new one)
      if (retrainTo.isEmpty) ProbeBudgetFile.carry(cur, next)
      stats
    } finally { p.unpersist(); () }
  }.flatten

  /** Count-triggered [[compact]] ([[GenStore.compactIfDue]] over the
    * widest cell's file count), forwarding the [[IvfIndex.RecallPolicy]]
    * to the compaction it triggers — so the drift monitor runs exactly
    * when the store is rewritten anyway. */
  def compactIfDue(maxBatches: Int,
                   recall: Option[RecallPolicy] = None): Boolean =
    gens.compactIfDue(maxBatches)(compact(recall))
}

object IvfIndex {

  /** Drift-monitor settings for [[IvfIndex.compact]]: measure
    * recall@`k` at `nprobe` probes on a `sampleN`-vector deterministic
    * sample; re-fit the quantizer (`refitIters` Lloyd iterations) and
    * rebucket when measured recall drops below `target`. A retrain also
    * GROWS the cell count to `cellsPerSqrtN`·√n when the store has
    * outgrown its layout ([[grownCells]]); 0.0 pins the original count
    * (the pre-r16 behavior, for layouts sized by an external policy). */
  final case class RecallPolicy(target: Double, nprobe: Int = 2, k: Int = 10,
                                sampleN: Int = 64, refitIters: Int = 5,
                                cellsPerSqrtN: Double = 1.0)

  /** The √n cell-count rule for retrains: enough cells that per-cell
    * postings lists stay ~`1/cellsPerSqrtN`·√n rows, so a probe's
    * candidate volume grows as √n with the corpus instead of linearly —
    * at a fixed cell count an every-anchor kNN-join does
    * O(n²·nprobe/ncells) work and a 100 TB store takes a year where a
    * √n-sized one takes a day. Never shrinks: fewer cells than the live
    * layout would only coarsen a working quantizer (and the quantizer
    * fit itself costs ncells·n per Lloyd pass, which at ncells ∝ √n
    * stays O(n^1.5), the same order as the probes it serves — growing
    * FASTER than √n would make training the bottleneck instead).
    * Reference analog for grow-with-load index sizing: the bucketed
    * delayed-delivery tracker re-buckets as the delayed set grows
    * (pulsar-broker/.../delayed/bucket/BucketDelayedDeliveryTracker.java). */
  def grownCells(current: Int, n: Long, cellsPerSqrtN: Double = 1.0): Int =
    math.max(current,
      math.ceil(cellsPerSqrtN * math.sqrt(n.toDouble)).toInt)

  /** What [[IvfIndex.compact]]'s monitor observed: the measured recall and
    * whether it triggered a retrain+rebucket. */
  final case class CompactStats(recall: Double, retrained: Boolean)
}
