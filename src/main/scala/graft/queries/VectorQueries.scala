package graft.queries

import graft.core.Tables
import graft.ops.{Materialize, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding: array<float>`):
  * brute-force cosine top-k baseline, IVF-style coarse-cell ANN, and
  * LSH-bucketed ANN. The LSH planes are deterministic literals, so its
  * oracle reproduces them exactly; the TRAINED IVF variants are checked by
  * recall@k bounds against the exact brute-force result computed in-query.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Trained-artifact plumbing shared by the quantizer caches below: the
    * trained matrix/model PERSISTS through [[Artifacts.materialized]]
    * (fingerprint-keyed parquet — trained once per corpus snapshot per
    * BOX, exactly like the IVF-PQ store persists its own quantizers) and
    * an in-process [[graft.ops.SingleFlight]] memo sits on top so a
    * concurrent board's same-key cold misses share one build instead of
    * each launching their own. The r11 contention bench measured the
    * cost of getting this wrong: per-process-memory-only caches made the
    * ANN queries pay a 6–8 s k-means/PQ training INSIDE whichever query
    * hit the cold cache (serial best-of-2 masked it; a once-run
    * concurrent board surfaced it as phantom 9–18× "interference"). */
  private[queries] def matrixArtifact(s: SparkSession, d: String, kind: String)(
      train: => Array[Array[Double]]): Array[Array[Double]] = {
    import s.implicits._
    Artifacts.materialized(s, d, kind) {
      train.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid").coalesce(1)
    }.select(col("cell").cast("int"), col("centroid"))
      .as[(Int, Seq[Double])].collect()   // bounded: k centroid rows
      .sortBy(_._1).map(_._2.toArray)
  }

  private val centroidCache =
    new graft.ops.SingleFlight[(String, Int, Int), Array[Array[Double]]]
  private def centroidsFor(s: SparkSession, d: String, k: Int,
                           iters: Int): Array[Array[Double]] =
    centroidCache((d, k, iters))(
      matrixArtifact(s, d, s"ivf-centroids-k$k-i$iters")(
        graft.ops.KMeans.fit(Tables.embeddings(s, d), "vec_id", "embedding",
          k, iters)))

  /** SemDeDup's resolved ε-group map (vec_id, component) — a persisted
    * corpus artifact like the trained quantizers below. */
  private def semClusters(s: SparkSession, d: String) =
    Artifacts.materialized(s, d, "sem-cc")(
      graft.ops.SemDedup.clusters(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", tau = 0.33))

  /** Unit-normalized embeddings for the cosine-metric ANN family. */
  private def unitEmb(s: SparkSession, d: String) =
    Tables.embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorFunctions.unit(col("embedding")).as("embedding"))

  /** PQ codebooks are a persisted artifact like IVF centroids
    * (deterministic training) — train once per (table, shape). */
  private val pqCache =
    new graft.ops.SingleFlight[(String, Int, Int, Int), graft.ops.Pq.Model]
  private def pqModelFor(s: SparkSession, d: String, m: Int, k: Int,
                         iters: Int): graft.ops.Pq.Model =
    pqCache((d, m, k, iters)) {
      import s.implicits._
      graft.ops.Pq.modelOfRows(
        Artifacts.materialized(s, d, s"pq-model-m$m-k$k-i$iters") {
          graft.ops.Pq.modelRows(s,
            graft.ops.Pq.train(unitEmb(s, d), "vec_id", "embedding", m, k,
              iters))
        }.select(col("mi").cast("int"), col("ci").cast("int"), col("v"))
          .as[(Int, Int, Seq[Double])].collect()) // bounded: m·k rows
    }

  /** √n cell-count rule for the kNN-JOIN family (every anchor × whole
    * corpus — q_knn_ivf, q_triplet_ivf): the coarse quantizer is sized
    * from the corpus it blocks, anchored at 8 cells for the 1.8k-vector
    * sf0.1 shape (so the correctness-gate SFs keep the fixed-8 layout
    * bit-for-bit), growing as √n beyond it. At a FIXED cell count the
    * per-anchor candidate list is nprobe·n/ncells — linear in the
    * corpus, so the join is O(n²) and was the one measured ratio
    * trending above linear (4.02× at 3× data, BENCH_SCALE_1TO3). At √n
    * cells the candidate list grows only as √n; the same rule
    * [[graft.ops.IvfIndex.grownCells]] applies to persisted-store
    * retrains. */
  private[graft] def sqrtCells(n: Long): Int =
    math.max(8, math.round(8.0 * math.sqrt(n / 1800.0)).toInt)

  /** Recall-targeted probe budget for the kNN-join family — the missing
    * half of the √n layout: a FIXED nprobe probes a shrinking fraction
    * of a growing cell count, so recall decays with scale (measured
    * 0.756 at 4-of-8 on sf0.1 → 0.451 at 4-of-32 on the 9× corpus).
    * The standard IVF tuning loop ([[Similarity.chooseProbeBudget]])
    * prices nprobe from the data instead: profile the BOUNDED anchor
    * sample at every candidate budget (one corpus scan), choose the
    * smallest meeting the 0.6 target (margined above the 0.55 claim
    * bound). At the gate SFs 4-of-8 already clears the target, so the
    * chosen budget — and every result row — is identical to the fixed
    * nprobe = 4 era; on grown corpora the budget rises just enough
    * (8-of-32 at 9×, recall 0.639) instead of a fraction-pinned rule
    * that would silently restore the quadratic join. The bounded
    * `exact` sample is the same frame the caller's recall claim audits
    * against. */
  private def tunedNprobe(d: String,
                          sample: org.apache.spark.sql.DataFrame,
                          train: org.apache.spark.sql.DataFrame,
                          exact: org.apache.spark.sql.DataFrame,
                          cents: Array[Array[Double]]): Int =
    // the chosen budget is a trained artifact like the quantizer it
    // tunes (deterministic in the corpus + layout) — PERSISTED per
    // (table, family, cell count) through [[ProbeBudgets]] beside the
    // quantizer artifact, with the SingleFlight memo on top: a
    // long-lived session prices it once, and a NEW session reads the
    // stored budget instead of re-paying the profile scans
    ProbeBudgets.tuned(sample.sparkSession, d, "knn", cents.length) {
      val wide = Seq(4, 6, 8, 12, 16, 24).filter(_ <= cents.length)
      val budgets = if (wide.isEmpty) Seq(cents.length) else wide
      val profile = graft.ops.Similarity.ivfProbeProfile(sample, train,
        "vec_id", "embedding", cents, budgets, 5)
      val row = graft.ops.Similarity.chooseProbeBudget(
        graft.ops.Similarity.probeRecalls(profile, exact, budgets), 0.6)
        .select(col("chosen_nprobe"), col("achieved_recall")).head()
      (row.getInt(0), row.getDouble(1))
    }

  /** [[tunedNprobe]]'s sibling for the triplet miner, priced on the
    * miner's own metric: smallest budget whose mined hardest negative
    * agrees with the exact miner's on ≥ 0.6 of the bounded anchor
    * sample (fallback: the widest budget). The top-5-recall proxy
    * cannot price this — each anchor's own same-label near-duplicates
    * saturate it at any budget (see the q_triplet_ivf comment). The
    * loop is the standard sample-tune: each step is one corpus scan
    * against the BOUNDED sample (posCap 2 — only the negative side is
    * read), so tuning stays linear in the corpus. */
  private def tunedTripletNprobe(d: String,
                                 sampleAnchors: org.apache.spark.sql.DataFrame,
                                 corpus: org.apache.spark.sql.DataFrame,
                                 exactNeg: org.apache.spark.sql.DataFrame,
                                 cents: Array[Array[Double]]): Int =
    ProbeBudgets.tuned(corpus.sparkSession, d, "triplet", cents.length) {
      val wide = Seq(4, 6, 8, 12, 16, 24).filter(_ <= cents.length)
      val budgets = if (wide.isEmpty) Seq(cents.length) else wide
      val total = exactNeg.count().toDouble
      // an empty exact side must fail LOUDLY like the knn twin's
      // probeRecalls does — dividing by zero here would persist
      // agreement = NaN into the budget artifact for the lifetime of
      // the corpus snapshot
      require(total > 0,
        "tunedTripletNprobe: exact miner produced no negatives — the " +
          "anchor sample matched no rows, so agreement is undefined")
      // persist the agreement the chosen budget cleared alongside it —
      // on fallback (no budget met the bound) this is the WIDEST
      // budget's agreement, i.e. the best this layout can do
      var lastAgreement = 0.0
      val chosen = budgets.find { np =>
        val mined = graft.ops.KnnOps.tripletMineIvf(sampleAnchors, corpus,
          "vec_id", "embedding", "label", cents, nprobe = np, margin = 0.1,
          posCap = 2)
          .select(col("vec_id"), col("neg_id").as("ni"))
        lastAgreement = mined.join(exactNeg, "vec_id")
          .where(col("ni") === col("ne")).count() / total
        lastAgreement >= 0.6
      }.getOrElse(budgets.last)
      (chosen, lastAgreement)
    }

  /** Coarse quantizer over UNIT vectors (the cosine-metric face of
    * [[centroidsFor]], which trains on raw vectors). */
  private val unitCentroidCache =
    new graft.ops.SingleFlight[(String, Int, Int), Array[Array[Double]]]
  private def unitCentroidsFor(s: SparkSession, d: String, k: Int,
                               iters: Int): Array[Array[Double]] =
    unitCentroidCache((d, k, iters))(
      matrixArtifact(s, d, s"ivf-unit-centroids-k$k-i$iters")(
        graft.ops.KMeans.fit(unitEmb(s, d), "vec_id", "embedding", k, iters)))

  /** Per-dim SQ8 bounds — one min/max aggregate, cached like the other
    * trained artifacts. */
  private val sqCache = new graft.ops.SingleFlight[String, graft.ops.Sq.Model]
  private def sqModelFor(s: SparkSession, d: String): graft.ops.Sq.Model =
    sqCache(d) {
      import s.implicits._
      val rows = Artifacts.materialized(s, d, "sq8-bounds") {
        val m = graft.ops.Sq.train(Tables.embeddings(s, d), "embedding", 64)
        m.mins.indices.map(j => (j, m.mins(j), m.maxs(j))).toDF("j", "mn", "mx")
          .coalesce(1)
      }.select(col("j").cast("int"), col("mn"), col("mx"))
        .as[(Int, Double, Double)].collect().sortBy(_._1) // bounded: dim rows
      graft.ops.Sq.Model(rows.map(_._2), rows.map(_._3))
    }

  val queries: Map[String, Q] = Map(
    // Exact cosine top-5 for a broadcast query set vs the whole corpus.
    "q_embed_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 20), emb, "vec_id", "embedding", 5)
    }),

    // Scalar-quantized (int8) ANN: per-dim affine codes, asymmetric
    // approximate scoring against reconstructions, exact re-rank of the
    // shortlist — the 4× compression point between raw floats and PQ.
    "q_ann_sq8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.Sq.topKRerank(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", sqModelFor(s, d), k = 3, shortlist = 10)
    }),

    // Sign-random-projection ANN (Charikar '02): 48 md5-derived integer
    // hyperplanes over the CENTERED int8 codes pack into one BIGINT
    // sketch; candidates nominated by bit_count(xor) hamming on 8-byte
    // sketches, then exact-cosine re-rank — the bit-sketch compression
    // point beside PQ and SQ8.
    "q_ann_srp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.Srp.topKRerank(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", sqModelFor(s, d), nBits = 48, k = 3,
        shortlist = 10)
    }),

    // IVF-style ANN: search only the query's coarse cell (label).
    "q_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        emb.where(col("vec_id") < 20), emb, "vec_id", "embedding", "label", 3)
    }),

    // IVF against a PERSISTED postings index (graft.ops.IvfIndex): the
    // corpus arrives in two batches, each appended into its cells; search
    // prunes the postings scan to the probed cells via static partition
    // filters. Must return EXACTLY the one-shot IVF result — same oracle
    // SQL as q_ann_ivf.
    "q_ann_ivf_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc")
        .toFile.getAbsolutePath
      val idx = new graft.ops.IvfIndex(s, dir, "vec_id", "embedding")
      idx.add(emb.where(col("vec_id") % 2 === 0), col("label"))
      idx.add(emb.where(col("vec_id") % 2 === 1), col("label"))
      idx.compact()
      idx.search(emb.where(col("vec_id") < 20), array(col("label")), k = 3)
    }),

    // Embedding-space decontamination: eval vectors (vec_id % 10 = 0)
    // whose cosine against any train vector clears the threshold within
    // the label block — the modality that catches PARAPHRASED eval
    // content no text fingerprint or shingle overlap can see.
    "q_decontaminate_embed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.Decontaminate.nearEmbeddings(
        emb.where(col("vec_id") % 10 =!= 0),
        emb.where(col("vec_id") % 10 === 0),
        "vec_id", "embedding", "label", threshold = 0.35)
    }),

    // LSH-bucketed ANN over the whole corpus. The SRP planes are
    // deterministic md5-derived dyadic rationals (VectorFunctions.plane), so
    // the oracle embeds them as literal VALUES and reproduces buckets,
    // cosines, and ranks EXACTLY — a full hash check despite the
    // "engine-side model".
    "q_ann_lsh" -> ((s, d) => {
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, numPlanes = 8, k = 3)
    }),

    // Matryoshka-style truncated-head search (Kusupati arXiv:2205.13147
    // shape): nominate by cosine over the first 16 dims only (4× less
    // arithmetic and memory traffic per candidate at scan time), then
    // exact full-dim re-rank of the top-10 shortlist. Truncation is
    // deterministic, so unlike the trained-model ANN faces this one
    // hash-checks per ROW against the oracle's replay.
    "q_ann_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val headDim = 16
      def head(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), slice(col("embedding"), 1, headDim)
          .as("embedding"))
      val shortlist = Similarity.bruteForceTopK(
          head(emb.where(col("vec_id") < 10)), head(emb),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val full = emb.select(col("vec_id"), col("embedding"))
      val rer = shortlist
        .join(full.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv")), Seq("query_id"))
        .join(full.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__cv")), Seq("neighbor_id"))
        .withColumn("sim", graft.functions.VectorFunctions
          .cosine(col("__qv"), col("__cv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      rer.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // IVF with TRAINED coarse cells (k-means). The learned centroids have no
    // SQL twin, so the hard check is recall@3 against the EXACT brute-force
    // top-3 computed in the same query: the driver oracle asserts the recall
    // bound holds (a false `recall_ok` hash-fails the round). Bound 0.30 is
    // margined under the measured 0.43–0.53 on the isotropic test corpus.
    "q_ann_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = centroidsFor(s, d, k = 8, iters = 3)
      val indexed = emb.withColumn("cell",
        graft.ops.KMeans.assignExpr(col("embedding"), cents))
      val q = indexed.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val ann = Similarity.ivfTopK(q, indexed, "vec_id", "embedding", "cell", 3)
        .select(col("query_id"), col("neighbor_id"))
      val slots = exact.agg(count(lit(1)).as("__slots"),
        countDistinct(col("query_id")).as("n_queries"))
      val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      slots.crossJoin(hits).select(col("n_queries"),
        (col("__hits") / col("__slots") >= 0.30).as("recall_ok"))
    }),

    // Multi-probe IVF recall profile, one corpus scan for all probe
    // settings: recall@3 at the production setting (nprobe=4) must clear
    // its bound, recall must be monotone in nprobe, and probing every cell
    // must reproduce the exact brute-force top-3 — all hard-checked by the
    // driver oracle. Bound 0.60 is margined under the measured 0.77–0.97.
    "q_ann_ivf_multiprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = centroidsFor(s, d, k = 8, iters = 3)
      val q = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val prof = Similarity.ivfProbeProfile(q, emb, "vec_id", "embedding",
        cents, Seq(1, 4, 8), 3)
      val hits = prof.join(exact, Seq("query_id", "neighbor_id"))
        .agg(sum(when(col("nprobe") === 1, 1).otherwise(0)).as("__h1"),
          sum(when(col("nprobe") === 4, 1).otherwise(0)).as("__h4"),
          sum(when(col("nprobe") === 8, 1).otherwise(0)).as("__h8"))
      val slots = exact.agg(count(lit(1)).as("__slots"),
        countDistinct(col("query_id")).as("n_queries"))
      slots.crossJoin(hits).select(
        col("n_queries"),
        (col("__h4") / col("__slots") >= 0.60).as("recall_ok"),
        (col("__h4") >= col("__h1")).as("monotone_ok"),
        (col("__h8") === col("__slots")).as("exact_at_full_probe"))
    }),

    // Multi-probe SRP LSH recall profile, one corpus scan for all probe
    // budgets — the LSH twin of q_ann_ivf_multiprobe. Probe sets NEST (own
    // bucket, then one-bit flips by increasing margin), so hit counts must
    // be monotone in the budget — a structural invariant a broken probe
    // order or bucket join breaks. recall_ok's 5% floor is margined under
    // the measured 17% at full probe on the isotropic test corpus.
    "q_ann_lsh_multiprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val prof = Similarity.lshProbeProfile(q, emb, "vec_id", "embedding",
        dim = 64, numPlanes = 8, probes = Seq(1, 5, 9), k = 3)
      val hits = prof.join(exact, Seq("query_id", "neighbor_id"))
        .agg(
          coalesce(sum(when(col("nprobe") === 1, 1)), lit(0)).as("__h1"),
          coalesce(sum(when(col("nprobe") === 5, 1)), lit(0)).as("__h5"),
          coalesce(sum(when(col("nprobe") === 9, 1)), lit(0)).as("__h9"))
      val slots = exact.agg(count(lit(1)).as("__slots"),
        countDistinct(col("query_id")).as("n_queries"))
      slots.crossJoin(hits).select(
        col("n_queries"),
        (col("__h5") >= col("__h1")).as("monotone_mid"),
        (col("__h9") >= col("__h5")).as("monotone_full"),
        (col("__h9") >= col("__slots") * 0.05).as("recall_ok"))
    }),

    // Probe-budget auto-tuning against a recall target (the roadmap "LSH
    // auto-tune"): per-budget recall vs the exact brute-force on the sample,
    // then pick the SMALLEST budget meeting the target (max budget when none
    // does). The booleans re-derive the choice contract from the recall
    // table independently of chooseProbeBudget's own aggregation — chosen
    // must be the minimal qualifying budget, one of the candidates, and
    // valid (met the target or was the fallback max).
    "q_ann_autotune" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val prof = Similarity.lshProbeProfile(q, emb, "vec_id", "embedding",
        dim = 64, numPlanes = 8, probes = Seq(1, 5, 9), k = 3)
      val recalls = Similarity.probeRecalls(prof, exact, Seq(1, 5, 9))
      val tuned = Similarity.chooseProbeBudget(recalls, targetRecall = 0.05)
      val bounds = recalls.agg(
        min(when(col("recall") >= 0.05, col("nprobe"))).as("__mm"),
        max(col("nprobe")).as("__mx"))
      tuned.crossJoin(bounds).select(
        (col("chosen_nprobe") === coalesce(col("__mm"), col("__mx")))
          .as("choice_minimal"),
        col("chosen_nprobe").isin(1, 5, 9).as("choice_in_budgets"),
        (col("target_met") || col("chosen_nprobe") === col("__mx"))
          .as("choice_valid"))
    }),

    // Embedding-cosine near-dup dedup within the coarse cell.
    // Cluster-balanced (coreset-style) sampling: assign every vector to
    // its nearest anchor and keep a deterministic per-cluster quota — the
    // diversity-preserving subset selection of corpus curation (dense
    // regions can't crowd out sparse ones). Anchors here are the 8 lowest
    // vec_ids (index i = vec_id i), so the oracle replays the argmin
    // EXACTLY; production would swap in [[centroidsFor]]'s trained
    // centroids under the same plan. Composition: one broadcast argmin in
    // the scan + the skew-proof salted per-stratum top-k — no corpus
    // shuffle beyond the quota windows.
    "q_cluster_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      graft.ops.Sampling.stratifiedTopKSalted(
        emb.withColumn("cluster",
          graft.ops.KMeans.assignExpr(col("embedding"), anchors)
            .cast("long")),
        Seq("cluster"), col("vec_id"), k = 20)
        .select(col("cluster"), col("vec_id"))
    }),

    "q_embed_dedup" -> ((s, d) => {
      Similarity.cosineDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", threshold = 0.35)
    }),

    // SemDeDup ε-groups: members of each semantic near-dup cluster labeled
    // with the group's smallest id (blocked by the coarse cluster column,
    // closed with the alternating-star CC — never all-pairs global). The
    // resolved map is a persisted artifact ([[Artifacts.materialized]]):
    // the pruning decision below reads it instead of re-closing the graph.
    "q_semdedup_clusters" -> ((s, d) => semClusters(s, d)),

    // The semantically pruned corpus: one keeper per ε-group survives —
    // an anti-join of the corpus against the artifact's non-keeper rows.
    "q_semdedup_corpus" -> ((s, d) => {
      val dropped = semClusters(s, d)
        .where(col("vec_id") =!= col("component")).select("vec_id")
      Tables.embeddings(s, d).join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),

    // Product-quantized ANN: 64 floats (256 B) → 8 sub-centroid nibble
    // codes (4 B, 64×), ADC shortlist of 60 + exact re-rank (the IVFADC+R
    // shape); recall@3 vs brute force asserted as data — bound 0.50
    // margined under the measured 0.90 on this corpus.
    "q_ann_pq" -> ((s, d) => {
      val emb = unitEmb(s, d)
      val model = pqModelFor(s, d, m = 8, k = 16, iters = 2)
      val codes = emb.select(col("vec_id"),
        graft.ops.Pq.encodeExpr(col("embedding"), model).as("codes"))
      val q = emb.where(col("vec_id") < 10)
      val ann = graft.ops.Pq.adcTopKRerank(q, codes, emb, "vec_id",
        "embedding", model, k = 3, shortlist = 60)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val slots = exact.agg(count(lit(1)).as("__slots"),
        countDistinct(col("query_id")).as("n_queries"))
      val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      slots.crossJoin(hits).select(col("n_queries"),
        (col("__hits") / col("__slots") >= 0.50).as("recall_ok"),
        lit(8L).as("code_cells"), lit(16L).as("codebook_k"))
    }),

    // The composed IVF-PQ layout: coarse cells prune, codes score, exact
    // re-rank restores precision — nprobe 4 of 8 cells, shortlist 80;
    // bound 0.40 margined under the measured 0.73 on this corpus.
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = unitEmb(s, d)
      val cents = unitCentroidsFor(s, d, k = 8, iters = 2)
      val model = pqModelFor(s, d, m = 8, k = 16, iters = 2)
      val indexed = emb
        .withColumn("cell",
          graft.ops.KMeans.assignExpr(col("embedding"), cents))
        .withColumn("codes",
          graft.ops.Pq.encodeExpr(col("embedding"), model))
      val q = emb.where(col("vec_id") < 10)
      val ann = graft.ops.Pq.ivfPqTopK(q, indexed, "vec_id", "embedding",
        cents, model, k = 3, nprobe = 4, shortlist = 80)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val slots = exact.agg(count(lit(1)).as("__slots"),
        countDistinct(col("query_id")).as("n_queries"))
      val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      slots.crossJoin(hits).select(col("n_queries"),
        (col("__hits") / col("__slots") >= 0.40).as("recall_ok"))
    }),

    // kNN majority-vote classification: the held-out split (vec_id % 10 =
    // 0) labeled by the modal label of its 5 most-similar train vectors —
    // the label-propagation baseline a curation pipeline runs before
    // training a real classifier. Ties: vote count desc, then smaller
    // label; fully oracle-replayed including the vote. Anchors are the
    // ORIGINAL-id slice (vec_id < 2000 — the whole held-out split at the
    // gate SFs, a fixed slice at generated scales): this face is the
    // EXACT brute-force baseline, O(anchors × train) by design, so its
    // board query bounds the anchor set and stays linear in the train
    // corpus; the every-anchor scale path is q_knn_ivf.
    "q_knn_classify" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.KnnOps.knnClassify(
        emb.where(col("vec_id") % 10 === 0 && col("vec_id") < 2000),
        emb.where(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", "label", k = 5)
    }),

    // Nearest-centroid (Rocchio) classification: per-label TRAIN mean
    // vectors (one map-side-combined aggregate — the shape that still
    // works when the corpus is 100 TB), test rows take the most
    // cosine-similar centroid's label.
    "q_centroid_classify" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.KnnOps.centroidClassify(
        emb.where(col("vec_id") % 10 === 0),
        emb.where(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", "label", dim = 64)
    }),

    // The PERSISTED IVF-PQ code store (graft.ops.IvfPqIndex): two appends
    // + compact, then IVFADC+R search over stored 4 B codes with the
    // re-rank fetching full vectors from the base table — must equal the
    // in-memory composed layout row-for-row (emitted as a claim).
    "q_ann_ivfpq_store" -> ((s, d) => {
      val emb = unitEmb(s, d)
      val cents = unitCentroidsFor(s, d, k = 8, iters = 2)
      val model = pqModelFor(s, d, m = 8, k = 16, iters = 2)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-store")
        .toFile.getAbsolutePath
      val idx = new graft.ops.IvfPqIndex(s, dir, "vec_id", "embedding",
        model, cents)
      idx.add(emb.where(col("vec_id") % 2 === 0))
      idx.add(emb.where(col("vec_id") % 2 === 1))
      idx.compact()
      val q = emb.where(col("vec_id") < 10)
      val store = idx.search(q, emb, nprobe = 4, k = 3, shortlist = 80)
      val indexed = emb
        .withColumn("cell",
          graft.ops.KMeans.assignExpr(col("embedding"), cents))
        .withColumn("codes", graft.ops.Pq.encodeExpr(col("embedding"), model))
      val mem = graft.ops.Pq.ivfPqTopK(q, indexed, "vec_id", "embedding",
        cents, model, k = 3, nprobe = 4, shortlist = 80)
      store.select(col("query_id"), col("neighbor_id"), col("sim").as("ss"))
        .join(mem.select(col("query_id"), col("neighbor_id"),
          col("sim").as("ms")), Seq("query_id", "neighbor_id"), "full_outer")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (sum(when(col("ss").isNull || col("ms").isNull ||
            abs(col("ss") - col("ms")) > 1e-9, 1).otherwise(0)) === 0)
            .as("store_matches_memory"))
    }),

    // The kNN-JOIN scale path (every test row × huge train corpus) as
    // checkable claims: probing the recall-TUNED budget of the √n-sized
    // cell layout ([[sqrtCells]] + [[tunedNprobe]] — 4-of-8 at the gate
    // SFs, identical rows to the fixed-nprobe era; cells AND budget grow
    // with the corpus so candidate volume stays sublinear while recall
    // holds its target) must retrieve at least
    // the margined fraction of the exact top-5 train neighbors (bound
    // 0.55 under the measured 0.756 at sf0.01/sf0.1). The recall audit
    // runs on the BOUNDED original-id anchor slice (vec_id < 2000 — the
    // whole test split at the gate SFs, a fixed sample at generated
    // scales): the brute-force exact side is O(anchors × corpus), and
    // auditing every anchor would put a by-design-quadratic verifier on
    // the scale curve of the production join it audits. The production
    // join itself still runs EVERY anchor — ann_complete forces it.
    // Neighbor recall is the lawful kNN-join metric — vote agreement is
    // not, because on label-random data the modal label flips on any
    // candidate change; the vote law (full probe = exact vote) is
    // property-tested instead.
    "q_knn_ivf" -> ((s, d) => {
      val uemb = unitEmb(s, d)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          "vec_id")
      val test = uemb.where(col("vec_id") % 10 === 0)
      val train = uemb.where(col("vec_id") % 10 =!= 0)
      val cents = unitCentroidsFor(s, d, k = sqrtCells(train.count()),
        iters = 2)
      val sample = test.where(col("vec_id") < 2000)
      // consumed by the tuner, the slot count and the recall join —
      // bounded (sample×5 rows), materialize once
      val exact = Materialize(Similarity.bruteForceTopK(
        sample, train, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")))
      val nprobe = tunedNprobe(d, sample, train, exact, cents)
      // two consumers (completeness count + recall join) must not
      // re-run the corpus-scale join; neighbors are anchors×5 rows
      val ann = Materialize(Similarity.ivfTopKProbed(
        test, train, "vec_id", "embedding", cents, nprobe, k = 5)
        .select(col("query_id"), col("neighbor_id")))
      val slots = exact.agg(count(lit(1)).as("__slots"))
      val nTest = test.agg(count(lit(1)).as("n_test"))
      val annQ = ann.agg(countDistinct(col("query_id")).as("__annq"))
      val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      nTest.crossJoin(annQ).crossJoin(slots).crossJoin(hits)
        .select(col("n_test"),
          (col("__annq") === col("n_test")).as("ann_complete"),
          (col("__hits") / col("__slots") >= 0.55).as("recall_ok"))
    }),

    // The IVF-blocked mining scale path vs the exact miner, as checkable
    // claims (the trained-quantizer query discipline), on the √n cell
    // layout ([[sqrtCells]] — 8 at the gate SFs): the positive side runs
    // capped at 512 hash-sampled members per label block (not binding at
    // the gate SFs, where every block is smaller — the mined positive is
    // then EXACT; at mining scale the complete block is O(n²/|labels|),
    // the one part cells cannot block since same-label members sit in
    // the anchor's own cells), and neither mined hardest-similarity can
    // beat its exact counterpart (subset dominance both sides — exact
    // inequalities, rounding is monotone). Negative recall at the tuned
    // probe budget must clear the margined bound. The exact-miner audit runs on the
    // bounded original-id anchor slice (vec_id < 2000 — all anchors at
    // the gate SFs), like q_knn_ivf; n_anchors counts the FULL mined
    // set, forcing the production every-anchor run.
    "q_triplet_ivf" -> ((s, d) => {
      val uemb = unitEmb(s, d)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          "vec_id")
      val anchors = uemb.where(col("vec_id") % 7 === 0)
      val cents = unitCentroidsFor(s, d, k = sqrtCells(uemb.count()),
        iters = 2)
      // probe budget priced on the miner's OWN metric — exact-vs-mined
      // hardest-negative agreement on the bounded anchor sample. The
      // kNN-join's top-5-recall proxy is useless here: the corpus
      // contains each anchor's own near-duplicates (same label), which
      // sit in the anchor's own cell and saturate top-5 recall at any
      // budget, while the hardest NEGATIVE (nearest other-label vector)
      // is what the probes must actually reach. 4 at the gate SFs
      // (agreement 0.72 there); rises with the √n cell count on grown
      // corpora (8-of-34 at 9×, agreement 0.73 measured).
      val sampleAnchors = anchors.where(col("vec_id") < 2000)
      val exact = Materialize(graft.ops.KnnOps.tripletMine(
        sampleAnchors, uemb, "vec_id", "embedding", "label", margin = 0.1))
      val nprobe = tunedTripletNprobe(d, sampleAnchors, uemb,
        exact.select(col("vec_id"), col("neg_id").as("ne")), cents)
      // two consumers (full count + sampled audit join): the mined set
      // is anchors-sized, never re-run the corpus-scale mine
      val ivf = Materialize(graft.ops.KnnOps.tripletMineIvf(
        anchors, uemb, "vec_id", "embedding", "label", cents,
        nprobe = nprobe, margin = 0.1, posCap = 512)
        .select(col("vec_id"), col("pos_id").as("pi"),
          col("pos_sim").as("psi"), col("neg_id").as("ni"),
          col("neg_sim").as("nsi")))
      val audited = exact.select(col("vec_id"), col("pos_id").as("pe"),
          col("pos_sim").as("pse"), col("neg_id").as("ne"),
          col("neg_sim").as("nse"))
        .join(ivf, "vec_id")
        .agg(count(lit(1)).as("__aud"),
          (sum(when(col("psi") >= col("pse"), 1).otherwise(0))
            === count(lit(1))).as("pos_dominated"),
          (sum(when(col("pe") === col("pi"), 1).otherwise(0))
            === count(lit(1))).as("pos_exact_uncapped"),
          (sum(when(col("nsi") <= col("nse"), 1).otherwise(0))
            === count(lit(1))).as("neg_dominated"),
          (sum(when(col("ne") === col("ni"), 1).otherwise(0))
            / count(lit(1)) >= 0.55).as("recall_ok"))
      ivf.agg(count(lit(1)).as("n_anchors")).crossJoin(audited)
        .select(col("n_anchors"), col("pos_dominated"),
          col("pos_exact_uncapped"), col("neg_dominated"), col("recall_ok"))
    }),

    // Batch-hard triplet mining (arXiv:1703.07737): per anchor the
    // least-similar same-label positive and most-similar other-label
    // negative, with the margin-violation flag — the pairs a contrastive
    // fine-tune trains on. One corpus scan, one aggregate, no window.
    "q_triplet_mine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.KnnOps.tripletMine(
        emb.where(col("vec_id") % 7 === 0), emb,
        "vec_id", "embedding", "label", margin = 0.1)
    })
  )

  /** Dot products in the oracle are computed positionally in double via a
    * 64-element range join — same accumulation the Spark side's
    * `aggregate(zip_with(...))` does. */
  private def cosineCte(queryPred: String) =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings
              WHERE $queryPred),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS c_label
              FROM embeddings),
        dots AS (
          SELECT query_id, neighbor_id, q.label AS q_label, c_label,
                 sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
                 sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                 sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
          FROM q, c, LATERAL unnest(range(1, 65)) AS t(i)
          WHERE query_id <> neighbor_id
          GROUP BY query_id, neighbor_id, q.label, c_label)"""

  /** The SRP planes as literal (plane, 1-based index, component) VALUES —
    * [[graft.functions.VectorFunctions.plane]] components are dyadic
    * rationals (m/2^24 − 1/2), so their decimal strings round-trip exactly
    * into DuckDB doubles. */
  private def planeValues(numPlanes: Int, dim: Int): String =
    (0 until numPlanes).flatMap { p =>
      val arr = graft.functions.VectorFunctions.plane(p, dim)
      (1 to dim).map(i => s"($p, $i, ${arr(i - 1)})")
    }.mkString(", ")

  val oracleSql: Map[String, String] = Map(
    "q_ann_matryoshka" ->
      s"""WITH hd AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  sum(CAST(q.embedding[t.i] AS DOUBLE) *
                      CAST(c.embedding[t.i] AS DOUBLE)) AS dp,
                  sum(CAST(q.embedding[t.i] AS DOUBLE) *
                      CAST(q.embedding[t.i] AS DOUBLE)) AS nq,
                  sum(CAST(c.embedding[t.i] AS DOUBLE) *
                      CAST(c.embedding[t.i] AS DOUBLE)) AS nc
           FROM embeddings q, embeddings c,
                LATERAL unnest(range(1, 17)) AS t(i)
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
           GROUP BY q.vec_id, c.vec_id),
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                               neighbor_id ASC) AS rk
             FROM hd) WHERE rk <= 10),
         dots AS (
           SELECT s.query_id, s.neighbor_id,
                  sum(CAST(q.embedding[t.i] AS DOUBLE) *
                      CAST(n.embedding[t.i] AS DOUBLE)) AS dp,
                  sum(CAST(q.embedding[t.i] AS DOUBLE) *
                      CAST(q.embedding[t.i] AS DOUBLE)) AS nq,
                  sum(CAST(n.embedding[t.i] AS DOUBLE) *
                      CAST(n.embedding[t.i] AS DOUBLE)) AS nc
           FROM short s
           JOIN embeddings q ON q.vec_id = s.query_id
           JOIN embeddings n ON n.vec_id = s.neighbor_id,
           LATERAL unnest(range(1, 65)) AS t(i)
           GROUP BY s.query_id, s.neighbor_id)
         SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
           SELECT query_id, neighbor_id,
                  dp / (sqrt(nq) * sqrt(nc)) AS sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                             neighbor_id ASC) AS rank
           FROM dots)
         WHERE rank <= 3""",

    "q_ann_lsh" ->
      s"""WITH planes(p, i, v) AS (SELECT * FROM (VALUES ${planeValues(8, 64)}) t(p, i, v)),
          b AS (
            SELECT vec_id,
                   sum(CASE WHEN dp >= 0 THEN CAST(pow(2, p) AS BIGINT)
                       ELSE 0 END) AS bucket
            FROM (
              SELECT e.vec_id, pl.p,
                     sum(CAST(e.embedding[pl.i] AS DOUBLE) * pl.v) AS dp
              FROM embeddings e CROSS JOIN planes pl
              GROUP BY e.vec_id, pl.p)
            GROUP BY vec_id),
          pairs AS (
            SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
          dots AS (
            SELECT pr.query_id, pr.neighbor_id,
                   sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(n.embedding[t.i] AS DOUBLE)) AS dp,
                   sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS nq,
                   sum(CAST(n.embedding[t.i] AS DOUBLE) * CAST(n.embedding[t.i] AS DOUBLE)) AS nc
            FROM pairs pr
            JOIN embeddings q ON q.vec_id = pr.query_id
            JOIN embeddings n ON n.vec_id = pr.neighbor_id,
            LATERAL unnest(range(1, 65)) AS t(i)
            GROUP BY pr.query_id, pr.neighbor_id)
          SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
            SELECT query_id, neighbor_id, dp / (sqrt(nq) * sqrt(nc)) AS sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC, neighbor_id ASC)
                     AS rank
            FROM dots)
          WHERE rank <= 3""",
    "q_ann_ivf_trained" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q_ann_pq" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                CAST(8 AS BIGINT) AS code_cells,
                CAST(16 AS BIGINT) AS codebook_k
         FROM embeddings WHERE vec_id < 10""",
    "q_ann_ivfpq" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q_ann_ivf_multiprobe" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                true AS monotone_ok, true AS exact_at_full_probe
         FROM embeddings WHERE vec_id < 10""",
    "q_ann_lsh_multiprobe" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS monotone_mid,
                true AS monotone_full, true AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q_ann_autotune" ->
      """SELECT true AS choice_minimal, true AS choice_in_budgets,
                true AS choice_valid""",
    // every %7 anchor must survive the miner: positives exist (every
    // label has many members; the 512-per-label positive cap is not
    // binding at verify scale, so the mined positive is exact) and the
    // probed cells always hold some other-label vector at this corpus
    // shape
    "q_triplet_ivf" ->
      """SELECT count(*) AS n_anchors, true AS pos_dominated,
                true AS pos_exact_uncapped, true AS neg_dominated,
                true AS recall_ok
         FROM embeddings WHERE vec_id % 7 = 0""",
    "q_knn_ivf" ->
      """SELECT count(*) AS n_test, true AS ann_complete,
                true AS recall_ok
         FROM embeddings WHERE vec_id % 10 = 0""",
    "q_ann_ivfpq_store" ->
      """SELECT count(*) AS n_queries, true AS store_matches_memory
         FROM embeddings WHERE vec_id < 10""",
    // SQ8 replay: per-dim min/max bounds from the same corpus, the same
    // floor(+0.5) codes, the same reconstruction, approximate shortlist by
    // reconstructed cosine (ties by id), exact re-rank of the shortlist
    "q_ann_sq8" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
         dims AS (
           SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
                  max(CAST(embedding[i] AS DOUBLE)) AS hi
           FROM e, LATERAL unnest(range(1, 65)) AS t(i) GROUP BY i),
         rec AS (
           SELECT vec_id, i,
                  lo + (CASE WHEN hi = lo THEN 0
                        ELSE floor((CAST(embedding[i] AS DOUBLE) - lo)
                               * 255.0 / (hi - lo) + 0.5) END)
                    * (hi - lo) / 255.0 AS rx
           FROM e, LATERAL unnest(range(1, 65)) AS t(i) JOIN dims USING (i)),
         q AS (
           SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS qx
           FROM e, LATERAL unnest(range(1, 65)) AS t(i)
           WHERE vec_id < 10),
         approx AS (
           SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
                  sum(qx * rx) AS dp, sum(qx * qx) AS nq, sum(rx * rx) AS nr
           FROM q JOIN rec r USING (i)
           WHERE r.vec_id <> q.vec_id
           GROUP BY q.vec_id, r.vec_id),
         cand AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY dp / (sqrt(nq) * sqrt(nr)) DESC,
                               neighbor_id ASC) AS arank
             FROM approx)
           WHERE arank <= 10),
         exact AS (
           SELECT c.query_id, c.neighbor_id,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS dp,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(a.embedding[i] AS DOUBLE)) AS nq,
                  sum(CAST(b.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS nb
           FROM cand c
           JOIN e a ON a.vec_id = c.query_id
           JOIN e b ON b.vec_id = c.neighbor_id,
           LATERAL unnest(range(1, 65)) AS t(i)
           GROUP BY c.query_id, c.neighbor_id)
         SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
           SELECT query_id, neighbor_id,
                  dp / (sqrt(nq) * sqrt(nb)) AS sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dp / (sqrt(nq) * sqrt(nb)) DESC,
                             neighbor_id ASC) AS rank
           FROM exact)
         WHERE rank <= 3""",

    // SRP replay: the same SQ8 code formula centered at 128, planes from
    // md5(j:i) nibbles, integer dot signs packed via <<, hamming
    // shortlist, exact re-rank — every bit derived in SQL
    "q_ann_srp" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         dims AS (
           SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
                  max(CAST(embedding[i] AS DOUBLE)) AS hi
           FROM e, LATERAL unnest(range(1, 65)) AS t(i) GROUP BY i),
         cc AS (
           SELECT vec_id, i,
                  (CASE WHEN hi = lo THEN 0
                   ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - lo)
                          * 255.0 / (hi - lo) + 0.5) AS BIGINT) END) - 128
                    AS cx
           FROM e, LATERAL unnest(range(1, 65)) AS t(i) JOIN dims USING (i)),
         pln AS (
           SELECT j, i,
                  CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16
                    + ${nib(4)} AS BIGINT) - 32768 AS p
           FROM (SELECT j, i, md5(CAST(j AS VARCHAR) || ':' ||
                   CAST(i AS VARCHAR)) AS h
                 FROM range(0, 48) t1(j), range(1, 65) t2(i))),
         sb AS (
           SELECT vec_id, j, CAST(sum(p * cx) AS BIGINT) AS s
           FROM cc JOIN pln USING (i) GROUP BY vec_id, j),
         code AS (
           SELECT vec_id,
                  CAST(sum(CASE WHEN s > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
                    AS sk
           FROM sb GROUP BY vec_id),
         hm AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  bit_count(xor(q.sk, c.sk)) AS hm
           FROM (SELECT * FROM code WHERE vec_id < 10) q
           JOIN code c ON c.vec_id <> q.vec_id),
         cand AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY hm ASC, neighbor_id ASC) AS ar
             FROM hm) WHERE ar <= 10),
         exact AS (
           SELECT c.query_id, c.neighbor_id,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS dp,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(a.embedding[i] AS DOUBLE)) AS nq,
                  sum(CAST(b.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS nb
           FROM cand c
           JOIN e a ON a.vec_id = c.query_id
           JOIN e b ON b.vec_id = c.neighbor_id,
           LATERAL unnest(range(1, 65)) AS t(i)
           GROUP BY c.query_id, c.neighbor_id)
         SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
           SELECT query_id, neighbor_id,
                  dp / (sqrt(nq) * sqrt(nb)) AS sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dp / (sqrt(nq) * sqrt(nb)) DESC,
                             neighbor_id ASC) AS rank
           FROM exact)
         WHERE rank <= 3"""
    },

    "q_embed_topk" ->
      s"""WITH ${cosineCte("vec_id < 20")}
          SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
            SELECT query_id, neighbor_id, dp / (sqrt(nq) * sqrt(nc)) AS sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC, neighbor_id ASC)
                     AS rank
            FROM dots)
          WHERE rank <= 5""",
    // anchors = vec_id 0..7; nearest by |c|²−2·v·c (row-constant |v|²
    // dropped, as in KMeans.assignExpr); quota = md5-ordered top-20 per
    // cluster (the salted Spark selection is row-identical to this
    // unsalted one)
    "q_cluster_balance" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce
                    FROM embeddings WHERE vec_id < 8),
          d AS (
            SELECT e.vec_id, c.cid,
                   sum(CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))
                   - 2 * sum(CAST(e.embedding[i] AS DOUBLE)
                             * CAST(c.ce[i] AS DOUBLE)) AS dist
            FROM embeddings e, c, LATERAL unnest(range(1, 65)) AS t(i)
            GROUP BY e.vec_id, c.cid),
          a AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dist ASC, cid ASC) AS rn
            FROM d),
          asg AS (SELECT vec_id, cid AS cluster FROM a WHERE rn = 1),
          sel AS (
            SELECT cluster, vec_id,
                   row_number() OVER (PARTITION BY cluster
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM asg)
          SELECT cluster, vec_id FROM sel WHERE rn <= 20""",
    "q_embed_dedup" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
          dots AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS dup_id,
                   sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
                   sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
                   sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
            FROM e a
            JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id,
            LATERAL unnest(range(1, 65)) AS t(i)
            GROUP BY a.vec_id, b.vec_id),
          sims AS (
            SELECT doc_a, dup_id, dp / (sqrt(na) * sqrt(nb)) AS sim FROM dots
            WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.35)
          SELECT dup_id, doc_a AS keeper_id, round(sim, 6) AS sim FROM (
            SELECT dup_id, doc_a, sim,
                   row_number() OVER (PARTITION BY dup_id ORDER BY doc_a) AS rn
            FROM sims)
          WHERE rn = 1""",
    "q_decontaminate_embed" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
          dots AS (
            SELECT q.vec_id AS test_id, t.vec_id AS train_id,
                   sum(CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)) AS dp,
                   sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)) AS nq,
                   sum(CAST(t.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)) AS nt
            FROM e q
            JOIN e t ON q.label = t.label
                    AND q.vec_id % 10 = 0 AND t.vec_id % 10 <> 0,
            LATERAL unnest(range(1, 65)) AS s(i)
            GROUP BY q.vec_id, t.vec_id)
          SELECT test_id, train_id,
                 round(dp / (sqrt(nq) * sqrt(nt)), 6) AS sim
          FROM dots
          WHERE nq > 0 AND nt > 0 AND isfinite(nq) AND isfinite(nt)
            AND dp / (sqrt(nq) * sqrt(nt)) >= 0.35""",
    "q_ann_ivf" -> ivfTopKSql,
    // the persisted-index build must land on EXACTLY the one-shot result
    "q_ann_ivf_incremental" -> ivfTopKSql,
    // SemDeDup replay: within-label cosine pairs at τ=0.33, transitive
    // closure via recursive CTE, component = min reachable id
    "q_semdedup_clusters" ->
      s"""WITH RECURSIVE $semPairsCtes,
          reach(a, b) AS (
            SELECT a, a FROM edges
            UNION
            SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a)
          SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a""",
    "q_semdedup_corpus" ->
      s"""WITH RECURSIVE $semPairsCtes,
          reach(a, b) AS (
            SELECT a, a FROM edges
            UNION
            SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
          cc AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
          SELECT v.vec_id, v.label
          FROM embeddings v
          LEFT JOIN cc ON cc.vec_id = v.vec_id
          WHERE cc.vec_id IS NULL OR cc.component = v.vec_id""",
    // kNN vote replay: rank train neighbors per test vector (sim desc, id
    // asc), count labels in the top 5, pick (votes desc, label asc)
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
                           label AS true_label
                    FROM embeddings
                    WHERE vec_id % 10 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS nl
                FROM embeddings WHERE vec_id % 10 <> 0),
          dots AS (
            SELECT query_id, true_label, neighbor_id, nl,
                   sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
                   sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                   sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
            FROM q, c, LATERAL unnest(range(1, 65)) AS t(i)
            GROUP BY query_id, true_label, neighbor_id, nl),
          ranked AS (
            SELECT query_id, true_label, nl,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                              neighbor_id ASC) AS rank
            FROM dots),
          votes AS (
            SELECT query_id, true_label, nl, count(*) AS votes
            FROM ranked WHERE rank <= 5
            GROUP BY query_id, true_label, nl),
          pick AS (
            SELECT query_id, true_label, nl,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY votes DESC, nl ASC) AS rn
            FROM votes)
          SELECT query_id AS vec_id, true_label, nl AS pred_label,
                 nl = true_label AS correct
          FROM pick WHERE rn = 1""",
    // Rocchio replay: per-label train means in double, test rows take the
    // most-cosine-similar centroid (ties → smaller label)
    "q_centroid_classify" ->
      """WITH tr AS (SELECT label, embedding FROM embeddings
                     WHERE vec_id % 10 <> 0),
          cent AS (
            SELECT label AS clabel, i, avg(CAST(embedding[i] AS DOUBLE)) AS cv
            FROM tr, LATERAL unnest(range(1, 65)) AS t(i)
            GROUP BY label, i),
          te AS (SELECT vec_id, label AS true_label, embedding
                 FROM embeddings WHERE vec_id % 10 = 0),
          dots AS (
            SELECT te.vec_id, te.true_label, c.clabel,
                   sum(CAST(te.embedding[c.i] AS DOUBLE) * c.cv) AS dp,
                   sum(CAST(te.embedding[c.i] AS DOUBLE)
                       * CAST(te.embedding[c.i] AS DOUBLE)) AS nq,
                   sum(c.cv * c.cv) AS nc
            FROM te, cent c
            GROUP BY te.vec_id, te.true_label, c.clabel),
          pick AS (
            SELECT vec_id, true_label, clabel,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                              clabel ASC) AS rn
            FROM dots)
          SELECT vec_id, true_label, clabel AS pred_label,
                 clabel = true_label AS correct
          FROM pick WHERE rn = 1""",
    // batch-hard replay: hardest positive = (sim asc, id asc) rank 1 among
    // same-label, hardest negative = (sim desc, id asc) rank 1 among
    // other-label; violated computed on unrounded sims like the engine
    "q_triplet_mine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
                    FROM embeddings WHERE vec_id % 7 = 0),
          c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cl
                FROM embeddings),
          dots AS (
            SELECT query_id, ql, neighbor_id, cl,
                   sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
                   sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                   sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
            FROM q, c, LATERAL unnest(range(1, 65)) AS t(i)
            WHERE query_id <> neighbor_id
            GROUP BY query_id, ql, neighbor_id, cl),
          sims AS (
            SELECT query_id, ql, neighbor_id, cl,
                   dp / (sqrt(nq) * sqrt(nc)) AS sim
            FROM dots),
          pos AS (
            SELECT query_id, ql, neighbor_id AS pos_id, sim AS pos_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim ASC, neighbor_id ASC) AS rn
            FROM sims WHERE cl = ql),
          neg AS (
            SELECT query_id, neighbor_id AS neg_id, sim AS neg_sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rn
            FROM sims WHERE cl <> ql)
          SELECT p.query_id AS vec_id, p.ql AS anchor_label, p.pos_id,
                 round(p.pos_sim, 6) AS pos_sim, n.neg_id,
                 round(n.neg_sim, 6) AS neg_sim,
                 n.neg_sim + 0.1 > p.pos_sim AS violated
          FROM pos p JOIN neg n USING (query_id)
          WHERE p.rn = 1 AND n.rn = 1"""
  )

  /** Shared ε-pair CTEs for the SemDeDup oracles — same double-accumulation
    * dot products as [[cosineCte]], within-label blocking, τ = 0.33. */
  private lazy val semPairsCtes =
    """e AS (SELECT vec_id, label, embedding FROM embeddings),
       dots AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
                sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
                sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
         FROM e a
         JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id,
         LATERAL unnest(range(1, 65)) AS t(i)
         GROUP BY a.vec_id, b.vec_id),
       pairs AS (
         SELECT id_a, id_b FROM dots
         WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.33),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs)"""

  /** Single-probe IVF top-3 — the oracle for BOTH the one-shot `q_ann_ivf`
    * and the persisted-index `q_ann_ivf_incremental` (building the index in
    * batches must produce the identical result). */
  private lazy val ivfTopKSql =
    s"""WITH ${cosineCte("vec_id < 20")}
        SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
          SELECT query_id, neighbor_id, dp / (sqrt(nq) * sqrt(nc)) AS sim,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC, neighbor_id ASC)
                   AS rank
          FROM dots WHERE q_label = c_label)
        WHERE rank <= 3"""
}
