package graft.queries

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Materialize, MinHashLsh}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text pipeline over the `documents` table: token counting,
  * quality scoring, language ID, fingerprinting, exact dedup, n-gram Jaccard
  * near-dup, MinHash+LSH near-dup, SimHash. All hash primitives are md5-based
  * so the DuckDB oracle reproduces them bit-for-bit.
  */
object TextQueries {

  /** The corpus's trained tokenizer, memoized per sfDir: the merges table
    * is a persisted artifact in production ([[graft.ops.Bpe.save]]) — four
    * board queries share one training run instead of re-learning it. Pure
    * function of the corpus (deterministic tie-breaks), so memoization
    * cannot change any result. */
  private val mergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Bpe.Merge]]()
  private def trainedMerges(s: org.apache.spark.sql.SparkSession,
                            d: String): Seq[graft.ops.Bpe.Merge] =
    mergesCache.computeIfAbsent(d,
      _ => graft.ops.Bpe.train(Tables.documents(s, d), "text", numMerges = 8))

  /** Near-dup artifacts are persisted index products, exactly like the IVF
    * centroids / PQ codebooks / BPE merges cached elsewhere: the LSH pair
    * set and the resolved cluster map are computed once per corpus snapshot
    * ([[Artifacts.materialized]]) and every downstream dedup decision
    * (keeper election, corpus pruning, link seeding) reads the artifact
    * instead of re-deriving the same closure per query. */
  private def lshPairs(s: SparkSession, d: String): DataFrame =
    Artifacts.materialized(s, d, "lsh-pairs")(
      MinHashLsh.candidatePairs(Tables.documents(s, d), "doc_id", "text"))

  /** The transitive near-dup cluster map (doc_id, component). */
  private def nearDupClusters(s: SparkSession, d: String): DataFrame =
    Artifacts.materialized(s, d, "lsh-cc")(
      graft.ops.Components.connected(lshPairs(s, d), "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id"))

  /** Maximal shared spans over the planted corpus (doc_a, doc_b spans) —
    * the alignment table both the span report and the excision decision
    * consume. */
  private def sharedSpansArtifact(s: SparkSession, d: String): DataFrame =
    Artifacts.materialized(s, d, "spans")(
      graft.ops.SpanDedup.sharedSpans(
        plantedSpanCorpus(Tables.documents(s, d)), "doc_id", "text",
        minTokens = 8, k = 5, w = 3))

  /** The RAG chunk corpus embedded with the deterministic hash16 feature
    * vector — the retrieval substrate shared by the brute-force baseline
    * and the MMR diversity re-rank. */
  private def ragChunkVecs(s: SparkSession, d: String): DataFrame =
    // spread the one-file corpus scan BEFORE chunking + the 8×hash16
    // md5 embedding — otherwise the whole embed runs in the single scan
    // task (measured 2 × ~1.45 s single-task map jobs in q_rag_mmr);
    // no-op once the scan is wider than the core count
    graft.ops.RagChunk.chunks(
        graft.ops.Par.spread(
          Tables.documents(s, d).select(col("doc_id"), col("text"))),
        "doc_id", "text", window = 32, stride = 24)
      .withColumn("cid", col("doc_id") * 1000L + col("chunk_idx"))
      .withColumn("vec", transform(sequence(lit(1), lit(8)), i =>
        hash16(concat(i.cast("string"), lit(":"), col("chunk_text")))
          .cast("double")))
      .select(col("cid"), col("vec"))

  /** The persisted RAG chunk index as an [[graft.ops.IvfIndex]] STORE —
    * the same store class the streaming curate pipeline appends into
    * (ask-#5 convergence, r19): chunking, hash16 embedding, quantizer
    * training (√n cells, [[VectorQueries.sqrtCells]]), and
    * cell-partitioned ingest are paid once per corpus snapshot (keyed by
    * [[Artifacts.corpusFingerprint]], reaped/rebuilt under the same
    * maintenance policy as every other artifact); ingest runs through the
    * replay-idempotent streaming face ([[graft.ops.IvfIndex
    * .addIdempotent]]) in slices — the continuous-ingest shape — and
    * retrieval reads postings + quantizer back from the store. The brute
    * twin `q_rag_retrieve` re-derives everything per run — the
    * exhaustive-read baseline this index is the scale path beside
    * (reference analog: `TableViewImpl` reads existing entries once then
    * tails, pulsar-client/.../TableViewImpl.java:96-99;
    * `CompactedTopicImpl.findStartPoint` binary search vs linear scan,
    * pulsar-broker/.../CompactedTopicImpl.java:169-197). */
  private val ragStoreLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private def ragStore(s: SparkSession, d: String): graft.ops.IvfIndex = {
    val path = new java.io.File(
      new java.io.File(Artifacts.baseDir, "rag-ivf-store"),
      Artifacts.corpusFingerprint(d)).getAbsolutePath
    val idx = new graft.ops.IvfIndex(s, path, "cid", "vec")
    if (!idx.hasData) {
      // in-process build serialization only (concurrent board workers);
      // the filesystem stays the cache — a reaped store rebuilds on the
      // next demand instead of trusting a stale in-memory memo
      val lock = ragStoreLocks.computeIfAbsent(path, _ => new Object)
      lock.synchronized {
        if (!idx.hasData) {
          val chunks = Materialize(ragChunkVecs(s, d))
          try {
            val cents = idx.centroids(chunks,
              VectorQueries.sqrtCells(chunks.count()), iters = 2)
            (0 until 4).foreach(b => idx.addIdempotent(
              chunks.where(pmod(col("cid"), lit(4)) === b),
              graft.ops.KMeans.assignExpr(col("vec"), cents)))
          } finally Materialize.release(chunks)
        }
      }
    }
    idx
  }

  /** The BPE-encoded corpus (doc_id, input_ids) under the trained merges —
    * what a tokenized-dataset directory holds on disk; the id report and
    * the packed training records both read it. */
  private def encodedIdsArtifact(s: SparkSession, d: String): DataFrame =
    Artifacts.materialized(s, d, "bpe-ids")(
      graft.ops.Bpe.encodeIds(Tables.documents(s, d), "doc_id", "text",
        trainedMerges(s, d)))

  /** Deterministic page chrome planted around every document for the HTML
    * main-content extraction fixture: a link-dense header + nav (one nav
    * entry long enough to pass the length floor but fail link density),
    * the document text as `<p>` content with an advertising block at every
    * " merge " word boundary, and a short footer. Both engines build the
    * IDENTICAL string, so the extraction oracle replays block-for-block. */
  private val htmlPrefix =
    "<header><script>function nav(x){ if (x<9) { track(\"&amp;go\"); } }" +
      "</script><a href=\"/\">Site</a> <a href=\"/login\">Login</a></header>" +
      "<nav><ul><li><a href=\"/cat\">Extended category navigation with many" +
      " long words</a></li><li><a href=\"/b\">Gamma Delta</a></li></ul>" +
      "</nav><article><p>"
  private val htmlAdBreak =
    "</p><div class=\"ad\"><a href=\"/buy\">Buy now before midnight tonight" +
      "</a></div><p>"
  private val htmlSuffix =
    "</p><p>Research &amp; development notes preserved here for the" +
      " archive &lt;draft&gt; edition</p></article>" +
      "<footer>(c) 2026 example.com <a href=\"/tos\">Terms</a></footer>"
  private def htmlCorpus(docs: DataFrame): DataFrame =
    docs.withColumn("html", concat(lit(htmlPrefix),
      regexp_replace(col("text"), " merge ", htmlAdBreak), lit(htmlSuffix)))

  /** The extraction pipeline's oracle CTEs (chrome-planting → block split →
    * inline strip → keep rule → page-order re-join), shared by the
    * extraction row and the extract→cascade composition. Ends with `agg`
    * = (doc_id, n_blocks, n_kept, main_text). */
  private lazy val htmlExtractCtes: String =
    s"""raw AS (
           SELECT doc_id,
             '$htmlPrefix' ||
             regexp_replace(text, ' merge ', '$htmlAdBreak', 'g') ||
             '$htmlSuffix' AS html
           FROM documents),
         bl AS (
           SELECT doc_id, string_split_regex(
             regexp_replace(regexp_replace(html,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
             '</?(?:p|div|h[1-6]|li|ul|ol|br|nav|header|footer|aside' ||
             '|article|section|main|blockquote|table|tr|td)(?: [^>]*)?/?>')
             AS bs
           FROM raw),
         b AS (
           SELECT doc_id, i,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(bs[i], '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS t,
             CAST(coalesce(list_sum(list_transform(
               regexp_extract_all(bs[i], '<a[^>]*>([^<]*)</a>', 1),
               x -> length(x))), 0) AS BIGINT) AS l
           FROM bl, LATERAL unnest(range(1, len(bs) + 1)) AS u(i)),
         nb AS (
           SELECT doc_id, i, t, l,
                  length(t) >= 40 AND l * 2 <= length(t) * 1 AS keep
           FROM b WHERE t <> ''),
         agg AS (
           SELECT doc_id, count(*) AS n_blocks,
                  count(*) FILTER (WHERE keep) AS n_kept,
                  coalesce(string_agg(t, chr(10) ORDER BY i)
                    FILTER (WHERE keep), '') AS main_text
           FROM nb GROUP BY doc_id)"""

  /** The filter-cascade rule set (name → keep predicate, mask-bit order):
    * the Gopher battery at the board's thresholds, the board's phrase
    * blocklist, lang-id agreement with metadata, and a length floor. */
  private def cascadeRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "gopher" -> graft.ops.GopherQuality.keepExpr(col("text"),
      minWords = 30L, maxMeanLen = 5L, maxDupNum = 3L, maxDupDen = 5L),
    "blocklist" -> (graft.ops.Blocklist.matchCount(col("text"),
      Seq("slow fast", "table value", "hash")) === 0L),
    "lang" -> (langId(col("text")) === col("lang")),
    "length" -> (col("n_chars") >= 100L))

  /** Documents + `model_score` from the [[graft.ops.ModelGate.LinearStub]]
    * classifier over quantized embeddings (features floor(1024·e) — exact
    * power-of-two float scaling). One id-keyed join of two corpus-sized
    * tables (co-partitionable/bucketable at scale), then scan-stage
    * batched inference. */
  private def modelScored(s: SparkSession, d: String): DataFrame = {
    val feats = transform(col("embedding"),
      e => floor(e.cast("double") * lit(1024.0)).cast("long"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), feats.as("__f"))
    graft.ops.ModelGate.withScores(
      Tables.documents(s, d).join(emb, "doc_id"),
      "__f", "model_score", graft.ops.ModelGate.LinearStub(64))
      .drop("__f")
  }

  /** The classifier-threshold cascade rule (mask bit 16 when appended to
    * [[cascadeRules]]): the stub's ± weights make Σ w·f roughly symmetric
    * around zero, so ≥ 0 gates about half the corpus. */
  private def modelRule: (String, org.apache.spark.sql.Column) =
    "model" -> (col("model_score") >= 0L)

  // full 64-dim features: the teacher's labels are linearly separable in
  // this space, so 8 perceptron passes reach ~99% (measured 0.992 at
  // sf0.01) — training demonstrably WORKS, not just runs; a 16-dim
  // student capped at ~0.6 and proved only the plumbing
  private val trainedDim = 64
  private val trainedEpochs = 8

  /** The in-engine-TRAINED classifier head (the step past the stub): a
    * batch perceptron learns the teacher gate's labels from the
    * quantized embedding features — [[graft.ops.LinearTrainer]], K full
    * gradient passes, one map-side-combined aggregate each — then serves
    * through the SAME [[graft.ops.ModelGate]] plumbing as any external
    * model. Weights persist as a corpus-fingerprint-keyed artifact
    * (trained once per snapshot, shared across processes); the
    * trainedDim-row weight collect is bounded by construction. Per-doc output
    * (trained_score, pred, label) pins training AND inference: one wrong
    * gradient in any pass moves every downstream score. */
  private def trainedScored(s: SparkSession, d: String): DataFrame = {
    val feats = transform(col("embedding"),
      e => floor(e.cast("double") * lit(1024.0)).cast("long"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), feats.as("__f"))
    val base = Tables.documents(s, d).select(col("doc_id")).join(emb, "doc_id")
    val labeled = graft.ops.ModelGate.withScores(base, "__f", "__teacher",
        graft.ops.ModelGate.LinearStub(64))
      .withColumn("label", when(col("__teacher") >= 0L, 1L).otherwise(0L))
      .withColumn("__ft", slice(col("__f"), 1, trainedDim))
    // hyperparameters are part of the artifact identity — a dim/epoch
    // change must retrain, not serve a stale head
    val wDf = Artifacts.materialized(s, d,
        s"trained-linear-d$trainedDim-e$trainedEpochs") {
      val w = graft.ops.LinearTrainer.trainPerceptron(labeled, "__ft",
        "label", trainedDim, trainedEpochs)
      import s.implicits._
      w.toSeq.zipWithIndex.map { case (wj, j) => (j + 1, wj) }
        .toDF("j", "w")
    }
    val w = wDf.orderBy("j").collect().map(_.getLong(1))
    graft.ops.ModelGate.withScores(labeled, "__ft", "trained_score",
        graft.ops.LinearTrainer.TrainedLinear(w))
      .select(col("doc_id"), col("trained_score"),
        (col("trained_score") >= 0L).as("pred"), col("label"))
  }

  /** Mask bit 32: the trained head's verdict as one more cascade rule. */
  private def trainedRule: (String, org.apache.spark.sql.Column) =
    "trained" -> (col("trained_score") >= 0L)

  /** The planted OR-of-two-rules tree label (shared with
    * `q_classifier_tree`): ≥2 "customer" tokens or ≥3 "vector" tokens. */
  private def treeLabelCol: org.apache.spark.sql.Column = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    when(size(filter(toks, t => t === "customer")) >= 2 ||
      size(filter(toks, t => t === "vector")) >= 3, 1L).otherwise(-1L)
  }

  /** Documents + the TREE head's verdict through the [[graft.ops
    * .ModelGate]]: `q_classifier_tree`'s depth-2 histogram tree trains
    * once per corpus snapshot (a 3-row persisted artifact — root/ge/lt
    * splits), then serves via the SAME broadcast/session/batch plumbing
    * as the linear heads over dense bucket-count features. Every model
    * family the engine trains now exits through one serving contract. */
  private def treeGateScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tDf = Artifacts.materialized(s, d, "tree-gate-b64-t3") {
      val t = graft.ops.DecisionTree.train(docs, "doc_id", "text",
        treeLabelCol, buckets = 64, maxThr = 3)
      import s.implicits._
      Seq(("root", t.root), ("ge", t.ge), ("lt", t.lt))
        .map { case (n, sp) => (n, sp.bucket, sp.thr, sp.labGe, sp.labLt) }
        .toDF("node", "b", "thr", "lab_ge", "lab_lt")
    }
    val sp = tDf.collect().map(r => r.getString(0) ->
      graft.ops.DecisionTree.Split(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val trained =
      graft.ops.DecisionTree.Trained(sp("root"), sp("ge"), sp("lt"))
    graft.ops.ModelGate.withScores(
      graft.ops.DecisionTree.denseFeatures(docs, "doc_id", "text",
        buckets = 64, outCol = "__f"),
      "__f", "tree_score", graft.ops.DecisionTree.TreeModel(trained))
      .drop("__f")
  }
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // WordCount parity (reference: WordCountFunction.java:31-36) — the
    // flagship Function example as a batch aggregation over documents.
    "q_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .where(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    }),

    "q_token_count" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
    }),

    "q_quality_score" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("quality"))
    }),

    "q_lang_id" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"), col("lang").as("lang_meta"),
        langId(col("text")).as("lang_pred"))
    }),

    "q_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        fingerprint(col("text")).as("fp"))
    }),

    // The language-router audit: confusion matrix of labeled vs
    // predicted language — the table that decides whether the lang-id
    // heuristic is safe to route training data by. One map-side rollup.
    // Par.spread before the lang-id projection: the corpus ships as ONE
    // parquet file per table, so the (CodegenFallback) token-filter scoring
    // otherwise runs in a single scan task while the other cores idle —
    // the guide §2.5 one-unsplittable-file case. spread is a no-op once
    // the scan is already wider than the core count (100 TB shape).
    "q_langid_confusion" -> ((s, d) =>
      graft.ops.Par.spread(
          Tables.documents(s, d).select(col("lang"), col("text")))
        .select(col("lang").as("lang_meta"),
          langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_meta"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_meta"), col("lang_pred"))),

    "q_dedup_exact" -> ((s, d) => {
      Dedup.exactSummary(Tables.documents(s, d), Seq("text"), "doc_id")
    }),

    // N-gram Jaccard near-dup within a blocking key (source): exact pairwise
    // similarity, bounded by the block so it never goes all-pairs global.
    // Scored on xxhash64'd shingle sets — same Jaccard values, ~5× cheaper
    // per pair than string-set intersection.
    "q_ngram_jaccard" -> ((s, d) => {
      MinHashLsh.jaccardBlocked(Tables.documents(s, d), "doc_id", "text",
        "source", shingleK = 3, threshold = 0.12)
    }),

    // Asymmetric n-gram CONTAINMENT within the blocking key: ordered
    // pairs where ≥ 60% of doc_a's shingles sit inside doc_b — the dedup
    // face Jaccard structurally misses (a short doc embedded whole in a
    // long one has containment ≈ 1 while its Jaccard is diluted by the
    // long side's union: quote inclusions, boilerplate-wrapped reposts,
    // chunks of larger pages). Scale path: the set-containment prefix
    // filter — only the query side posts a prefix ((1−t)·|a|+1, since
    // the required overlap ⌈t·|a|⌉ depends on the query's size alone),
    // the index side posts all, size filter |b| ≥ ⌈t·|a|⌉, exact
    // merge-intersect verify.
    "q_ngram_containment" -> ((s, d) => {
      MinHashLsh.containmentBlocked(Tables.documents(s, d), "doc_id",
        "text", "source", shingleK = 3, threshold = 0.6)
    }),

    // MinHash signature: first 4 hash values per doc (oracle-checkable slice
    // of the full 16-hash signature).
    "q_minhash_sig" -> ((s, d) => {
      MinHashLsh.signatures(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
    }),

    // Cross-corpus overlap estimation: two corpus halves sketched as
    // columnwise-min MinHash signatures (mergeable — the 100 TB path
    // never joins shingle sets), signature agreement ≈ shingle-set
    // Jaccard, with the exact intersection/union emitted beside the
    // estimate so the estimator is auditable as data.
    "q_corpus_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val even = docs.where(col("doc_id") % 2 === 0)
      val odd  = docs.where(col("doc_id") % 2 === 1)
      val sigA = MinHashLsh.corpusSignature(
        MinHashLsh.signatures(even, "doc_id", "text"))
      val sigB = MinHashLsh.corpusSignature(
        MinHashLsh.signatures(odd, "doc_id", "text"))
      val agree = sigA.crossJoin(
          sigB.select((0 until 16).map(i => col(s"mh$i").as(s"nb$i")): _*))
        .select((0 until 16).map(i =>
            when(col(s"mh$i") === col(s"nb$i"), 1L).otherwise(0L)
              .as(s"eq$i")): _*)
        .select((0 until 16).map(i => col(s"eq$i")).reduce(_ + _)
          .as("sig_agree"))
      def shingleSet(part: org.apache.spark.sql.DataFrame) = part
        .where(graft.functions.TextFunctions.tokenCount(col("text")) >= 3)
        .select(explode(
          graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
        .distinct()
      val sa = shingleSet(even); val sb = shingleSet(odd)
      val na = sa.agg(count(lit(1)).as("n_a"))
      val nb = sb.agg(count(lit(1)).as("n_b"))
      val iv = sa.join(sb, "sh").agg(count(lit(1)).as("n_inter"))
      na.crossJoin(nb).crossJoin(iv).crossJoin(agree)
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .select(col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
          round(col("n_inter").cast("double") /
            col("n_union").cast("double"), 6).as("jaccard_exact"),
          col("sig_agree"),
          round(col("sig_agree").cast("double") / lit(16.0), 6)
            .as("jaccard_est"))
    }),

    // LSH dedup QUALITY as data (the ANN-recall discipline applied to the
    // near-dup pipeline): for every candidate pair the index admitted, the
    // 16-hash MinHash agreement count and the exact shingle-set Jaccard —
    // per-pair precision is auditable, and the estimator (n_agree/16 ≈ J)
    // is visible against ground truth.
    "q_lsh_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = MinHashLsh.signatures(docs, "doc_id", "text")
      val a = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 16).map(i => col(s"mh$i").as(s"__a$i")): _*)
      val b = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 16).map(i => col(s"mh$i").as(s"__b$i")): _*)
      val agree = (0 until 16).map(i =>
        when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L)).reduce(_ + _)
      MinHashLsh.jaccardOfPairs(lshPairs(s, d), docs, "doc_id", "text")
        .join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"), agree.as("n_agree"),
          col("jaccard"), (col("jaccard") >= 0.5).as("is_near_dup"))
    }),

    // LSH candidate pairs via banded minhash signatures.
    "q_minhash_lsh" -> ((s, d) => {
      MinHashLsh.candidatePairs(Tables.documents(s, d), "doc_id", "text")
    }),

    // Incremental near-dup against a PERSISTED LSH index: the corpus arrives
    // in two batches (odd doc_ids, then even); each batch probes only the
    // stored buckets it touches and appends its postings. The union of the
    // per-batch pair outputs must equal the one-shot candidatePairs result —
    // same oracle SQL as q_minhash_lsh.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-lsh-idx")
        .toFile.getAbsolutePath
      val idx = new graft.ops.MinHashIndex(s, dir, "doc_id", "text")
      val p1 = idx.addAndFindPairs(docs.where(col("doc_id") % 2 === 1))
      val p2 = idx.addAndFindPairs(docs.where(col("doc_id") % 2 === 0))
      p1.unionByName(p2)
    }),

    // Near-dup CLUSTERS: the LSH pair set chained transitively (A~B, B~C
    // puts A and C in one cluster even when they never share a bucket) via
    // alternating large-star/small-star connected components — the oracle
    // recomputes the closure with a recursive CTE over the same pairs.
    "q_dedup_clusters" -> ((s, d) => nearDupClusters(s, d)),

    // Incremental clusters against a PERSISTED link index: the LSH pair set
    // arrives in two batches (odd doc_a, then even), each an O(batch)
    // append; a compact() flattens state to stars between resolution and
    // the final read. Must land on EXACTLY the one-shot closure — same
    // oracle SQL as q_dedup_clusters.
    "q_cluster_incremental" -> ((s, d) => {
      val pairs = lshPairs(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-cc-inc")
        .toFile.getAbsolutePath
      val idx = new graft.ops.ComponentsIndex(s, dir)
      idx.addPairs(pairs.where(col("doc_a") % 2 === 1), ord = 1)
      idx.addPairs(pairs.where(col("doc_a") % 2 === 0), ord = 2)
      idx.compact()
      idx.resolveAll().withColumnRenamed("id", "doc_id")
    }),

    // The dedup DECISION: one kept doc per near-dup cluster (highest char
    // count, ties → smallest doc_id) and every unclustered doc keeping
    // itself — a single map-side-combinable min_by aggregate.
    "q_dedup_keep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Components.keepBest(docs, "doc_id",
        nearDupClusters(s, d), length(col("text")))
    }),

    // Keeper election under the QUALITY score instead of raw length —
    // the policy a curation run actually wants (keep the best-written
    // duplicate, not the longest); same one-aggregate election, same
    // cluster artifact, different score column.
    "q_dedup_keep_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Components.keepBest(docs, "doc_id",
        nearDupClusters(s, d), qualityScore(col("text")))
    }),

    // The deduplicated corpus itself: rows surviving the keep-one decision
    // (a semi-join against the keeper set) — what a pipeline feeds
    // downstream after near-dup dedup.
    "q_dedup_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Components.dropDuplicates(docs, "doc_id",
        nearDupClusters(s, d), length(col("text")))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // SimHash-16 fingerprint per document.
    "q_simhash" -> ((s, d) => {
      graft.ops.SimHashDedup.simhash16(Tables.documents(s, d), "doc_id", "text")
    }),

    // SimHash near-dup pairs: hamming <= 1 via pigeonhole block candidates.
    "q_simhash_dedup" -> ((s, d) => {
      graft.ops.SimHashDedup.nearDuplicates(Tables.documents(s, d),
        "doc_id", "text", maxHamming = 1)
    }),

    // Decontamination (graft.ops.Decontaminate): eval docs (doc_id % 10 = 0,
    // a 10% held-out split) whose content also appears in the train split.
    // Prefix-fingerprint exact matching (first 5 tokens) — the form that
    // catches an eval prompt quoted at the head of a training document.
    "q_decontaminate_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Decontaminate.exact(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", prefixTokens = 5)
    }),

    // Near-duplicate contamination: cross-split MinHash-LSH candidates.
    "q_decontaminate_near" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Decontaminate.near(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text")
    }),

    // Curation sampling (graft.ops.Sampling): all md5-keyed so the oracle
    // verifies selection EXACTLY, not statistically, and a replayed batch
    // selects identical rows.
    // Deterministic 25% Bernoulli by hash — a pure filter, no shuffle.
    "q_sample_hash" -> ((s, d) =>
      graft.ops.Sampling.hashFraction(
        Tables.events(s, d), col("event_id"), 0.25)
        .select(col("event_id"), col("user_id"), col("event_type"))),

    // Language-balanced corpus: deterministic 50-doc reservoir per lang.
    "q_sample_stratified" -> ((s, d) =>
      graft.ops.Sampling.stratifiedTopK(
        Tables.documents(s, d), Seq("lang"), col("doc_id"), 50)
        .select(col("doc_id"), col("lang"), col("source"))),

    // The skew-proof two-phase variant — must land on EXACTLY the
    // unsalted selection (mergeable top-k), so it shares that oracle.
    "q_sample_stratified_salted" -> ((s, d) =>
      graft.ops.Sampling.stratifiedTopKSalted(
        Tables.documents(s, d), Seq("lang"), col("doc_id"), 50, salts = 8)
        .select(col("doc_id"), col("lang"), col("source"))),

    // Token-budget cut: admit docs per lang in hash order until 20k chars.
    "q_sample_budget" -> ((s, d) =>
      graft.ops.Sampling.weightBudget(
        Tables.documents(s, d), Seq("lang"), col("doc_id"),
        col("n_chars"), 20000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Repetition-based quality signals (MassiveText/Gopher-style): duplicate
    // token fraction, duplicate 3-gram fraction, and the share of 3-gram
    // occurrences held by the most frequent 3-gram — all scalar expressions
    // in the scan stage (the top-gram share folds over the sorted n-gram
    // array instead of exploding it).
    "q_quality_repetition" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        dupTokenFraction(col("text")).as("dup_token_frac"),
        dupNgramFraction(col("text"), 3).as("dup_3gram_frac"),
        topNgramFraction(col("text"), 3).as("top_3gram_frac"))),

    // Concat-and-chunk sequence packing (graft.ops.Packing): documents laid
    // end-to-end per language in deterministic hash order, cut every 2048
    // tokens; a doc crossing a cut spans consecutive sequences. Pure
    // integer arithmetic — the oracle reproduces every assignment exactly.
    "q_pack_chunks" -> ((s, d) =>
      graft.ops.Packing.packChunks(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            tokenCount(col("text")).as("n_tokens")),
        Seq("lang"), col("doc_id"), col("n_tokens"), 2048L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_tok"), col("seq_first"), col("seq_last"))),

    // The skew-guarded packing: each language splits into 4 deterministic
    // hash streams that pack independently (bounding any one task's sort
    // at ~1/4 of the language at any corpus size); sequence ids are
    // namespaced per salt so streams never collide.
    "q_pack_salted" -> ((s, d) =>
      graft.ops.Packing.packChunksSalted(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            tokenCount(col("text")).as("n_tokens")),
        Seq("lang"), col("doc_id"), col("n_tokens"), 2048L,
        salts = 4, seqSpan = 1000000L)
        .select(col("doc_id"), col("lang"), col("salt"), col("n_tokens"),
          col("start_tok"), col("seq_first"), col("seq_last"))),

    // BPE-ish subword token count (GPT-2-style pre-tokenizer regex, the
    // lookaround-free subset both dialects parse identically). The corpus
    // is plain lowercase words, so a doc_id-derived digit/punctuation/
    // contraction tail is salted on to make every pattern branch fire.
    "q_token_bpe" -> ((s, d) => {
      val salted = concat(col("text"), lit(" v"),
        col("doc_id").cast("string"), lit(".r"),
        (col("doc_id") % 7).cast("string"), lit("!don't"))
      Tables.documents(s, d).select(col("doc_id"),
        bpeTokenCount(salted).as("n_bpe"),
        bpeTokenCount(col("text")).as("n_bpe_plain"))
    }),

    // Subword token counts under merges LEARNED from this corpus
    // (graft.ops.Bpe): 8 BPE merges trained on the word-type table, then
    // one codegen'd replace-chain count per doc. The oracle replays the
    // SAME training loop (unrolled CTE chain) and encoding — both sides
    // deterministic via the (count desc, pair asc) tie-break.
    "q_token_bpe_trained" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = trainedMerges(s, d)
      docs.select(col("doc_id"),
        graft.ops.Bpe.countTokens(col("text"), merges).as("n_bpe_trained"))
    }),

    // Documents as TRAINING RECORDS: every subword of the trained
    // tokenizer mapped to its vocabulary id, in order — the input_ids
    // arrays a training reader actually consumes. The oracle replays
    // training, encoding, AND the binary-rank vocabulary numbering.
    // Board projection: the id array rendered as (length, comma-joined
    // string) — the driver's sort-and-hash compare cannot order raw array
    // columns, and the joined string is an exact, order-preserving image
    // of the array. BpeSpec asserts the array form directly.
    "q_encode_ids" -> ((s, d) =>
      encodedIdsArtifact(s, d)
        .select(col("doc_id"), size(col("input_ids")).as("n_ids"),
          array_join(col("input_ids").cast("array<string>"), ",")
            .as("ids_str"))),

    // Template/boilerplate concentration: the share of all trigram
    // occurrences captured by each language's top-10 trigrams (ppm) — a
    // spiking share is the tell of machine-generated or template text
    // that per-doc repetition rules miss. rk ≤ 10 is a WHERE before the
    // rollup, so Spark's WindowGroupLimit keeps per-partition top-k
    // heaps instead of sorting the full distinct-gram table.
    "q_ngram_concentration" -> ((s, d) => {
      // spread before the trigram explode: one corpus file = one scan task
      // otherwise explodes + partial-aggregates the whole trigram stream
      // on one core (guide §2.5); no-op when the scan is already wide
      val docs = graft.ops.Par.spread(
        Tables.documents(s, d).select(col("lang"), col("text")))
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val grams = docs.select(col("lang"),
        explode(when(size(toks) >= 3,
            transform(sequence(lit(1), size(toks) - lit(2)),
              i => array_join(slice(toks, i, lit(3)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      val counts = grams.groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("cnt").desc, col("gram"))
      val top = counts.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .groupBy(col("lang")).agg(sum(col("cnt")).as("top10_mass"))
      counts.groupBy(col("lang"))
        .agg(sum(col("cnt")).as("total_trigrams"))
        .join(broadcast(top), "lang")
        .withColumn("top10_share_ppm",
          expr("(1000000 * top10_mass) div total_trigrams"))
        .orderBy(col("lang"))
    }),

    // Distinct-n diversity per (lang, n≤3): total vs distinct n-grams
    // and the ppm ratio — the template/repetition tell a corpus card
    // reports (low distinct-2 = boilerplate or synthetic text). The
    // n-gram stream is scan-stage (guarded transform, no join); the
    // rollup is one aggregate with two-phase distinct.
    "q_ngram_diversity" -> ((s, d) => {
      // spread before the n-gram explodes (see q_ngram_concentration)
      val docs = graft.ops.Par.spread(
        Tables.documents(s, d).select(col("lang"), col("text")))
      val toks = filter(split(col("text"), " "), t => t =!= "")
      // three explodes unioned, NOT one fused struct-array explode: the
      // fused form materializes every (n, gram) struct per row before
      // exploding and measured 2× slower (4.9 s vs 2.4 s at sf0.1) —
      // re-scanning one columnar text column is cheaper than tripling
      // the per-row allocation
      def grams(n: Int) = docs.select(col("lang"), lit(n).as("n"),
        explode(when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - lit(n - 1)),
              i => array_join(slice(toks, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      grams(1).union(grams(2)).union(grams(3))
        .groupBy(col("lang"), col("n"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("gram")).as("distinct_ngrams"))
        .withColumn("distinct_ratio_ppm",
          expr("(1000000 * distinct_ngrams) div total_ngrams"))
        .orderBy(col("lang"), col("n"))
    }),

    // Tokenizer fertility per language: chars-per-100-tokens under the
    // trained BPE — THE tokenizer-quality metric a multilingual corpus
    // report carries (high fertility = the vocab under-serves that
    // language). Reads the persisted encoded-corpus artifact; one
    // map-side-combined rollup; ratio integer-exact via div.
    "q_token_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("nc"))
      encodedIdsArtifact(s, d)
        .join(docs, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("input_ids")).cast("long")).as("n_tokens"),
          sum(col("nc")).as("n_chars"))
        .withColumn("chars_per_100tok",
          expr("(100 * n_chars) div n_tokens"))
        .orderBy(col("lang"))
    }),

    // The packed layout's document-boundary table: which docs occupy
    // each full 128-id chunk and at what offsets — the attention-mask /
    // provenance metadata beside q_pack_ids' input_ids, derived from the
    // same running offsets WITHOUT exploding a single token id.
    "q_pack_segments" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val recs = encodedIdsArtifact(s, d)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.ops.Packing.packSegments(recs, Seq("lang"), "doc_id",
          "input_ids", ctxLen = 128L)
        .orderBy(col("lang"), col("chunk"), col("seg_start"))
    }),

    // Packed TRAINING RECORDS: the encoded id arrays laid end-to-end per
    // language in deterministic md5 order and re-cut into 128-id rows,
    // partial tails dropped — the file a pretraining loader reads. Reads
    // the same persisted encoded-corpus artifact as q_encode_ids.
    "q_pack_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val recs = encodedIdsArtifact(s, d)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.ops.Packing.packIds(recs, Seq("lang"), col("doc_id"),
        "input_ids", ctxLen = 128L)
        .select(col("lang"), col("chunk"),
          array_join(col("input_ids").cast("array<string>"), ",")
            .as("ids_str"))
    }),

    // RAG sliding-window chunking: each document cut into 32-token windows
    // stepping by 24 (8-token overlap so facts straddling a cut survive
    // whole in one chunk) — the retrieval-side counterpart of the packing
    // family above. Pure scan-stage expression work: no shuffle at any
    // corpus size; chunk ids deterministic under any partitioning.
    "q_rag_chunks" -> ((s, d) =>
      graft.ops.RagChunk.chunks(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 24)),

    // The token-budget cut re-based on TRAINED counts: admission in the
    // same deterministic hash order as q_sample_budget, but weighted by
    // the learned tokenizer — the unit a real pretraining mix budgets in.
    "q_sample_budget_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = trainedMerges(s, d)
      graft.ops.Sampling.weightBudget(
        docs.withColumn("n_bpe",
          graft.ops.Bpe.countTokens(col("text"), merges)),
        Seq("lang"), col("doc_id"), col("n_bpe"), 5000L)
        .select(col("doc_id"), col("lang"), col("n_bpe"))
    }),

    // Rolling-hash document fingerprint (winnowing, as in MOSS): min hash
    // per sliding window over the k-gram hash sequence; any shared run of
    // w+k−1 tokens between two docs shares a selected hash. One scalar
    // expression chain — no explode, no shuffle.
    "q_fingerprint_winnow" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        winnowFingerprint(col("text")).as("winnow_fp"))),

    // Exact substring-span dedup (graft.ops.SpanDedup): the passage-level
    // modality doc-level MinHash cannot see. The corpus plants a shared
    // 12-token passage (a donor doc's prefix) into every 17th doc —
    // prepended or appended by parity so span positions vary — and the
    // operator must recover every shared run of ≥ 8 tokens EXACTLY,
    // boundaries included. Oracle reproduces ground truth directly from
    // 5-gram equality + gaps-and-islands, independent of the winnowing
    // candidate machinery.
    // The maximal-shared-span table is a persisted artifact like the LSH
    // pair set above: the excision decision reads it instead of re-running
    // the winnow → candidate → extension pipeline.
    "q_span_dedup" -> ((s, d) => sharedSpansArtifact(s, d)),

    // Span-level decontamination: eval passages quoted ANYWHERE inside
    // training docs — what prefix fingerprints miss off-head and doc-level
    // LSH misses when the quote is small relative to the page. Same
    // planted corpus, split test (%10 = 0) vs train; pairs generated only
    // across the split. maxBucket unbounded here so the oracle's uncapped
    // cross product stays exact at any verify scale (production callers
    // keep the star cap).
    "q_decontaminate_span" -> ((s, d) => {
      val corpus = plantedSpanCorpus(Tables.documents(s, d))
      graft.ops.SpanDedup.crossSpans(
        corpus.where(col("doc_id") % 10 =!= 0),
        corpus.where(col("doc_id") % 10 === 0),
        "doc_id", "text", minTokens = 8, k = 5, w = 3,
        maxBucket = Int.MaxValue)
    }),

    // The PRODUCTION face of span decontamination: the hot-bucket star
    // cap callers actually run (the default maxBucket = 1024) — a
    // degenerate fingerprint bucket (global boilerplate) pairs its test
    // members against the bucket's hub train doc only, instead of the
    // full te×tr cross product. The uncapped face above stays for
    // oracle-exact ground truth (and carries the standing quadratic
    // adjudication in tools/scale_ratio.py); THIS face is the one whose
    // scale curve matters. The oracle REPLAYS the cap end to end: winnow
    // selection (md5 5-gram window minima with leftmost-min positions),
    // per-fingerprint bucket sizes, the te×tr ≤ 1024 branch vs the
    // min-(id,pos)-hub star, then intersects the ground-truth spans with
    // the surviving (test, train, diagonal) candidates — exact at any
    // scale, including ones where the cap BINDS (checked at sf0.1, where
    // the planted-passage buckets exceed it: every 17th of 5k docs
    // shares the passage, te×tr ≈ 29×265 > 1024).
    "q_decontaminate_span_capped" -> ((s, d) => {
      val corpus = plantedSpanCorpus(Tables.documents(s, d))
      graft.ops.SpanDedup.crossSpans(
        corpus.where(col("doc_id") % 10 =!= 0),
        corpus.where(col("doc_id") % 10 === 0),
        "doc_id", "text", minTokens = 8, k = 5, w = 3,
        maxBucket = 1024)
    }),

    // The excision decision derived from the spans: every shared span is
    // cut from the larger doc of its pair; per-doc cuts merge into
    // disjoint intervals. Reads the persisted span artifact.
    "q_span_excise" -> ((s, d) =>
      graft.ops.SpanDedup.excisions(sharedSpansArtifact(s, d))),

    // Paragraph-level corpus dedup (the C4/RefinedWeb unit discipline):
    // structural units recurring corpus-wide, with the keep-one decision
    // per unit. The planted corpus gives every doc three paragraphs;
    // every 3rd doc's middle paragraph is one of three shared boilerplate
    // blocks — mirrored exactly in the oracle CTE.
    "q_paragraph_dedup" -> ((s, d) =>
      graft.ops.ParagraphDedup.duplicated(
        graft.ops.ParagraphDedup.explodeUnits(
          plantedParagraphCorpus(Tables.documents(s, d)), "doc_id", "text"),
        "doc_id")),

    // The excision: boilerplate survives only at its corpus-wide first
    // occurrence; docs that lose nothing pass through VERBATIM (no
    // rebuild), fully-excised docs come back empty, not dropped.
    "q_paragraph_excise" -> ((s, d) =>
      graft.ops.ParagraphDedup.excise(
        plantedParagraphCorpus(Tables.documents(s, d)), "doc_id", "text")),

    // The INCREMENTAL index fed the same corpus as two arrival-ordered
    // batches (even ids, then odd ids): batch-internal and cross-batch
    // occurrences excise against the persisted keeper store, and the
    // union of the two excised batches must equal a one-shot excision
    // under arrival order — exercised THROUGH the store's append path.
    // Persisted SimHash index lifecycle: even-id batch then odd-id batch;
    // every doc flagged iff an EARLIER doc (earlier batch, or smaller id
    // within the batch) sits within hamming 1, keeper = the smallest such.
    "q_simhash_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-simhash-inc")
        .toFile.getAbsolutePath
      val idx = new graft.ops.SimHashIndex(s, dir, "doc_id")
      val v1 = idx.addAndDedup(docs.where(col("doc_id") % 2 === 0), "text", 0)
      val v2 = idx.addAndDedup(docs.where(col("doc_id") % 2 === 1), "text", 1)
      v1.unionByName(v2).orderBy(col("doc_id"))
    }),

    "q_paragraph_incremental" -> ((s, d) => {
      val corpus = plantedParagraphCorpus(Tables.documents(s, d))
      val dir = java.nio.file.Files.createTempDirectory("graft-para-inc")
        .toFile.getAbsolutePath
      val idx = new graft.ops.ParagraphIndex(s, dir, "doc_id", "text")
      val out1 = idx.addAndExcise(corpus.where(col("doc_id") % 2 === 0), 0)
      val out2 = idx.addAndExcise(corpus.where(col("doc_id") % 2 === 1), 1)
      out1.unionByName(out2)
    }),

    // The document-filter DECISION (C4/Gopher-style): per-rule verdicts +
    // the combined keep flag, composed from the token-count and repetition
    // signals. Thresholds sit inside the corpus distributions so both
    // outcomes occur; everything stays a scalar expression in the scan.
    "q_quality_filter" -> ((s, d) => {
      val t = col("text")
      val lenOk = (tokenCount(t) >= 30).as("len_ok")
      val tokRepOk = (dupTokenFraction(t) <= 0.6).as("tok_rep_ok")
      val gramRepOk = (topNgramFraction(t, 3) <= 0.04).as("gram_rep_ok")
      Tables.documents(s, d).select(col("doc_id"), lenOk, tokRepOk, gramRepOk)
        .withColumn("keep",
          col("len_ok") && col("tok_rep_ok") && col("gram_rep_ok"))
    }),

    // PII scrubbing (graft.ops.Redact): emails / phones / IPv4s replaced by
    // typed placeholders + per-category counts. The corpus is clean, so the
    // query plants deterministic PII derived from doc_id (which categories
    // appear varies by doc) and the oracle rebuilds the identical text —
    // the md5 of the redacted output proves byte-exact scrubbing.
    "q_redact_pii" -> ((s, d) => {
      val id = col("doc_id")
      val pii = concat(
        col("text"),
        when(id % 2 === 0, concat(lit(" mail user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
        when(id % 3 === 0, concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" from 10.0."),
          (id % 256).cast("string"), lit("."),
          (id % 100).cast("string"))).otherwise(lit("")))
      val cnt = graft.ops.Redact.counts(pii)
      Tables.documents(s, d).select(id,
        md5(graft.ops.Redact.redact(pii)).as("redacted_fp"),
        cnt(0).cast("long").as("n_emails"),
        cnt(1).cast("long").as("n_phones"),
        cnt(2).cast("long").as("n_ips"))
    }),

    // Multimodal plumbing: opaque binary payload + typed metadata columns —
    // the schema/partitioning shape for image/audio blobs (decode itself is
    // stubbed; see graft.ops.Multimodal for the batch-iterator plumbing).
    // Multimodal round-trip with REAL image decode: each document gets a
    // genuine PNG payload (dimensions derived from doc_id), which the
    // batch-iterator pipeline decodes back via the JDK's ImageIO — the
    // oracle hash-checks that the DECODED width/height match the encoding
    // formula, so a broken codec path cannot pass.
    "q_multimodal_meta" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      // spread before the encode->decode Dataset maps: real codec work per
      // row must not inherit the one-file scan's single partition
      val media = graft.ops.Par.spread(docs).as[(Long, String)].map { case (id, src) =>
        graft.ops.Multimodal.MediaRecord(id, "image",
          graft.ops.Multimodal.encodePng(
            16 + (id % 32).toInt, 16 + (id % 24).toInt, id),
          Map("source" -> src))
      }
      graft.ops.Multimodal.extractFeatures(media, batchSize = 64).toDF()
        .join(docs, col("media_id") === col("doc_id"))
        .select(col("doc_id"), col("source"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          size(col("embedding")).cast("long").as("embedding_dim"))
    }),

    // Multimodal round-trip with REAL audio decode: each document gets a
    // genuine WAV payload (mono 16-bit PCM, sample i = a doc_id-seeded
    // formula), which the pipeline decodes back via javax.sound.sampled —
    // the oracle hash-checks the DECODED sample rate / channels / frame
    // count / duration AND the exact PCM sample sum against the encoding
    // formula, so a broken or fake codec path cannot pass.
    "q_multimodal_audio" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      // spread before the encode->decode Dataset maps: real codec work per
      // row must not inherit the one-file scan's single partition
      val media = graft.ops.Par.spread(docs).as[(Long, String)].map { case (id, src) =>
        graft.ops.Multimodal.MediaRecord(id, "audio",
          graft.ops.Multimodal.encodeWav(
            800 + (id % 400).toInt, 8000 * (1 + (id % 3).toInt), id),
          Map("source" -> src))
      }
      graft.ops.Multimodal.extractFeatures(media, batchSize = 64).toDF()
        .join(docs, col("media_id") === col("doc_id"))
        .select(col("doc_id"), col("source"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"),
          col("duration_ms"),
          col("pcm_sum"))
    }),

    // Multimodal round-trip with REAL multi-frame decode: each document
    // gets a genuine animated GIF (dimensions/frame count derived from
    // doc_id, gray pixels from a seed formula over an identity palette)
    // decoded frame-by-frame via ImageIO's frame API — the oracle
    // hash-checks every frame's exact integer luminance sum against the
    // encoding formula, so a fake or broken frame path cannot pass.
    "q_multimodal_frames" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      // spread before the encode->decode Dataset maps: real codec work per
      // row must not inherit the one-file scan's single partition
      val media = graft.ops.Par.spread(docs).as[(Long, String)].map { case (id, src) =>
        graft.ops.Multimodal.MediaRecord(id, "video",
          graft.ops.Multimodal.encodeGif(
            8 + (id % 16).toInt, 8 + (id % 12).toInt, 2 + (id % 4).toInt, id),
          Map("source" -> src))
      }
      graft.ops.Multimodal.sampleFrames(media, everyMs = 40L, frameMs = 40L)
        .toDF()
        .join(docs, col("media_id") === col("doc_id"))
        .select(col("doc_id"), col("source"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("t_ms"), col("lum_milli_sum"))
    }),

    // Collocation statistics: adjacent-bigram counts scored by fixed-point
    // PMI — phrase mining over the corpus (two map-side-combined aggs +
    // vocabulary-sized joins; the oracle replays the identical ln of
    // integer-count ratios).
    "q_pmi_bigrams" -> ((s, d) =>
      graft.ops.Collocations.pmiBigrams(Tables.documents(s, d), "text")),

    // Model-based classification: multinomial Naive Bayes trained on the
    // even-doc_id split (label = lang), scoring the odd split. Fixed-point
    // integer log-likelihoods make the distributed sum exact, so the
    // argmax (max score, min class) is oracle-reproducible bit-for-bit.
    "q_classify_nb" -> ((s, d) =>
      graft.ops.NaiveBayes.classify(Tables.documents(s, d), "doc_id",
        "text", "lang", col("doc_id") % 2 === 0)),

    // DSIR importance selection: top-200 documents whose hashed-unigram
    // distribution most resembles the lang='en' target slice.
    "q_sample_importance" -> ((s, d) =>
      graft.ops.Dsir.selectTopN(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en", 200)),

    // BM25 top-10 relevance search for a fixed query set — integer-stat
    // scoring snapped to fixed point, ranked (score DESC, doc_id).
    "q_bm25_search" -> ((s, d) =>
      graft.ops.Bm25.score(Tables.documents(s, d), "doc_id", "text",
        bm25Queries, 10)),

    // The same searches served from a PERSISTED postings index built in
    // two batches (odd doc_ids, then even) and compacted — must be
    // byte-identical to the one-shot q_bm25_search, so it shares that
    // oracle SQL.
    "q_bm25_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-bm25-idx")
        .toFile.getAbsolutePath
      val idx = new graft.ops.Bm25Index(s, dir, "doc_id", "text")
      idx.add(docs.where(col("doc_id") % 2 === 1), 1L)
      idx.add(docs.where(col("doc_id") % 2 === 0), 2L)
      idx.compact()
      idx.search(bm25Queries, 10)
    }),

    // Incremental EXACT dedup against a persisted fingerprint index: the
    // corpus arrives in two batches (odd doc_ids, then even); the keeper
    // per distinct content is the first arrival (earliest batch, smallest
    // id) — the oracle replays that total order with a window.
    "q_dedup_exact_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-exact-idx")
        .toFile.getAbsolutePath
      val idx = new graft.ops.ExactDedupIndex(s, dir, "doc_id", "text",
        strictOrd = true) // single-appender: below-high-water ords fail
      idx.addAndDedup(docs.where(col("doc_id") % 2 === 1), ord = 1L,
        bloom = true)
      idx.addAndDedup(docs.where(col("doc_id") % 2 === 0), ord = 2L,
        bloom = true)
      idx.compact()
      idx.keepers()
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis with
    // md5-derived uniforms): 50 docs per language, selection probability
    // proportional to n_chars — deterministic, replay-stable.
    "q_sample_weighted" -> ((s, d) =>
      graft.ops.Sampling.weightedTopK(Tables.documents(s, d), Seq("lang"),
        col("doc_id"), col("n_chars"), 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Count-min sketch term frequencies: d×256 bounded cells estimate
    // every term's count; the one-sided CMS guarantee (est ≥ exact) is
    // emitted as data and hash-checked per term.
    "q_cms_counts" -> ((s, d) =>
      graft.ops.Sketches.cmsTermCounts(Tables.documents(s, d), "text")),

    // LM perplexity filtering (the CCNet/KenLM slot): a bigram LM trained
    // on the lang='en' slice scores every document's token transitions;
    // keep = integer cross-multiplied mean-log-prob threshold.
    "q_perplexity_filter" -> ((s, d) =>
      graft.ops.NgramLm.perplexityFilter(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en", thresholdMilliNat = -3400L)),

    // Higher-order fluency filter: trigram LM with Stupid Backoff
    // (α = 0.4, trigram → bigram → unigram cascade) trained on the same
    // lang='en' slice — the 5-gram-KenLM-shaped upgrade of the bigram slot.
    "q_perplexity_trigram" -> ((s, d) =>
      graft.ops.NgramLm.stupidBackoffFilter(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en", thresholdMilliNat = -3000L)),

    // Trained tree classifier (the distributed-GBDT split-finding shape):
    // depth-2 decision tree over hashed token counts — each node's best
    // (bucket, threshold) found by ONE histogram aggregation with an
    // integer-exact argmax — on a planted OR-of-two-rules label the
    // root alone cannot express (the lt-child must discover the second
    // rule), so the emitted per-doc verdicts demonstrate real
    // hierarchical learning as data.
    "q_classifier_tree" -> ((s, d) =>
      graft.ops.DecisionTree.trainPredict(Tables.documents(s, d), "doc_id",
          "text", treeLabelCol, buckets = 64, maxThr = 3)
        .orderBy(col("doc_id"))),

    // CCNet's head/middle/tail split: per language, rank documents by
    // mean negative log-likelihood under the en-trained LM and cut into
    // tertiles — keep head+middle, drop the tail (arXiv:1911.00359).
    "q_ppl_buckets" -> ((s, d) =>
      graft.ops.NgramLm.perplexityBuckets(Tables.documents(s, d), "doc_id",
          "text", "lang", col("lang") === "en")
        .orderBy(col("lang"), col("bucket"))),

    // The conventional fluency filter: interpolated Kneser–Ney trigram
    // (absolute discount D=0.75, continuation-count lower orders, add-one
    // continuation unigram for strictly-positive OOV).
    "q_perplexity_kn" -> ((s, d) =>
      graft.ops.NgramLm.kneserNeyFilter(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en", thresholdMilliNat = -4500L)),

    // Corpus MIXING: per-language char budgets (the domain-reweighting
    // step of training-mix assembly) — fill each language's quota in
    // deterministic hash order.
    // DPO/RLHF preference-pair assembly: 4 planted responses per prompt
    // (p = doc_id div 4), best n_chars elected chosen, up to 2 rejected
    // ≥40 units below it, hardest-negative first — one hash shuffle on
    // the prompt key, pair volume capped per group by design.
    "q_preference_pairs" -> ((s, d) =>
      graft.ops.PreferencePairs.pairs(
          Tables.documents(s, d).withColumn("prompt", expr("doc_id div 4")),
          "prompt", "doc_id", col("n_chars").cast("long"),
          margin = 40L, maxRejected = 2)
        .orderBy(col("prompt"), col("rejected_id"))),

    "q_sample_mixture" -> ((s, d) =>
      graft.ops.Sampling.mixtureBudget(Tables.documents(s, d), "lang",
        col("doc_id"), col("n_chars"),
        Map("en" -> 20000L, "de" -> 5000L, "es" -> 5000L, "fr" -> 5000L,
          "zh" -> 5000L))
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Bloom membership prefilter in front of the exact-dedup index: a
    // mixed ingest batch (re-ingested corpus docs + genuinely novel ones)
    // probes a broadcast bits-only summary; bloom_hit itself is
    // hash-checked, and the no-false-negative guarantee rides along as
    // the per-row `admissible` invariant.
    "q_bloom_prefilter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      graft.ops.Bloom.prefilterDedup(batch, docs, "doc_id", "text")
    }),

    // Deterministic epoch shuffle: deal the corpus into 8 shards with a
    // dense in-shard position, entirely from md5(seed:id) — the
    // reproducible-training-order step of corpus assembly.
    "q_shard_epoch" -> ((s, d) =>
      graft.ops.Shards.epochShuffle(Tables.documents(s, d), "doc_id",
        seed = 42L, nShards = 8)),

    // Deterministic train/val/test assignment: hash-bucket mod 100 split
    // by cumulative percentage — a pure projection, growth-stable.
    "q_split_assign" -> ((s, d) =>
      graft.ops.Shards.splitAssign(Tables.documents(s, d), "doc_id",
        seed = 7L, Seq(("train", 90), ("val", 5), ("test", 5)))),

    // Leakage-free split: hash the near-dup CLUSTER id (persisted lsh-cc
    // artifact), not the doc id — every member of a cluster shares a
    // split, so no near-duplicate pair can straddle train/test. The
    // cluster map is a broadcast-sized join; the split itself stays a
    // pure projection.
    "q_split_cluster_safe" -> ((s, d) => {
      val labeled = Tables.documents(s, d)
        .join(nearDupClusters(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      graft.ops.Shards.splitAssignByKey(labeled, "doc_id", "component",
          seed = 7L, Seq(("train", 90), ("val", 5), ("test", 5)))
        .withColumnRenamed("split_key", "component")
        .orderBy(col("doc_id"))
    }),

    // CMS heavy hitters: every term whose sketch estimate reaches a 1/50
    // token share — one-sided recall (can over-admit, never miss), with
    // ground truth emitted per row as `is_heavy`.
    "q_heavy_hitters" -> ((s, d) =>
      graft.ops.Sketches.heavyHitters(Tables.documents(s, d), "text",
        k = 50)),

    // Length-bucketed inference batching: docs sorted by token count
    // within each language, cut into batches of 32 — the dynamic-batching
    // layout that minimizes padding waste. Report per batch: size, max
    // length, and padding ppm (batch_slots·max − actual, integer-exact).
    // One per-language window (the epochShuffle shard discipline), never
    // a global sort.
    "q_length_batches" -> ((s, d) => {
      val tc = tokenCount(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("tc"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tc.as("tc"))
        .withColumn("batch",
          expr("(row_number() OVER (PARTITION BY lang ORDER BY tc, doc_id)"
            + " - 1) div 32"))
        .groupBy(col("lang"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), max(col("tc")).as("max_tokens"),
          sum(col("tc")).as("sum_tokens"))
        .withColumn("padding_ppm",
          expr("(1000000 * (n_docs * max_tokens - sum_tokens))"
            + " div (n_docs * max_tokens)"))
        .orderBy(col("lang"), col("batch"))
    }),

    // JSONL ingest-validity audit: per source, how many records parse as
    // JSON OBJECTS (the from_json struct contract) — planted mix of
    // valid objects, truncated objects, arrays, and plain text. The
    // check every JSONL loader runs before trusting a drop.
    "q_json_validity" -> ((s, d) => {
      val r = col("doc_id") % 4
      val planted = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        when(r === 0, concat(lit("{\"a\": "), (col("doc_id") % 100)
            .cast("string"), lit(", \"b\": \"x\"}")))
          .when(r === 1, lit("{\"a\": "))
          .when(r === 2, lit("[1, 2, 3]"))
          .otherwise(col("text")).as("line"))
      // PERMISSIVE from_json yields a null-filled struct for malformed
      // input — route parse failures to a corrupt-record column so
      // "parsed" genuinely means well-formed
      val parsed = from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "a INT, b STRING, _corrupt STRING"),
        Map("columnNameOfCorruptRecord" -> "_corrupt"))
      planted
        .withColumn("valid",
          parsed.isNotNull && parsed.getField("_corrupt").isNull &&
            col("line").startsWith("{"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"))
        .withColumn("valid_ppm", expr("(1000000 * n_valid) div n_lines"))
        .orderBy(col("source"))
    }),

    // Population-stability-index drift between the train and eval splits
    // over the doc-length distribution — THE production drift monitor:
    // per log2 bucket, both splits' shares in ppm (clamped ≥ 1 ppm) and
    // the PSI contribution (p−q)·(lnfp(p)−lnfp(q)) under the NgramLm
    // fixed-point ln snap. Integer-exact end to end.
    "q_psi_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bucket = length(conv(length(col("text")).cast("string"), 10, 2))
        .cast("long")
      val isEval = col("doc_id") % 10 === 0
      val agg = docs.select(bucket.as("bucket"), isEval.as("ev"))
        .groupBy(col("bucket"))
        .agg(sum(when(!col("ev"), 1L).otherwise(0L)).as("n_train"),
          sum(when(col("ev"), 1L).otherwise(0L)).as("n_eval"))
      val tot = agg.agg(sum(col("n_train")).as("t_train"),
        sum(col("n_eval")).as("t_eval"))
      def lnFp(x: org.apache.spark.sql.Column) =
        floor(log(x.cast("double")) * 1000000.0 + 0.5).cast("long")
      agg.crossJoin(broadcast(tot))
        .withColumn("p_ppm",
          greatest(expr("(1000000 * n_train) div t_train"), lit(1L)))
        .withColumn("q_ppm",
          greatest(expr("(1000000 * n_eval) div t_eval"), lit(1L)))
        .withColumn("psi_contrib_fp",
          (col("p_ppm") - col("q_ppm")) *
            (lnFp(col("p_ppm")) - lnFp(col("q_ppm"))))
        .select(col("bucket"), col("n_train"), col("n_eval"),
          col("p_ppm"), col("q_ppm"), col("psi_contrib_fp"))
        .orderBy(col("bucket"))
    }),

    // Document-length histogram per language: docs and chars per log2
    // length bucket (binary digit count — the q_degree_dist discipline)
    // — the length-distribution panel of every corpus card.
    "q_doclen_dist" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          length(conv(length(col("text")).cast("string"), 10, 2))
            .cast("long").as("bucket"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"))
        .orderBy(col("lang"), col("bucket"))),

    // Hapax-legomena rate per language: the share of vocabulary seen
    // exactly once — the vocab-health stat (high hapax share = noisy or
    // under-sampled text; near-zero = template text). Two map-side
    // rollups on the same token stream.
    "q_hapax_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(col("lang"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("c")).as("n_tokens"))
        .withColumn("hapax_ppm", expr("(1000000 * n_hapax) div n_vocab"))
        .orderBy(col("lang"))
    }),

    // Planning-time corpus estimation: total token count projected from
    // a deterministic 1/8 hash sample (first md5 nibble < 2) with the
    // exact total and the error emitted beside it — the honest
    // estimate-then-verify shape a 100 TB run uses to size budgets
    // before paying for the full scan. Integer ×8 scaling, no floats.
    "q_token_estimate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tc = tokenCount(col("text"))
      val h = md5(col("doc_id").cast("string"))
      val a = ascii(substring(h, 1, 1))
      val nib = when(a <= 57, a - 48).otherwise(a - 87)
      docs.agg(
          count(lit(1)).as("n_docs"),
          sum(tc).as("exact_tokens"),
          sum(when(nib < 2, tc).otherwise(0L)).as("__s"),
          sum(when(nib < 2, 1L).otherwise(0L)).as("n_sampled"))
        .select(col("n_docs"), col("n_sampled"), col("exact_tokens"),
          (col("__s") * 8L).as("est_tokens"),
          expr("(1000000 * abs(__s * 8 - exact_tokens)) div exact_tokens")
            .as("err_ppm"))
    }),

    // Vocabulary coverage: eval-split OOV rate against the train-split
    // vocabulary, per language — the tokenizer/LM prep metric that
    // decides whether a vocab generalizes. Train vocab = distinct
    // train tokens (per lang); eval tokens probe it with a left join;
    // rate in ppm. The split is the board's %10 eval convention.
    "q_vocab_oov" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      val vocab = toks.where(col("doc_id") % 10 =!= 0)
        .select(col("lang"), col("tok")).distinct()
        .withColumn("__known", lit(1))
      toks.where(col("doc_id") % 10 === 0)
        .join(vocab, Seq("lang", "tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_eval_tokens"),
          sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(1000000 * n_oov) div n_eval_tokens"))
        .orderBy(col("lang"))
    }),

    // The chunking-strategy stability experiment, run as ONE query: every
    // doc gets an edited twin (one token inserted after position 3), both
    // are chunked by fixed 16-token windows AND by content-defined
    // boundaries, and each method reports how many of the original's
    // chunk hashes survive the edit. Fixed windows shift every chunk
    // after the insertion; content-defined boundaries realign — this is
    // the measured justification for ContentChunk in a dedup/delta
    // pipeline, emitted as data and replayed by the oracle.
    "q_chunk_stability" -> ((s, d) => {
      val base = Tables.documents(s, d).where(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val edited = base.select(col("doc_id"),
        array_join(concat(slice(toks, 1, 3), array(lit("INSERTED")),
          slice(toks, 4, 1000000)), " ").as("text"))
      val both = base.select((col("doc_id") * 2).as("vid"), col("doc_id"),
          col("text"))
        .union(edited.select((col("doc_id") * 2 + 1).as("vid"),
          col("doc_id"), col("text")))
      // content-defined hashes per (doc, variant)
      val cd = graft.ops.ContentChunk.chunks(both, "vid", "text", div = 16)
        .select((col("vid") % 2 === 0).as("orig"),
          expr("vid div 2").as("doc_id"), col("chunk_hash").as("h"))
      // fixed non-overlapping 16-token windows, hashed the same way
      val fx = graft.ops.RagChunk.chunks(both, "vid", "text",
          window = 16, stride = 16)
        .select((col("vid") % 2 === 0).as("orig"),
          expr("vid div 2").as("doc_id"), md5(col("chunk_text")).as("h"))
      def survival(chunks: org.apache.spark.sql.DataFrame, name: String) = {
        val o = chunks.where(col("orig")).select(col("doc_id"), col("h"))
          .distinct()
        val e = chunks.where(!col("orig")).select(col("doc_id"), col("h"))
          .distinct().withColumn("__hit", lit(1))
        o.join(e, Seq("doc_id", "h"), "left")
          .agg(count(lit(1)).as("n_orig_chunks"),
            sum(coalesce(col("__hit"), lit(0))).cast("long")
              .as("n_survived"))
          .select(lit(name).as("method"), col("n_orig_chunks"),
            col("n_survived"),
            expr("(1000000 * n_survived) div n_orig_chunks")
              .as("survival_ppm"))
      }
      survival(cd, "content_defined").unionByName(survival(fx, "fixed"))
        .orderBy(col("method"))
    }),

    // Content-defined chunking: token-hash boundaries (hash16 % 16 == 0,
    // ~16-token expected chunks) — the shift-resistant chunk table that
    // keeps chunk hashes stable across document edits, enabling
    // chunk-level dedup/delta storage. One window per doc, one rollup.
    "q_content_chunks" -> ((s, d) =>
      graft.ops.ContentChunk.chunks(Tables.documents(s, d), "doc_id",
          "text", div = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Source-pair overlap matrix: each source's mergeable corpus MinHash
    // sketch (min over its docs' signatures), all pairs compared by slot
    // agreement — the cross-corpus contamination screen at O(sources²)
    // sketch compares instead of a shingle join. Per-doc signatures
    // computed once; rollup is 16 min aggregates per source.
    "q_source_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = MinHashLsh.signatures(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val per = sigs.groupBy(col("source"))
        .agg(min(col("mh0")).as("mh0"),
          (1 until 16).map(i => min(col(s"mh$i")).as(s"mh$i")): _*)
      val a = per.select(col("source").as("source_a") +:
        (0 until 16).map(i => col(s"mh$i").as(s"a$i")): _*)
      val b = per.select(col("source").as("source_b") +:
        (0 until 16).map(i => col(s"mh$i").as(s"b$i")): _*)
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          (0 until 16).map(i =>
              when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("agree_slots"))
        .withColumn("est_jaccard_ppm",
          expr("(1000000 * agree_slots) div 16"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Deterministic negative sampling: 4 pseudo-random non-self
    // partners per anchor from md5 arithmetic (the RNG-free discipline
    // of Sampling) — the contrastive-training feed beside the hard
    // triplets of KnnOps. Corpus size enters as one broadcast scalar;
    // self-collisions re-roll by +1 mod n.
    "q_negative_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n"))
      val h = md5(concat(col("k").cast("string"), lit(":"),
        col("doc_id").cast("string")))
      def nib(i: Int) = {
        val a = ascii(substring(h, i, 1))
        when(a <= 57, a - 48).otherwise(a - 87)
      }
      val hv = (1 to 8).map(i =>
        nib(i).cast("long") * (1L << (4 * (8 - i)))).reduce(_ + _)
      docs.select(col("doc_id"))
        .crossJoin(broadcast(n))
        .withColumn("k", explode(sequence(lit(1), lit(4))))
        .withColumn("__base", pmod(hv, col("n")))
        .withColumn("neg_id",
          when(col("__base") === col("doc_id"),
            pmod(col("__base") + 1, col("n"))).otherwise(col("__base")))
        .select(col("doc_id"), col("k"), col("neg_id"))
        .orderBy(col("doc_id"), col("k"))
    }),

    // Gazetteer entity tagging (dictionary NER-lite): whole-token hits
    // against a broadcast term list, rolled up per (source, entity) —
    // the annotation pass that feeds entity-balance reports and targeted
    // filtering. The gazetteer is drawn from the corpus's own frequent
    // tokens so every scale has hits; scan-stage matching, one rollup.
    "q_entity_tags" -> ((s, d) => {
      val gazetteer = Seq("data", "system", "network", "model", "user")
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val g = array(gazetteer.map(lit): _*)
      Tables.documents(s, d)
        .select(col("source"),
          explode(filter(toks, t => array_contains(g, t))).as("entity"))
        .groupBy(col("source"), col("entity"))
        .agg(count(lit(1)).as("n_mentions"))
        .orderBy(col("source"), col("entity"))
    }),

    // Mixed-language detection (the CCNet drop rule a doc-level lang-id
    // cannot make): per-paragraph language votes, doc flagged when
    // paragraphs disagree — planted Spanish blocks on every 4th doc.
    // One explode + one rollup; the vote is the board's lang-id heuristic.
    "q_mixed_lang" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
            concat(col("text"), lit("\n\nel la de que los el la de")))
          .otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          explode(split(col("t"), "\n\n")).as("para"))
        .select(col("doc_id"), langId(col("para")).as("pl"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          countDistinct(when(col("pl") =!= "und", col("pl")))
            .as("n_langs"))
        .withColumn("is_mixed", col("n_langs") > 1)
        .orderBy(col("doc_id"))
    }),

    // The PII audit a corpus release ships: per-source affected-doc
    // counts, per-category totals (attribution order mirrors the redact
    // chain), and hits-per-megachar density. Same planted PII as
    // q_redact_pii; one map-side-combined rollup.
    "q_pii_report" -> ((s, d) => {
      val id = col("doc_id")
      val pii = concat(
        col("text"),
        when(id % 2 === 0, concat(lit(" mail user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
        when(id % 3 === 0, concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" from 10.0."),
          (id % 256).cast("string"), lit("."),
          (id % 100).cast("string"))).otherwise(lit(""))) // q_redact_pii plant
      val cnt = graft.ops.Redact.counts(pii)
      Tables.documents(s, d)
        .select(col("source"), length(pii).cast("long").as("nc"),
          cnt(0).cast("long").as("ne"), cnt(1).cast("long").as("np"),
          cnt(2).cast("long").as("ni"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ne") + col("np") + col("ni") > 0, 1L)
            .otherwise(0L)).as("n_docs_with_pii"),
          sum(col("ne")).as("n_emails"), sum(col("np")).as("n_phones"),
          sum(col("ni")).as("n_ips"), sum(col("nc")).as("n_chars"))
        .withColumn("pii_per_mchar",
          expr("(1000000 * (n_emails + n_phones + n_ips)) div n_chars"))
        .orderBy(col("source"))
    }),

    // Within-doc word entropy in n-scaled fixed point (micro-nats × n):
    // the gibberish/template signal between the dup-token ceiling and a
    // full LM — low entropy = repeated-phrase spam. NgramLm's lnfp snap,
    // integer arithmetic after.
    "q_word_entropy" -> ((s, d) =>
      graft.ops.Entropy.wordEntropy(Tables.documents(s, d), "doc_id",
          "text")
        .orderBy(col("doc_id"))),

    // Code-vs-prose routing: symbol + keyword density verdict over a
    // corpus with planted code snippets (every 9th doc) — the router
    // that sends documents to the code or text pipeline. Integer
    // cross-multiplies only; pure projection.
    "q_code_detect" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
            concat(lit("def f(x): { return x + 1; } " +
              "def g(y): { return y * 2; } "), col("text")))
          .otherwise(col("text")).as("t"))
      graft.ops.CodeDetect.withVerdict(planted, "t",
          charPct = 2L, tokPct = 5L)
        .select(col("doc_id"), col("n_code_chars"),
          col("n_code_tokens"), col("is_code"))
        .orderBy(col("doc_id"))
    }),

    // ftfy/NFKC-slot text normalization: mojibake repair, width folds,
    // punctuation normalization, control strip, whitespace collapse —
    // byte-exact vs the oracle's generated replay of the same rule
    // tables, over deterministically corrupted text.
    "q_text_normalize" -> ((s, d) =>
      messyTextCorpus(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.ops.Normalize.normalize(col("messy")).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))),

    // Gopher-rule battery: per-document booleans for word-count bounds,
    // mean-word-length bounds, dup-token ceiling, stop-word presence —
    // all integer cross-multiplies, thresholds tuned to discriminate on
    // this corpus (30 ≤ words, mean len ≤ 5, dup ≤ 3/5, ≥ 2 stopwords).
    "q_quality_gopher" -> ((s, d) =>
      graft.ops.GopherQuality.battery(Tables.documents(s, d), "doc_id",
        "text", minWords = 30L, maxMeanLen = 5L,
        maxDupNum = 3L, maxDupDen = 5L)),

    // The composed filter cascade: the four independent keep/drop rules a
    // corpus build runs first (Gopher battery, phrase blocklist, lang-id
    // agreement, length floor), one scan, per-document failure bitmask —
    // bit i set iff rule i failed, keep = mask 0.
    "q_filter_cascade" -> ((s, d) =>
      graft.ops.FilterCascade.decide(Tables.documents(s, d), "doc_id",
        cascadeRules)),

    // The cascade's attrition report: per-rule failure counts (overlapping)
    // and survivors — ONE map-side-combined aggregate over the verdicts.
    "q_filter_attrition" -> ((s, d) =>
      graft.ops.FilterCascade.attrition(
        graft.ops.FilterCascade.decide(Tables.documents(s, d), "doc_id",
          cascadeRules),
        cascadeRules.map(_._1))),

    // The model-inference gate (FineWeb-Edu shape): a broadcast classifier
    // scores each document's embedding via per-partition batched
    // mapPartitions inference, and the thresholded score joins the cascade
    // as rule 5 (mask bit 16). The deterministic LinearStub stands in for
    // the trained head; features are floor(1024·e) — ×2¹⁰ is exact float
    // scaling, so the oracle replays the quantization bit-for-bit.
    "q_model_gate" -> ((s, d) =>
      graft.ops.FilterCascade.withVerdict(modelScored(s, d),
          cascadeRules :+ modelRule)
        .select(col("doc_id"), col("model_score"), col("fail_mask"),
          col("keep"))),

    // The attrition report EXTENDED with the model gate: per-rule failure
    // counts now answer "how much did the classifier eat" next to the
    // heuristic rules — one map-side-combined aggregate, as ever.
    "q_model_attrition" -> ((s, d) =>
      graft.ops.FilterCascade.attrition(
        graft.ops.FilterCascade.decide(modelScored(s, d), "doc_id",
          cascadeRules :+ modelRule),
        cascadeRules.map(_._1) :+ "model")),

    // The TRAINED classifier head (model-proven gate, not stub-proven):
    // per-doc trained score, prediction and teacher label — training is
    // replayed oracle-side as unrolled integer gradient passes, so any
    // drift in any pass fails the hash compare.
    "q_model_trained" -> ((s, d) => trainedScored(s, d)),

    // The trained head's evaluation as data: corpus size, correct
    // predictions, integer-permille accuracy — one aggregate over the
    // scored frame.
    "q_model_trained_eval" -> ((s, d) =>
      trainedScored(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === (col("label") === 1L), 1L)
          .otherwise(0L)).as("n_correct"))
        .select(col("n_docs"), col("n_correct"),
          expr("(1000 * n_correct) div n_docs").as("acc_permille"))),

    // The full cascade with BOTH model slots: heuristic rules, the stub
    // teacher (bit 16) and the in-engine-trained head (bit 32) — the
    // FineWeb-Edu-style double gate in one scan + one id join.
    "q_model_trained_gate" -> ((s, d) => {
      val tr = trainedScored(s, d).select(col("doc_id"), col("trained_score"))
      graft.ops.FilterCascade.withVerdict(
          modelScored(s, d).join(tr, "doc_id"),
          cascadeRules :+ modelRule :+ trainedRule)
        .select(col("doc_id"), col("model_score"), col("trained_score"),
          col("fail_mask"), col("keep"))
    }),

    // The TREE head through the ModelGate (every trained family exits
    // through ONE serving contract): q_classifier_tree's depth-2 tree,
    // artifact-persisted, scores documents via the broadcast/session/
    // batch gate path and its ±1 verdict joins the heuristic cascade as
    // mask bit 16 — oracle replays training AND the mask composition.
    "q_model_tree_gate" -> ((s, d) =>
      graft.ops.FilterCascade.withVerdict(treeGateScored(s, d),
          cascadeRules :+ ("tree" -> (col("tree_score") >= 0L)))
        .select(col("doc_id"), col("tree_score"), col("fail_mask"),
          col("keep"))),

    // HTML main-content extraction (the trafilatura/jusText slot, rule
    // zero UPSTREAM of the cascade): segment the chrome-planted page at
    // block-tag boundaries, strip inline tags, keep blocks ≥ 40 chars
    // whose link density ≤ 1/2 (integer cross-multiplied) — nav, ads and
    // footer chrome drop; the article text survives in page order.
    "q_html_extract" -> ((s, d) =>
      graft.ops.Extract.mainContent(htmlCorpus(Tables.documents(s, d)),
        "html", minTextLen = 40, linkNum = 1, linkDen = 2)
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("main_text"), col("main_len"))),

    // Extraction feeding the cascade as rule zero: quality rules judge the
    // EXTRACTED text (what a reader actually sees), plus a retention-ratio
    // rule — a page whose chrome ate ≥ 70% of the raw text is itself
    // suspect. One scan end to end, no shuffle before the verdict.
    "q_extract_cascade" -> ((s, d) => {
      val ex = graft.ops.Extract.mainContent(
        htmlCorpus(Tables.documents(s, d)), "html",
        minTextLen = 40, linkNum = 1, linkDen = 2)
      val toks = filter(split(col("main_text"), " "), t => t =!= "")
      val nWords = size(toks).cast("long")
      val sumLen = aggregate(toks, lit(0L), (a, x) => a + length(x).cast("long"))
      graft.ops.FilterCascade.decide(ex, "doc_id", Seq(
        "words" -> (nWords >= 30L),
        "wlen" -> (lit(3L) * nWords <= sumLen && sumLen <= lit(5L) * nWords),
        "retention" ->
          (col("main_len") * 10L >= length(col("text")).cast("long") * 3L)))
    }),

    // WITHIN-document repeated-line removal (the C4/FineWeb intra-page
    // rule; cross-doc recurrence is q_paragraph_dedup's job): lines are
    // the document's 8-token groups with the first group re-planted at the
    // end — keep-first must excise exactly the planted repeat (plus any
    // natural in-page repetition), order preserved, one scan.
    "q_line_dedup" -> ((s, d) => {
      val toks = filter(tokens(col("text")), t => t =!= "")
      val ng = expr("size(filter(split(text, ' '), t -> t != '')) div 8")
      val groups = transform(sequence(lit(0), ng - 1),
        g => array_join(slice(toks, g * 8 + 1, lit(8)), " "))
      val planted = when(ng > 0,
        concat(groups, array(element_at(groups, 1))))
        .otherwise(array().cast("array<string>"))
      graft.ops.LineDedup.dedupLines(Tables.documents(s, d), "doc_id",
        planted)
    }),

    // Hybrid retrieval (the production RAG search pattern): BM25 top-10
    // and embedding-cosine top-10 fused by reciprocal-rank fusion
    // (1/(60+rank), Cormack et al. 2009) — lexical and semantic evidence
    // combine without score calibration; a document absent from one list
    // simply contributes nothing there. Anchors qa/qb/qc pair the BM25
    // query strings with vec_id 0/1/2's embeddings.
    "q_hybrid_search" -> ((s, d) => {
      val docs = Tables.documents(s, d); val emb = Tables.embeddings(s, d)
      val text = graft.ops.Bm25.score(docs, "doc_id", "text", bm25Queries, 10)
        .select(col("qid"), col("doc_id"), col("rank").as("trank"))
      val vec = graft.ops.Similarity.bruteForceTopK(
          emb.where(col("vec_id") < 3), emb, "vec_id", "embedding", 10)
        .select(element_at(typedlit(Seq("qa", "qb", "qc")),
            col("query_id").cast("int") + 1).as("qid"),
          col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("vrank"))
      val fused = text.join(vec, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"),
          coalesce(col("trank"), lit(0L)).as("text_rank"),
          coalesce(col("vrank"), lit(0L)).as("vec_rank"))
        .withColumn("rrf",
          when(col("text_rank") > 0,
            lit(1.0) / (lit(60L) + col("text_rank"))).otherwise(lit(0.0)) +
          when(col("vec_rank") > 0,
            lit(1.0) / (lit(60L) + col("vec_rank"))).otherwise(lit(0.0)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("fused_rank", row_number().over(w).cast("long"))
        .where(col("fused_rank") <= 5)
        .select(col("qid"), col("doc_id"), round(col("rrf"), 9).as("rrf"),
          col("fused_rank"), col("text_rank"), col("vec_rank"))
    }),

    // RAG retrieval closed end to end: the chunk corpus is embedded with a
    // deterministic hash16 feature vector (8 dims — a stand-in both
    // engines derive identically; production swaps in a model via the
    // Array[Float] column contract) and the first two documents' chunks
    // retrieve their cosine top-5 over the WHOLE chunk corpus — the
    // brute-force baseline shape with broadcast queries.
    "q_rag_retrieve" -> ((s, d) =>
      graft.ops.Similarity.bruteForceTopK(
        ragChunkVecs(s, d).where(col("cid") < 2000L),
        ragChunkVecs(s, d), "cid", "vec", 5)),

    // The INDEXED twin of q_rag_retrieve — the RAG closure's scale path:
    // same queries, persisted IVF chunk STORE ([[ragStore]] — chunking,
    // embedding, quantizer training, and cell-partitioned ingest through
    // the replay-idempotent streaming face are ingest work, not per-query
    // work; retrieval reads postings + quantizer back), recall-tuned
    // probe budget persisted beside the quantizer (the q_knn_ivf
    // discipline: the budget is priced ONCE per corpus snapshot against
    // the exact brute twin on these same queries, and the cleared
    // recall@5 persists as auditable store state — re-running the brute
    // audit per query would put the exhaustive read back on the scale
    // curve the index exists to beat). Claims: every query retrieved
    // (ann_complete) and the tuned recall cleared the margined bound
    // (recall_ok; tune target 0.7, bound 0.55 — measured 0.75/0.85 at
    // nprobe 2-of-8 on sf0.01/sf0.001 and 0.87 at 2-of-21 on sf0.1;
    // scale curve in BENCH_SCALE_RAG_R18.json).
    "q_rag_retrieve_ivf" -> ((s, d) => {
      val store = ragStore(s, d)
      val cents = store.quantizer().getOrElse(throw new IllegalStateException(
        "rag chunk store has no persisted quantizer"))
      val assigned = store.postingsDf().getOrElse(
        throw new IllegalStateException("rag chunk store has no postings"))
      val queries = assigned.where(col("cid") < 2000L)
        .select(col("cid"), col("vec"))
      val (nprobe, tunedRecall) =
        ProbeBudgets.tunedWithMetric(s, d, "rag", cents.length) {
          val budgets = Seq(2, 3, 4, 6, 8, 12, 16, 24)
            .filter(_ <= cents.length)
          val exact = Materialize(graft.ops.Similarity.bruteForceTopK(
            queries, assigned.select(col("cid"), col("vec")),
            "cid", "vec", 5)
            .select(col("query_id"), col("neighbor_id")))
          val profile = graft.ops.Similarity.ivfProbeProfilePreassigned(
            queries, assigned, "cid", "vec", "cell", cents, budgets, 5)
          val row = graft.ops.Similarity.chooseProbeBudget(
            graft.ops.Similarity.probeRecalls(profile, exact, budgets), 0.7)
            .select(col("chosen_nprobe"), col("achieved_recall")).head()
          (row.getInt(0), row.getDouble(1))
        }
      val ann = graft.ops.Similarity.ivfTopKPreassigned(
        queries, assigned, "cid", "vec", "cell", cents, nprobe, k = 5)
      queries.agg(count(lit(1)).as("n_queries")).crossJoin(
          ann.agg(countDistinct(col("query_id")).as("__annq")))
        .select(col("n_queries"),
          (col("__annq") === col("n_queries")).as("ann_complete"),
          lit(tunedRecall >= 0.55).as("recall_ok"))
    }),

    // Diverse retrieval: the top-10 cosine shortlist re-ranked by greedy
    // MMR (λ=0.7) so near-duplicate chunks don't crowd the context
    // window — 3 picks per query, penalty = max cosine to the already
    // selected, ties to the smaller chunk id.
    "q_rag_mmr" -> ((s, d) => {
      val chunks = ragChunkVecs(s, d)
      val top10 = graft.ops.Similarity.bruteForceTopK(
        chunks.where(col("cid") < 2000L), chunks, "cid", "vec", 10)
      val cands = top10
        .join(chunks.select(col("cid").as("neighbor_id"), col("vec")),
          Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("sim").as("rel"), col("vec"))
      graft.ops.Mmr.rerank(cands, "query_id", "cand_id", "rel", "vec",
          n = 3, lam = 0.7, lamComp = 0.3)
        .orderBy(col("query_id"), col("step"))
    }),

    // Learned reranker slot (the cross-encoder stage of retrieve→rerank):
    // the cosine top-10 shortlist re-scored by the broadcast stub model
    // over PAIR features (elementwise query×candidate products — exact
    // integers at hash16 magnitudes), top-3 per query by model score.
    // Same ModelGate plumbing as the cascade gate; the corpus is never
    // touched past the shortlist.
    "q_rag_rerank_model" -> ((s, d) => {
      val chunks = ragChunkVecs(s, d)
      val top10 = graft.ops.Similarity.bruteForceTopK(
        chunks.where(col("cid") < 2000L), chunks, "cid", "vec", 10)
      val pairs = top10.select(col("query_id"), col("neighbor_id"))
        .join(chunks.select(col("cid").as("query_id"),
          col("vec").as("__qv")), "query_id")
        .join(chunks.select(col("cid").as("neighbor_id"),
          col("vec").as("__cv")), "neighbor_id")
      val feats = zip_with(col("__qv"), col("__cv"),
        (a, b) => (a * b).cast("long"))
      val scored = graft.ops.ModelGate.withScores(
        pairs.withColumn("__f", feats).drop("__qv", "__cv"),
        "__f", "model_score", graft.ops.ModelGate.LinearStub(8))
        .drop("__f")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("model_score").desc, col("neighbor_id"))
      scored.withColumn("rerank", row_number().over(w).cast("long"))
        .where(col("rerank") <= 3)
        .select(col("query_id"), col("rerank"),
          col("neighbor_id").as("cand_id"), col("model_score"))
    }),

    // The end-to-end curate chain as ONE query — extract main content from
    // the chrome-planted page, judge quality on the extraction, elect one
    // keeper per exact-duplicate fingerprint among the survivors, report
    // per language: what a corpus build's summary line actually says.
    // Every stage is the board-audited operator, composed.
    "q_curate_e2e" -> ((s, d) => {
      val ex = graft.ops.Extract.mainContent(
        htmlCorpus(Tables.documents(s, d)), "html",
        minTextLen = 40, linkNum = 1, linkDen = 2)
      val toks = filter(split(col("main_text"), " "), t => t =!= "")
      val nWords = size(toks).cast("long")
      val sumLen = aggregate(toks, lit(0L), (a, x) => a + length(x).cast("long"))
      // verdict appended in place: NO corpus self-join against the mask
      val kept = graft.ops.FilterCascade.withVerdict(ex, Seq(
          "words" -> (nWords >= 30L),
          "wlen" -> (lit(3L) * nWords <= sumLen && sumLen <= lit(5L) * nWords),
          "retention" ->
            (col("main_len") * 10L >= length(col("text")).cast("long") * 3L)))
        .where(col("keep"))
        .withColumn("__fp", fingerprint(col("main_text")))
      // keeper election is ONE min_by aggregate keyed on the fingerprint —
      // no corpus-sized join side, the q_dedup_keep shape
      val unique = kept.groupBy(col("__fp")).agg(
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("main_len"), col("doc_id")).as("main_len"))
      ex.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_quality")),
          Seq("lang"), "left")
        .join(unique.groupBy(col("lang")).agg(
          count(lit(1)).as("n_unique"),
          sum(col("main_len")).as("clean_chars")), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          coalesce(col("clean_chars"), lit(0L)).as("clean_chars"))
    }),

    // Temperature-based domain reweighting (α = 1/2): each source's quota
    // is its sqrt-share of a 100-doc output, selection in hash order.
    "q_sample_temperature" -> ((s, d) =>
      graft.ops.Sampling.temperatureTopK(Tables.documents(s, d), "source",
        col("doc_id"), col("n_chars"), totalRows = 100L)
        .select(col("doc_id"), col("source"), col("quota"))),

    // Phrase-blocklist screening (C4 bad-words rule): any listed word or
    // multi-word phrase, word-boundary exact, drops the doc — the whole
    // verdict a scan-stage scalar over a literal list (no join, no regex).
    "q_blocklist" -> ((s, d) =>
      graft.ops.Blocklist.screen(Tables.documents(s, d), "doc_id", "text",
        Seq("slow fast", "table value", "hash"))),

    // Fractional epoch repetition: src0 ×2 (every doc twice), src1 ×1.6
    // (once + a deterministic 60% twice), src2 ×0.3 (a 30% subset),
    // src3 ×0 (dropped), every other source exactly once — the real-valued
    // per-source repetition factors of corpus mixing, replay-stable.
    "q_sample_epochs" -> ((s, d) =>
      graft.ops.Sampling.epochMixture(
        Tables.documents(s, d).select("doc_id", "source"),
        col("doc_id"), "source",
        Map("src0" -> 2.0, "src1" -> 1.6, "src2" -> 0.3, "src3" -> 0.0))),

    // Corpus snapshot diff: old = ids not divisible by 4, new = ids not
    // divisible by 5 with every ninth document edited — every status
    // (added/removed/modified/unchanged) is exercised.
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.where(col("doc_id") % 4 =!= 0)
      val newSnap = docs.where(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 9 === 0, concat(col("text"), lit(" edit")))
            .otherwise(col("text")))
      graft.ops.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
    }),

    // Image perceptual dedup: REAL ImageIO decode → 8×8 grid aHash →
    // group by hash. Every 5 consecutive doc_ids share generated image
    // content; the oracle replays the hash from the pixel formula with no
    // codec, so a broken decode path cannot pass.
    "q_image_dedup" -> ((s, d) => {
      import s.implicits._
      val hashed = graft.ops.Par.spread(
          Tables.documents(s, d).select(col("doc_id"))).as[Long]
        .map { id =>
          val g = id / 5
          val payload = graft.ops.Multimodal.encodePng(
            16 + (g % 13).toInt, 16 + (g % 11).toInt, g)
          (id, graft.ops.Multimodal.imageAHashOf(payload).get)
        }.toDF("doc_id", "ahash")
      hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
    }),

    // Audio perceptual dedup: REAL WAV decode → 32-frame energy-delta
    // fingerprint → group by hash. Groups of 5 doc_ids share generated
    // PCM content; the oracle replays the fingerprint from the sample
    // formula with no codec, so a broken decode path cannot pass.
    "q_audio_dedup" -> ((s, d) => {
      import s.implicits._
      val hashed = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val g = id / 5
          val payload = graft.ops.Multimodal.encodeWav(
            800 + (g % 400).toInt, 8000, g)
          (id, graft.ops.Multimodal.audioFingerprintOf(payload).get)
        }.toDF("doc_id", "afp")
      hashed.groupBy(col("afp"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
    }),

    // Corpus data card: per-source doc/token/char totals, size extremes,
    // and the Gopher-battery pass count — one map-side-combined rollup.
    "q_corpus_report" -> ((s, d) =>
      graft.ops.CorpusReport.dataCard(Tables.documents(s, d), "doc_id",
        "text", "n_chars", "source", minWords = 30L, maxMeanLen = 5L,
        maxDupNum = 3L, maxDupDen = 5L)),

    // Data-card length quantiles: exact linear-interpolated percentiles of
    // document size per source (both engines implement the same R-7
    // definition; snapped to 6 decimals).
    "q_length_quantiles" -> ((s, d) =>
      Tables.documents(s, d).groupBy(col("source")).agg(
        round(expr("percentile(n_chars, 0.25)"), 6).as("p25"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.75)"), 6).as("p75")))
  )

  /** Fixed query set for the BM25 operators — terms drawn from the corpus
    * vocabulary; inlined identically into the oracle SQL. */
  private val bm25Queries = Seq(
    "qa" -> "spark hash join",
    "qb" -> "window sort slow",
    "qc" -> "batch merge value")

  private def minhashSqlExprs(n: Int): String =
    (0 until n).map(i => s"min(md5('$i:' || sh)) AS mh$i").mkString(",\n                ")

  /** Shared CTE chain ending in `sh(doc_id, simhash)` — the SQL mirror of
    * SimHashDedup.simhash16 (md5-nibble hash16, ±1 votes, sign bits). */
  private val simhashCte: String = {
    def nib(i: Int) =
      s"(CASE WHEN ascii(substr(md5(tok),$i,1)) <= 57 THEN ascii(substr(md5(tok),$i,1)) - 48 ELSE ascii(substr(md5(tok),$i,1)) - 87 END)"
    s"""toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          hashed AS (
            SELECT doc_id,
              ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS h
            FROM toks),
          votes AS (
            SELECT doc_id,
              ${(0 until 16).map(j => s"sum((CAST(floor(h / ${1 << j}) AS BIGINT) % 2) * 2 - 1) AS v$j").mkString(",\n              ")}
            FROM hashed GROUP BY doc_id),
          sh AS (
            SELECT doc_id,
              ${(0 until 16).map(j => s"(CASE WHEN v$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
            FROM votes)"""
  }

  /** Shared CTE: distinct 3-word shingles per doc (1-based list slicing). */
  private val shingleCte =
    """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       shingle_rows AS (
         SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
         WHERE len(w) >= 3)"""

  /** Cross-split banded-minhash contamination — the same bucket structure
    * as [[lshPairsSql]], pairs restricted to eval(doc_id%10=0) × train. */
  /** Shared CTE chain ending in `buckets(doc_id, band, bucket)` — the SQL
    * mirror of MinHashLsh.bandBuckets (16 hashes, 4 bands of 4). */
  private lazy val lshBucketsCtes =
    s"""$shingleCte,
        sigs AS (
          SELECT doc_id,
              ${minhashSqlExprs(16)}
          FROM shingle_rows GROUP BY doc_id),
        buckets AS (
          SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS bucket FROM sigs
          UNION ALL
          SELECT doc_id, 1, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) FROM sigs
          UNION ALL
          SELECT doc_id, 2, md5(mh8 || '|' || mh9 || '|' || mh10 || '|' || mh11) FROM sigs
          UNION ALL
          SELECT doc_id, 3, md5(mh12 || '|' || mh13 || '|' || mh14 || '|' || mh15) FROM sigs)"""

  /** The BPE oracle: replay graft.ops.Bpe's training loop as an UNROLLED
    * CTE chain (one pair-count + argmax + merge-apply stage per merge),
    * then encode every doc's words under the learned merges and count
    * symbols. Identical semantics rest on plain `replace` being the same
    * left-to-right non-overlapping pass in both engines, and on the
    * deterministic (count desc, left, right) argmax tie-break. */
  private lazy val bpeTrainedSql: String =
    s"""WITH $bpeCtes
       SELECT doc_id, n_bpe AS n_bpe_trained FROM nb"""

  /** Token-budget cut re-based on the TRAINED counts: same deterministic
    * hash-order admission as q_sample_budget, but weighted by the learned
    * tokenizer instead of raw chars — the budget a real pretraining mix
    * is actually specified in. */
  private lazy val bpeBudgetSql: String =
    s"""WITH $bpeCtes
       SELECT doc_id, lang, n_bpe FROM (
         SELECT d.doc_id, d.lang, nb.n_bpe,
                sum(nb.n_bpe) OVER (PARTITION BY d.lang
                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM documents d JOIN nb ON d.doc_id = nb.doc_id)
       WHERE cum - n_bpe < 5000"""

  /** [[bpeCtes]] extended to per-document id arrays: per-word symbol
    * lists, a binary-ranked vocabulary, positional flattening ordered by
    * (word, symbol) — the same order Spark's `posexplode` restores. Ends
    * in `docids(doc_id, input_ids)`. */
  /** Shared cascade-mask CTEs: each rule's existing oracle formulation
    * (gopher list folds, blocklist position probes, lang-id marker sums)
    * joined into the per-document fail bitmask `msk(doc_id, fail_mask)`. */
  private lazy val cascadeMaskCtes: String =
    """toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       lscores AS (
         SELECT doc_id,
           sum(CASE WHEN t IN ('der','die','und','nicht','das') THEN 1 ELSE 0 END) AS s_de,
           sum(CASE WHEN t IN ('the','and','of','to','is') THEN 1 ELSE 0 END) AS s_en,
           sum(CASE WHEN t IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS s_es,
           sum(CASE WHEN t IN ('le','la','et','les','des') THEN 1 ELSE 0 END) AS s_fr,
           sum(CASE WHEN t IN ('de5','shi4','le5','zai4','he2') THEN 1 ELSE 0 END) AS s_zh
         FROM toks GROUP BY doc_id),
       lng AS (
         SELECT d.doc_id,
           (CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                 WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                 WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                 WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                 WHEN s_fr >= s_zh THEN 'fr'
                 ELSE 'zh' END) = d.lang AS lang_ok
         FROM documents d JOIN lscores USING (doc_id)),
       gm AS (
         SELECT doc_id,
           CAST(len(gtoks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(gtoks, x -> length(x))) AS BIGINT)
             AS sum_word_len,
           CAST(len(list_distinct(gtoks)) AS BIGINT) AS n_distinct,
           CAST(len(list_intersect(list_distinct(gtoks),
             ['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS stop_hits
         FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS gtoks
               FROM documents)),
       gk AS (
         SELECT doc_id,
           (n_words >= 30 AND n_words <= 100000
            AND 3 * n_words <= sum_word_len AND sum_word_len <= 5 * n_words
            AND (n_words - n_distinct) * 5 <= 3 * n_words
            AND stop_hits >= 2) AS gopher_ok
         FROM gm),
       blk AS (
         SELECT doc_id,
           (CASE WHEN position(' slow fast ' IN ' ' || text || ' ') > 0
                 THEN 1 ELSE 0 END
          + CASE WHEN position(' table value ' IN ' ' || text || ' ') > 0
                 THEN 1 ELSE 0 END
          + CASE WHEN position(' hash ' IN ' ' || text || ' ') > 0
                 THEN 1 ELSE 0 END) = 0 AS block_ok
         FROM documents),
       msk AS (
         SELECT d.doc_id,
           CAST(CASE WHEN gopher_ok THEN 0 ELSE 1 END
              + CASE WHEN block_ok THEN 0 ELSE 2 END
              + CASE WHEN lang_ok THEN 0 ELSE 4 END
              + CASE WHEN d.n_chars >= 100 THEN 0 ELSE 8 END AS BIGINT)
             AS fail_mask
         FROM documents d
         JOIN gk USING (doc_id) JOIN blk USING (doc_id)
         JOIN lng USING (doc_id))"""

  /** [[graft.ops.ModelGate.LinearStub]] weight replay for any dim:
    * w(i) = hash16(md5("w:i")) − 32768 (the SRP-plane derivation). */
  private def stubWeightsCte(dim: Int): String = {
    def nib(i: Int) =
      s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
        s" THEN ascii(substr(h,$i,1)) - 48" +
        s" ELSE ascii(substr(h,$i,1)) - 87 END)"
    s"""wt AS (
         SELECT i, CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16
                  + ${nib(4)} AS BIGINT) - 32768 AS w
         FROM (SELECT i, md5('w:' || CAST(i AS VARCHAR)) AS h
               FROM range(1, ${dim + 1}) t(i)))"""
  }

  /** LinearStub score replay: weights = hash16(md5("w:i")) − 32768 (the
    * SRP-plane derivation), features = floor(1024·embedding[i]) — both
    * bit-exact — then an integer dot product per doc. */
  private lazy val modelScoreCtes: String = {
    s"""${stubWeightsCte(64)},
       ft AS (
         SELECT vec_id AS doc_id, i,
                CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT)
                  AS f
         FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
       ms AS (
         SELECT doc_id, CAST(sum(w * f) AS BIGINT) AS model_score
         FROM ft JOIN wt USING (i) GROUP BY doc_id)"""
  }

  /** Unrolled integer-exact perceptron training replay (depends on
    * [[modelScoreCtes]]' `ft`/`ms`): teacher labels from the stub score,
    * zero-initialized weights, then per pass a predict CTE
    * (ŷ = [Σ w·x ≥ 0]) and an update CTE (w += Σ (y − ŷ)·x) — the exact
    * arithmetic [[graft.ops.LinearTrainer.trainPerceptron]] runs — ending
    * in `ts(doc_id, trained_score)` under the final weights. `x` is
    * restricted to docs present in `documents`, mirroring the engine's
    * documents⋈embeddings training set. */
  private def trainedCtes(dim: Int, epochs: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""lab AS (
         SELECT doc_id, CASE WHEN model_score >= 0 THEN 1 ELSE 0 END AS y
         FROM ms),
       x AS (
         SELECT ft.doc_id, ft.i, ft.f
         FROM ft JOIN documents dd ON dd.doc_id = ft.doc_id
         WHERE ft.i <= $dim),
       w0 AS (SELECT i, CAST(0 AS BIGINT) AS w
              FROM range(1, ${dim + 1}) t(i))""")
    for (k <- 1 to epochs) {
      sb.append(s""",
       p$k AS (
         SELECT x.doc_id,
                CASE WHEN sum(w.w * x.f) >= 0 THEN 1 ELSE 0 END AS yhat
         FROM x JOIN w${k - 1} w USING (i) GROUP BY x.doc_id),
       w$k AS (
         SELECT x.i, w.w + sum((l.y - p.yhat) * x.f) AS w
         FROM x JOIN w${k - 1} w USING (i)
           JOIN lab l USING (doc_id) JOIN p$k p USING (doc_id)
         GROUP BY x.i, w.w)""")
    }
    sb.append(s""",
       ts AS (
         SELECT x.doc_id, CAST(sum(w.w * x.f) AS BIGINT) AS trained_score
         FROM x JOIN w$epochs w USING (i) GROUP BY x.doc_id)""")
    sb.toString
  }

  private lazy val bpeIdsCtes: String = {
    val D = "\u0001"
    s"""$bpeCtes,
       esym AS (SELECT replace(s, '$D', '') AS w,
                       string_split(trim(s, '$D'), '$D$D') AS sl
                FROM w8),
       vocabt AS (SELECT DISTINCT unnest(sl) AS sym FROM esym),
       vid AS (SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id
               FROM vocabt),
       dw AS (SELECT doc_id, j AS wpos, ws[j] AS w
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
                   LATERAL unnest(range(1, len(ws) + 1)) AS t(j)
              WHERE ws[j] <> ''),
       ds AS (SELECT doc_id, wpos, k AS spos, sl[k] AS sym
              FROM (SELECT dw.doc_id, dw.wpos, e.sl
                    FROM dw JOIN esym e USING (w)) q,
                   LATERAL unnest(range(1, len(sl) + 1)) AS u(k)),
       docids AS (SELECT doc_id, list(v.id ORDER BY wpos, spos) AS input_ids
                  FROM ds JOIN vid v USING (sym) GROUP BY doc_id)"""
  }

  /** input_ids replay: training, encoding, and vocabulary numbering.
    * Arrays are emitted as (length, comma-joined string): the driver's
    * compare sorts column values, which raw list columns break. */
  private lazy val bpeEncodeIdsSql: String =
    s"""WITH $bpeIdsCtes
       SELECT doc_id, CAST(len(input_ids) AS INT) AS n_ids,
              array_to_string(input_ids, ',') AS ids_str
       FROM docids"""

  /** Packed-record replay: per-language doc order by doc_id, running token
    * offsets, global positions via positional unnest, chunk = gpos DIV
    * ctxLen (128), partial tail dropped — mirrors
    * [[graft.ops.Packing.packIds]] exactly. */
  private lazy val bpePackIdsSql: String =
    s"""WITH $bpeIdsCtes,
       rec AS (
         SELECT d.lang, di.doc_id, di.input_ids,
                len(di.input_ids) AS n,
                coalesce(sum(len(di.input_ids)) OVER (PARTITION BY d.lang
                  ORDER BY md5(CAST(di.doc_id AS VARCHAR)), di.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS start
         FROM docids di JOIN documents d USING (doc_id)),
       toks AS (
         SELECT lang, CAST((start + k - 1) // 128 AS BIGINT) AS chunk,
                start + k - 1 AS gpos, input_ids[k] AS id
         FROM rec, LATERAL unnest(range(1, n + 1)) AS t(k))
       SELECT lang, chunk,
              array_to_string(list(id ORDER BY gpos), ',') AS ids_str
       FROM toks GROUP BY lang, chunk
       HAVING count(*) = 128"""

  private lazy val bpeCtes: String = {
    val D = "\u0001"
    val k = 8
    val sb = new StringBuilder
    sb ++= s"""wc AS (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> '' GROUP BY w),
       w0 AS (SELECT regexp_replace(w, '(.)', '$D\\1$D', 'g') AS s, freq
              FROM wc)"""
    (0 until k).foreach { i =>
      sb ++= s""",
       p$i AS (SELECT syms[j] AS l, syms[j + 1] AS r, sum(freq) AS c
               FROM (SELECT freq, string_split(trim(s, '$D'), '$D$D') AS syms
                     FROM w$i),
                    LATERAL unnest(range(1, len(syms))) AS t(j)
               GROUP BY l, r),
       b$i AS (SELECT l, r FROM p$i ORDER BY c DESC, l, r LIMIT 1),
       w${i + 1} AS (SELECT replace(s, '$D' || b.l || '$D$D' || b.r || '$D',
                                    '$D' || b.l || b.r || '$D') AS s, freq
                     FROM w$i, b$i b)"""
    }
    sb ++= s""",
       wt AS (SELECT replace(s, '$D', '') AS w,
                     length(s) - length(replace(s, '$D$D', '$D')) + 1 AS toks
              FROM w$k),
       docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
       nb AS (SELECT docw.doc_id, CAST(sum(wt.toks) AS BIGINT) AS n_bpe
              FROM docw JOIN wt USING (w) GROUP BY docw.doc_id)"""
    sb.toString
  }

  /** Paragraph-dedup test corpus: every doc becomes three "\n\n"-separated
    * paragraphs built from its own token slices; every 3rd doc's middle
    * paragraph is replaced by one of three shared boilerplate blocks (the
    * 8-token prefix of donor doc `(doc_id div 3) % 3`). Derived from the
    * driver's own table and mirrored in [[paragraphCtes]], so the oracle
    * sees the identical corpus. */
  private def plantedParagraphCorpus(docs: DataFrame): DataFrame = {
    val donors = docs.where(col("doc_id") < 3)
      .select(col("doc_id").as("g"),
        array_join(slice(tokens(col("text")), 1, 8), " ").as("__b"))
    docs.select(col("doc_id"), col("text"))
      .withColumn("g",
        when(col("doc_id") % 3 === 0, expr("(doc_id div 3) % 3")))
      .join(broadcast(donors), Seq("g"), "left")
      .select(col("doc_id"),
        concat_ws("\n\n",
          array_join(slice(tokens(col("text")), 1, 8), " "),
          coalesce(col("__b"),
            array_join(slice(tokens(col("text")), 9, 8), " ")),
          array_join(slice(tokens(col("text")), 17, 8), " ")).as("text"))
  }

  /** Span-dedup test corpus: every 17th doc gets a shared 12-token passage
    * (the prefix of donor doc `(doc_id div 17) % 3`) planted at its head
    * (even ids) or tail (odd ids); all other docs pass through unchanged.
    * Derived deterministically from the driver's own table and mirrored in
    * [[spanCorpusSql]], so the oracle sees the identical corpus. */
  /** Deterministically corrupted text for [[graft.ops.Normalize]]: four
    * per-residue planted prefixes (mojibake quotes + accents, full-width
    * ASCII, C0+C1 controls, exotic-space runs) and a typographic suffix
    * per parity (mojibake em dash / real ellipsis). The constants are
    * shared with the oracle fixture, rendered chr()-exact by
    * [[graft.ops.Normalize.sqlLit]]. */
  private val messyPrefixes: Seq[String] = Seq(
    "CafÃ© â€œQâ€ ",
    "Ｈｉ！ ",
    "badctl ",
    "a b　c  d ")
  private val messySuffixEven = " â€” end"
  private val messySuffixOdd  = " …fin"

  private[queries] def messyTextCorpus(docs: DataFrame): DataFrame = {
    val r = col("doc_id") % 5
    val prefix = messyPrefixes.zipWithIndex
      .foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((p, i), acc) => when(r === i, lit(p)).otherwise(acc) }
    val suffix = when(col("doc_id") % 2 === 0, lit(messySuffixEven))
      .otherwise(lit(messySuffixOdd))
    docs.select(col("doc_id"),
      concat(prefix, col("text"), suffix).as("messy"))
  }

  private def messyCtes: String = {
    import graft.ops.Normalize.sqlLit
    val pre = messyPrefixes.zipWithIndex
      .map { case (p, i) => s"WHEN doc_id % 5 = $i THEN ${sqlLit(p)}" }
      .mkString("\n                ")
    s"""m AS (
         SELECT doc_id,
           (CASE $pre ELSE '' END) || text ||
           (CASE WHEN doc_id % 2 = 0 THEN ${sqlLit(messySuffixEven)}
                 ELSE ${sqlLit(messySuffixOdd)} END) AS messy
         FROM documents)"""
  }

  private def plantedSpanCorpus(docs: DataFrame): DataFrame = {
    val pass = docs.where(col("doc_id") < 3)
      .select(col("doc_id").as("g"),
        array_join(slice(tokens(col("text")), 1, 12), " ").as("__p"))
    docs.select(col("doc_id"), col("text"))
      .withColumn("g",
        when(col("doc_id") % 17 === 0, expr("(doc_id div 17) % 3")))
      .join(broadcast(pass), Seq("g"), "left")
      .select(col("doc_id"),
        when(col("__p").isNull, col("text"))
          .when(col("doc_id") % 2 === 0, concat_ws(" ", col("__p"), col("text")))
          .otherwise(concat_ws(" ", col("text"), col("__p"))).as("text"))
  }

  /** The oracle's span ground truth, computed WITHOUT the winnowing
    * machinery: plant the same corpus, join on raw 5-gram equality, and
    * collapse consecutive matches per (pair, diagonal) into maximal runs
    * (gaps-and-islands). A maximal token run of L ≥ 8 is exactly a maximal
    * run of L−4 consecutive 5-gram matches. */
  /** CTE chain shared by the span oracles, parameterized by the pair
    * predicate: in-corpus dedup pairs `doc_a < doc_b`; cross-corpus
    * decontamination pairs test (%10 = 0) docs with train docs only. */
  private def spanCtesWith(pairCond: String) =
    spanCtesBase.replace("__PAIR_COND__", pairCond)

  private lazy val spanCtes = spanCtesWith("a.doc_id < b.doc_id")

  private lazy val spanCtesBase =
    """pass AS (
         SELECT doc_id AS g,
                array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS p
         FROM documents WHERE doc_id < 3),
       corpus AS (
         SELECT d.doc_id,
                CASE WHEN pass.p IS NULL THEN d.text
                     WHEN d.doc_id % 2 = 0 THEN pass.p || ' ' || d.text
                     ELSE d.text || ' ' || pass.p END AS text
         FROM documents d
         LEFT JOIN pass ON d.doc_id % 17 = 0 AND (d.doc_id // 17) % 3 = pass.g),
       toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       grams AS (
         SELECT doc_id, i,
                w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g5
         FROM toks, LATERAL unnest(range(1, len(w) - 3)) AS t(i)
         WHERE len(w) >= 5),
       mm AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia,
                b.i - a.i AS d
         FROM grams a JOIN grams b ON a.g5 = b.g5 AND __PAIR_COND__),
       isl AS (
         SELECT doc_a, doc_b, d, ia,
                ia - row_number() OVER (PARTITION BY doc_a, doc_b, d
                  ORDER BY ia) AS grp
         FROM mm),
       spans AS (
         SELECT doc_a, doc_b, d, min(ia) AS a_start,
                count(*) + 4 AS span_len
         FROM isl GROUP BY doc_a, doc_b, d, grp
         HAVING count(*) + 4 >= 8)"""

  private lazy val spanDedupSql =
    s"""WITH $spanCtes
        SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start,
               CAST(a_start + d AS BIGINT) AS b_start,
               CAST(span_len AS BIGINT) AS span_len
        FROM spans"""

  private lazy val spanDecontaminateSql =
    s"""WITH ${spanCtesWith("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")}
        SELECT doc_a AS test_id, doc_b AS train_id,
               CAST(a_start AS BIGINT) AS test_start,
               CAST(a_start + d AS BIGINT) AS train_start,
               CAST(span_len AS BIGINT) AS span_len
        FROM spans"""

  /** The capped face's oracle replays the ENTIRE candidate machinery —
    * winnowing fingerprint selection, bucket sizing, the cap branch and
    * the hub star — because the cap changes WHICH (pair, diagonal)
    * candidates get extended, not how extension works: output = the
    * uncapped ground-truth spans restricted to surviving candidates.
    * Mirrors [[graft.ops.SpanDedup.postings]] (md5 over space-joined
    * 5-grams, window-of-3 minima at their leftmost in-window position,
    * all hashes for docs with < 3 grams, distinct (h, pos)) and
    * [[graft.ops.SpanDedup.crossSpans]]'s bucket logic (te×tr > cap ⇒
    * star around the minimal-(id, pos) train member). */
  private lazy val spanDecontaminateCappedSql =
    s"""WITH ${spanCtesWith("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")},
        ghash AS (
          SELECT doc_id, i, md5(g5) AS h FROM grams),
        ng AS (SELECT doc_id, max(i) AS n FROM ghash GROUP BY doc_id),
        wmin AS (
          SELECT doc_id, i AS ws,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS mh
          FROM ghash),
        selw AS (
          SELECT w.doc_id, w.mh AS h, min(h2.i) AS pos
          FROM wmin w
          JOIN ng ON ng.doc_id = w.doc_id
          JOIN ghash h2 ON h2.doc_id = w.doc_id
                       AND h2.i BETWEEN w.ws AND w.ws + 2 AND h2.h = w.mh
          WHERE w.ws <= ng.n - 2
          GROUP BY w.doc_id, w.mh, w.ws),
        sel AS (
          SELECT DISTINCT doc_id, h, pos FROM selw
          UNION
          SELECT DISTINCT g.doc_id, g.h, g.i AS pos
          FROM ghash g JOIN ng ON ng.doc_id = g.doc_id
          WHERE ng.n < 3),
        post AS (SELECT doc_id, h, pos, doc_id % 10 = 0 AS is_te FROM sel),
        bsz AS (
          SELECT h, count(*) FILTER (WHERE is_te) AS nte,
                 count(*) FILTER (WHERE NOT is_te) AS ntr
          FROM post GROUP BY h
          HAVING count(*) FILTER (WHERE is_te) > 0
             AND count(*) FILTER (WHERE NOT is_te) > 0),
        hub AS (
          SELECT h, doc_id AS hub_id, pos AS hub_pos FROM (
            SELECT h, doc_id, pos, row_number() OVER (PARTITION BY h
              ORDER BY doc_id, pos) AS rn
            FROM post WHERE NOT is_te) WHERE rn = 1),
        cand AS (
          SELECT DISTINCT doc_a, doc_b, d FROM (
            SELECT te.doc_id AS doc_a, tr.doc_id AS doc_b,
                   tr.pos - te.pos AS d
            FROM post te
            JOIN bsz ON bsz.h = te.h AND bsz.nte * bsz.ntr <= 1024
            JOIN post tr ON tr.h = te.h AND NOT tr.is_te
            WHERE te.is_te
            UNION ALL
            SELECT te.doc_id, hub.hub_id, hub.hub_pos - te.pos
            FROM post te
            JOIN bsz ON bsz.h = te.h AND bsz.nte * bsz.ntr > 1024
            JOIN hub ON hub.h = te.h
            WHERE te.is_te))
        SELECT s.doc_a AS test_id, s.doc_b AS train_id,
               CAST(s.a_start AS BIGINT) AS test_start,
               CAST(s.a_start + s.d AS BIGINT) AS train_start,
               CAST(s.span_len AS BIGINT) AS span_len
        FROM spans s JOIN cand c
          ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b AND c.d = s.d"""

  private lazy val spanExciseSql =
    s"""WITH $spanCtes,
        cuts AS (
          SELECT DISTINCT doc_b AS doc_id, a_start + d AS s,
                 a_start + d + span_len - 1 AS e
          FROM spans),
        ord AS (
          SELECT doc_id, s, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM cuts),
        isl2 AS (
          SELECT doc_id, s, e,
                 sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM ord)
        SELECT doc_id, CAST(min(s) AS BIGINT) AS cut_start,
               CAST(max(e) AS BIGINT) AS cut_end,
               CAST(max(e) - min(s) + 1 AS BIGINT) AS cut_tokens
        FROM isl2 GROUP BY doc_id, g"""

  /** Shared CTEs for the paragraph-dedup oracles: the planted corpus
    * (mirrors [[plantedParagraphCorpus]]) and its exploded non-blank units
    * with original 0-based positions (mirrors
    * [[graft.ops.ParagraphDedup.explodeUnits]]), plus the duplicated-unit
    * groups and their per-occurrence rank. */
  private lazy val paragraphCtes = paragraphCtesWith("doc_id, pos")

  /** `order` is the keep-first arbitration order: corpus order for the
    * one-shot queries, arrival order (batch parity first) for the
    * incremental-index query. */
  private def paragraphCtesWith(order: String) =
    s"""pcorpus AS (
         SELECT d.doc_id,
                concat_ws(chr(10) || chr(10),
                  coalesce(array_to_string(d.ws[1:8], ' '), ''),
                  CASE WHEN d.doc_id % 3 = 0 THEN dn.b
                       ELSE coalesce(array_to_string(d.ws[9:16], ' '), '')
                       END,
                  coalesce(array_to_string(d.ws[17:24], ' '), '')) AS text
         FROM (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents) d
         LEFT JOIN (SELECT doc_id AS g,
                           array_to_string(list_slice(
                             string_split(text, ' '), 1, 8), ' ') AS b
                    FROM documents WHERE doc_id < 3) dn
           ON d.doc_id % 3 = 0 AND dn.g = (d.doc_id // 3) % 3),
       punits AS (
         SELECT doc_id, i - 1 AS pos, p[i] AS para
         FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS p
               FROM pcorpus),
              LATERAL unnest(range(1, len(p) + 1)) AS t(i)
         WHERE trim(p[i]) <> ''),
       pdup AS (
         SELECT md5(para) AS ph, count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_copies
         FROM punits GROUP BY md5(para) HAVING count(*) >= 2),
       pk AS (
         SELECT md5(para) AS ph, doc_id, pos,
                row_number() OVER (PARTITION BY md5(para)
                  ORDER BY $order) AS rn
         FROM punits)"""

  private lazy val paragraphDedupSql =
    s"""WITH $paragraphCtes
        SELECT p.ph, p.n_docs, p.n_copies,
               k.doc_id AS keeper_id, k.pos AS keeper_pos
        FROM pdup p JOIN pk k ON k.ph = p.ph AND k.rn = 1"""

  private lazy val paragraphExciseSql = paragraphExciseSqlWith(paragraphCtes)

  /** The incremental index processes the even-id batch then the odd-id
    * batch, so keep-first arbitration is ARRIVAL order: parity first, then
    * (id, pos) — the only line that differs from the one-shot oracle. */
  private lazy val paragraphIncrementalSql =
    paragraphExciseSqlWith(paragraphCtesWith("doc_id % 2, doc_id, pos"))

  private def paragraphExciseSqlWith(ctes: String) =
    s"""WITH $ctes,
        pdrop AS (
          SELECT k.doc_id, k.pos
          FROM pk k JOIN pdup p ON p.ph = k.ph
          WHERE k.rn > 1),
        paff AS (SELECT DISTINCT doc_id FROM pdrop),
        prebuilt AS (
          SELECT u.doc_id,
                 string_agg(u.para, chr(10) || chr(10) ORDER BY u.pos)
                   AS text
          FROM punits u
          JOIN paff a ON a.doc_id = u.doc_id
          LEFT JOIN pdrop x ON x.doc_id = u.doc_id AND x.pos = u.pos
          WHERE x.doc_id IS NULL
          GROUP BY u.doc_id)
        SELECT c.doc_id,
               CASE WHEN a.doc_id IS NULL THEN c.text
                    ELSE coalesce(r.text, '') END AS text
        FROM pcorpus c
        LEFT JOIN paff a ON a.doc_id = c.doc_id
        LEFT JOIN prebuilt r ON r.doc_id = c.doc_id"""

  /** Mirrors Decontaminate.near's degenerate-bucket star cap (maxBucket =
    * 1024): a bucket whose test×train cross product exceeds the cap pairs
    * each test member with only the SMALLEST train member. Without the
    * mirror the oracle emits the uncapped product and the row would turn
    * red the day corpus growth pushes any bucket past the cap. */
  private lazy val nearContaminationSql =
    s"""WITH $lshBucketsCtes,
        bc AS (
          SELECT band, bucket,
                 count(*) FILTER (WHERE doc_id % 10 = 0) AS te,
                 count(*) FILTER (WHERE doc_id % 10 <> 0) AS tr,
                 min(doc_id) FILTER (WHERE doc_id % 10 <> 0) AS min_tr
          FROM buckets GROUP BY band, bucket)
        SELECT DISTINCT test_id, train_id FROM (
          SELECT a.doc_id AS test_id, b.doc_id AS train_id
          FROM buckets a
          JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
          JOIN bc c ON c.band = a.band AND c.bucket = a.bucket
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
            AND c.te * c.tr <= 1024
          UNION ALL
          SELECT a.doc_id AS test_id, c.min_tr AS train_id
          FROM buckets a
          JOIN bc c ON c.band = a.band AND c.bucket = a.bucket
          WHERE a.doc_id % 10 = 0 AND c.te * c.tr > 1024
            AND c.min_tr IS NOT NULL)"""

  /** Banded-minhash candidate pairs — the oracle for BOTH the one-shot
    * `q_minhash_lsh` and the incremental-index `q_dedup_incremental`
    * (feeding the corpus through in batches must produce the same pairs). */
  private lazy val lshPairsSql =
    s"""WITH $lshBucketsCtes
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id"""

  /** CTE chain ending in `cc(doc_id, component)`: the LSH pair set chained
    * into connected components by a recursive reachability closure, each
    * node labeled with its cluster minimum — ground truth for the
    * alternating large-star/small-star algorithm in [[graft.ops.Components]].
    * Note the oracle closes over the UNCAPPED all-pairs bucket expansion
    * while Spark may star-cap degenerate buckets — the results still agree
    * because a star keeps every member connected to the cluster. */
  private lazy val ccCtes =
    s"""$lshBucketsCtes,
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a
          JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        cc AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)"""

  /** Keeper selection over `cc` — shared by `q_dedup_keep` and
    * `q_dedup_corpus` so the score/tie-break can never diverge between
    * them (mirror of [[graft.ops.Components.keepBest]]): highest char
    * count wins, ties to the smallest doc_id; unclustered docs are their
    * own component. */
  private lazy val keeperCtes =
    """labeled AS (
         SELECT coalesce(cc.component, d.doc_id) AS component, d.doc_id,
                length(d.text) AS score
         FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
       ranked AS (
         SELECT component, doc_id,
                row_number() OVER (PARTITION BY component
                  ORDER BY score DESC, doc_id) AS rn,
                count(*) OVER (PARTITION BY component) AS n_members
         FROM labeled)"""

  /** The bigram-LM scoring CTEs (train on lang='en', fixed-point
    * transition log-probs, per-doc integer ll sums), shared by the
    * perplexity filter and the CCNet bucket split. Ends with `sc` =
    * (doc_id, n_trans, ll_fp). */
  private val bigramScoreCtes: String =
    """w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
            FROM documents),
         pairs AS (
           SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
           FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''),
         bi AS (SELECT w1, w2, count(*) AS c_ab FROM pairs
                WHERE lang = 'en' GROUP BY w1, w2),
         uni AS (
           SELECT t AS w, count(*) AS c_a
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents WHERE lang = 'en')
           WHERE t <> '' GROUP BY t),
         v AS (SELECT count(*) AS v FROM uni),
         model AS (
           SELECT w1, w2,
             CAST(floor(ln(CAST(c_ab + 1 AS DOUBLE)
               / CAST(c_a + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               AS lp_fp
           FROM bi JOIN (SELECT w AS w1, c_a FROM uni) u USING (w1)
           CROSS JOIN v),
         ctxd AS (
           SELECT w AS w1,
             CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(c_a + v AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS ctx_fp
           FROM uni CROSS JOIN v),
         gd AS (
           SELECT CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(v AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS glob_fp FROM v),
         sc AS (
           SELECT p.doc_id, count(*) AS n_trans,
                  sum(coalesce(lp_fp, ctx_fp, glob_fp)) AS ll_fp
           FROM pairs p
           LEFT JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
           LEFT JOIN ctxd c ON c.w1 = p.w1
           CROSS JOIN gd
           GROUP BY p.doc_id)"""

  /** Depth-2 decision-tree oracle CTE chain: the same hashed-count
    * features, the same sparse (bucket, threshold) candidate cells, the
    * same integer-accuracy argmax per node — root over all docs, then
    * one split per side, then the four-leaf prediction. Mirrors
    * [[graft.ops.DecisionTree.trainPredict]] cell for cell; ends in
    * `tpred(doc_id, y, c_root, pred)` so both the classifier query and
    * the tree-through-the-gate query build on it. */
  private def treeCtes(buckets: Int, maxThr: Int): String = {
    def nib(i: Int) =
      s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
        s" THEN ascii(substr(h,$i,1)) - 48" +
        s" ELSE ascii(substr(h,$i,1)) - 87 END)"
    // one node's split election over member table M: cells → argmax
    def node(nm: String, members: String) =
      s"""tot$nm AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS pos, count(*) AS n FROM $members),
         cell$nm AS (
           SELECT b, t,
                  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS pos_ge,
                  count(*) AS n_ge
           FROM fc JOIN $members m USING (doc_id),
                LATERAL unnest(range(1, least(c, $maxThr) + 1)) AS u(t)
           GROUP BY b, t),
         sc$nm AS (
           SELECT b, t,
                  pos_ge + (tot$nm.n - tot$nm.pos) - (n_ge - pos_ge)
                    AS acc_pos,
                  (n_ge - pos_ge) + tot$nm.pos - pos_ge AS acc_neg
           FROM cell$nm CROSS JOIN tot$nm),
         pick$nm AS (
           SELECT b, t,
                  CAST(CASE WHEN acc_pos >= acc_neg THEN 1 ELSE -1 END
                    AS BIGINT) AS lab_ge,
                  CAST(CASE WHEN acc_pos >= acc_neg THEN -1 ELSE 1 END
                    AS BIGINT) AS lab_lt
           FROM (SELECT *, row_number() OVER (
                   ORDER BY greatest(acc_pos, acc_neg) DESC, b ASC, t ASC)
                   AS rn FROM sc$nm)
           WHERE rn = 1)"""
    s"""tk AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
       y AS (SELECT doc_id,
               CAST(CASE WHEN
                 len(list_filter(toks, x -> x = 'customer')) >= 2
                 OR len(list_filter(toks, x -> x = 'vector')) >= 3
               THEN 1 ELSE -1 END AS BIGINT) AS y
             FROM tk),
       f0 AS (SELECT doc_id, md5(t) AS h FROM
                (SELECT doc_id, unnest(toks) AS t FROM tk)),
       fc AS (SELECT doc_id,
                CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16
                  + ${nib(4)}) % $buckets AS BIGINT) AS b,
                count(*) AS c
              FROM f0 GROUP BY doc_id, b),
       ${node("R", "y")},
       cr AS (
         SELECT y.doc_id, y.y, pickR.t AS rt,
                CAST(coalesce(sum(fc.c), 0) AS BIGINT) AS c_root
         FROM y CROSS JOIN pickR
         LEFT JOIN fc ON fc.doc_id = y.doc_id AND fc.b = pickR.b
         GROUP BY y.doc_id, y.y, pickR.t),
       mg AS (SELECT doc_id, y FROM cr WHERE c_root >= rt),
       ml AS (SELECT doc_id, y FROM cr WHERE c_root < rt),
       ${node("G", "mg")},
       ${node("L", "ml")},
       cg AS (
         SELECT y.doc_id, CAST(coalesce(sum(fc.c), 0) AS BIGINT) AS c
         FROM y CROSS JOIN pickG
         LEFT JOIN fc ON fc.doc_id = y.doc_id AND fc.b = pickG.b
         GROUP BY y.doc_id),
       cl AS (
         SELECT y.doc_id, CAST(coalesce(sum(fc.c), 0) AS BIGINT) AS c
         FROM y CROSS JOIN pickL
         LEFT JOIN fc ON fc.doc_id = y.doc_id AND fc.b = pickL.b
         GROUP BY y.doc_id),
       tpred AS (
         SELECT cr.doc_id, cr.y, cr.c_root,
                CASE WHEN cr.c_root >= cr.rt
                     THEN CASE WHEN cg.c >= pickG.t THEN pickG.lab_ge
                               ELSE pickG.lab_lt END
                     ELSE CASE WHEN cl.c >= pickL.t THEN pickL.lab_ge
                               ELSE pickL.lab_lt END END AS pred
         FROM cr JOIN cg ON cg.doc_id = cr.doc_id
         JOIN cl ON cl.doc_id = cr.doc_id
         CROSS JOIN pickG CROSS JOIN pickL)"""
  }

  /** RAG chunk-embedding CTEs (chunking → hash16 feature components →
    * query-candidate dot products), shared by the retrieval baseline and
    * the MMR re-rank. Ends with `comp`(cid, i, x) and `dots`(query_id,
    * neighbor_id, dp, nq, nc). */
  /** Chunking prefix alone (ends with `ch`(doc_id, chunk_idx,
    * chunk_text)) — reused by the IVF twin's claim oracle, which only
    * needs the query-chunk count. */
  private lazy val ragChunkCtes: String =
    s"""d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         ch AS (
           SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
                  array_to_string(list_slice(toks, s + 1, s + 32), ' ')
                    AS chunk_text
           FROM d, LATERAL unnest(range(0, len(toks), 24)) AS t(s)
           WHERE s = 0 OR len(toks) - s > 8)"""

  private lazy val ragVecCtes: String = {
    def nib(i: Int) =
      s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
        s" THEN ascii(substr(h,$i,1)) - 48" +
        s" ELSE ascii(substr(h,$i,1)) - 87 END)"
    s"""$ragChunkCtes,
         ev AS (
           SELECT doc_id * 1000 + chunk_idx AS cid, i,
                  md5(CAST(i AS VARCHAR) || ':' || chunk_text) AS h
           FROM ch, LATERAL unnest(range(1, 9)) AS t(i)),
         comp AS (
           SELECT cid, i,
                  CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16
                    + ${nib(4)} AS DOUBLE) AS x
           FROM ev),
         dots AS (
           SELECT q.cid AS query_id, c.cid AS neighbor_id,
                  sum(q.x * c.x) AS dp, sum(q.x * q.x) AS nq,
                  sum(c.x * c.x) AS nc
           FROM (SELECT * FROM comp WHERE cid < 2000) q
           JOIN comp c USING (i)
           WHERE c.cid <> q.cid
           GROUP BY q.cid, c.cid)"""
  }

  val oracleSql: Map[String, String] = Map(
    "q_wordcount" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    "q_token_count" ->
      """SELECT doc_id,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
                length(text) AS n_chars_actual
         FROM documents""",
    "q_quality_score" ->
      """WITH m AS (
           SELECT doc_id, CAST(length(text) AS DOUBLE) AS chars,
                  CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS DOUBLE) AS toks,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x = 'the')) AS DOUBLE) AS the_n
           FROM documents)
         SELECT doc_id, round(
             0.4 * least(chars / 500.0, 1.0)
           + 0.3 * (1.0 - least(abs((chars - (toks - 1)) / toks - 5.0) / 5.0, 1.0))
           + 0.3 * least((the_n / toks) * 10.0, 1.0), 6) AS quality
         FROM m""",
    "q_lang_id" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         scores AS (
           SELECT doc_id,
             sum(CASE WHEN t IN ('der','die','und','nicht','das') THEN 1 ELSE 0 END) AS s_de,
             sum(CASE WHEN t IN ('the','and','of','to','is') THEN 1 ELSE 0 END) AS s_en,
             sum(CASE WHEN t IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS s_es,
             sum(CASE WHEN t IN ('le','la','et','les','des') THEN 1 ELSE 0 END) AS s_fr,
             sum(CASE WHEN t IN ('de5','shi4','le5','zai4','he2') THEN 1 ELSE 0 END) AS s_zh
           FROM toks GROUP BY doc_id)
         SELECT d.doc_id, d.lang AS lang_meta,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM documents d JOIN scores USING (doc_id)""",
    "q_langid_confusion" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         scores AS (
           SELECT doc_id,
             sum(CASE WHEN t IN ('der','die','und','nicht','das') THEN 1 ELSE 0 END) AS s_de,
             sum(CASE WHEN t IN ('the','and','of','to','is') THEN 1 ELSE 0 END) AS s_en,
             sum(CASE WHEN t IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS s_es,
             sum(CASE WHEN t IN ('le','la','et','les','des') THEN 1 ELSE 0 END) AS s_fr,
             sum(CASE WHEN t IN ('de5','shi4','le5','zai4','he2') THEN 1 ELSE 0 END) AS s_zh
           FROM toks GROUP BY doc_id),
         pred AS (
           SELECT d.doc_id, d.lang AS lang_meta,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_pred
           FROM documents d JOIN scores USING (doc_id))
         SELECT lang_meta, lang_pred, count(*) AS n_docs
         FROM pred GROUP BY lang_meta, lang_pred
         ORDER BY lang_meta, lang_pred""",

    "q_fingerprint" ->
      """SELECT doc_id,
                md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
                count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "q_ngram_jaccard" ->
      s"""WITH $shingleCte,
          sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_rows GROUP BY doc_id),
          src AS (SELECT doc_id, source FROM documents),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS DOUBLE) AS inter
            FROM shingle_rows a
            JOIN shingle_rows b ON a.sh = b.sh AND a.doc_id < b.doc_id
            JOIN src sa ON sa.doc_id = a.doc_id
            JOIN src sb ON sb.doc_id = b.doc_id AND sa.source = sb.source
            GROUP BY a.doc_id, b.doc_id)
          SELECT doc_a, doc_b,
                 round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
          FROM inter
          JOIN sizes za ON za.doc_id = doc_a
          JOIN sizes zb ON zb.doc_id = doc_b
          WHERE round(inter / (za.sz + zb.sz - inter), 6) >= 0.12""",
    // containment replay: same shingle rows, directional pairs, the
    // QUERY side's size as the denominator — a doc with no shingles has
    // no shingle_rows, so it appears on neither side (the engine's
    // undefined-for-empty contract)
    "q_ngram_containment" ->
      s"""WITH $shingleCte,
          sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_rows GROUP BY doc_id),
          src AS (SELECT doc_id, source FROM documents),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS DOUBLE) AS inter
            FROM shingle_rows a
            JOIN shingle_rows b ON a.sh = b.sh AND a.doc_id <> b.doc_id
            JOIN src sa ON sa.doc_id = a.doc_id
            JOIN src sb ON sb.doc_id = b.doc_id AND sa.source = sb.source
            GROUP BY a.doc_id, b.doc_id)
          SELECT doc_a, doc_b, round(inter / za.sz, 6) AS containment
          FROM inter
          JOIN sizes za ON za.doc_id = doc_a
          WHERE round(inter / za.sz, 6) >= 0.6""",
    "q_minhash_sig" ->
      s"""WITH $shingleCte
          SELECT doc_id, ${(0 until 4).map(i => s"min(md5('$i:' || sh)) AS mh$i").mkString(", ")}
          FROM shingle_rows GROUP BY doc_id""",
    "q_minhash_lsh" -> lshPairsSql,

    // corpus-overlap replay: distinct shingles per half, exact
    // intersection/union, and the same 16 corpus-min md5 slots — the
    // min over each half's distinct shingles equals the engine's
    // min-over-docs-of-doc-mins
    "q_corpus_overlap" -> {
      val slots = (0 until 16)
      s"""WITH $shingleCte,
         sa AS (SELECT DISTINCT sh FROM shingle_rows WHERE doc_id % 2 = 0),
         sb AS (SELECT DISTINCT sh FROM shingle_rows WHERE doc_id % 2 = 1),
         na AS (SELECT count(*) AS n_a FROM sa),
         nb AS (SELECT count(*) AS n_b FROM sb),
         iv AS (SELECT count(*) AS n_inter FROM sa JOIN sb USING (sh)),
         siga AS (SELECT ${slots.map(i =>
            s"min(md5('$i:' || sh)) AS a$i").mkString(", ")} FROM sa),
         sigb AS (SELECT ${slots.map(i =>
            s"min(md5('$i:' || sh)) AS b$i").mkString(", ")} FROM sb),
         agr AS (SELECT CAST(${slots.map(i =>
            s"(CASE WHEN a$i = b$i THEN 1 ELSE 0 END)").mkString(" + ")}
           AS BIGINT) AS sig_agree FROM siga CROSS JOIN sigb)
         SELECT n_a, n_b, n_inter, n_a + n_b - n_inter AS n_union,
                round(CAST(n_inter AS DOUBLE)
                  / CAST(n_a + n_b - n_inter AS DOUBLE), 6) AS jaccard_exact,
                sig_agree,
                round(CAST(sig_agree AS DOUBLE) / 16.0, 6) AS jaccard_est
         FROM na CROSS JOIN nb CROSS JOIN iv CROSS JOIN agr""" },
    // eval replay: the bucket CTEs' own pair set, per-pair 16-hash
    // agreement from the same sigs table, exact set-Jaccard from the same
    // DISTINCT shingle rows
    "q_lsh_eval" ->
      s"""WITH $lshBucketsCtes,
          pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_rows
                    GROUP BY doc_id),
          shared AS (
            SELECT p.doc_a, p.doc_b, CAST(count(*) AS DOUBLE) AS inter
            FROM pairs p
            JOIN shingle_rows a ON a.doc_id = p.doc_a
            JOIN shingle_rows b ON b.doc_id = p.doc_b AND b.sh = a.sh
            GROUP BY p.doc_a, p.doc_b),
          agr AS (
            SELECT p.doc_a, p.doc_b,
                   ${(0 until 16).map(i =>
                      s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
                      .mkString(" + ")} AS n_agree
            FROM pairs p
            JOIN sigs sa ON sa.doc_id = p.doc_a
            JOIN sigs sb ON sb.doc_id = p.doc_b)
          SELECT p.doc_a, p.doc_b, CAST(n_agree AS BIGINT) AS n_agree,
                 round(coalesce(inter, 0)
                   / (za.sz + zb.sz - coalesce(inter, 0)), 6) AS jaccard,
                 round(coalesce(inter, 0)
                   / (za.sz + zb.sz - coalesce(inter, 0)), 6) >= 0.5
                   AS is_near_dup
          FROM pairs p
          JOIN agr USING (doc_a, doc_b)
          LEFT JOIN shared USING (doc_a, doc_b)
          JOIN sizes za ON za.doc_id = p.doc_a
          JOIN sizes zb ON zb.doc_id = p.doc_b""",
    // the incremental index must land on EXACTLY the one-shot pair set
    "q_dedup_incremental" -> lshPairsSql,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ccCtes
          SELECT doc_id, component FROM cc""",
    // the incremental link index must land on EXACTLY the one-shot closure
    "q_cluster_incremental" ->
      s"""WITH RECURSIVE $ccCtes
          SELECT doc_id, component FROM cc""",
    "q_dedup_corpus" ->
      s"""WITH RECURSIVE $ccCtes, $keeperCtes
          SELECT d.doc_id, d.lang, d.source, d.n_chars
          FROM documents d JOIN ranked USING (doc_id) WHERE rn = 1""",
    "q_dedup_keep" ->
      s"""WITH RECURSIVE $ccCtes, $keeperCtes
          SELECT component, doc_id AS keeper_id, n_members
          FROM ranked WHERE rn = 1""",
    // the same closure, keeper elected by the replayed quality score
    "q_dedup_keep_quality" ->
      s"""WITH RECURSIVE $ccCtes,
         qm AS (
           SELECT doc_id, CAST(length(text) AS DOUBLE) AS chars,
                  CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS DOUBLE) AS toks,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x = 'the')) AS DOUBLE) AS the_n
           FROM documents),
         qsq AS (
           SELECT doc_id,
               round(0.4 * least(chars / 500.0, 1.0)
             + 0.3 * (1.0 - least(abs((chars - (toks - 1)) / toks - 5.0)
                 / 5.0, 1.0))
             + 0.3 * least((the_n / toks) * 10.0, 1.0), 6) AS q
           FROM qm),
         labq AS (
           SELECT coalesce(cc.component, d.doc_id) AS component, d.doc_id,
                  qsq.q AS score
           FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
           JOIN qsq ON qsq.doc_id = d.doc_id),
         rkq AS (
           SELECT component, doc_id,
                  row_number() OVER (PARTITION BY component
                    ORDER BY score DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY component) AS n_members
           FROM labq)
         SELECT component, doc_id AS keeper_id, n_members
         FROM rkq WHERE rn = 1""",
    "q_decontaminate_exact" ->
      """WITH fp AS (
           SELECT doc_id,
                  md5(array_to_string(
                    list_slice(string_split(
                      lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' '), 1, 5), ' ')) AS f
           FROM documents)
         SELECT a.doc_id AS test_id, b.doc_id AS train_id
         FROM fp a JOIN fp b ON a.f = b.f
         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0""",
    "q_decontaminate_near" -> nearContaminationSql,
    "q_span_dedup" -> spanDedupSql,
    "q_span_excise" -> spanExciseSql,
    "q_paragraph_dedup" -> paragraphDedupSql,
    "q_paragraph_excise" -> paragraphExciseSql,
    "q_paragraph_incremental" -> paragraphIncrementalSql,
    "q_decontaminate_span" -> spanDecontaminateSql,
    "q_decontaminate_span_capped" -> spanDecontaminateCappedSql,
    "q_token_bpe_trained" -> bpeTrainedSql,
    "q_sample_budget_bpe" -> bpeBudgetSql,
    "q_encode_ids" -> bpeEncodeIdsSql,
    // concentration replay: same trigram stream, rank, and rollup
    "q_ngram_concentration" ->
      """WITH t AS (SELECT lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT lang, array_to_string(toks[i:i+2], ' ') AS gram
               FROM t, LATERAL unnest(range(1, len(toks) - 1)) AS u(i)
               WHERE len(toks) >= 3),
         c AS (SELECT lang, gram, count(*) AS cnt
               FROM g GROUP BY lang, gram),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, gram) AS rk FROM c),
         tp AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS top10_mass
                FROM r WHERE rk <= 10 GROUP BY lang),
         tt AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total_trigrams
                FROM c GROUP BY lang)
         SELECT tt.lang, total_trigrams, top10_mass,
                (1000000 * top10_mass) // total_trigrams
                  AS top10_share_ppm
         FROM tt JOIN tp ON tt.lang = tp.lang ORDER BY tt.lang""",

    // diversity replay: the same guarded n-gram stream and rollup
    "q_ngram_diversity" ->
      """WITH t AS (SELECT lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT lang, n, array_to_string(toks[i:i+n-1], ' ') AS gram
               FROM t, (SELECT unnest([1,2,3]) AS n) tn,
                    LATERAL unnest(range(1, len(toks) - n + 2)) AS u(i)
               WHERE len(toks) >= n)
         SELECT lang, n, count(*) AS total_ngrams,
                count(DISTINCT gram) AS distinct_ngrams,
                (1000000 * count(DISTINCT gram)) // count(*)
                  AS distinct_ratio_ppm
         FROM g GROUP BY lang, n ORDER BY lang, n""",

    // fertility replay: same trained encoding, per-language rollup
    "q_token_fertility" ->
      s"""WITH $bpeIdsCtes,
         f AS (SELECT d.lang, len(i.input_ids) AS nt, length(d.text) AS nc
               FROM docids i JOIN documents d USING (doc_id))
         SELECT lang, count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                (100 * CAST(sum(nc) AS BIGINT))
                  // CAST(sum(nt) AS BIGINT) AS chars_per_100tok
         FROM f GROUP BY lang ORDER BY lang""",
    "q_pack_ids" -> bpePackIdsSql,
    // segment replay: the same running offsets, overlapped chunk ranges
    // per doc, tail chunk dropped by the shard total
    "q_pack_segments" ->
      s"""WITH $bpeIdsCtes,
         rec AS (
           SELECT d.lang, di.doc_id, len(di.input_ids) AS n,
                  coalesce(sum(len(di.input_ids)) OVER (PARTITION BY d.lang
                    ORDER BY md5(CAST(di.doc_id AS VARCHAR)), di.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS start
           FROM docids di JOIN documents d USING (doc_id)
           WHERE len(di.input_ids) > 0),
         tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total
                 FROM rec GROUP BY lang),
         seg AS (
           SELECT r.lang, r.doc_id, u.c AS chunk,
                  greatest(0, r.start - u.c * 128) AS seg_start,
                  least((u.c + 1) * 128, r.start + r.n)
                    - greatest(u.c * 128, r.start) AS seg_len
           FROM rec r,
                LATERAL unnest(range(CAST(r.start // 128 AS BIGINT),
                  CAST((r.start + r.n - 1) // 128 + 1 AS BIGINT)))
                  AS u(c))
         SELECT s.lang, CAST(s.chunk AS BIGINT) AS chunk, s.doc_id,
                CAST(s.seg_start AS BIGINT) AS seg_start,
                CAST(s.seg_len AS BIGINT) AS seg_len
         FROM seg s JOIN tot ON s.lang = tot.lang
         WHERE s.chunk < tot.total // 128
         ORDER BY s.lang, chunk, seg_start""",
    "q_simhash" ->
      s"""WITH $simhashCte
          SELECT doc_id, simhash FROM sh""",
    "q_simhash_dedup" ->
      s"""WITH $simhashCte
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""",
    // incremental replay: exists-earlier under the batch order (parity,
    // then id) — the same fingerprints, all-pairs in the oracle where the
    // engine probes bucketed postings
    "q_simhash_incremental" ->
      s"""WITH $simhashCte
          SELECT s.doc_id, s.simhash,
                 count(e.doc_id) > 0 AS is_dup,
                 min(e.doc_id) AS keeper
          FROM sh s LEFT JOIN sh e
            ON bit_count(xor(s.simhash, e.simhash)) <= 1
           AND ((e.doc_id % 2 < s.doc_id % 2)
             OR (e.doc_id % 2 = s.doc_id % 2 AND e.doc_id < s.doc_id))
          GROUP BY s.doc_id, s.simhash ORDER BY s.doc_id""",
    "q_sample_hash" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE md5(CAST(event_id AS VARCHAR))
               < '40000000000000000000000000000000'""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) WHERE rn <= 50""",
    // the salted two-phase selection must equal the one-shot top-k
    "q_sample_stratified_salted" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) WHERE rn <= 50""",
    "q_sample_budget" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents) WHERE cum - n_chars < 20000""",
    "q_quality_repetition" ->
      """WITH words AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (
           SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
           WHERE len(w) >= 3),
         per AS (SELECT doc_id, g, count(*) AS c FROM grams
                 GROUP BY doc_id, g),
         gagg AS (SELECT doc_id, sum(c) AS total, count(*) AS dst,
                         max(c) AS top
                  FROM per GROUP BY doc_id)
         SELECT w.doc_id,
                round(1.0 - len(list_distinct(w.w)) * 1.0 / len(w.w), 6)
                  AS dup_token_frac,
                round(CASE WHEN total IS NULL THEN 0.0
                      ELSE 1.0 - dst * 1.0 / total END, 6) AS dup_3gram_frac,
                round(CASE WHEN total IS NULL THEN 0.0
                      ELSE top * 1.0 / total END, 6) AS top_3gram_frac
         FROM words w LEFT JOIN gagg ON w.doc_id = gagg.doc_id""",
    // chunk replay: starts step by 24 over the token list; a tail start
    // survives only if it reaches past the previous chunk's end (adds
    // > window - stride = 8 tokens of new content); slices are inclusive
    // 1-based in DuckDB, (start+1, width) in Spark — same 32 tokens
    "q_rag_chunks" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         ch AS (
           SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
                  CAST(s AS BIGINT) AS start_tok,
                  list_slice(toks, s + 1, s + 32) AS ctoks
           FROM d, LATERAL unnest(range(0, len(toks), 24)) AS t(s)
           WHERE s = 0 OR len(toks) - s > 8)
         SELECT doc_id, chunk_idx, start_tok,
                CAST(len(ctoks) AS INT) AS n_tok,
                array_to_string(ctoks, ' ') AS chunk_text
         FROM ch""",
    "q_pack_chunks" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  length(text) - length(replace(text, ' ', '')) + 1
                    AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, lang, n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_tok,
                CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_first,
                CAST((cum - 1) // 2048 AS BIGINT) AS seq_last
         FROM c""",
    "q_pack_salted" -> {
      // hash16 of md5(doc_id) via ascii nibble arithmetic, mod 4 — the
      // same salt Packing.saltedShard computes
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)),$i,1)) <= 57" +
          s" THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)),$i,1)) - 48" +
          s" ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)),$i,1)) - 87 END)"
      val salt =
        s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 4"
      s"""WITH t AS (
           SELECT doc_id, lang,
                  length(text) - length(replace(text, ' ', '')) + 1
                    AS n_tokens,
                  $salt AS salt
           FROM documents),
         c AS (
           SELECT doc_id, lang, salt, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY lang, salt
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, lang, salt, n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_tok,
                CAST((cum - n_tokens) // 2048 + salt * 1000000 AS BIGINT)
                  AS seq_first,
                CAST((cum - 1) // 2048 + salt * 1000000 AS BIGINT)
                  AS seq_last
         FROM c"""
    },
    "q_token_bpe" ->
      """SELECT doc_id,
           len(regexp_extract_all(
             text || ' v' || doc_id || '.r' || CAST(doc_id % 7 AS VARCHAR) || '!don''t',
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
             AS n_bpe,
           len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
             AS n_bpe_plain
         FROM documents""",
    "q_fingerprint_winnow" ->
      """WITH words AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (
           SELECT doc_id, i, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
           FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
           WHERE len(w) >= 3),
         hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g
                GROUP BY doc_id),
         mins AS (
           SELECT doc_id,
                  CASE WHEN len(hs) < 4 THEN hs
                       ELSE [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]
                  END AS m
           FROM hl)
         SELECT d.doc_id,
                md5(CASE WHEN m IS NULL THEN ''
                    ELSE array_to_string(list_sort(list_distinct(m)), '|')
                    END) AS winnow_fp
         FROM documents d LEFT JOIN mins ON d.doc_id = mins.doc_id""",
    "q_quality_filter" ->
      """WITH words AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         grams AS (
           SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
           WHERE len(w) >= 3),
         per AS (SELECT doc_id, g, count(*) AS c FROM grams
                 GROUP BY doc_id, g),
         gagg AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top
                  FROM per GROUP BY doc_id)
         SELECT w.doc_id,
                len(w.w) >= 30 AS len_ok,
                round(1.0 - len(list_distinct(w.w)) * 1.0 / len(w.w), 6)
                  <= 0.6 AS tok_rep_ok,
                coalesce(round(top, 6), 0.0) <= 0.04 AS gram_rep_ok,
                len(w.w) >= 30
                  AND round(1.0 - len(list_distinct(w.w)) * 1.0 / len(w.w), 6) <= 0.6
                  AND coalesce(round(top, 6), 0.0) <= 0.04 AS keep
         FROM words w LEFT JOIN gagg ON w.doc_id = gagg.doc_id""",
    "q_redact_pii" ->
      """WITH pii AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 2 = 0 THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
           FROM documents),
         stages AS (
           SELECT doc_id, t,
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM pii),
         stages2 AS (
           SELECT doc_id, t, t1,
             regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t2
           FROM stages)
         SELECT doc_id,
           md5(regexp_replace(t2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_fp,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips
         FROM stages2""",
    "q_multimodal_meta" ->
      """SELECT doc_id, source, 16 + doc_id % 32 AS width,
                16 + doc_id % 24 AS height, 8 AS embedding_dim
         FROM documents""",
    // mirrors Multimodal.encodeWav's PCM formula: the Spark side must decode
    // the WAV container bit-exactly to reproduce these sums
    "q_multimodal_audio" ->
      """WITH params AS (
           SELECT doc_id, source,
                  800 + doc_id % 400 AS n,
                  8000 * (1 + doc_id % 3) AS rate
           FROM documents),
         sums AS (
           SELECT p.doc_id,
                  CAST(sum((p.doc_id * 31 + t.i * 7919) % 4096 - 2048) AS BIGINT) AS pcm_sum
           FROM params p, LATERAL unnest(range(0, p.n)) AS t(i)
           GROUP BY p.doc_id)
         SELECT p.doc_id, p.source,
                CAST(p.rate AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(p.n AS BIGINT) AS n_frames,
                (p.n * 1000) // p.rate AS duration_ms,
                s.pcm_sum
         FROM params p JOIN sums s ON s.doc_id = p.doc_id""",
    // mirrors Multimodal.encodeGif's gray-pixel formula over the identity
    // palette: gray v contributes (299+587+114)·v = 1000·v to the frame's
    // luminance witness, so the Spark side must frame-decode the GIF
    // bit-exactly to reproduce these sums
    "q_multimodal_frames" ->
      """WITH params AS (
           SELECT doc_id, source,
                  8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h,
                  2 + doc_id % 4 AS nf
           FROM documents),
         frames AS (
           SELECT p.doc_id, p.source, f.i AS frame_idx, f.i * 40 AS t_ms,
                  CAST(sum(1000 * ((p.doc_id * 31 + x.i * 7 + y.i * 13 + f.i * 101) % 256)) AS BIGINT) AS lum_milli_sum
           FROM params p,
                LATERAL unnest(range(0, p.nf)) AS f(i),
                LATERAL unnest(range(0, p.w)) AS x(i),
                LATERAL unnest(range(0, p.h)) AS y(i)
           GROUP BY p.doc_id, p.source, f.i)
         SELECT doc_id, source, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(t_ms AS BIGINT) AS t_ms, lum_milli_sum
         FROM frames""",
    // fixed-point PMI of integer count ratios — op order mirrors
    // Collocations.pmiBigrams exactly
    "q_pmi_bigrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         pairs AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''),
         uni AS (
           SELECT t AS w, count(*) AS n_w
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> '' GROUP BY t),
         bi AS (SELECT w1, w2, count(*) AS n_ab FROM pairs
                GROUP BY w1, w2 HAVING count(*) >= 5),
         tot AS (SELECT (SELECT sum(n_w) FROM uni) AS u_total,
                        (SELECT count(*) FROM pairs) AS b_total)
         SELECT b.w1, b.w2, b.n_ab,
           CAST(floor(ln(
             (CAST(n_ab AS DOUBLE) / CAST(b_total AS DOUBLE)) /
             ((CAST(a.n_w AS DOUBLE) / CAST(u_total AS DOUBLE))
              * (CAST(c.n_w AS DOUBLE) / CAST(u_total AS DOUBLE))))
             * 1000000.0 + 0.5) AS BIGINT) AS pmi_fp
         FROM bi b
         JOIN uni a ON a.w = b.w1
         JOIN uni c ON c.w = b.w2
         CROSS JOIN tot""",
    // multinomial NB replay: same Laplace-smoothed fixed-point
    // log-probabilities, same integer argmax (max score, min class)
    "q_classify_nb" ->
      """WITH toks AS (
           SELECT doc_id, lang, doc_id % 2 = 0 AS tr, t
           FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
                 FROM documents)
           WHERE t <> ''),
         tc AS (SELECT lang AS c, t, count(*) AS tc FROM toks WHERE tr
                GROUP BY lang, t),
         ct AS (SELECT c, sum(tc) AS total_c FROM tc GROUP BY c),
         v AS (SELECT count(DISTINCT t) AS v FROM tc),
         nc AS (SELECT lang AS c, count(*) AS n_c FROM documents
                WHERE doc_id % 2 = 0 GROUP BY lang),
         ntot AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
         cls AS (
           SELECT c,
             CAST(floor(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS prior_fp,
             CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(total_c + v AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS default_fp
           FROM nc JOIN ct USING (c) CROSS JOIN v CROSS JOIN ntot),
         model AS (
           SELECT c, t,
             CAST(floor(ln(CAST(tc + 1 AS DOUBLE)
               / CAST(total_c + v AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
           FROM tc JOIN ct USING (c) CROSS JOIN v),
         ttc AS (SELECT doc_id, t, count(*) AS cnt FROM toks WHERE NOT tr
                 GROUP BY doc_id, t),
         ll AS (
           SELECT ttc.doc_id, cls.c,
                  sum(cnt * coalesce(lp_fp, default_fp)) AS ll
           FROM ttc CROSS JOIN cls
           LEFT JOIN model ON model.t = ttc.t AND model.c = cls.c
           GROUP BY ttc.doc_id, cls.c),
         scored AS (
           SELECT d.doc_id, cls.c, coalesce(ll, 0) + prior_fp AS score_fp
           FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
           CROSS JOIN cls
           LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.c = cls.c),
         best AS (SELECT doc_id, max(score_fp) AS score_fp FROM scored
                  GROUP BY doc_id),
         pred AS (
           SELECT s.doc_id, s.score_fp, min(s.c) AS pred
           FROM scored s
           JOIN best b ON b.doc_id = s.doc_id AND b.score_fp = s.score_fp
           GROUP BY s.doc_id, s.score_fp)
         SELECT d.doc_id, d.lang AS lang_meta, p.pred,
                CAST(p.score_fp AS BIGINT) AS score_fp
         FROM pred p JOIN documents d ON d.doc_id = p.doc_id""",
    // DSIR replay: hash16 buckets (md5-nibble arithmetic), Laplace-smoothed
    // bucket log-ratios as fixed point, integer weight sum, top-200
    "q_sample_importance" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(md5(t),$i,1)) <= 57" +
          s" THEN ascii(substr(md5(t),$i,1)) - 48" +
          s" ELSE ascii(substr(md5(t),$i,1)) - 87 END)"
      s"""WITH toks AS (
           SELECT doc_id, lang = 'en' AS tgt, t
           FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
                 FROM documents)
           WHERE t <> ''),
         hashed AS (
           SELECT doc_id, tgt,
             ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS b
           FROM toks),
         tc AS (SELECT b, count(*) AS ct FROM hashed WHERE tgt GROUP BY b),
         rc AS (SELECT b, count(*) AS cr FROM hashed GROUP BY b),
         tot AS (SELECT (SELECT count(*) FROM hashed WHERE tgt) AS tt,
                        (SELECT count(*) FROM hashed) AS tr),
         lr AS (
           SELECT rc.b,
             CAST(floor(ln(
               (CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                / CAST(tt + 65536 AS DOUBLE))
               / (CAST(cr + 1 AS DOUBLE) / CAST(tr + 65536 AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS lr_fp
           FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot),
         perdoc AS (SELECT doc_id, b, count(*) AS cnt FROM hashed
                    GROUP BY doc_id, b),
         wt AS (SELECT doc_id, sum(cnt * lr_fp) AS weight_fp
                FROM perdoc JOIN lr USING (b) GROUP BY doc_id)
         SELECT doc_id, CAST(weight_fp AS BIGINT) AS weight_fp
         FROM wt ORDER BY weight_fp DESC, doc_id LIMIT 200"""
    },
    "q_bm25_search" -> bm25Sql,
    // the persisted-index search must reproduce the one-shot result
    // byte-for-byte over the same accumulated corpus
    "q_bm25_index" -> bm25Sql,
    // first-arrival keeper order: batch 1 = odd doc_ids, batch 2 = even;
    // fingerprint mirrors q_fingerprint's md5 normalization
    "q_dedup_exact_incremental" ->
      """WITH fps AS (
           SELECT doc_id,
                  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
                  CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ord
           FROM documents),
         ranked AS (
           SELECT fp, doc_id,
                  row_number() OVER (PARTITION BY fp ORDER BY ord, doc_id)
                    AS rn
           FROM fps)
         SELECT fp AS content_hash, doc_id AS keeper_id
         FROM ranked WHERE rn = 1""",
    // A-ES replay: 52-bit md5 uniform via nibble arithmetic, fixed-point
    // ln(u)/w key, per-language top-50
    "q_sample_weighted" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val hv = (1 to 13)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (13 - i))}")
        .mkString(" + ")
      s"""WITH b AS (
           SELECT doc_id, lang, n_chars,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         es AS (
           SELECT doc_id, lang, n_chars,
             CAST(floor(ln(CAST(($hv) + 1 AS DOUBLE) / 4503599627370496.0)
               / CAST(n_chars AS DOUBLE) * 1000000000.0) AS BIGINT) AS es_fp
           FROM b)
         SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY es_fp DESC, doc_id) AS rn
           FROM es)
         WHERE rn <= 50"""
    },

    // CMS replay: seeded md5-nibble buckets, d=4 rows × 256 cells, min
    // over rows — all integer aggregation
    "q_cms_counts" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      s"""WITH toks AS (
           SELECT t
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
         hashed AS (
           SELECT t, r, ${nib(1)} * 16 + ${nib(2)} AS b
           FROM (SELECT t, r, md5(CAST(r AS VARCHAR) || ':' || t) AS h
                 FROM toks, LATERAL unnest([0, 1, 2, 3]) AS rr(r))),
         cells AS (SELECT r, b, count(*) AS cell FROM hashed GROUP BY r, b),
         exact AS (SELECT t, count(*) AS exact_n FROM toks GROUP BY t),
         terms AS (SELECT DISTINCT t, r, b FROM hashed),
         est AS (
           SELECT t, min(cell) AS cms_est
           FROM terms JOIN cells USING (r, b) GROUP BY t)
         SELECT t AS term, exact_n, cms_est, cms_est >= exact_n AS admissible
         FROM exact JOIN est USING (t)"""
    },

    // bigram-LM replay: Laplace-smoothed fixed-point transition log-probs
    // (seen bigram → ctx default → unseen-context 1/V), integer ll sum,
    // integer cross-multiplied keep threshold (−3.4 nats/transition)
    "q_perplexity_filter" ->
      s"""WITH $bigramScoreCtes
         SELECT d.doc_id, CAST(coalesce(n_trans, 0) AS BIGINT) AS n_trans,
                CAST(coalesce(ll_fp, 0) AS BIGINT) AS ll_fp,
                coalesce(ll_fp, 0) >= -3400000 * coalesce(n_trans, 0) AS keep
         FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""",

    "q_classifier_tree" ->
      s"""WITH ${treeCtes(buckets = 64, maxThr = 3)}
         SELECT doc_id, y, c_root, pred, pred = y AS correct
         FROM tpred ORDER BY doc_id""",
    // tree-through-the-gate replay: the same training chain, the tree's
    // ±1 verdict composed onto the heuristic mask as bit 16
    "q_model_tree_gate" ->
      s"""WITH $cascadeMaskCtes, ${treeCtes(buckets = 64, maxThr = 3)}
         SELECT m.doc_id, CAST(t.pred AS BIGINT) AS tree_score,
                CAST(m.fail_mask + CASE WHEN t.pred >= 0
                  THEN 0 ELSE 16 END AS BIGINT) AS fail_mask,
                (m.fail_mask + CASE WHEN t.pred >= 0
                  THEN 0 ELSE 16 END) = 0 AS keep
         FROM msk m JOIN tpred t ON t.doc_id = m.doc_id""",

    // CCNet head/middle/tail replay: the same per-doc integer scores, the
    // same non-negative integer ranking key, ntile(3) per language with
    // the (key, doc_id) total order, keep = bucket ≤ 2
    "q_ppl_buckets" ->
      s"""WITH $bigramScoreCtes,
         b AS (
           SELECT d.doc_id, d.lang,
             CASE WHEN coalesce(n_trans, 0) > 0
                  THEN ((-coalesce(ll_fp, 0)) * 1000) // n_trans
                  ELSE 1000000000000000 END AS mnll
           FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         nt AS (
           SELECT lang, mnll,
                  ntile(3) OVER (PARTITION BY lang
                                 ORDER BY mnll, doc_id) AS bucket
           FROM b)
         SELECT lang, bucket, count(*) AS n_docs,
                CAST(min(mnll) AS BIGINT) AS min_mnll,
                CAST(max(mnll) AS BIGINT) AS max_mnll,
                bucket <= 2 AS keep
         FROM nt GROUP BY lang, bucket ORDER BY lang, bucket""",

    // Kneser–Ney replay: the same integer count/type tables, the same
    // fixed IEEE probability tree (chained CTEs bind p3 → p2 → p1 exactly
    // as the engine's column chain does), fp(ln p) integer sums
    "q_perplexity_kn" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                    FROM documents),
         tr AS (
           SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
           FROM w, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
           WHERE len(w) >= 3 AND w[i] <> '' AND w[i+1] <> ''
             AND w[i+2] <> ''),
         pairs AS (
           SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
           FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''),
         tri AS (SELECT w1, w2, w3, count(*) AS c_abc FROM tr
                 WHERE lang = 'en' GROUP BY w1, w2, w3),
         bi AS (SELECT w1, w2, count(*) AS c_ab FROM pairs
                WHERE lang = 'en' GROUP BY w1, w2),
         f2 AS (SELECT w1, w2, count(*) AS n_f2 FROM tri GROUP BY w1, w2),
         c2 AS (SELECT w2, w3, count(*) AS n_c2 FROM tri GROUP BY w2, w3),
         md AS (SELECT w2, count(*) AS n_mid FROM tri GROUP BY w2),
         f1 AS (SELECT w1 AS w2, count(*) AS n_f1 FROM bi GROUP BY w1),
         c1 AS (SELECT w2 AS w3, count(*) AS n_c1 FROM bi GROUP BY w2),
         bt AS (SELECT count(*) AS b FROM bi),
         uni AS (
           SELECT t AS wd, count(*) AS c_w
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents WHERE lang = 'en')
           WHERE t <> '' GROUP BY t),
         vv AS (SELECT count(*) AS v FROM uni),
         j AS (
           SELECT t.doc_id, c_abc, c_ctx, n_f2, n_c2, n_mid, n_f1, n_c1,
                  b, v
           FROM tr t
           LEFT JOIN tri ON tri.w1 = t.w1 AND tri.w2 = t.w2
             AND tri.w3 = t.w3
           LEFT JOIN (SELECT w1, w2, c_ab AS c_ctx FROM bi) bx
             ON bx.w1 = t.w1 AND bx.w2 = t.w2
           LEFT JOIN f2 ON f2.w1 = t.w1 AND f2.w2 = t.w2
           LEFT JOIN c2 ON c2.w2 = t.w2 AND c2.w3 = t.w3
           LEFT JOIN md ON md.w2 = t.w2
           LEFT JOIN f1 ON f1.w2 = t.w2
           LEFT JOIN c1 ON c1.w3 = t.w3
           CROSS JOIN bt CROSS JOIN vv),
         p3t AS (
           SELECT *, (CAST(coalesce(n_c1, 0) AS DOUBLE) + 1.0)
                       / CAST(b + v AS DOUBLE) AS p3
           FROM j),
         p2t AS (
           SELECT *, CASE WHEN coalesce(n_mid, 0) > 0 THEN
                  greatest(CAST(coalesce(n_c2, 0) AS DOUBLE) - 0.75, 0.0)
                    / CAST(n_mid AS DOUBLE)
                  + (0.75 * CAST(coalesce(n_f1, 0) AS DOUBLE)
                      / CAST(n_mid AS DOUBLE)) * p3
                ELSE p3 END AS p2
           FROM p3t),
         p1t AS (
           SELECT doc_id, CASE WHEN coalesce(n_f2, 0) > 0 THEN
                  greatest(CAST(coalesce(c_abc, 0) AS DOUBLE) - 0.75, 0.0)
                    / CAST(c_ctx AS DOUBLE)
                  + (0.75 * CAST(n_f2 AS DOUBLE)
                      / CAST(c_ctx AS DOUBLE)) * p2
                ELSE p2 END AS p1
           FROM p2t),
         sc AS (
           SELECT doc_id, count(*) AS n_tri,
                  sum(CAST(floor(ln(p1) * 1000000.0 + 0.5) AS BIGINT))
                    AS ll_fp
           FROM p1t GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
                CAST(coalesce(ll_fp, 0) AS BIGINT) AS ll_fp,
                coalesce(ll_fp, 0) >= -4500000 * coalesce(n_tri, 0) AS keep
         FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""",

    // Stupid-Backoff trigram replay: the same CASE cascade on the same
    // integer counts — seen trigram c_abc/c_ctx, else α·c_bc/c_b, else
    // α²·c_c/N, else α²/N — each branch fp(ln ratio) + k·fp(ln 0.4),
    // exact integer document sums, integer cross-multiplied threshold
    // (−3.0 nats/triple)
    "q_perplexity_trigram" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                    FROM documents),
         tr AS (
           SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
           FROM w, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
           WHERE len(w) >= 3 AND w[i] <> '' AND w[i+1] <> ''
             AND w[i+2] <> ''),
         pairs AS (
           SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
           FROM w, LATERAL unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''),
         tri AS (SELECT w1, w2, w3, count(*) AS c_abc FROM tr
                 WHERE lang = 'en' GROUP BY w1, w2, w3),
         bi AS (SELECT w1, w2, count(*) AS c_ab FROM pairs
                WHERE lang = 'en' GROUP BY w1, w2),
         uni AS (
           SELECT t AS w, count(*) AS c_w
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents WHERE lang = 'en')
           WHERE t <> '' GROUP BY t),
         tot AS (SELECT sum(c_w) AS n FROM uni),
         a AS (SELECT CAST(floor(ln(0.4) * 1000000.0 + 0.5) AS BIGINT)
                 AS a_fp),
         sc AS (
           SELECT t.doc_id, count(*) AS n_tri,
             sum(CASE
               WHEN c_abc IS NOT NULL THEN
                 CAST(floor(ln(CAST(c_abc AS DOUBLE)
                   / CAST(c_ctx AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               WHEN c_bc IS NOT NULL THEN a_fp +
                 CAST(floor(ln(CAST(c_bc AS DOUBLE)
                   / CAST(c_b AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               WHEN c_c IS NOT NULL THEN 2 * a_fp +
                 CAST(floor(ln(CAST(c_c AS DOUBLE)
                   / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               ELSE 2 * a_fp +
                 CAST(floor(ln(CAST(1 AS DOUBLE)
                   / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               END) AS ll_fp
           FROM tr t
           LEFT JOIN tri ON tri.w1 = t.w1 AND tri.w2 = t.w2
             AND tri.w3 = t.w3
           LEFT JOIN (SELECT w1, w2, c_ab AS c_ctx FROM bi) b1
             ON b1.w1 = t.w1 AND b1.w2 = t.w2
           LEFT JOIN (SELECT w1 AS w2, w2 AS w3, c_ab AS c_bc FROM bi) b2
             ON b2.w2 = t.w2 AND b2.w3 = t.w3
           LEFT JOIN (SELECT w AS w2, c_w AS c_b FROM uni) u1
             ON u1.w2 = t.w2
           LEFT JOIN (SELECT w AS w3, c_w AS c_c FROM uni) u2
             ON u2.w3 = t.w3
           CROSS JOIN tot CROSS JOIN a
           GROUP BY t.doc_id)
         SELECT d.doc_id, CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
                CAST(coalesce(ll_fp, 0) AS BIGINT) AS ll_fp,
                coalesce(ll_fp, 0) >= -3000000 * coalesce(n_tri, 0) AS keep
         FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""",
    "q_preference_pairs" ->
      """WITH sc AS (
           SELECT doc_id // 4 AS prompt, doc_id,
                  CAST(n_chars AS BIGINT) AS score
           FROM documents),
         ch AS (
           SELECT prompt, doc_id AS chosen_id, score AS chosen_score,
                  row_number() OVER (PARTITION BY prompt
                    ORDER BY score DESC, doc_id) AS rk
           FROM sc),
         c1 AS (SELECT prompt, chosen_id, chosen_score FROM ch WHERE rk = 1),
         rj AS (
           SELECT sc.prompt, chosen_id, chosen_score,
                  sc.doc_id AS rejected_id, sc.score AS rejected_score,
                  chosen_score - sc.score AS score_gap,
                  row_number() OVER (PARTITION BY sc.prompt
                    ORDER BY sc.score ASC, sc.doc_id) AS rj
           FROM sc JOIN c1 ON sc.prompt = c1.prompt
           WHERE sc.doc_id <> chosen_id AND chosen_score - sc.score >= 40)
         SELECT prompt, chosen_id, chosen_score, rejected_id,
                rejected_score, score_gap
         FROM rj WHERE rj <= 2 ORDER BY prompt, rejected_id""",

    "q_sample_mixture" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
                  sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents)
         WHERE cum - n_chars < (CASE lang WHEN 'en' THEN 20000
           WHEN 'de' THEN 5000 WHEN 'es' THEN 5000 WHEN 'fr' THEN 5000
           WHEN 'zh' THEN 5000 ELSE 0 END)""",

    // bloom replay: per-row md5-nibble bit indices (m=4096, k=2 rows),
    // bloom_hit ⇔ all probed bits set; present = exact membership; the
    // classic no-false-negative guarantee checked per row as `admissible`
    "q_bloom_prefilter" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val bit = s"${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}"
      s"""WITH idx AS (
           SELECT DISTINCT
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
           FROM documents),
         batch AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 100000,
             md5(lower(regexp_replace(trim(text || ' v2'), '\\s+', ' ', 'g')))
           FROM documents WHERE doc_id % 7 = 0),
         ib AS (
           SELECT DISTINCT r, $bit AS bit
           FROM (SELECT r, md5(CAST(r AS VARCHAR) || ':' || fp) AS h
                 FROM idx, LATERAL unnest([0, 1]) AS rr(r))),
         pb AS (
           SELECT doc_id, fp, r, $bit AS bit
           FROM (SELECT doc_id, fp, r,
                        md5(CAST(r AS VARCHAR) || ':' || fp) AS h
                 FROM batch, LATERAL unnest([0, 1]) AS rr(r))),
         hit AS (
           SELECT p.doc_id, p.fp,
             count(*) = sum(CASE WHEN i.r IS NOT NULL THEN 1 ELSE 0 END)
               AS bloom_hit
           FROM pb p LEFT JOIN ib i ON i.r = p.r AND i.bit = p.bit
           GROUP BY p.doc_id, p.fp),
         truth AS (
           SELECT b.doc_id, b.fp, (i.fp IS NOT NULL) AS present
           FROM batch b LEFT JOIN idx i ON i.fp = b.fp)
         SELECT h.doc_id, h.fp, h.bloom_hit, t.present,
                (h.bloom_hit OR NOT t.present) AS admissible
         FROM hit h JOIN truth t ON t.doc_id = h.doc_id AND t.fp = h.fp"""
    },

    // epoch-shuffle replay: first-8-nibble md5 value, shard = mod 8, pos =
    // rank of the full digest within the shard (total order via doc_id)
    "q_shard_epoch" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val hv = (1 to 8)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      s"""WITH b AS (
           SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         v AS (SELECT doc_id, h, ($hv) % 8 AS shard FROM b)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                CAST(row_number() OVER (PARTITION BY shard
                  ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         FROM v"""
    },

    // split replay: hash bucket mod 100, cumulative-percentage CASE
    "q_split_assign" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val hv = (1 to 8)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
                CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, ($hv) % 100 AS bucket
               FROM (SELECT doc_id,
                            md5('7:' || CAST(doc_id AS VARCHAR)) AS h
                     FROM documents))"""
    },

    // batching replay: same per-lang order, same 32-cut, same ppm
    "q_length_batches" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
               AS BIGINT) AS tc
           FROM documents),
         b AS (
           SELECT lang, tc,
             CAST((row_number() OVER (PARTITION BY lang
               ORDER BY tc, doc_id) - 1) // 32 AS BIGINT) AS batch
           FROM t)
         SELECT lang, batch, count(*) AS n_docs,
                CAST(max(tc) AS BIGINT) AS max_tokens,
                CAST(sum(tc) AS BIGINT) AS sum_tokens,
                (1000000 * (count(*) * CAST(max(tc) AS BIGINT)
                  - CAST(sum(tc) AS BIGINT)))
                  // (count(*) * CAST(max(tc) AS BIGINT)) AS padding_ppm
         FROM b GROUP BY lang, batch ORDER BY lang, batch""",

    // json-validity replay: same plant; validity = well-formed AND an
    // object root (mirrors the from_json struct contract)
    "q_json_validity" ->
      """WITH p AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 4 = 0
                    THEN '{"a": ' || (doc_id % 100) || ', "b": "x"}'
                  WHEN doc_id % 4 = 1 THEN '{"a": '
                  WHEN doc_id % 4 = 2 THEN '[1, 2, 3]'
                  ELSE text END AS line
           FROM documents),
         v AS (
           SELECT source,
             (json_valid(line) AND substr(line, 1, 1) = '{') AS valid
           FROM p)
         SELECT source, count(*) AS n_lines,
                CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_valid,
                (1000000 * CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END)
                  AS BIGINT)) // count(*) AS valid_ppm
         FROM v GROUP BY source ORDER BY source""",

    // PSI replay: same buckets, same ppm clamp, same lnfp snap
    "q_psi_drift" ->
      """WITH a AS (
           SELECT CAST(length(bin(length(text))) AS BIGINT) AS bucket,
                  CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
                  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval
           FROM documents GROUP BY bucket),
         t AS (SELECT CAST(sum(n_train) AS BIGINT) AS t_train,
                      CAST(sum(n_eval) AS BIGINT) AS t_eval FROM a),
         pq AS (
           SELECT bucket, n_train, n_eval,
                  greatest((1000000 * n_train) // t_train, 1) AS p_ppm,
                  greatest((1000000 * n_eval) // t_eval, 1) AS q_ppm
           FROM a CROSS JOIN t)
         SELECT bucket, n_train, n_eval, p_ppm, q_ppm,
                (p_ppm - q_ppm) *
                (CAST(floor(ln(CAST(p_ppm AS DOUBLE)) * 1000000.0 + 0.5)
                   AS BIGINT)
                 - CAST(floor(ln(CAST(q_ppm AS DOUBLE)) * 1000000.0 + 0.5)
                   AS BIGINT)) AS psi_contrib_fp
         FROM pq ORDER BY bucket""",

    // doclen replay: same binary-digit buckets
    "q_doclen_dist" ->
      """SELECT lang, CAST(length(bin(length(text))) AS BIGINT) AS bucket,
                count(*) AS n_docs,
                CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""",

    // hapax replay: same token stream, same two rollups
    "q_hapax_rate" ->
      """WITH t AS (
           SELECT lang, t FROM (
             SELECT lang, unnest(string_split(text, ' ')) AS t
             FROM documents) WHERE t <> ''),
         c AS (SELECT lang, t, count(*) AS c FROM t GROUP BY lang, t)
         SELECT lang, count(*) AS n_vocab,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                (1000000 * CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  AS BIGINT)) // count(*) AS hapax_ppm
         FROM c GROUP BY lang ORDER BY lang""",

    // estimate replay: same nibble gate, same ×8 scaling
    "q_token_estimate" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
               AS BIGINT) AS tc,
             (CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                     <= 57
                   THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                     - 48
                   ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                     - 87 END) AS nib
           FROM documents)
         SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN nib < 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sampled,
                CAST(sum(tc) AS BIGINT) AS exact_tokens,
                CAST(sum(CASE WHEN nib < 2 THEN tc ELSE 0 END) * 8
                  AS BIGINT) AS est_tokens,
                (1000000 * abs(CAST(sum(CASE WHEN nib < 2 THEN tc ELSE 0
                  END) * 8 AS BIGINT) - CAST(sum(tc) AS BIGINT)))
                  // CAST(sum(tc) AS BIGINT) AS err_ppm
         FROM t""",

    // OOV replay: same split, same distinct vocab, same probe
    "q_vocab_oov" ->
      """WITH toks AS (
           SELECT doc_id, lang, t FROM (
             SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
             FROM documents) WHERE t <> ''),
         vocab AS (
           SELECT DISTINCT lang, t FROM toks WHERE doc_id % 10 <> 0),
         ev AS (SELECT lang, t FROM toks WHERE doc_id % 10 = 0)
         SELECT ev.lang, count(*) AS n_eval_tokens,
                CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov,
                (1000000 * CAST(sum(CASE WHEN vocab.t IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS oov_ppm
         FROM ev LEFT JOIN vocab
           ON ev.lang = vocab.lang AND ev.t = vocab.t
         GROUP BY ev.lang ORDER BY ev.lang""",

    // stability replay: the same twin plant, both chunkers, both
    // survival rollups
    "q_chunk_stability" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      s"""WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 60),
         ed AS (
           SELECT doc_id,
             array_to_string(list_concat(list_concat(w[1:3],
               ['INSERTED']), w[4:]), ' ') AS text
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM base)),
         pair AS (
           SELECT doc_id * 2 AS vid, doc_id, text FROM base
           UNION ALL
           SELECT doc_id * 2 + 1, doc_id, text FROM ed),
         toksc AS (
           SELECT vid, doc_id, i - 1 AS pos, w[i] AS tok
           FROM (SELECT vid, doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM pair),
                LATERAL unnest(range(1, len(w) + 1)) AS t(i)),
         hvs AS (
           SELECT vid, doc_id, pos, tok,
             CASE WHEN ((${nib(1)}) * 4096 + (${nib(2)}) * 256
                      + (${nib(3)}) * 16 + (${nib(4)})) % 16 = 0
                  THEN 1 ELSE 0 END AS b
           FROM (SELECT vid, doc_id, pos, tok, md5(tok) AS h FROM toksc)),
         cids AS (
           SELECT vid, doc_id, pos, tok,
             coalesce(sum(b) OVER (PARTITION BY vid ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
           FROM hvs),
         cdh AS (
           SELECT vid % 2 = 0 AS orig, doc_id,
                  md5(string_agg(tok, ' ' ORDER BY pos)) AS h
           FROM cids GROUP BY vid, doc_id, chunk_idx),
         fxh AS (
           SELECT vid % 2 = 0 AS orig, doc_id,
                  md5(array_to_string(w[s.v + 1 : s.v + 16], ' ')) AS h
           FROM (SELECT vid, doc_id, string_split(text, ' ') AS w,
                        len(string_split(text, ' ')) AS n
                 FROM pair),
                LATERAL unnest(range(0, n, 16)) AS s(v)),
         cdo AS (SELECT DISTINCT doc_id, h FROM cdh WHERE orig),
         cde AS (SELECT DISTINCT doc_id, h FROM cdh WHERE NOT orig),
         fxo AS (SELECT DISTINCT doc_id, h FROM fxh WHERE orig),
         fxe AS (SELECT DISTINCT doc_id, h FROM fxh WHERE NOT orig),
         sv AS (
           SELECT 'content_defined' AS method, count(*) AS n_orig_chunks,
                  CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_survived
           FROM cdo o LEFT JOIN cde e
             ON o.doc_id = e.doc_id AND o.h = e.h
           UNION ALL
           SELECT 'fixed', count(*),
                  CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
           FROM fxo o LEFT JOIN fxe e
             ON o.doc_id = e.doc_id AND o.h = e.h)
         SELECT method, n_orig_chunks, n_survived,
                (1000000 * n_survived) // n_orig_chunks AS survival_ppm
         FROM sv ORDER BY method"""
    },

    // content-chunk replay: same nibble hash, same running boundary
    // count, same per-chunk rollup and hash
    "q_content_chunks" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      s"""WITH toks AS (
           SELECT doc_id, i - 1 AS pos, w[i] AS tok
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM documents),
                LATERAL unnest(range(1, len(w) + 1)) AS t(i)),
         hv AS (
           SELECT doc_id, pos, tok,
             CASE WHEN ((${nib(1)}) * 4096 + (${nib(2)}) * 256
                      + (${nib(3)}) * 16 + (${nib(4)})) % 16 = 0
                  THEN 1 ELSE 0 END AS b
           FROM (SELECT doc_id, pos, tok, md5(tok) AS h FROM toks)),
         cid AS (
           SELECT doc_id, pos, tok,
             CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS chunk_idx
           FROM hv)
         SELECT doc_id, chunk_idx,
                CAST(min(pos) AS BIGINT) AS start_tok,
                count(*) AS n_toks,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         FROM cid GROUP BY doc_id, chunk_idx
         ORDER BY doc_id, chunk_idx"""
    },

    // source-overlap replay: source-level min over the shingle union
    // equals min-of-doc-mins; same slot agreement
    "q_source_overlap" -> {
      val mins = (0 until 16)
        .map(i => s"min(md5('$i:' || sh)) AS mh$i").mkString(",\n            ")
      val eqs = (0 until 16)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte,
         ss AS (SELECT d.source, sr.sh
                FROM shingle_rows sr JOIN documents d USING (doc_id)),
         sigs AS (
           SELECT source,
            $mins
           FROM ss GROUP BY source)
         SELECT a.source AS source_a, b.source AS source_b,
                CAST($eqs AS BIGINT) AS agree_slots,
                (1000000 * CAST($eqs AS BIGINT)) // 16 AS est_jaccard_ppm
         FROM sigs a JOIN sigs b ON a.source < b.source
         ORDER BY source_a, source_b"""
    },

    // negative-sample replay: same md5 nibble arithmetic, same re-roll
    "q_negative_sample" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val hv = (1 to 8)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      s"""WITH n AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id, k,
                  md5(CAST(k AS VARCHAR) || ':' ||
                    CAST(doc_id AS VARCHAR)) AS h
           FROM documents, (SELECT unnest([1,2,3,4]) AS k)),
         b AS (SELECT doc_id, k, ($hv) % (SELECT n FROM n) AS base FROM e)
         SELECT doc_id, CAST(k AS INT) AS k,
                CASE WHEN base = doc_id
                     THEN (base + 1) % (SELECT n FROM n)
                     ELSE base END AS neg_id
         FROM b ORDER BY doc_id, k"""
    },

    // entity-tag replay: same whole-token gazetteer, same rollup
    "q_entity_tags" ->
      """SELECT source, t AS entity, count(*) AS n_mentions
         FROM (SELECT source, unnest(string_split(text, ' ')) AS t
               FROM documents)
         WHERE t IN ('data', 'system', 'network', 'model', 'user')
         GROUP BY source, t ORDER BY source, t""",

    // mixed-language replay: same plant, per-paragraph argmax, rollup
    "q_mixed_lang" ->
      """WITH pl AS (
           SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
               THEN text || chr(10) || chr(10) || 'el la de que los el la de'
               ELSE text END AS t
           FROM documents),
         paras AS (
           SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS para
           FROM pl),
         toks AS (
           SELECT doc_id, para, unnest(string_split(para, ' ')) AS w
           FROM paras),
         sc AS (
           SELECT doc_id, para,
             sum(CASE WHEN w IN ('der','die','und','nicht','das') THEN 1 ELSE 0 END) AS s_de,
             sum(CASE WHEN w IN ('the','and','of','to','is') THEN 1 ELSE 0 END) AS s_en,
             sum(CASE WHEN w IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS s_es,
             sum(CASE WHEN w IN ('le','la','et','les','des') THEN 1 ELSE 0 END) AS s_fr,
             sum(CASE WHEN w IN ('de5','shi4','le5','zai4','he2') THEN 1 ELSE 0 END) AS s_zh
           FROM toks GROUP BY doc_id, para),
         pred AS (
           SELECT doc_id,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS pl
           FROM sc)
         SELECT doc_id, count(*) AS n_paras,
                count(DISTINCT CASE WHEN pl <> 'und' THEN pl END) AS n_langs,
                count(DISTINCT CASE WHEN pl <> 'und' THEN pl END) > 1
                  AS is_mixed
         FROM pred GROUP BY doc_id ORDER BY doc_id""",

    // PII-report replay: same plant, same staged attribution counts,
    // per-source rollup
    "q_pii_report" ->
      """WITH pii AS (
           SELECT doc_id, source, text ||
             CASE WHEN doc_id % 2 = 0 THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
           FROM documents),
         st AS (
           SELECT doc_id, source, t,
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
           FROM pii),
         st2 AS (
           SELECT *, regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b',
             '<PHONE>', 'g') AS t2
           FROM st),
         per AS (
           SELECT doc_id, source, CAST(length(t) AS BIGINT) AS nc,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS ne,
             CAST(len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b'))
               AS BIGINT) AS np,
             CAST(len(regexp_extract_all(t2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ni
           FROM st2)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_docs_with_pii,
                CAST(sum(ne) AS BIGINT) AS n_emails,
                CAST(sum(np) AS BIGINT) AS n_phones,
                CAST(sum(ni) AS BIGINT) AS n_ips,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                (1000000 * (CAST(sum(ne) AS BIGINT)
                  + CAST(sum(np) AS BIGINT) + CAST(sum(ni) AS BIGINT)))
                  // CAST(sum(nc) AS BIGINT) AS pii_per_mchar
         FROM per GROUP BY source ORDER BY source""",

    // entropy replay: same token counts, same lnfp snap, same integers
    "q_word_entropy" ->
      """WITH w AS (
           SELECT doc_id, t FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents) WHERE t <> ''),
         c AS (SELECT doc_id, t, count(*) AS c FROM w GROUP BY doc_id, t),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct,
                  CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0
                    + 0.5) AS BIGINT)) AS BIGINT) AS clnc
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct,
                n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) - clnc AS ent_n_fp
         FROM agg ORDER BY doc_id""",

    // code-router replay: same planted snippets, translate-based symbol
    // count, whole-token keyword count, OR of cross-multiplies
    "q_code_detect" ->
      """WITH c AS (
           SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
               THEN 'def f(x): { return x + 1; } def g(y): { return y * 2; } '
                    || text
               ELSE text END AS t
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(length(t) - length(translate(t, '{}();=<>[]', ''))
               AS BIGINT) AS n_code_chars,
             CAST(length(t) - length(replace(t, ' ', '')) + 1
               AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(t, ' '),
               x -> list_contains(['def','return','class','import',
                 'function','var','const','void','elif'], x)))
               AS BIGINT) AS n_code_tokens
           FROM c)
         SELECT doc_id, n_code_chars, n_code_tokens,
                (n_code_chars * 100 >= n_chars * 2)
                  OR (n_code_tokens * 100 >= n_tokens * 5) AS is_code
         FROM s ORDER BY doc_id""",

    // normalization replay: the chr()-exact corrupted fixture + the SQL
    // chain GENERATED from Normalize's own rule tables
    "q_text_normalize" ->
      s"""WITH $messyCtes,
         n AS (SELECT doc_id,
                      ${graft.ops.Normalize.normalizeSql("messy")} AS clean
               FROM m)
         SELECT doc_id, clean, CAST(length(clean) AS BIGINT)
                  AS n_chars_clean
         FROM n ORDER BY doc_id""",

    // cluster-safe split replay: the recursive-closure cluster map, then
    // the same md5 bucket arithmetic keyed on the component id
    "q_split_cluster_safe" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      val hv = (1 to 8)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      s"""WITH RECURSIVE $ccCtes,
         lab AS (
           SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component
           FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
         hb AS (
           SELECT doc_id, component,
                  md5('7:' || CAST(component AS VARCHAR)) AS h
           FROM lab)
         SELECT doc_id, component, CAST(bucket AS BIGINT) AS bucket,
                CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, component, ($hv) % 100 AS bucket FROM hb)
         ORDER BY doc_id"""
    },

    // heavy-hitter replay: the q_cms_counts sketch + stream total; the
    // candidate filter is the sketch-side integer cross-multiply, ground
    // truth emitted as is_heavy
    "q_heavy_hitters" -> {
      def nib(i: Int) =
        s"(CASE WHEN ascii(substr(h,$i,1)) <= 57" +
          s" THEN ascii(substr(h,$i,1)) - 48" +
          s" ELSE ascii(substr(h,$i,1)) - 87 END)"
      s"""WITH toks AS (
           SELECT t
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
         hashed AS (
           SELECT t, r, ${nib(1)} * 16 + ${nib(2)} AS b
           FROM (SELECT t, r, md5(CAST(r AS VARCHAR) || ':' || t) AS h
                 FROM toks, LATERAL unnest([0, 1, 2, 3]) AS rr(r))),
         cells AS (SELECT r, b, count(*) AS cell FROM hashed GROUP BY r, b),
         exact AS (SELECT t, count(*) AS exact_n FROM toks GROUP BY t),
         terms AS (SELECT DISTINCT t, r, b FROM hashed),
         est AS (
           SELECT t, min(cell) AS cms_est
           FROM terms JOIN cells USING (r, b) GROUP BY t),
         tot AS (SELECT count(*) AS n_total FROM toks)
         SELECT t AS term, exact_n, cms_est, n_total,
                exact_n * 50 >= n_total AS is_heavy
         FROM exact JOIN est USING (t) CROSS JOIN tot
         WHERE cms_est * 50 >= n_total"""
    },

    // cascade replay: each rule's existing oracle formulation composed
    // into one mask — bit order (gopher, blocklist, lang, length)
    "q_filter_cascade" ->
      s"""WITH $cascadeMaskCtes
         SELECT doc_id, fail_mask, fail_mask = 0 AS keep FROM msk""",
    "q_filter_attrition" ->
      s"""WITH $cascadeMaskCtes
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN fail_mask & 1 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_gopher,
                CAST(sum(CASE WHEN fail_mask & 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_blocklist,
                CAST(sum(CASE WHEN fail_mask & 4 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_lang,
                CAST(sum(CASE WHEN fail_mask & 8 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_length,
                CAST(sum(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_keep
         FROM msk""",
    // model-gate replay: md5-derived stub weights rebuilt in SQL (the SRP
    // plane derivation), features floor(1024·e) exactly, integer dot
    // product, thresholded score as mask bit 16 on the standard cascade
    "q_model_gate" ->
      s"""WITH $cascadeMaskCtes, $modelScoreCtes
         SELECT m.doc_id, ms.model_score,
                CAST(m.fail_mask + CASE WHEN ms.model_score >= 0
                  THEN 0 ELSE 16 END AS BIGINT) AS fail_mask,
                (m.fail_mask + CASE WHEN ms.model_score >= 0
                  THEN 0 ELSE 16 END) = 0 AS keep
         FROM msk m JOIN ms ON ms.doc_id = m.doc_id""",
    "q_model_attrition" ->
      s"""WITH $cascadeMaskCtes, $modelScoreCtes,
         fm AS (
           SELECT m.doc_id,
                  m.fail_mask + CASE WHEN ms.model_score >= 0
                    THEN 0 ELSE 16 END AS fail_mask
           FROM msk m JOIN ms ON ms.doc_id = m.doc_id)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN fail_mask & 1 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_gopher,
                CAST(sum(CASE WHEN fail_mask & 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_blocklist,
                CAST(sum(CASE WHEN fail_mask & 4 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_lang,
                CAST(sum(CASE WHEN fail_mask & 8 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_length,
                CAST(sum(CASE WHEN fail_mask & 16 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fail_model,
                CAST(sum(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_keep
         FROM fm""",
    // trained-head replay: teacher labels from the stub score, then
    // trainedEpochs unrolled perceptron passes in exact integer
    // arithmetic and final-weight scoring
    "q_model_trained" ->
      s"""WITH $modelScoreCtes, ${trainedCtes(trainedDim, trainedEpochs)}
         SELECT t.doc_id, t.trained_score, t.trained_score >= 0 AS pred,
                CAST(l.y AS BIGINT) AS label
         FROM ts t JOIN lab l USING (doc_id)""",
    "q_model_trained_eval" ->
      s"""WITH $modelScoreCtes, ${trainedCtes(trainedDim, trainedEpochs)},
         sc AS (
           SELECT t.doc_id,
                  CASE WHEN (t.trained_score >= 0) = (l.y = 1)
                    THEN 1 ELSE 0 END AS ok
           FROM ts t JOIN lab l USING (doc_id))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(ok) AS BIGINT) AS n_correct,
                CAST((1000 * sum(ok)) // count(*) AS BIGINT) AS acc_permille
         FROM sc""",
    // double-gate replay: heuristic mask + stub bit 16 + trained bit 32
    "q_model_trained_gate" ->
      s"""WITH $cascadeMaskCtes, $modelScoreCtes,
         ${trainedCtes(trainedDim, trainedEpochs)}
         SELECT m.doc_id, ms.model_score, t.trained_score,
                CAST(m.fail_mask
                  + CASE WHEN ms.model_score >= 0 THEN 0 ELSE 16 END
                  + CASE WHEN t.trained_score >= 0 THEN 0 ELSE 32 END
                  AS BIGINT) AS fail_mask,
                (m.fail_mask
                  + CASE WHEN ms.model_score >= 0 THEN 0 ELSE 16 END
                  + CASE WHEN t.trained_score >= 0 THEN 0 ELSE 32 END) = 0
                  AS keep
         FROM msk m JOIN ms ON ms.doc_id = m.doc_id
           JOIN ts t ON t.doc_id = m.doc_id""",

    // extraction replay: the same chrome-planting expression, the same
    // block segmentation / inline-strip / whitespace-collapse, the same
    // integer cross-multiplied length + link-density keep rule, kept
    // blocks re-joined in page order
    "q_html_extract" ->
      s"""WITH $htmlExtractCtes
         SELECT d.doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
                CAST(n_kept AS BIGINT) AS n_kept, main_text,
                CAST(length(main_text) AS BIGINT) AS main_len
         FROM documents d JOIN agg USING (doc_id)""",

    // extract→cascade replay: the cascade's three rules recomputed over
    // the EXTRACTED text (space tokens, integer cross-multiplies) plus the
    // extraction-specific retention-ratio rule against the raw length;
    // same mask-bit order as the Spark rule list
    "q_extract_cascade" ->
      s"""WITH $htmlExtractCtes,
         ex AS (
           SELECT d.doc_id, d.text, main_text
           FROM documents d JOIN agg USING (doc_id)),
         st AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(main_text, ' '),
               x -> x <> '')) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(
               list_filter(string_split(main_text, ' '), x -> x <> ''),
               x -> length(x))), 0) AS BIGINT) AS sum_len,
             CAST(length(main_text) AS BIGINT) AS main_len,
             CAST(length(text) AS BIGINT) AS raw_len
           FROM ex),
         msk AS (
           SELECT doc_id,
               (CASE WHEN n_words >= 30 THEN 0 ELSE 1 END)
             + (CASE WHEN 3 * n_words <= sum_len
                      AND sum_len <= 5 * n_words THEN 0 ELSE 2 END)
             + (CASE WHEN main_len * 10 >= raw_len * 3 THEN 0 ELSE 4 END)
               AS fail_mask
           FROM st)
         SELECT doc_id, CAST(fail_mask AS BIGINT) AS fail_mask,
                fail_mask = 0 AS keep
         FROM msk""",

    // hybrid replay: the BM25 ranked CTEs + exact cosine top-10 anchored
    // at vec_id 0/1/2 + the identical 1/(60+rank) fusion and (rrf desc,
    // doc_id) top-5
    "q_hybrid_search" ->
      s"""WITH $bm25RankedCtes,
         e AS (SELECT vec_id, embedding FROM embeddings),
         vdots AS (
           SELECT a.vec_id AS qv, b.vec_id AS doc_id,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS dp,
                  sum(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(a.embedding[i] AS DOUBLE)) AS na,
                  sum(CAST(b.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)) AS nb
           FROM e a JOIN e b ON a.vec_id < 3 AND b.vec_id <> a.vec_id,
           LATERAL unnest(range(1, 65)) AS t(i)
           GROUP BY a.vec_id, b.vec_id),
         vranked AS (
           SELECT CASE qv WHEN 0 THEN 'qa' WHEN 1 THEN 'qb'
                  ELSE 'qc' END AS qid, doc_id,
                  row_number() OVER (PARTITION BY qv
                    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, doc_id)
                    AS vrank
           FROM vdots),
         vtop AS (SELECT qid, doc_id, CAST(vrank AS BIGINT) AS vrank
                  FROM vranked WHERE vrank <= 10),
         ttop AS (SELECT qid, doc_id, CAST("rank" AS BIGINT) AS trank
                  FROM ranked WHERE "rank" <= 10),
         fused AS (
           SELECT coalesce(t.qid, v.qid) AS qid,
                  coalesce(t.doc_id, v.doc_id) AS doc_id,
                  coalesce(trank, 0) AS text_rank,
                  coalesce(vrank, 0) AS vec_rank
           FROM ttop t FULL OUTER JOIN vtop v
             ON t.qid = v.qid AND t.doc_id = v.doc_id),
         r AS (
           SELECT qid, doc_id, text_rank, vec_rank,
                  (CASE WHEN text_rank > 0
                        THEN 1.0 / (60 + text_rank) ELSE 0.0 END)
                + (CASE WHEN vec_rank > 0
                        THEN 1.0 / (60 + vec_rank) ELSE 0.0 END) AS rrf
           FROM fused)
         SELECT qid, doc_id, round(rrf, 9) AS rrf,
                CAST(fr AS BIGINT) AS fused_rank, text_rank, vec_rank
         FROM (SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY rrf DESC, doc_id) AS fr FROM r)
         WHERE fr <= 5""",

    // RAG retrieval replay: the q_rag_chunks CTEs + the hash16 nibble
    // formula per (dim, chunk) + exact integer-valued cosine (hash
    // components ≤ 65535, so every dot product is exact in double) +
    // the standard (sim desc, id) top-5
    "q_rag_retrieve" ->
      s"""WITH $ragVecCtes
         SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank FROM (
           SELECT query_id, neighbor_id, dp / (sqrt(nq) * sqrt(nc)) AS sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                             neighbor_id ASC) AS rank
           FROM dots)
         WHERE rank <= 5""",

    // IVF-twin claims: the query-chunk count replays from the chunking
    // CTEs; ann_complete and recall_ok are engine claims (trained
    // quantizer + tuned budget are not SQL-replayable), the
    // q_knn_ivf/q_triplet_ivf precedent
    "q_rag_retrieve_ivf" ->
      s"""WITH $ragChunkCtes
         SELECT count(*) AS n_queries, true AS ann_complete,
                true AS recall_ok
         FROM ch WHERE doc_id * 1000 + chunk_idx < 2000""",

    // learned-reranker replay: same shortlist, pair features as exact
    // integer q×c products, stub weights rebuilt in SQL, top-3 by score
    "q_rag_rerank_model" ->
      s"""WITH $ragVecCtes,
         cand AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                               neighbor_id ASC) AS rank
             FROM dots) WHERE rank <= 10),
         ${stubWeightsCte(8)},
         pf AS (
           SELECT c.query_id, c.neighbor_id, q.i,
                  CAST(q.x * d.x AS BIGINT) AS f
           FROM cand c
           JOIN comp q ON q.cid = c.query_id
           JOIN comp d ON d.cid = c.neighbor_id AND d.i = q.i),
         ms AS (
           SELECT query_id, neighbor_id,
                  CAST(sum(w * f) AS BIGINT) AS model_score
           FROM pf JOIN wt USING (i) GROUP BY query_id, neighbor_id)
         SELECT query_id, CAST(rr AS BIGINT) AS rerank,
                neighbor_id AS cand_id, model_score
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY model_score DESC, neighbor_id ASC) AS rr
               FROM ms)
         WHERE rr <= 3""",

    // MMR replay: the same shortlist (rounded rel, the engine's topK
    // contract), pairwise cosines among shortlist members, three greedy
    // steps unrolled — step k's penalty is the max cosine to the k−1
    // already-selected, ties to the smaller chunk id
    "q_rag_mmr" ->
      s"""WITH $ragVecCtes,
         cand AS (
           SELECT query_id, neighbor_id AS cid, round(sim, 6) AS rel FROM (
             SELECT query_id, neighbor_id,
                    dp / (sqrt(nq) * sqrt(nc)) AS sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC,
                               neighbor_id ASC) AS rank
             FROM dots)
           WHERE rank <= 10),
         psim AS (
           SELECT a.cid AS c1, b.cid AS c2,
                  sum(a.x * b.x)
                    / (sqrt(sum(a.x * a.x)) * sqrt(sum(b.x * b.x))) AS s
           FROM comp a JOIN comp b USING (i)
           WHERE a.cid IN (SELECT cid FROM cand)
             AND b.cid IN (SELECT cid FROM cand) AND a.cid <> b.cid
           GROUP BY a.cid, b.cid),
         s1 AS (
           SELECT query_id, cid, rel, 0.7 * rel AS score FROM (
             SELECT query_id, cid, rel,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY 0.7 * rel DESC, cid ASC) AS rn
             FROM cand) WHERE rn = 1),
         p2 AS (
           SELECT c.query_id, c.cid, c.rel,
                  0.7 * c.rel - 0.3 * p.s AS score
           FROM cand c
           JOIN s1 ON s1.query_id = c.query_id AND c.cid <> s1.cid
           JOIN psim p ON p.c1 = c.cid AND p.c2 = s1.cid),
         s2 AS (
           SELECT query_id, cid, rel, score FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, cid ASC) AS rn
             FROM p2) WHERE rn = 1),
         p3 AS (
           SELECT c.query_id, c.cid, c.rel,
                  0.7 * c.rel - 0.3 * greatest(pa.s, pb.s) AS score
           FROM cand c
           JOIN s1 ON s1.query_id = c.query_id
           JOIN s2 ON s2.query_id = c.query_id
           JOIN psim pa ON pa.c1 = c.cid AND pa.c2 = s1.cid
           JOIN psim pb ON pb.c1 = c.cid AND pb.c2 = s2.cid
           WHERE c.cid <> s1.cid AND c.cid <> s2.cid),
         s3 AS (
           SELECT query_id, cid, rel, score FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, cid ASC) AS rn
             FROM p3) WHERE rn = 1)
         SELECT query_id, CAST(1 AS BIGINT) AS step, cid AS cand_id, rel,
                round(score, 6) AS mmr_score FROM s1
         UNION ALL SELECT query_id, 2, cid, rel, round(score, 6) FROM s2
         UNION ALL SELECT query_id, 3, cid, rel, round(score, 6) FROM s3
         ORDER BY query_id, step""",

    // end-to-end curate replay: the extraction CTEs + the extract-cascade
    // verdict + the established fingerprint formula + a min_by keeper
    // election + the per-language rollup — each stage the same replay its
    // own board row uses, composed
    "q_curate_e2e" ->
      s"""WITH $htmlExtractCtes,
         ex AS (
           SELECT d.doc_id, d.lang, d.text, main_text,
                  CAST(length(main_text) AS BIGINT) AS main_len
           FROM documents d JOIN agg USING (doc_id)),
         st AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(main_text, ' '),
               x -> x <> '')) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(
               list_filter(string_split(main_text, ' '), x -> x <> ''),
               x -> length(x))), 0) AS BIGINT) AS sum_len
           FROM ex),
         verdict AS (
           SELECT ex.doc_id, ex.lang, ex.main_text, ex.main_len,
                  (n_words >= 30
                   AND 3 * n_words <= sum_len AND sum_len <= 5 * n_words
                   AND main_len * 10 >= length(text) * 3) AS keep
           FROM ex JOIN st USING (doc_id)),
         kept AS (
           SELECT doc_id, lang, main_len,
                  md5(lower(regexp_replace(trim(main_text), '\\s+', ' ',
                    'g'))) AS fp
           FROM verdict WHERE keep),
         uniq AS (
           SELECT min_by(lang, doc_id) AS lang,
                  min_by(main_len, doc_id) AS main_len
           FROM kept GROUP BY fp),
         base AS (SELECT lang, count(*) AS n_docs FROM ex GROUP BY lang),
         q AS (SELECT lang, count(*) AS n_quality FROM kept GROUP BY lang),
         u AS (SELECT lang, count(*) AS n_unique,
                      sum(main_len) AS clean_chars
               FROM uniq GROUP BY lang)
         SELECT base.lang, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(coalesce(n_quality, 0) AS BIGINT) AS n_quality,
                CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique,
                CAST(coalesce(clean_chars, 0) AS BIGINT) AS clean_chars
         FROM base LEFT JOIN q USING (lang) LEFT JOIN u USING (lang)""",

    // line-dedup replay: the same 8-token grouping + planted repeat, the
    // same keep-first first-occurrence test (DuckDB's lambda index is
    // 1-based where Spark's is 0-based — both compare against
    // list_position/array_position's 1-based first hit)
    "q_line_dedup" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, list_transform(range(0, len(toks) // 8),
                    g -> array_to_string(toks[g*8+1:g*8+8], ' ')) AS grp
           FROM t),
         p AS (
           SELECT doc_id,
                  CASE WHEN len(grp) > 0
                       THEN list_concat(grp, [grp[1]])
                       ELSE []::VARCHAR[] END AS lines
           FROM g),
         k AS (
           SELECT doc_id, lines,
                  list_filter(lines,
                    (x, i) -> list_position(lines, x) = i) AS kept
           FROM p)
         SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(kept) AS BIGINT) AS n_kept,
                array_to_string(kept, chr(10)) AS text_clean,
                CAST(length(array_to_string(kept, chr(10))) AS BIGINT)
                  AS clean_len
         FROM k""",

    // Gopher-battery replay: the same per-document token statistics via
    // list folds, every ratio rule an integer cross-multiply
    "q_quality_gopher" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_word_len,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len(list_intersect(list_distinct(toks),
               ['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS stop_hits
           FROM t)
         SELECT doc_id, n_words, sum_word_len, n_distinct, stop_hits,
                words_ok, wlen_ok, dup_ok, stop_ok,
                words_ok AND wlen_ok AND dup_ok AND stop_ok AS keep
         FROM (
           SELECT *,
             n_words >= 30 AND n_words <= 100000 AS words_ok,
             3 * n_words <= sum_word_len AND sum_word_len <= 5 * n_words
               AS wlen_ok,
             (n_words - n_distinct) * 5 <= 3 * n_words AS dup_ok,
             stop_hits >= 2 AS stop_ok
           FROM m)""",

    // temperature replay: fixed-point sqrt of per-source char mass,
    // integer share of a 100-doc budget, hash-order selection
    "q_sample_temperature" ->
      """WITH w AS (SELECT source, sum(n_chars) AS wd FROM documents
                    GROUP BY source),
         sc AS (
           SELECT source,
             CAST(floor(sqrt(CAST(wd AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS sd
           FROM w),
         tot AS (SELECT CAST(sum(sd) AS BIGINT) AS stot FROM sc),
         q AS (
           SELECT source, CAST((100 * sd) // stot AS BIGINT) AS quota
           FROM sc CROSS JOIN tot),
         r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         SELECT r.doc_id, r.source, q.quota
         FROM r JOIN q USING (source) WHERE r.rn <= q.quota""",

    // blocklist replay: space-padded substring hits per phrase
    "q_blocklist" ->
      """WITH h AS (
           SELECT doc_id,
                  CASE WHEN position(' slow fast ' IN ' ' || text || ' ') > 0
                       THEN 1 ELSE 0 END
                + CASE WHEN position(' table value ' IN ' ' || text || ' ') > 0
                       THEN 1 ELSE 0 END
                + CASE WHEN position(' hash ' IN ' ' || text || ' ') > 0
                       THEN 1 ELSE 0 END AS nm
           FROM documents)
         SELECT doc_id, CAST(nm AS BIGINT) AS n_matches, nm = 0 AS keep
         FROM h""",

    // epoch-mixture replay: ⌊r⌋ full copies + one more iff the ":epoch"-
    // salted hash clears the fractional threshold (thresholds interpolated
    // from the SAME fracThreshold the operator uses — they cannot drift)
    "q_sample_epochs" ->
      s"""WITH f AS (
            SELECT * FROM (VALUES
              ('src0', CAST(2 AS BIGINT),
               '${graft.ops.Sampling.fracThreshold(0.0)}'),
              ('src1', CAST(1 AS BIGINT),
               '${graft.ops.Sampling.fracThreshold(1.6 - 1.0)}'),
              ('src2', CAST(0 AS BIGINT),
               '${graft.ops.Sampling.fracThreshold(0.3)}'),
              ('src3', CAST(0 AS BIGINT),
               '${graft.ops.Sampling.fracThreshold(0.0)}'))
              AS t(src, nfull, th)),
          n AS (
            SELECT doc_id, source,
                   coalesce(f.nfull, 1)
                   + CASE WHEN md5(CAST(doc_id AS VARCHAR) || ':epoch')
                            < coalesce(f.th,
                                       '${graft.ops.Sampling.fracThreshold(0.0)}')
                          THEN 1 ELSE 0 END AS nc
            FROM documents LEFT JOIN f ON f.src = source)
          SELECT doc_id, source, i AS epoch
          FROM n, LATERAL unnest(range(0, nc)) AS t(i)""",

    // diff replay: both snapshots reduced to (id, fingerprint), full outer
    // join on id, four-way CASE
    "q_corpus_diff" ->
      """WITH olds AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 4 <> 0),
         news AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(
               CASE WHEN doc_id % 9 = 0 THEN text || ' edit' ELSE text END),
               '\s+', ' ', 'g'))) AS fp
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.fp IS NULL THEN 'added'
                     WHEN n.fp IS NULL THEN 'removed'
                     WHEN o.fp = n.fp THEN 'unchanged'
                     ELSE 'modified' END AS status
         FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id""",

    // aHash replay from the PNG pixel formula (seed·31 + x·7 + y·13
    // masked to 24 bits): grid positions, integer milli-luminance, mean
    // threshold, MSB-first nibble packing — no image codec involved
    "q_image_dedup" ->
      """WITH g AS (
           SELECT doc_id,
                  doc_id // 5 AS gid,
                  16 + (doc_id // 5) % 13 AS w,
                  16 + (doc_id // 5) % 11 AS h
           FROM documents),
         px AS (
           SELECT doc_id, j * 8 + i AS idx,
                  ((gid * 31 + ((i * (w - 1)) // 7) * 7
                    + ((j * (h - 1)) // 7) * 13) & 16777215) AS p
           FROM g, LATERAL unnest(range(0, 8)) AS a(i),
                   LATERAL unnest(range(0, 8)) AS b(j)),
         lums AS (
           SELECT doc_id, idx,
                  ((p >> 16) & 255) * 299 + ((p >> 8) & 255) * 587
                    + (p & 255) * 114 AS lum
           FROM px),
         tot AS (SELECT doc_id, sum(lum) AS total FROM lums GROUP BY doc_id),
         bits AS (
           SELECT l.doc_id, idx,
                  CASE WHEN l.lum * 64 > t.total THEN 1 ELSE 0 END AS bit
           FROM lums l JOIN tot t USING (doc_id)),
         nibs AS (
           SELECT doc_id, idx // 4 AS k,
                  CAST(sum(bit * (CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                    WHEN 2 THEN 2 ELSE 1 END)) AS BIGINT) AS nib
           FROM bits GROUP BY doc_id, idx // 4),
         hashes AS (
           SELECT doc_id, string_agg(lower(to_hex(nib)), '' ORDER BY k)
                    AS ahash
           FROM nibs GROUP BY doc_id)
         SELECT ahash, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM hashes GROUP BY ahash""",

    // audio-fingerprint replay from the PCM formula
    // ((gid·31 + i·7919) % 4096 − 2048): 32 frame energies, cyclic
    // delta-sign bits, MSB-first nibble packing — no audio codec involved
    "q_audio_dedup" ->
      """WITH g AS (
           SELECT doc_id, doc_id // 5 AS gid,
                  800 + (doc_id // 5) % 400 AS n
           FROM documents),
         fr AS (
           SELECT doc_id, gid, n, n // 32 AS fl, f
           FROM g, LATERAL unnest(range(0, 32)) AS t(f)),
         en AS (
           SELECT doc_id, f,
             sum(((gid * 31 + i * 7919) % 4096 - 2048)
                 * ((gid * 31 + i * 7919) % 4096 - 2048)) AS e
           FROM (SELECT doc_id, gid, f, i
                 FROM fr, LATERAL unnest(range(f * fl, (f + 1) * fl)) AS u(i))
           GROUP BY doc_id, f),
         bits AS (
           SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM en a JOIN en b
             ON b.doc_id = a.doc_id AND b.f = (a.f + 1) % 32),
         nibs AS (
           SELECT doc_id, f // 4 AS k,
                  CAST(sum(bit * (CASE f % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                    WHEN 2 THEN 2 ELSE 1 END)) AS BIGINT) AS nib
           FROM bits GROUP BY doc_id, f // 4),
         fp AS (
           SELECT doc_id, string_agg(lower(to_hex(nib)), '' ORDER BY k)
                    AS afp
           FROM nibs GROUP BY doc_id)
         SELECT afp, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM fp GROUP BY afp""",

    // data-card replay: the gopher statistics via list folds, keep = the
    // same four cross-multiplied rules, one integer rollup per source
    "q_corpus_report" ->
      """WITH t AS (
           SELECT doc_id, source, n_chars,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id, source, n_chars,
             CAST(len(toks) AS BIGINT) AS ntok,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS swl,
             CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
             CAST(len(list_intersect(list_distinct(toks),
               ['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS sh
           FROM t),
         k AS (
           SELECT doc_id, source, n_chars, ntok,
             (ntok >= 30 AND ntok <= 100000)
               AND (3 * ntok <= swl AND swl <= 5 * ntok)
               AND ((ntok - nd) * 5 <= 3 * ntok)
               AND (sh >= 2) AS keep
           FROM m)
         SELECT source, count(*) AS n_docs,
                CAST(sum(ntok) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_quality_pass
         FROM k GROUP BY source""",

    // quantile replay: DuckDB quantile_cont shares Spark percentile's R-7
    // linear interpolation; both snapped to 6 decimals
    "q_length_quantiles" ->
      """SELECT source,
                round(quantile_cont(n_chars, 0.25), 6) AS p25,
                round(quantile_cont(n_chars, 0.5), 6) AS p50,
                round(quantile_cont(n_chars, 0.75), 6) AS p75
         FROM documents GROUP BY source"""
  )

  /** Shared BM25 oracle: per-(term,doc) fixed-point contributions
    * ([[graft.ops.Bm25.bm25ContribSql]] mirrors the Scala op order),
    * integer score sum, rank by (score DESC, doc_id). */
  /** BM25 oracle CTE chain ending in `ranked(qid, doc_id, rank, score_fp)`
    * — shared by the search rows and the hybrid-fusion replay. */
  private lazy val bm25RankedCtes: String = {
    val values = bm25Queries
      .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    s"""toks AS (
         SELECT doc_id, t
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
               FROM documents)
         WHERE t <> ''),
       tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
       dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                        (SELECT count(*) FROM toks) AS n_toks),
       dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       qt AS (
         SELECT DISTINCT qid, t FROM (
           SELECT qid, unnest(string_split(qtext, ' ')) AS t
           FROM (VALUES $values) AS q(qid, qtext))
         WHERE t <> ''),
       contrib AS (
         SELECT qt.qid, tf.doc_id,
           ${graft.ops.Bm25.bm25ContribSql("tf.tf", "dl.dl", "dfreq.df",
             "n_docs", "n_toks")} AS c_fp
         FROM qt
         JOIN tf ON tf.t = qt.t
         JOIN dl ON dl.doc_id = tf.doc_id
         JOIN dfreq ON dfreq.t = qt.t
         CROSS JOIN stats),
       scores AS (SELECT qid, doc_id, sum(c_fp) AS score_fp FROM contrib
                  GROUP BY qid, doc_id),
       ranked AS (
         SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score_fp DESC, doc_id) AS "rank",
                score_fp
         FROM scores)"""
  }

  private lazy val bm25Sql: String =
    s"""WITH $bm25RankedCtes
       SELECT qid, doc_id, CAST("rank" AS BIGINT) AS "rank",
              CAST(score_fp AS BIGINT) AS score_fp
       FROM ranked WHERE "rank" <= 10"""
}
