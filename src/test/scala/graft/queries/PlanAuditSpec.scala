package graft.queries

import graft.SparkEntry
import graft.SparkSuite

/** Plan-shape invariants — the properties that make these queries survive a
  * 100 TB scale-up, locked in as regression tests: pushdown reaching the
  * scan, dimension broadcasts, top-k without a global sort, the as-of join's
  * single shuffle.
  */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filters and projection are pushed into the parquet scan") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)") ||
      p.contains("PushedFilters: [IsNotNull(l_discount), IsNotNull(l_shipdate)"))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"))
  }

  test("star join broadcasts its dimensions") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "nation/region (at least) must broadcast")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("as-of join uses exactly one hash shuffle (union+window, no explode)") {
    // AQE hides children from collect() pre-execution; audit the plan string
    val n = "Exchange hashpartitioning".r.findAllIn(plan("q_asof_join")).length
    assert(n == 1, s"expected 1 exchange, got $n")
  }

  test("aggregations run partial+final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial"))
    val c = plan("q_compact_last")
    assert(c.contains("partial_max_by") || c.contains("partial"))
  }

  test("semi/anti joins avoid materializing the probe side") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("multi-probe IVF broadcasts the probe set; the corpus is never shuffled pre-join") {
    // audit the operator itself: the recall-profile QUERY wraps it in tiny
    // exact/hits joins whose exchanges move a few dozen rows, but the
    // corpus-side shape is what must survive 100 TB
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = graft.ops.KMeans.fit(emb, "vec_id", "embedding", 4, 2)
    val prof = graft.ops.Similarity.ivfProbeProfile(
      emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", cents,
      Seq(1, 2, 4), 3)
    val p = prof.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "query side must broadcast")
    // the only hash exchange is the top-k window's partitionBy — the corpus
    // reaches the cell join shuffle-free for EVERY probe setting at once
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 exchange (window), got $n")
    // and the composite recall query never falls back to a nested loop
    val q = plan("q_ann_ivf_multiprobe")
    assert(!q.contains("CartesianProduct(condition"),
      "corpus-side join degenerated to a filtered cartesian product")
  }

  test("multi-probe LSH broadcasts the probed query side; corpus bucketed in place") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val prof = graft.ops.Similarity.lshProbeProfile(
      emb.where(col("vec_id") < 5), emb, "vec_id", "embedding",
      dim = 64, numPlanes = 8, probes = Seq(1, 5, 9), k = 3)
    val p = prof.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "probed query side must broadcast")
    // the corpus is scanned and bucketed once; the only hash exchange is
    // the top-k window's partitionBy
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 exchange (window), got $n")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("KV-store merge is one partial+final max_by compaction, no sort or window") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kv-audit")
      .toFile.getAbsolutePath
    val store = new graft.ops.ParquetKvStore(spark, dir, Seq("k"),
      col("ver"), "v")
    graft.ops.KvStore.upsertBatch(
      Seq(("a", 1L, "x")).toDF("k", "ver", "v"), Seq("k"), col("ver"), store)
    // audit the merged-state plan the NEXT merge would execute
    val merged = graft.ops.Compaction.compact(
      store.read().unionByName(Seq(("b", 2L, "y")).toDF("k", "ver", "v")),
      Seq("k"), col("ver"))
    val p = merged.queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by") || p.contains("partial"),
      "merge must combine map-side")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "merge must stay a single hash aggregation")
  }

  test("bucketed KV read is ONE multi-path scan, not a union of per-bucket plans") {
    import graft.ops.{BucketedKvStore, KvStore}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kv-bucket-audit")
      .toFile.getAbsolutePath
    val store = new BucketedKvStore(spark, dir, Seq("k"), col("ver"), "v",
      numBuckets = 8)
    KvStore.upsertBatch(
      (1 to 40).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "ver", "v"),
      Seq("k"), col("ver"), store)
    val p = store.read().queryExecution.executedPlan.toString
    assert(!p.contains("Union"),
      "bucketed read must merge bucket generations into one scan relation")
    // filters (tombstone/TTL) sit above a single parquet scan
    assert(p.split("Scan parquet").length - 1 == 1,
      s"expected exactly one parquet scan node:\n$p")
  }

  test("CDC materialize is one partial+final max_by aggregation") {
    val p = plan("q_cdc_materialize")
    assert(p.contains("partial_max_by") || p.contains("partial"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("LSH/simhash candidate generation never goes nested-loop") {
    Seq("q_minhash_lsh", "q_simhash_dedup", "q_ngram_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q plan has an all-pairs join")
    }
    // in-group expansion is the one native generator, never a hand-written
    // nested lambda tree
    Seq("q_minhash_lsh", "q_simhash_dedup", "q_decontaminate_near").foreach { q =>
      val p = plan(q)
      assert(p.contains("group_pairs"), s"$q must expand pairs with group_pairs:\n$p")
      assert(!p.contains("flatten(transform("),
        s"$q has a nested-HOF pair expansion:\n$p")
    }
  }

  test("incremental-index probe prunes the postings scan by partition") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsh-idx-audit")
      .toFile.getAbsolutePath
    val idx = new graft.ops.MinHashIndex(spark, dir, "doc_id", "text")
    val docs = (1L to 20L)
      .map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta v$i"))
      .toDF("doc_id", "text")
    idx.addAndFindPairs(docs.where(col("doc_id") <= 10))
    // the probe's band/bp predicates must reach the postings scan as
    // PARTITION filters (pruned listing), not post-scan row filters — the
    // property the (band, bp) directory layout exists for. The returned
    // pairs DF is checkpointed (its executed plan is just the checkpoint
    // scan), so audit the probe-shaped read directly.
    val probe = spark.read.parquet(idx.currentGenerationPath.get)
      .where(col("band").isin(0, 1) && col("bp").isin("p0", "p1"))
    val scan = probe.queryExecution.executedPlan.toString
    val partFilters = scan.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(partFilters.contains("band") && partFilters.contains("bp"),
      s"band/bp must prune partitions, got: $partFilters\n$scan")
  }

  test("hash sampling is a pure filter: no exchange anywhere in the plan") {
    val p = plan("q_sample_hash")
    assert(!p.contains("Exchange"),
      s"deterministic Bernoulli sampling must not shuffle:\n$p")
    assert(p.contains("md5"), "selection must key on the md5 hash")
  }

  test("stratified sampling pays exactly its one window shuffle") {
    for (q <- Seq("q_sample_stratified", "q_sample_budget")) {
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).length
      assert(n == 1, s"$q: expected 1 exchange (stratum window), got $n")
    }
  }

  test("sequence packing pays exactly its one window shuffle") {
    val n = "Exchange hashpartitioning".r.findAllIn(plan("q_pack_chunks")).length
    assert(n == 1, s"expected 1 exchange (shard window), got $n")
  }

  test("gopher battery stays in the scan stage: no exchange, no explode") {
    val p = plan("q_quality_gopher")
    assert(!p.contains("Exchange"),
      s"rule battery is scalar array folds, must not shuffle:\n$p")
    assert(!p.contains("Generate"),
      s"token statistics must fold over the array, not explode it:\n$p")
  }

  test("split assignment is a pure projection: no exchange anywhere") {
    val p = plan("q_split_assign")
    assert(!p.contains("Exchange"),
      s"hash-bucket split must not shuffle:\n$p")
  }

  test("epoch shuffle pays exactly its one window shuffle on 32-byte keys") {
    val p = plan("q_shard_epoch")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 exchange (shard window), got $n:\n$p")
    assert(!p.toLowerCase.contains("text"),
      s"the sort key is the digest — document payloads must not be read:\n$p")
  }

  test("bloom prefilter joins only broadcasts; the batch is never shuffled for bits") {
    val p = plan("q_bloom_prefilter")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"bits and truth joins must broadcast the index side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the prefilter path:\n$p")
  }

  test("temperature sampling broadcasts the quota table onto the corpus") {
    val p = plan("q_sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"the domains-sized quota frame must broadcast:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 3, s"corpus side should pay the domain agg + one window, got $n:\n$p")
  }

  test("corpus diff shuffles fingerprints, never document payloads") {
    val p = plan("q_corpus_diff")
    assert(!p.toLowerCase.contains("struct<text"),
      s"only (id, fp) may cross the exchange:\n$p")
  }

  test("PQ search broadcasts queries; the code table is never shuffle-joined") {
    val p = plan("q_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the tiny query side must broadcast onto the code scan:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"corpus-sized sides must not sort-merge for scoring:\n$p")
  }

  test("id encoding broadcasts the vocabulary onto the subword stream") {
    // audit the BUILDING operator: the board query reads the materialized
    // encoded-corpus artifact (a bare parquet scan by design), so the
    // broadcast shape lives in the artifact build, not the query plan
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 4)
    val p = graft.ops.Bpe.encodeIds(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized id table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the encode path:\n$p")
  }

  test("salted stratified top-k group-limits BOTH windows (no full sorts survive)") {
    val p = plan("q_sample_stratified_salted")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"phase-one and phase-two rank filters must push per-partition limits:\n$p")
  }

  test("repetition signals stay in the scan stage: no exchange, no explode") {
    val p = plan("q_quality_repetition")
    assert(!p.contains("Exchange"),
      s"repetition signals are scalar expressions, must not shuffle:\n$p")
    assert(!p.contains("Generate"),
      s"top-gram share must fold over the array, not explode it:\n$p")
  }

  test("keepBest is one partial+final min_by aggregate, no window sort") {
    import org.apache.spark.sql.functions.{col, length}
    val docs = graft.core.Tables.documents(spark, sf)
    val cc = graft.ops.Components.clusters(docs, "doc_id", "text")
    val p = graft.ops.Components.keepBest(docs, "doc_id", cc,
      length(col("text"))).queryExecution.executedPlan.toString
    assert(p.contains("partial_min_by"),
      s"keeper selection must map-side combine:\n$p")
    assert(!p.contains("Window"),
      s"a degenerate cluster must not become a single-task window sort:\n$p")
  }

  /** AQE only settles the physical plan in the FINAL plan, so run the
    * query before auditing. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The topic source has one row-based read path for both codecs; a
    * `ColumnarToRow` above its scan would mean a columnar fork came back. */
  private def rowBasedTopicScan(p: String): Boolean =
    p.contains("GraftTopicScan") && !p.contains("ColumnarToRow")

  test("cold topic scans stay row-based (no ColumnarToRow above the scan)") {
    val p = finalPlan("q_scan_cold")
    assert(rowBasedTopicScan(p),
      s"cold scan must be the topic source's row-based scan:\n$p")
  }

  test("SQL catalog resolves to the native topic scan, not a fallback") {
    val p = finalPlan("q_sql_topic")
    assert(p.contains("GraftTopicScan"),
      s"graft.<topic> SQL must plan the DSv2 topic scan:\n$p")
    assert(rowBasedTopicScan(p), s"catalog reads stay row-based:\n$p")
  }

  test("BM25 top-k runs as a group-limited window, never a full per-query sort") {
    val p = plan("q_bm25_search")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must push a running top-k heap below the window:\n$p")
    // corpus stats (one row) and the query terms ride in as broadcasts
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, "stats/query side must broadcast")
  }

  test("DSIR selection is TakeOrderedAndProject over a broadcast ratio table") {
    val p = plan("q_sample_importance")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n weights must never globally sort the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the 65536-row bucket log-ratio table must broadcast onto the corpus")
  }

  test("PMI is pure hash aggregation: no window, no cartesian corpus join") {
    val p = plan("q_pmi_bigrams")
    assert(!p.contains("Window"), "PMI must not use window functions")
    assert(p.contains("partial_count") || p.contains("partial"),
      "bigram/unigram counts must map-side combine")
    assert(!p.contains("CartesianProduct(condition"),
      "only the one-row totals may cross join")
  }

  test("NB inference joins the model as a broadcast, corpus shuffled on keys only") {
    val p = plan("q_classify_nb")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      "the vocabulary-sized model must broadcast onto the corpus tokens")
  }

  test("LM scoring broadcasts the bigram model onto the corpus pair stream") {
    val p = plan("q_perplexity_filter")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "bigram model AND context defaults must broadcast")
    assert(!p.contains("CartesianProduct(condition"),
      "only one-row scalars may cross join")
  }

  test("paragraph dedup is hash aggregation on the md5 key, no self-join") {
    val p = plan("q_paragraph_dedup")
    // distinct-count aggregates in the standard two-exchange shape; both
    // shuffles carry (hash, id) — never the paragraph bodies as keys
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <= 2 exchanges (two-phase distinct agg), got $n")
    assert(p.contains("partial"), "unit counts must map-side combine")
    assert(!p.contains("CartesianProduct"),
      "duplicate discovery must never pair units by join")
  }

  test("paragraph excise: duplicate sets broadcast at runtime, no cartesian") {
    val df = SparkEntry.queries("q_paragraph_excise")(spark, sf)
    df.collect() // let AQE finalize — the dup/affected sets are tiny
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"AQE must broadcast the boilerplate-sized dup/affected sets:\n$p")
  }

  test("cluster-balanced sampling never joins or shuffles the corpus beyond quota windows") {
    val p = plan("q_cluster_balance")
    assert(!p.contains("Join"), "anchor argmin is a scan expression, not a join")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <= 2 exchanges (salted + final quota window), got $n")
  }

  test("blocklist screening is a pure scan expression: no exchange, no join") {
    val p = plan("q_blocklist")
    assert(!p.contains("Exchange"), s"blocklist must ride the scan:\n$p")
    assert(!p.contains("Join"), "the literal phrase list must not join")
  }

  test("epoch mixture is shuffle-free: a scan-stage when-chain and one explode") {
    val p = plan("q_sample_epochs")
    assert(!p.contains("Exchange"), s"epoch repetition must not shuffle:\n$p")
    assert(p.contains("Generate"), "the copies come from explode(sequence)")
  }

  test("RAG chunking is scan-stage only: no exchange, no join over the corpus") {
    val p = plan("q_rag_chunks")
    assert(!p.contains("Exchange"), s"chunking must ride the scan:\n$p")
    assert(!p.contains("Join"))
  }

  test("kNN classify broadcasts the test split; train corpus joins without pre-shuffle") {
    val p = plan("q_knn_classify")
    assert(p.contains("BroadcastExchange"),
      s"the test split must broadcast onto the train scan:\n$p")
    assert(p.contains("partial"), "the vote must map-side combine")
  }

  test("centroid classify is aggregate-only: per-label means partial+final, no window") {
    val p = plan("q_centroid_classify")
    assert(!p.contains("Window"), s"Rocchio must not window-sort:\n$p")
    assert(p.contains("partial_avg") || p.contains("partial"),
      "per-label means must map-side combine")
  }

  test("triplet mining is one corpus scan and one hash shuffle") {
    val p = plan("q_triplet_mine")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 exchange (the anchor aggregate), got $n:\n$p")
    assert(!p.contains("Window"), "hardest pos/neg are struct min/max aggregates")
  }

  test("e2e curate chain: corpus reaches the keeper aggregate without a self-join") {
    // extract + verdict + fingerprint are all scan-stage; the only
    // corpus-sized shuffles key on the fingerprint and on lang — a
    // decide-then-join-back shape would show a corpus SortMergeJoin here
    val p = plan("q_curate_e2e")
    assert(!p.contains("SortMergeJoin"),
      s"corpus self-join crept into the curate chain:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("intra-document line dedup rides the scan: no exchange, no join") {
    val p = plan("q_line_dedup")
    assert(!p.contains("Exchange"), s"line dedup must not shuffle:\n$p")
    assert(!p.contains("Join"))
  }

  test("extract→cascade verdict is still one scan: no exchange, no join") {
    val p = plan("q_extract_cascade")
    assert(!p.contains("Exchange"), s"the composed verdict must not shuffle:\n$p")
    assert(!p.contains("Join"))
  }

  test("HTML extraction rides the scan: no exchange, no join, no window") {
    // extraction is a payload decode — at 100 TB it must stay a map-only
    // pass over each row's own string
    val p = plan("q_html_extract")
    assert(!p.contains("Exchange"), s"extraction must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("trigram backoff scoring broadcasts every count table onto the triple stream") {
    // the corpus-sized side (the document triple stream) must meet all five
    // model tables (tri, bi×2, uni×2) as broadcast joins — count tables are
    // bounded by the in-domain training slice, never shuffled with the corpus
    val p = plan("q_perplexity_trigram")
    val b = "BroadcastHashJoin".r.findAllIn(p).length
    assert(b >= 5, s"expected >=5 broadcast model joins, got $b:\n$p")
    assert(p.contains("partial"), "document log-likelihood must map-side combine")
    // the Kneser–Ney face joins seven count/type tables — all broadcast
    val kn = plan("q_perplexity_kn")
    val kb = "BroadcastHashJoin".r.findAllIn(kn).length
    assert(kb >= 7, s"expected >=7 broadcast model joins, got $kb:\n$kn")
  }

  test("URL dedup is one map-side-combined aggregate on the canonical key") {
    val p = plan("q_url_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly 1 exchange:\n$p")
    assert(p.contains("partial"), "keeper election must map-side combine")
  }

  test("domain cap's window and report share ONE domain-key shuffle") {
    val p = plan("q_domain_cap")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"rank-within-domain and the rollup must reuse the partitioning:\n$p")
  }

  test("pagerank's final plan is O(1): per-iteration lineage truncated") {
    // each round materializes a node-sized rank table; without that the
    // plan re-derives every prior round per reference and exchange count
    // grows exponentially with iterations (392 at 5 rounds, measured)
    val p = plan("q_pagerank")
    assert(!p.contains("Exchange hashpartitioning"),
      s"final pass must read the checkpointed ranks:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("HITS final plan is O(1): per-round lineage truncated") {
    // same discipline as pagerank: each half-round materializes a
    // node-sized score table, so the final pass reads two checkpoints
    // and performs only the top-k — no re-derivation of prior rounds
    val p = plan("q_hits")
    assert(!p.contains("Exchange hashpartitioning"),
      s"final pass must read the checkpointed scores:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("normalization is pure scan work: no hash shuffle before the sort") {
    val p = plan("q_text_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalize chain must stay in the scan stage:\n$p")
    assert(!p.contains("Window"))
  }

  test("cluster-safe split broadcasts the cluster map onto the corpus") {
    // the lsh-cc artifact is cluster-member-sized (≪ corpus); the split
    // itself is a projection — corpus rows must never hash-shuffle
    val p = plan("q_split_cluster_safe")
    assert(p.contains("BroadcastHashJoin"),
      s"cluster map should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus SMJ expected:\n$p")
  }

  test("fertility rollup map-side combines after one id-keyed join") {
    val p = plan("q_token_fertility")
    assert(p.contains("partial"), "per-language sums must partial-aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("trigram concentration's top-10 runs under WindowGroupLimit heaps") {
    // rk ≤ 10 as a filter (not a conditional sum) lets Spark keep
    // per-partition top-k heaps instead of sorting the distinct-gram
    // table — the shape that survives a 100 TB trigram stream
    val p = plan("q_ngram_concentration")
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown:\n$p")
    assert(p.contains("partial"))
  }

  test("n-gram diversity aggregates partially before the lang/n shuffle") {
    val p = plan("q_ngram_diversity")
    assert(p.contains("partial"), "distinct pre-aggregation must map-side combine")
    assert(!p.contains("Window"))
  }

  test("rolling actives: day grid broadcasts onto the deduped pair stream") {
    val p = plan("q_rolling_active")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the day-sized grid must broadcast into the range join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("trending top-3 ranks under WindowGroupLimit, no global sort") {
    val p = plan("q_trending")
    assert(p.contains("WindowGroupLimit"),
      s"per-hour rank must keep top-k heaps:\n$p")
  }

  test("salted aggregation is exactly two exchanges, both partial-combined") {
    val p = plan("q_salted_agg")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"phase-1 (key,salt) + phase-2 (key):\n$p")
    assert(p.contains("partial"))
  }

  test("content chunking: one doc-keyed window, no self-joins") {
    val p = plan("q_content_chunks")
    assert(!p.contains("Join"), s"no joins expected:\n$p")
    assert("Window".r.findAllIn(p).nonEmpty)
  }

  test("web-curate funnel: domain verdict broadcasts, no window sorts") {
    val p = plan("q_web_curate")
    assert(p.contains("BroadcastHashJoin"),
      s"the domain-sized verdict must broadcast:\n$p")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("SRP search never shuffles the corpus before the broadcast join") {
    val p = plan("q_ann_srp")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the shortlist window may shuffle (query-id keyed):\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      "queries broadcast onto one corpus scan")
  }

  test("tree training histograms map-side combine; corpus joins broadcast") {
    val p = plan("q_classifier_tree")
    assert(p.contains("partial"), "histogram cells must partial-aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("model gate: batched scoring adds no exchange beyond the id join") {
    // the only shuffles are the documents⋈embeddings equi-join (both
    // corpus-sized, co-partitionable/bucketable at scale); the
    // mapPartitions inference and the cascade mask ride the scan
    val p = plan("q_model_gate")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"id-join exchanges only, got $n:\n$p")
    assert(p.contains("MapPartitions") || p.contains("mapPartitions"),
      "the inference hook is a mapPartitions stage")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("prefix-filtered Jaccard shuffles on shingle values, never block²") {
    val p = plan("q_ngram_jaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "no block cross-product anywhere in the candidate path")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "candidates come from an EQUI-join on (block, shingle value) — " +
        "hash-shuffleable at any scale (broadcast at this tiny sf)")
  }

  test("containment join shuffles on shingle values, never block²") {
    val p = plan("q_ngram_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "no block cross-product anywhere in the candidate path")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "candidates come from an EQUI-join of the query-side prefix " +
        "postings against the full index postings on (block, shingle) — " +
        "hash-shuffleable at any scale")
  }

  test("rag IVF twin: probed scoring is a cell equi-join on the " +
    "persisted index, never a corpus product") {
    val p = plan("q_rag_retrieve_ivf")
    // the candidate path is the broadcast-query ⋈ cell-materialized
    // corpus equi-join (the persisted-index read shape); the only
    // nested-loop joins allowed are the 1-row claim-assembly crossJoins
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"probed scoring must be an equi-join on cell:\n$p")
    assert(!p.contains("CartesianProduct"),
      "no corpus-scale cross product in the retrieval path")
  }

  test("learned reranker: corpus untouched past the shortlist, no products") {
    val p = plan("q_rag_rerank_model")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("MapPartitions") || p.contains("mapPartitions"),
      "pair scoring is the batched model-inference hook")
    // one BNLJ is the bruteForceTopK query-broadcast; everything after the
    // shortlist is equi-joins + one per-query WindowGroupLimit-able rank
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1)
  }

  test("preference pairs: one grp-key shuffle drives both windows + join") {
    val p = plan("q_preference_pairs")
    // the election window, the rejected window, and the chosen join all
    // key on grp — hashpartitioning(grp) appears, and the total exchange
    // count stays bounded (grp hash + the final presentation sort); a
    // naive build would re-shuffle per window
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(p.contains("hashpartitioning(grp"), s"grp-keyed shuffle:\n$p")
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("graph queries read the persisted edge artifact, not the corpus") {
    // after the artifact build, the executed plan's scan is the
    // node/edge-sized parquet — the documents table never appears
    val p = plan("q_degree_dist")
    assert(p.contains("link-edge-index"),
      s"scan must hit the appendable edge store:\n$p")
    assert(!p.contains("documents.parquet"),
      "the corpus is only touched by the one-time artifact build")
  }
}
