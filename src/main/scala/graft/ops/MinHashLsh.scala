package graft.ops

import graft.functions.GraftExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection: shingle → minhash signature → band
  * → bucket-join.
  *
  * Scale design: candidate generation is a self-join on (band, bucket-hash) —
  * a hash shuffle on the bucket key, never an all-pairs product. With b bands
  * of r rows, docs with Jaccard j collide in some band with probability
  * 1 − (1 − j^r)^b; b=4, r=4 puts the S-curve threshold near j ≈ 0.7. Hashes
  * are md5-keyed so a SQL oracle reproduces them exactly.
  */
object MinHashLsh {


  /** MinHash signature per document: one row per doc with `mh0..mh{n-1}`.
    * Computed by the fused [[graft.functions.MinHashSignature]] expression —
    * one digest pass over the shingles instead of numHashes array
    * traversals; byte-identical to `min(md5(seed ‖ ':' ‖ shingle))`. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numHashes: Int = 16): DataFrame = {
    val sh = shingles(col(textCol), shingleK).as("__sh")
    // shingles nonempty iff the doc has >= k tokens — filter on the cheap
    // token count so the shingle array is computed exactly once.
    val base = Par.spread(docs.select(col(idCol), col(textCol)))
      .where(tokenCount(col(textCol)) >= shingleK)
      .select(col(idCol), sh)
      .select(col(idCol),
        GraftExpressions.minhash_signature(col("__sh"), numHashes).as("__sig"))
    base.select(
      col(idCol) +:
        (0 until numHashes).map(s =>
          element_at(col("__sig"), s + 1).as(s"mh$s")): _*)
  }

  /** Band hashes: (doc, band, bucket) rows; bucket = md5 of the band's
    * concatenated minhashes. */
  def bandBuckets(sigs: DataFrame, idCol: String,
                  bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("bucket"))
        .as(s"__b$b")
    }
    sigs.select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b => col(s"__b$b")): _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-duplicate pairs (a < b): docs sharing any band bucket.
    * Shuffles once on (band, bucket) and expands pairs inside each bucket
    * group — no self-join, so the (md5-heavy) signature subtree is computed
    * exactly once.
    *
    * Bucket groups are near-dup clusters and normally stay small; the
    * degenerate bucket (boilerplate / empty docs collapsing to one
    * signature) would make the in-group expansion quadratic on a single
    * task. Buckets larger than `maxBucket` therefore expand as a STAR
    * around their smallest member — O(|B|) pairs that still link every
    * member into the duplicate cluster (connectivity is what dedup
    * consumes), so no task ever goes quadratic. Within the cap the exact
    * all-pairs semantics are unchanged. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, numHashes: Int = 16,
                     bands: Int = 4, maxBucket: Int = 1024): DataFrame = {
    val rows = numHashes / bands
    val bb = bandBuckets(signatures(docs, idCol, textCol, shingleK, numHashes),
      idCol, bands, rows)
    // NO explicit-N repartition here, deliberately: the incremental face
    // (IncrementalDedup, where AQE coalescing measurably folded the pair
    // expansion to one task) carries its own width override; on this
    // one-shot batch face the expansion is not the hot stage and the r19
    // override regressed q_minhash_lsh ~15% (driver bench + quiet board).
    val grouped = bb
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .where(size(col("ds")) > 1)
    // pairs (ds[i], ds[j]) for i < j; a degenerate bucket fans out from
    // its smallest id (ds is sorted)
    grouped.select(GraftExpressions.group_pairs(col("ds"), maxBucket))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
  }

  /** Corpus-level MinHash signature: the columnwise MIN of per-document
    * signatures. Because each doc signature is already the min over that
    * doc's shingles, the corpus min equals the min over the UNION of all
    * shingles — the signature of the corpus as one giant set. `min` is
    * associative/commutative, so this is one map-side-combined aggregate,
    * sketches of shards merge by taking mins again, and an incremental
    * pipeline can fold new batches in without revisiting old ones.
    * Agreement between two corpus signatures estimates the JACCARD of the
    * corpora's shingle sets — the cheap cross-corpus overlap probe that
    * decides whether a full cross-dedup pass is worth scheduling. */
  def corpusSignature(sigs: DataFrame, numHashes: Int = 16): DataFrame =
    sigs.agg(min(col("mh0")).as("mh0"),
      (1 until numHashes).map(i => min(col(s"mh$i")).as(s"mh$i")): _*)

  /** Shingle sets as 64-bit hashes: xxhash64 is injective w.h.p. (collision
    * odds ~n²/2⁶⁵), so set intersections/Jaccard over the hashes equal those
    * over the strings — while the per-pair intersection cost drops from
    * string hashing to long comparisons. */
  private def hashedShingles(textCol: Column, k: Int): Column =
    sort_array(transform(shingles(textCol, k), s => xxhash64(s)))

  /** Exact n-gram Jaccard similarity for given pairs — the verify step after
    * LSH candidate generation (or, bounded by a blocking key, a standalone
    * exact near-dup pass). */
  def jaccardOfPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                     textCol: String, shingleK: Int = 3): DataFrame = {
    val sh = Par.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), hashedShingles(col(textCol), shingleK).as("__sh"))
    val a = sh.select(col(idCol).as("doc_a"), col("__sh").as("__sha"))
    val b = sh.select(col(idCol).as("doc_b"), col("__sh").as("__shb"))
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", GraftExpressions
        .sorted_intersect_count(col("__sha"), col("__shb")).cast("double"))
      .withColumn("jaccard",
        round(col("inter") /
          (size(col("__sha")) + size(col("__shb")) - col("inter")), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard ≥ threshold within a blocking key.
    *
    * threshold > 0 runs PREFIX-FILTERED candidate generation (Bayardo,
    * Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search"; Xiao
    * et al. PPJoin): with shingle hashes in canonical ascending order, any
    * pair with J ≥ t shares its FIRST matching value inside both docs'
    * (n − ⌈t·n⌉ + 1)-prefixes — so only prefix postings are exploded and
    * equi-joined, a size-ratio filter (t·|B| ≤ |A|) prunes further, and
    * the exact merge-intersection verifies survivors. Output is IDENTICAL
    * to the naive form; the shape is linear in shared-shingle pair density
    * instead of quadratic in block size (the sf0.1→sf1 scale run measured
    * the block-cross-join at 32×/10× — blocks grow with the corpus, so
    * "bounded by the block" was not a scale bound at all).
    *
    * threshold = 0 keeps the all-pairs block join — every pair is in the
    * answer, so no candidate filter can help.
    *
    * '''Exact boundary arithmetic.''' The prefix length and the size-ratio
    * filter are computed in integer arithmetic against a rational
    * UNDER-approximation of the threshold (num/den with den = 10⁶,
    * num = ⌊t·den⌋ − 1): double `ceil(t·n)` inflates when t·n is integral
    * but t is not dyadic (0.1·30 → ceil 4, not 3), silently shortening the
    * prefix below the Bayardo bound, and `|A| ≥ t·|B|` in doubles prunes
    * legal pairs at exact equality. Slightly loose candidate sets are free
    * (the exact merge-intersection verify removes them); a missed pair is a
    * correctness bug — so every boundary rounds toward MORE candidates,
    * which also absorbs the output's round-to-6-decimals tolerance.
    *
    * '''Adaptive small-block fast path.''' Blocks of at most
    * `smallBlockCutoff` docs skip candidate generation and go straight to
    * the all-pairs join + threshold filter: a C-doc block costs ≤ C²/2
    * cheap merge-intersections, below the prefix machinery's explode +
    * equi-join + distinct constant until C is in the hundreds. Total
    * all-pairs work stays ≤ n·C/2 comparisons — linear in corpus size for
    * fixed C — so the measured-sublinear scale shape is preserved while
    * small corpora keep the all-pairs floor. Output is row-identical on
    * either side of the cutoff (spec'd across it in JaccardBlockedSpec). */
  def jaccardBlocked(docs: DataFrame, idCol: String, textCol: String,
                     blockCol: String, shingleK: Int = 3,
                     threshold: Double = 0.0,
                     smallBlockCutoff: Int = 512): DataFrame = {
    require(threshold >= 0.0 && threshold < 1.0, s"bad threshold $threshold")
    require(smallBlockCutoff >= 0, s"bad cutoff $smallBlockCutoff")
    val sh = Par.spread(docs.select(col(idCol), col(blockCol), col(textCol)))
      .select(col(idCol), col(blockCol),
        hashedShingles(col(textCol), shingleK).as("__sh"))
    def verified(pairs: DataFrame): DataFrame =
      pairs
        .join(sh.select(col(idCol).as("doc_a"), col("__sh").as("__sha")),
          "doc_a")
        .join(sh.select(col(idCol).as("doc_b"), col("__sh").as("__shb")),
          "doc_b")
        .withColumn("inter", GraftExpressions
          .sorted_intersect_count(col("__sha"), col("__shb")).cast("double"))
        // two empty shingle sets share nothing: define J(∅,∅) = 0 instead
        // of letting ANSI mode throw on the 0/0
        .withColumn("jaccard", when(
          size(col("__sha")) + size(col("__shb")) - col("inter") > 0.0,
          round(col("inter") /
            (size(col("__sha")) + size(col("__shb")) - col("inter")), 6))
          .otherwise(lit(0.0)))
        .where(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    def allPairs(s: DataFrame): DataFrame = {
      val a = s.select(col(idCol).as("doc_a"), col(blockCol),
        col("__sh").as("__sha"))
      val b = s.select(col(idCol).as("doc_b"), col(blockCol).as("__blk_b"),
        col("__sh").as("__shb"))
      a.join(b,
          col(blockCol) === col("__blk_b") && col("doc_a") < col("doc_b"))
        .withColumn("inter", GraftExpressions
          .sorted_intersect_count(col("__sha"), col("__shb")).cast("double"))
        // two empty shingle sets share nothing: define J(∅,∅) = 0 instead
        // of letting ANSI mode throw on the 0/0
        .withColumn("jaccard", when(
          size(col("__sha")) + size(col("__shb")) - col("inter") > 0.0,
          round(col("inter") /
            (size(col("__sha")) + size(col("__shb")) - col("inter")), 6))
          .otherwise(lit(0.0)))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }
    if (threshold == 0.0) allPairs(sh)
    else {
      // rational under-approximation num/den < threshold (exact in longs):
      // prefix bound ceil(num·n/den) ≤ ceil(t·n) ⇒ prefixes never shorter
      // than Bayardo's; size-ratio in longs never prunes a legal pair; the
      // extra 1e-6 slack covers the round-6 output tolerance
      val den = 1000000L
      val num = math.max(0L, math.floor(threshold * den).toLong - 1L)
      // per-block doc counts (map-side-combined agg); the ONE-ROW max
      // probe decides the plan driver-side: when every block fits the
      // cutoff, skip the prefix machinery entirely — an empty large side
      // still costs its explode/join/distinct stages in scheduler time,
      // which at small corpora dwarfs the all-pairs work itself
      val sizes = sh.groupBy(col(blockCol)).agg(count(lit(1)).as("__bn"))
      val maxBn = sizes.agg(max(col("__bn"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      if (maxBn <= smallBlockCutoff)
        return allPairs(sh).where(col("jaccard") >= threshold)
      val sized = sh.join(sizes, blockCol)
      val small = sized.where(col("__bn") <= smallBlockCutoff).drop("__bn")
      val large = sized.where(col("__bn") > smallBlockCutoff).drop("__bn")
      val smallPairs = allPairs(small).where(col("jaccard") >= threshold)
      val cands = jaccardLargeCands(large, idCol, blockCol, num, den)
      // blocks are wholly small or wholly large, so the two sides
      // partition the pair space — the union is exact, never overlapping
      smallPairs.unionByName(verified(cands))
    }
  }

  /** Prefix-filtered candidate id-pairs for [[jaccardBlocked]]'s
    * large-block side — ONE builder shared with the stats face, so the
    * measured candidate counts can never drift from the operator's
    * actual candidate shape. `large` is the (id, block, __sh) frame of
    * docs in above-cutoff blocks; num/den the rational
    * under-approximation of the threshold. */
  private def jaccardLargeCands(large: DataFrame, idCol: String,
                                blockCol: String, num: Long,
                                den: Long): DataFrame = {
    // ceil(num·n/den) = (num·n + den − 1) div den; operands ≤ 1e6·2³¹
    // stay exact through the double division
    val ceilTn = floor((lit(num) * col("__n") + lit(den - 1L)) / lit(den))
    val posts = large
      .withColumn("__n", size(col("__sh")))
      .select(col(blockCol), col(idCol), col("__n"),
        explode(slice(col("__sh"), lit(1),
          (col("__n") - ceilTn + 1).cast("int"))).as("__v"))
    posts
      .select(col(blockCol), col(idCol).as("doc_a"),
        col("__n").as("__na"), col("__v"))
      .join(posts.select(col(blockCol).as("__blk_b"),
          col(idCol).as("doc_b"), col("__n").as("__nb"),
          col("__v").as("__vb")),
        col(blockCol) === col("__blk_b") && col("__v") === col("__vb") &&
          col("doc_a") < col("doc_b") &&
          // size-ratio filter: J ≥ t forces t·|B| ≤ |A| ≤ |B|/t,
          // relaxed to num/den and tested in exact long arithmetic
          col("__na") * lit(den) >= lit(num) * col("__nb") &&
          col("__nb") * lit(den) >= lit(num) * col("__na"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact n-gram CONTAINMENT within a blocking key: ordered pairs
    * (doc_a, doc_b) with C(a→b) = |Sh(a) ∩ Sh(b)| / |Sh(a)| ≥
    * `threshold` — the asymmetric twin of [[jaccardBlocked]], and the
    * dedup face Jaccard structurally misses: a short document embedded
    * whole in a long one (a quote-inclusion, a boilerplate-wrapped
    * repost, a chunk of a larger page) has containment ≈ 1 while its
    * Jaccard is diluted by the long side's union. An empty shingle set
    * contains nothing (C undefined ⇒ excluded), and every doc trivially
    * contains itself, so self-pairs are dropped.
    *
    * '''Scale path''' (the set-containment-join prefix filter —
    * asymmetric where Bayardo's is symmetric): C(a→b) ≥ t needs
    * overlap ≥ ⌈t·|a|⌉, which depends on the QUERY side's size only. So
    * only the query side posts a prefix (canonical hash order, length
    * |a| − ⌈t·|a|⌉ + 1 — missing all of it caps overlap at ⌈t·|a|⌉ − 1);
    * the INDEX side posts every shingle, because the partner-size-
    * dependent bound ⌈t·|a|⌉ cannot shorten b's postings without knowing
    * |a| first. Candidates are the block-local inverted-index join of
    * the two, plus the size filter |b| ≥ ⌈t·|a|⌉ (b cannot hold t·|a|
    * shared shingles with fewer rows than that); the exact
    * merge-intersection verify then scores them. Same exact rational
    * boundary arithmetic as [[jaccardBlocked]] (under-approximate
    * num/den, every bound rounds toward MORE candidates), and the same
    * adaptive small-block all-pairs fast path. */
  def containmentBlocked(docs: DataFrame, idCol: String, textCol: String,
                         blockCol: String, shingleK: Int = 3,
                         threshold: Double = 0.0,
                         smallBlockCutoff: Int = 512): DataFrame = {
    require(threshold >= 0.0 && threshold < 1.0, s"bad threshold $threshold")
    require(smallBlockCutoff >= 0, s"bad cutoff $smallBlockCutoff")
    // __ne = the CHEAP nonempty test (tokens ≥ k ⟺ shingles nonempty —
    // the [[signatures]] equivalence): filtering the query side on
    // size(__sh) > 0 let the optimizer substitute the whole xxhash
    // shingle transform into a filter PUSHED BELOW Par.spread's exchange,
    // running it in the 1–2 parquet scan tasks (measured 1.3–1.4 s
    // single-task stage in q_ngram_containment). The token count splits
    // the text once but hashes nothing.
    val sh = Par.spread(docs.select(col(idCol), col(blockCol), col(textCol)))
      .select(col(idCol), col(blockCol),
        hashedShingles(col(textCol), shingleK).as("__sh"),
        (tokenCount(col(textCol)) >= shingleK).as("__ne"))
    // C = inter/|a| is UNDEFINED for an empty query side — those rows
    // are excluded in every face (even threshold = 0), not scored 0:
    // "the empty doc is contained in nothing" and "contains nothing"
    // both hold vacuously, and emitting a 0 row would invent a
    // similarity judgment about a doc with no shingles. The filter
    // also keeps the division away from ANSI 0/0.
    def scoreExpr = round(col("inter") / size(col("__sha")), 6)
    def verified(pairs: DataFrame): DataFrame =
      pairs
        .join(sh.where(col("__ne"))
          .select(col(idCol).as("doc_a"), col("__sh").as("__sha")),
          "doc_a")
        .join(sh.select(col(idCol).as("doc_b"), col("__sh").as("__shb")),
          "doc_b")
        .withColumn("inter", GraftExpressions
          .sorted_intersect_count(col("__sha"), col("__shb")).cast("double"))
        .withColumn("containment", scoreExpr)
        .where(col("containment") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("containment"))
    def allPairs(s: DataFrame): DataFrame = {
      val a = s.where(col("__ne"))
        .select(col(idCol).as("doc_a"), col(blockCol),
          col("__sh").as("__sha"))
      val b = s.select(col(idCol).as("doc_b"), col(blockCol).as("__blk_b"),
        col("__sh").as("__shb"))
      a.join(b,
          col(blockCol) === col("__blk_b") && col("doc_a") =!= col("doc_b"))
        .withColumn("inter", GraftExpressions
          .sorted_intersect_count(col("__sha"), col("__shb")).cast("double"))
        .withColumn("containment", scoreExpr)
        .select(col("doc_a"), col("doc_b"), col("containment"))
    }
    if (threshold == 0.0) allPairs(sh)
    else {
      val den = 1000000L
      val num = math.max(0L, math.floor(threshold * den).toLong - 1L)
      val sizes = sh.groupBy(col(blockCol)).agg(count(lit(1)).as("__bn"))
      val maxBn = sizes.agg(max(col("__bn"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      if (maxBn <= smallBlockCutoff)
        return allPairs(sh).where(col("containment") >= threshold)
      val sized = sh.join(sizes, blockCol)
      val small = sized.where(col("__bn") <= smallBlockCutoff).drop("__bn")
      val large = sized.where(col("__bn") > smallBlockCutoff).drop("__bn")
      val smallPairs = allPairs(small).where(col("containment") >= threshold)
      val cands = containmentLargeCands(large, idCol, blockCol, num, den)
      smallPairs.unionByName(verified(cands))
    }
  }

  /** [[containmentBlocked]]'s large-block candidate id-pairs — the
    * asymmetric set-containment prefix filter, ONE builder shared with
    * the stats face (same no-drift contract as [[jaccardLargeCands]]). */
  private def containmentLargeCands(large: DataFrame, idCol: String,
                                    blockCol: String, num: Long,
                                    den: Long): DataFrame = {
    // o = ⌈num·|a|/den⌉ ≤ ⌈t·|a|⌉ — the required-overlap bound,
    // under-approximated so the prefix is never shorter than exact
    val ceilTn = floor((lit(num) * col("__n") + lit(den - 1L)) / lit(den))
    val queryPosts = large
      .withColumn("__n", size(col("__sh")))
      .select(col(blockCol), col(idCol).as("doc_a"),
        col("__n").as("__na"),
        explode(slice(col("__sh"), lit(1),
          (col("__n") - ceilTn + 1).cast("int"))).as("__v"))
    val indexPosts = large
      .withColumn("__nb", size(col("__sh")))
      .select(col(blockCol).as("__blk_b"), col(idCol).as("doc_b"),
        col("__nb"), explode(col("__sh")).as("__vb"))
    queryPosts
      .join(indexPosts,
        col(blockCol) === col("__blk_b") && col("__v") === col("__vb") &&
          col("doc_a") =!= col("doc_b") &&
          // |b| ≥ ⌈t·|a|⌉, tested in exact long arithmetic on the
          // under-approximation (never prunes a legal pair)
          col("__nb") * lit(den) >= lit(num) * col("__na"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Candidate-volume diagnostics for the prefix-filtered dedup faces —
    * the measure-don't-assert half of the scale adjudication (r17
    * verdict #1): one row of COUNTS, no verify work, so a per-SF timing
    * ratio decomposes into candidates/doc (data structure — how block
    * density grows in the corpus) × seconds/candidate (engine). The
    * candidate frames come from the SAME private builders the operators
    * run ([[jaccardLargeCands]]/[[containmentLargeCands]]); the
    * small-block side is counted arithmetically from block sizes — the
    * all-pairs fast path admits every in-block pair by construction
    * (jaccard: n·(n−1)/2 unordered; containment: nonempty·(n−1)
    * ordered).
    *
    * Columns: n_docs (docs with a shingle row — the operator's working
    * set), n_blocks, max_block, n_cand_small, n_cand_large,
    * n_candidates. */
  def candidateStats(docs: DataFrame, idCol: String, textCol: String,
                     blockCol: String, containment: Boolean,
                     shingleK: Int = 3, threshold: Double = 0.6,
                     smallBlockCutoff: Int = 512): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, s"bad threshold $threshold")
    val sh = Par.spread(docs.select(col(idCol), col(blockCol), col(textCol)))
      .select(col(idCol), col(blockCol),
        hashedShingles(col(textCol), shingleK).as("__sh"))
    val den = 1000000L
    val num = math.max(0L, math.floor(threshold * den).toLong - 1L)
    val sizes = sh.groupBy(col(blockCol)).agg(
      count(lit(1)).as("__bn"),
      sum(when(size(col("__sh")) > 0, 1L).otherwise(0L)).as("__bne"))
    // n·(n−1) is even, so the /2 is exact — cast back from Spark's
    // always-double division to keep the counts integral
    val smallCand =
      if (containment) col("__bne") * (col("__bn") - 1L)
      else (col("__bn") * (col("__bn") - 1L) / 2L).cast("long")
    val blockAgg = sizes.agg(
      coalesce(sum(col("__bn")), lit(0L)).as("n_docs"),
      count(lit(1)).as("n_blocks"),
      coalesce(max(col("__bn")), lit(0L)).as("max_block"),
      coalesce(sum(when(col("__bn") <= smallBlockCutoff, smallCand)
        .otherwise(0L)), lit(0L)).as("n_cand_small"))
    val large = sh.join(
      sizes.where(col("__bn") > smallBlockCutoff).select(col(blockCol)),
      blockCol)
    val largeCands =
      if (containment) containmentLargeCands(large, idCol, blockCol, num, den)
      else jaccardLargeCands(large, idCol, blockCol, num, den)
    blockAgg.crossJoin(largeCands.agg(count(lit(1)).as("n_cand_large")))
      .withColumn("n_candidates", col("n_cand_small") + col("n_cand_large"))
  }

  /** [[candidatePairs]]' volume diagnostics: one row — n_docs (signed
    * docs), n_buckets (multi-member band buckets), n_bucket_pairs (pairs
    * the bucket expansion emits BEFORE the distinct, the capped
    * n·(n−1)/2-or-star arithmetic of the operator), so the LSH scale
    * curve decomposes like the prefix-filtered twins'. */
  def candidatePairStats(docs: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 3, numHashes: Int = 16,
                         bands: Int = 4, maxBucket: Int = 1024): DataFrame = {
    val rows = numHashes / bands
    val sigs = signatures(docs, idCol, textCol, shingleK, numHashes)
    val bb = bandBuckets(sigs, idCol, bands, rows)
    val grouped = bb.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1)
    val pairsOf = when(col("__n") <= maxBucket,
      (col("__n") * (col("__n") - 1L) / 2L).cast("long"))
      .otherwise(col("__n") - 1L)
    sigs.agg(count(lit(1)).as("n_docs")).crossJoin(
      grouped.agg(coalesce(count(lit(1)), lit(0L)).as("n_buckets"),
        coalesce(sum(pairsOf), lit(0L)).as("n_bucket_pairs")))
  }
}
