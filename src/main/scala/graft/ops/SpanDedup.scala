package graft.ops

import graft.functions.GraftExpressions
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact shared-substring (span-level) deduplication — the passage
  * modality document-level MinHash/SimHash cannot see: a 2 kB boilerplate
  * block embedded in an otherwise-unique 100 kB page leaves the doc-level
  * Jaccard far below any near-dup threshold, yet it is the single most
  * common contamination shape in web corpora ("Deduplicating Training Data
  * Makes Language Models Better", Lee et al. 2022, motivates removing
  * repeated passages, not repeated documents).
  *
  * Scale design (no suffix array — that needs global order): winnowing
  * fingerprints with POSITIONS (Schleimer et al., MOSS) as the candidate
  * primitive. The guarantee: any shared token run of length ≥ k+w−1
  * selects at least one identical (hash, relative-position) fingerprint in
  * both documents — window minima are a function of window CONTENT, so the
  * two docs agree inside a shared run. The pipeline is:
  *
  *  1. postings: one scan emitting the selected (hash → doc, pos) rows —
  *     an inverted index, exploded from a scalar expression chain.
  *  2. candidates: groupBy(hash) + in-group pair expansion (the
  *     [[MinHashLsh.candidatePairs]] discipline: ONE hash shuffle, never a
  *     self-join; degenerate hot hashes — 1M docs sharing one boilerplate
  *     block — expand as a star around the smallest posting, which thins
  *     the pair LIST but still anchors every doc's span against the hub,
  *     so per-doc excision stays complete). Distinct (doc_a, doc_b,
  *     diagonal) alignments survive.
  *  3. extension: join both docs' token arrays (two co-partitioned joins
  *     on doc id) and fold once along the alignment diagonal, emitting
  *     every maximal shared run ≥ minTokens — EXACT spans, so md5
  *     collisions in the anchors are filtered out here, and runs longer
  *     than the anchor window extend to their true boundaries.
  *
  * Everything is codegen'd built-ins; cost is one shuffle for the postings
  * group, one distinct, and a per-candidate-diagonal fold bounded by the
  * overlap length. Reference analog: the broker dedups whole messages by
  * producer sequence (pulsar-broker/.../persistent/MessageDeduplication.java);
  * spans are the sub-message refinement a training-data pipeline needs.
  */
object SpanDedup {

  /** Selected winnowing fingerprints WITH their k-gram start positions
    * (1-based), as an array of (h, pos) structs over a PRE-BOUND k-gram
    * hash array column: every window of `w` consecutive hashes contributes
    * its minimum, positioned at that minimum's leftmost in-window
    * occurrence (content-determined, so two docs sharing a run agree on
    * it). Shorter docs select all hashes. `hs` must be a bound attribute,
    * not an inline subtree — higher-order-function lambdas re-evaluate
    * their body per element, so an inline gram-hash subtree would redo
    * every md5 once per window (measured 6× the whole pipeline's cost). */
  private def winnowFromHashes(hs: Column, w: Int): Column = {
    val empty = array().cast("array<struct<h:string,pos:bigint>>")
    val all = transform(sequence(lit(1), size(hs)),
      i => struct(element_at(hs, i).as("h"), i.cast("long").as("pos")))
    val wins = transform(sequence(lit(0), size(hs) - w), i => {
      val win = slice(hs, i + 1, lit(w))
      val m = array_min(win)
      struct(m.as("h"), (array_position(win, m) + i).as("pos"))
    })
    array_distinct(
      when(size(hs) === 0, empty)
        .when(size(hs) < w, all)
        .otherwise(wins))
  }

  /** The exploded inverted index: one (idCol, h, pos) row per selected
    * fingerprint — the only row blow-up in the pipeline, ~|tokens|/w rows
    * per document. The gram-hash array is materialized as its own
    * projection column first (CollapseProject keeps a non-trivial,
    * multiply-referenced alias staged), so the window lambdas see a bound
    * attribute and each gram is hashed exactly once. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 5, w: Int = 3): DataFrame =
    Par.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        transform(TextFunctions.ngramsAll(col(textCol), k), g => md5(g))
          .as("__hs"))
      .select(col(idCol), explode(winnowFromHashes(col("__hs"), w)).as("p"))
      .select(col(idCol), col("p.h").as("h"), col("p.pos").as("pos"))

  /** Distinct candidate alignments (doc_a < doc_b, d = pos_b − pos_a):
    * pairs of postings sharing a fingerprint hash, expanded inside the
    * hash group. Same-document collisions (internal repetition) are
    * dropped — in-document dedup is a different operator. */
  private def candidates(post: DataFrame, idCol: String,
                         maxPostings: Int): DataFrame = {
    val grouped = post
      .groupBy("h")
      .agg(sort_array(collect_list(struct(col(idCol).as("i"), col("pos").as("p"))))
        .as("ps"))
      .where(size(col("ps")) > 1)
    // hot hash: star around the smallest posting — O(|group|) candidates
    grouped
      .select(GraftExpressions.group_pairs(col("ps"), maxPostings))
      .where(col("a.i") =!= col("b.i"))
      .select(col("a.i").as("doc_a"), col("b.i").as("doc_b"),
        (col("b.p") - col("a.p")).as("d"))
      .distinct()
  }

  /** All maximal shared token runs of length ≥ `minTokens` between any two
    * documents, as (doc_a, doc_b, a_start, b_start, span_len) with 1-based
    * token positions and doc_a < doc_b. Complete for `minTokens ≥ k+w−1`
    * (the winnowing guarantee); anchors are verified against the actual
    * tokens, so the output is exact, not probabilistic. `maxPostings` caps
    * a degenerate fingerprint group (global boilerplate) to a star — the
    * pair list thins, but every document still aligns against the group's
    * hub, so which TOKENS are duplicated is still fully determined. */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 8, k: Int = 5, w: Int = 3,
                  maxPostings: Int = 1024): DataFrame = {
    require(minTokens >= k + w - 1,
      s"minTokens must be >= k+w-1 = ${k + w - 1} for the winnowing " +
        "guarantee to make span discovery complete")
    val cand = candidates(postings(docs, idCol, textCol, k, w), idCol,
      maxPostings)
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("__t"))
    extendDiagonals(cand,
      toks.select(col(idCol).as("doc_a"), col("__t").as("ta")),
      toks.select(col(idCol).as("doc_b"), col("__t").as("tb")), minTokens)
  }

  /** The verification/extension stage shared by [[sharedSpans]] and
    * [[crossSpans]]: for each candidate alignment (doc_a, doc_b, d), fold
    * once along the diagonal over the token overlap and emit every maximal
    * true-run of the match predicate ≥ minTokens — exact spans from the
    * actual tokens. */
  private def extendDiagonals(cand: DataFrame, toksA: DataFrame,
                              toksB: DataFrame, minTokens: Int): DataFrame = {
    val withToks = cand.join(toksA, "doc_a").join(toksB, "doc_b")

    // fold once along the diagonal over the overlap [lo, hi]: token i of a
    // aligns with token i+d of b; maximal true-runs of the match predicate
    // are the spans. The accumulator carries (current run start, current
    // run length, emitted spans).
    val lo = greatest(lit(1L), lit(1L) - col("d"))
    val hi = least(size(col("ta")).cast("long"),
      size(col("tb")).cast("long") - col("d"))
    val emptySpans = array().cast("array<struct<a_start:bigint,len:bigint>>")
    def closed(acc: Column): Column = {
      val spans = acc.getField("spans")
      when(acc.getField("len") >= minTokens,
        concat(spans, array(struct(acc.getField("start").as("a_start"),
          acc.getField("len").as("len")))))
        .otherwise(spans)
    }
    val spans = aggregate(
      when(hi >= lo, sequence(lo, hi)).otherwise(array().cast("array<bigint>")),
      struct(lit(0L).as("start"), lit(0L).as("len"), emptySpans.as("spans")),
      (acc, i) => {
        val m = element_at(col("ta"), i.cast("int")) ===
          element_at(col("tb"), (i + col("d")).cast("int"))
        when(m, struct(
          when(acc.getField("len") === 0L, i).otherwise(acc.getField("start"))
            .as("start"),
          (acc.getField("len") + 1L).as("len"),
          acc.getField("spans").as("spans")))
          .otherwise(struct(lit(0L).as("start"), lit(0L).as("len"),
            closed(acc).as("spans")))
      },
      acc => closed(acc))

    withToks
      .select(col("doc_a"), col("doc_b"), col("d"), explode(spans).as("s"))
      .select(col("doc_a"), col("doc_b"),
        col("s.a_start").as("a_start"),
        (col("s.a_start") + col("d")).as("b_start"),
        col("s.len").as("span_len"))
  }

  /** Cross-corpus shared spans — span-level DECONTAMINATION: evaluation
    * passages quoted anywhere inside training documents (or vice versa),
    * the modality prefix fingerprints miss when the quote is not at the
    * head and doc-level LSH misses when the quote is small relative to the
    * document. Same machinery as [[sharedSpans]], but candidate pairs are
    * generated only ACROSS the two corpora (a fingerprint bucket pairs its
    * test members with its train members, never within one side), and ids
    * may coincide across corpora — two different corpora, so an equal id
    * is contamination, not a self-hit ([[Decontaminate]] convention).
    * Returns (test_id, train_id, test_start, train_start, span_len).
    * `maxBucket` caps a degenerate bucket's te×tr product to a star around
    * the first train member — every contaminated test doc still aligns,
    * only the pair list thins. */
  def crossSpans(train: DataFrame, test: DataFrame, idCol: String,
                 textCol: String, minTokens: Int = 8, k: Int = 5, w: Int = 3,
                 maxBucket: Int = 1024): DataFrame = {
    require(minTokens >= k + w - 1,
      s"minTokens must be >= k+w-1 = ${k + w - 1} for the winnowing " +
        "guarantee to make span discovery complete")
    val te = postings(test, idCol, textCol, k, w).withColumn("__t", lit(true))
    val tr = postings(train, idCol, textCol, k, w).withColumn("__t", lit(false))
    val grouped = te.unionByName(tr)
      .groupBy("h")
      .agg(sort_array(collect_list(struct(col(idCol).as("i"),
        col("pos").as("p"), col("__t").as("t")))).as("ms"))
      .withColumn("te", filter(col("ms"), m => m("t")))
      .withColumn("tr", filter(col("ms"), m => !m("t")))
      .where(size(col("te")) > 0 && size(col("tr")) > 0)
    val cand = grouped
      .select(GraftExpressions.group_pairs(col("te"), col("tr"), maxBucket))
      .select(col("a.i").as("doc_a"), col("b.i").as("doc_b"),
        (col("b.p") - col("a.p")).as("d"))
      .distinct()
    extendDiagonals(cand,
      test.select(col(idCol).as("doc_a"),
        TextFunctions.tokens(col(textCol)).as("ta")),
      train.select(col(idCol).as("doc_b"),
        TextFunctions.tokens(col(textCol)).as("tb")), minTokens)
      .select(col("doc_a").as("test_id"), col("doc_b").as("train_id"),
        col("a_start").as("test_start"), col("b_start").as("train_start"),
        col("span_len"))
  }

  /** Span-level excision decisions: each shared span is cut from the
    * LARGER doc of its pair (the canonical copy survives in the pair's
    * smaller id — transitively, a duplicated passage survives only in the
    * smallest doc that carries it). Overlapping and adjacent cuts within a
    * doc merge into one interval: (doc_id, cut_start, cut_end) inclusive
    * 1-based token positions. One window shuffle, partitioned by doc. */
  def excisions(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct BEFORE the window: many partners assert the identical cut on
    // one doc, and duplicate (s, e) rows make the running-max/running-sum
    // pair order-dependent under engines whose window tie order is unstable
    // (observed in DuckDB); distinct rows give (s, e) a total order.
    val cuts = spans.select(col("doc_b").as("doc_id"),
      col("b_start").as("s"), (col("b_start") + col("span_len") - 1).as("e"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(
      when(prevMax.isNull || col("s") > prevMax + 1L, 1L).otherwise(0L))
      .over(byDoc)
    cuts.withColumn("__isl", island)
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("s")).as("cut_start"), max(col("e")).as("cut_end"))
      .select(col("doc_id"), col("cut_start"), col("cut_end"),
        (col("cut_end") - col("cut_start") + 1L).as("cut_tokens"))
  }
}
