package graft.ops

import graft.functions.GraftExpressions
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/test decontamination — the cross-corpus face of dedup: find
  * evaluation documents whose content (exact, prefix, or near-duplicate)
  * also appears in the training corpus, so they can be dropped from one
  * side before training. Same scale shapes as the in-corpus dedup
  * operators: one hash shuffle on the fingerprint, or one (band, bucket)
  * shuffle with in-group expansion — never a corpus×corpus join.
  */
object Decontaminate {

  /** Exact/prefix contamination: (test_id, train_id) pairs whose
    * fingerprints collide. `prefixTokens = 0` fingerprints the whole
    * normalized text ([[TextFunctions.fingerprint]]); a positive value
    * fingerprints only the first N tokens — the prefix-matching form
    * benchmark-contamination checks use (an eval prompt quoted at the
    * head of a training document matches even when the tails differ).
    * One equi-join on the fingerprint: shuffle carries ids+hashes only. */
  def exact(train: DataFrame, test: DataFrame, idCol: String,
            textCol: String, prefixTokens: Int = 0): DataFrame = {
    def fp(c: Column): Column =
      if (prefixTokens > 0) {
        // same normalization as the whole-text fingerprint (lowercase,
        // whitespace collapsed) so the two modes agree on what matches —
        // a quoted head differing only in case must still collide
        val norm = lower(regexp_replace(trim(c), "\\s+", " "))
        md5(array_join(slice(TextFunctions.tokens(norm), 1, prefixTokens), " "))
      } else TextFunctions.fingerprint(c)
    test.select(col(idCol).as("test_id"), fp(col(textCol)).as("__fp"))
      .join(train.select(col(idCol).as("train_id"),
        fp(col(textCol)).as("__fp")), "__fp")
      .select(col("test_id"), col("train_id"))
  }

  /** Near contamination via MinHash LSH: (test_id, train_id) candidate
    * pairs sharing any band bucket — the [[MinHashLsh.candidatePairs]]
    * machinery restricted to CROSS-corpus pairs, so in-corpus duplicates
    * (either side) never surface here. One shuffle on (band, bucket); a
    * degenerate bucket (boilerplate collapsing to one signature) pairs
    * each test member with only the first train member — O(|bucket|)
    * pairs that still flag every contaminated test doc. */
  def near(train: DataFrame, test: DataFrame, idCol: String, textCol: String,
           shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
           maxBucket: Int = 1024): DataFrame = {
    val rows = numHashes / bands
    def bb(df: DataFrame, isTest: Boolean) =
      MinHashLsh.bandBuckets(
        MinHashLsh.signatures(df, idCol, textCol, shingleK, numHashes),
        idCol, bands, rows)
        .withColumn("__t", lit(isTest))
    val grouped = bb(test, isTest = true)
      .unionByName(bb(train, isTest = false))
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("__t").as("t")))).as("ms"))
      .withColumn("te", filter(col("ms"), m => m("t")))
      .withColumn("tr", filter(col("ms"), m => !m("t")))
      .where(size(col("te")) > 0 && size(col("tr")) > 0)
    grouped
      .select(GraftExpressions.group_pairs(col("te"), col("tr"), maxBucket))
      .select(col("a.id").as("test_id"), col("b.id").as("train_id"))
      .distinct()
  }

  /** Embedding-space contamination: (test_id, train_id, sim) pairs whose
    * vectors' cosine clears `threshold` within a blocking key — the
    * modality that catches PARAPHRASED eval content no text fingerprint
    * or shingle overlap can see. The (small) eval side is broadcast, so
    * the training corpus is only scanned; the block key bounds the
    * per-row comparison fan-out exactly as [[Similarity.cosineDedup]]'s
    * in-corpus variant does. */
  def nearEmbeddings(train: DataFrame, test: DataFrame, idCol: String,
                     vecCol: String, blockCol: String,
                     threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.norm
    // degenerate vectors make cosine NaN, and Spark evaluates NaN > x as
    // true (total ordering) — without this guard ONE bad train vector
    // would "contaminate" its whole block. Three cases, all excluded by
    // requiring a positive FINITE norm: all-zero (norm 0), NaN elements
    // (norm NaN — which passes a bare `> 0`!), and Inf elements (norm Inf,
    // cosine Inf/Inf = NaN).
    def wellFormed(df: DataFrame) = {
      val n = norm(col(vecCol))
      df.where(!isnan(n) && n > 0 && n < lit(Double.PositiveInfinity))
    }
    val t = Par.spread(wellFormed(train).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(blockCol).as("__blk")))
    val q = wellFormed(test).select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), col(blockCol).as("__blk"))
    // the shared broadcast-scoring shape, KEEPING equal-id pairs: the same
    // id on both sides of two corpora (shared content-hash or doc-id
    // scheme) is verbatim contamination, not a self-hit
    Similarity.scoreAgainst(t, q, "__blk", dropSelf = false)
      .where(col("sim") >= threshold)
      .select(col("query_id").as("test_id"),
        col("neighbor_id").as("train_id"),
        round(col("sim"), 6).as("sim"))
  }
}
