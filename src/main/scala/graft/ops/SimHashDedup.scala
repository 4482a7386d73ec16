package graft.ops

import graft.functions.GraftExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 16-bit token-weighted fingerprints,
  * candidate pairs via the pigeonhole block trick (hamming ≤ k ⇒ two docs
  * share at least one of k+1 fingerprint blocks), exact hamming verify with
  * bit_count(xor).
  *
  * Scale shape mirrors [[MinHashLsh]]: one shuffle on (block, value), pair
  * expansion inside bucket groups, no self-join — the fingerprint subtree is
  * computed exactly once.
  */
object SimHashDedup {

  /** 16-bit SimHash per document: md5-nibble token hashes vote ±1 per bit;
    * the sign of each bit's vote sum forms the fingerprint (reproducible in
    * SQL — see the q_simhash oracle). */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .withColumn("__h", hash16(col("__tok")))
    val votes = (0 until 16).map(j => sum(simhashVote(col("__h"), j)).as(s"__v$j"))
    toks.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        simhashFromVotes((0 until 16).map(j => col(s"__v$j"))).as("simhash"))
  }

  /** Near-duplicate pairs (a < b) with hamming(simhash) ≤ maxHamming.
    * maxHamming+1 blocks of 16/(maxHamming+1) bits each guarantee every
    * qualifying pair shares a block — candidates never go all-pairs.
    *
    * A bucket larger than `maxBucket` (boilerplate collapsing onto few
    * fingerprints) switches from all-pairs to a bounded expansion that still
    * preserves component structure under the hamming filter: members with
    * the SAME fingerprint link as a star around their smallest id (hamming
    * 0, always kept), and one representative per distinct fingerprint joins
    * a rep-level all-pairs — bounded by the fingerprint space 2^(16−width),
    * not the document count. Any qualifying pair (x, y) is then connected
    * x—rep(x)—rep(y)—y, so dedup connectivity survives even when both
    * members are far from the bucket minimum. */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 1, maxBucket: Int = 1024): DataFrame = {
    val blocks = maxHamming + 1
    require(16 % blocks == 0, s"16 bits must split evenly into $blocks blocks")
    val width = 16 / blocks
    val mask = (1 << width) - 1
    val sh = simhash16(docs, idCol, textCol)
    val melted = sh.select(col(idCol), col("simhash"),
      explode(array((0 until blocks).map(i => struct(
        lit(i).as("blk"),
        shiftright(col("simhash"), i * width).bitwiseAND(mask).as("v")
      )): _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.blk"), col("b.v"))
    // ONE shuffle on (block, value); the grouped output is |buckets| rows —
    // tiny — so splitting it into filtered branches costs nothing (the
    // exchange below the aggregate is canonically identical and reused).
    // explicit-N keyed repartition (the [[Par.byCols]] rationale): it
    // REPLACES the aggregate's own exchange but is exempt from AQE
    // byte-based coalescing, which folded the small-bytes/high-CPU
    // in-bucket pair expansion to ~2 tasks (measured 0.5 s 2-task stage
    // when the expansion was an interpreted higher-order-function tree;
    // whether the native expansion still needs the width is unmeasured).
    // 512 distinct (blk, v) keys spread fine over the conf-driven N.
    val grouped = melted
      .repartition(melted.sparkSession.sessionState.conf.numShufflePartitions,
        col("blk"), col("v"))
      .groupBy(col("blk"), col("v"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"),
        col("simhash").as("sh")))).as("ds"))
      .where(size(col("ds")) > 1)
    // exact branch: every member against every member (the common case)
    val exact = grouped.where(size(col("ds")) <= maxBucket)
      .select(GraftExpressions.group_pairs(col("ds")))
    // capped branch: a degenerate bucket concentrates on FEW fingerprints —
    // per-fingerprint stars (hamming 0; the self form with cap 1 is the
    // star around each group's smallest id) plus an all-pairs over one
    // representative per distinct fingerprint, bounded by the fingerprint
    // space 2^(16−width), not the document count. Any qualifying pair (x, y)
    // stays connected x—rep(x)—rep(y)—y. The members projection scans the
    // bucket once per distinct fingerprint.
    val members = grouped.where(size(col("ds")) > maxBucket)
      .select(transform(
        array_sort(array_distinct(transform(col("ds"), x => x.getField("sh")))),
        s => filter(col("ds"), x => x.getField("sh") === s)).as("members"))
    val stars = members.select(explode(col("members")).as("m"))
      .select(GraftExpressions.group_pairs(col("m"), 1))
    val reps = members.select(GraftExpressions.group_pairs(
      sort_array(transform(col("members"), m => element_at(m, 1)))))
    exact.union(stars).union(reps)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
