package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98)
  * — the diversity pass a RAG retriever runs on its top-k shortlist:
  * greedily pick the candidate maximizing
  * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, so near-duplicate
  * passages don't crowd the context window.
  *
  * '''Scale shape.''' MMR is inherently sequential in the SELECTION
  * dimension (n picks) but embarrassingly parallel in the QUERY
  * dimension: each round is one bounded join (shortlist × selected-so-far,
  * both ≤ shortlist-size per query) plus one max_by per query — n rounds
  * of node-small DataFrame ops over however many million queries ride the
  * batch. The corpus is never touched: re-ranking consumes the ANN/BM25
  * shortlist, which is where the 100 TB went.
  *
  * '''Determinism.''' Pairwise cosines are fixed expression trees; the
  * penalty is a MAX over selected (order-independent, exact for
  * doubles); ties break to the smaller candidate id. `lam`/`lamComp` are
  * taken as two explicit literals rather than computing `1−λ` (whose IEEE
  * value can differ from the SQL literal the oracle writes).
  */
object Mmr {

  /** Greedy-select `n` rows per query from a candidate shortlist.
    * `cands`: one row per (query, candidate) with a relevance score and
    * the candidate's embedding; candidate ids may be any orderable type
    * (numeric doc ids or string chunk keys — the tie-break never negates
    * them). Returns (queryCol, step, candCol, relCol, mmr_score). */
  def rerank(cands: DataFrame, queryCol: String, candCol: String,
             relCol: String, vecCol: String, n: Int,
             lam: Double, lamComp: Double): DataFrame = {
    require(n >= 1 && n <= 64, s"bad selection count $n")
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // materialize the shortlist ONCE at entry: step 1 self-joins
    // `remaining` with its own projection (penalty side) and then
    // anti-joins it again, so a lazy `cands` re-runs the caller's
    // (typically expensive — brute-force top-k) subtree three times in
    // the first round alone (measured 2 × ~1.4 s re-derivations in
    // q_rag_mmr). Shortlist-sized, same discipline as the per-round
    // materializations below.
    var remaining = Materialize(cands)
    for (step <- 1 to n) {
      val pen = picks.reduceOption(_.unionByName(_)) match {
        case None => remaining
          .select(col(queryCol), col(candCol), lit(0.0).as("__pen"))
        case Some(sel) =>
          remaining.join(sel.select(col(queryCol), col(vecCol).as("__sv")),
              Seq(queryCol))
            .select(col(queryCol), col(candCol),
              VectorFunctions.cosine(col(vecCol), col("__sv")).as("__s"))
            .groupBy(col(queryCol), col(candCol))
            .agg(max(col("__s")).as("__pen"))
      }
      val scored = remaining.join(pen, Seq(queryCol, candCol))
        .withColumn("__score",
          lit(lam) * col(relCol) - lit(lamComp) * col("__pen"))
      // min_by over (−score, id): largest score, then SMALLEST candidate id
      // — negating the score (always numeric) instead of the id lets string
      // chunk keys (the realistic RAG store) work unchanged (same shape as
      // KnnOps' vote tie-break). Shortlist-sized: materialized per round,
      // cutting the plan — without this, `remaining`'s anti-join chain
      // re-derives every prior round per reference and the plan grows
      // exponentially with n (the PageRank/HITS iterative discipline;
      // measured 6.1 s → sub-second at sf0.1 for n=5)
      val pick = Materialize(scored.groupBy(col(queryCol))
        .agg(min_by(
          struct(col(candCol), col(relCol), col(vecCol), col("__score")),
          struct((lit(0.0) - col("__score")).as("__ns"), col(candCol)))
          .as("__p"))
        .select(col(queryCol), col(s"__p.$candCol").as(candCol),
          col(s"__p.$relCol").as(relCol), col(s"__p.$vecCol").as(vecCol),
          col("__p.__score").as("__score"))
        .withColumn("step", lit(step.toLong)))
      picks += pick
      // drop the SUPERSEDED remaining's blocks once the next round's
      // remaining is materialized from it: without this every round's
      // blocks linger until ContextCleaner GC — memory pressure for large
      // shortlists or repeated rerank calls in one session
      val prevRemaining = remaining
      remaining = Materialize(remaining.join(
        pick.select(col(queryCol), col(candCol)), Seq(queryCol, candCol),
        "left_anti"))
      Materialize.release(prevRemaining)
    }
    // the result is ONE materialization of the n picks, so every per-round
    // one — picks and the final remaining — is freed here and a call
    // leaves one persisted RDD behind whatever n is
    val out = Materialize(picks.reduce(_.unionByName(_)).select(
      col(queryCol), col("step"), col(candCol), col(relCol),
      round(col("__score"), 6).as("mmr_score")))
    Materialize.release(remaining +: picks.toSeq: _*)
    out
  }
}
