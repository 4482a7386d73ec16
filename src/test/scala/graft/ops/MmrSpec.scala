package graft.ops

import graft.SparkSuite

/** [[Mmr]] — greedy maximal-marginal-relevance selection. */
class MmrSpec extends SparkSuite {
  import spark.implicits._

  // candidates for one query: 1 and 2 are near-duplicates (same direction),
  // 3 is orthogonal with lower relevance
  private def cands = Seq(
    (0L, 1L, 0.99, Seq(1.0, 0.0)),
    (0L, 2L, 0.98, Seq(1.0, 0.001)),
    (0L, 3L, 0.50, Seq(0.0, 1.0)))
    .toDF("query_id", "cand_id", "rel", "vec")

  test("diversity beats a near-duplicate at step 2") {
    val out = Mmr.rerank(cands, "query_id", "cand_id", "rel", "vec",
        n = 3, lam = 0.7, lamComp = 0.3)
      .orderBy("step").select("step", "cand_id")
      .as[(Long, Long)].collect().toSeq
    // step1: best rel (1). step2: cand 2 scores .7*.98 − .3*cos(2,1)≈.386,
    // cand 3 scores .7*.5 − 0 = .35 … 2 still wins here; with a harsher
    // λ the orthogonal one would win — assert the greedy order is exact
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    assert(out.head._2 == 1L, "step 1 is pure relevance")
  }

  test("low lambda prefers the orthogonal candidate at step 2") {
    val out = Mmr.rerank(cands, "query_id", "cand_id", "rel", "vec",
        n = 2, lam = 0.3, lamComp = 0.7)
      .orderBy("step").select("cand_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L),
      "with diversity weighted up, the near-dup of the first pick loses")
  }

  test("per-query independence and deterministic tie-breaks") {
    val two = cands.unionByName(
      Seq((1L, 7L, 0.9, Seq(0.5, 0.5)), (1L, 8L, 0.9, Seq(0.5, 0.5)))
        .toDF("query_id", "cand_id", "rel", "vec"))
    val out = Mmr.rerank(two, "query_id", "cand_id", "rel", "vec",
        n = 1, lam = 0.7, lamComp = 0.3)
      .orderBy("query_id").select("query_id", "cand_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 1L), (1L, 7L)),
      "equal scores break to the smaller candidate id, per query")
  }

  test("string candidate ids: tie-break never negates the id") {
    // the realistic RAG case — chunk-store keys are strings; pre-r10 the
    // tie-break computed 0L - cand_id and threw at analysis time
    val sc = Seq(
      (0L, "chunk-a", 0.99, Seq(1.0, 0.0)),
      (0L, "chunk-b", 0.98, Seq(1.0, 0.001)),
      (0L, "chunk-c", 0.50, Seq(0.0, 1.0)),
      (1L, "k2", 0.9, Seq(0.5, 0.5)),
      (1L, "k10", 0.9, Seq(0.5, 0.5)))
      .toDF("query_id", "cand_id", "rel", "vec")
    val out = Mmr.rerank(sc, "query_id", "cand_id", "rel", "vec",
        n = 2, lam = 0.3, lamComp = 0.7)
      .orderBy("query_id", "step").select("query_id", "cand_id")
      .as[(Long, String)].collect().toSeq
    assert(out.take(2) == Seq((0L, "chunk-a"), (0L, "chunk-c")),
      "diversity pass works unchanged over string keys")
    assert(out(2) == ((1L, "k10")),
      "equal scores break to the lexicographically smaller string id")
  }

  test("per-round checkpoints are released: persisted RDDs do not grow with n") {
    val sc = spark.sparkContext
    def leftBehind(n: Int): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = Mmr.rerank(cands, "query_id", "cand_id", "rel", "vec",
        n = n, lam = 0.7, lamComp = 0.3)
      assert(out.count() == n)
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val one = leftBehind(1)
    assert(one <= 1, s"n=1 left $one persisted RDDs behind")
    assert(leftBehind(3) == one,
      "every round's checkpoint must be freed, not left to ContextCleaner")
  }

  test("selection stops cleanly when candidates run out") {
    val one = Seq((0L, 5L, 0.8, Seq(1.0, 0.0)))
      .toDF("query_id", "cand_id", "rel", "vec")
    val out = Mmr.rerank(one, "query_id", "cand_id", "rel", "vec",
      n = 3, lam = 0.7, lamComp = 0.3).collect()
    assert(out.length == 1, "n larger than the shortlist yields what exists")
  }
}
