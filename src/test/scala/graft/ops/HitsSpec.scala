package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.types.LongType

/** [[Hits]] — integer fixed-point mutual reinforcement. */
class HitsSpec extends SparkSuite {
  import spark.implicits._

  private val S = 1000000L

  test("one round on a single edge is exact") {
    // 1 -> 2: auth(2) = S (all auth mass), hub(1) = S; other sides 0
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val got = Hits.scores(e, "src", "dst", iters = 1)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, S, 0L), (2L, 0L, S)))
  }

  test("star: the pointed-at center is the sole authority") {
    // 1..4 -> 5: auth concentrates on 5, hubs split evenly across 1..4
    val e = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("src", "dst")
    val r = Hits.scores(e, "src", "dst", iters = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(5L) == (0L, S), "center: zero hub, full authority")
    (1L to 4L).foreach(n => assert(r(n) == (S / 4, 0L), s"leaf $n"))
  }

  test("directed cycle: uniform S div n on both sides, every round") {
    // in-deg = out-deg = 1 everywhere ⇒ q = S div n is a fixed point:
    // raw = q, tot = n·q, (q·S) div (n·q) = S div n = q exactly
    val n = 6L
    val e = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val q = S / n
    val r = Hits.scores(e, "src", "dst", iters = 4)
      .as[(Long, Long, Long)].collect()
    assert(r.length == n)
    r.foreach { case (nd, h, a) =>
      assert(h == q && a == q, s"node $nd: hub $h auth $a want $q") }
  }

  test("normalization: each side totals scale minus floor loss") {
    val e = (0L until 200L).map(d => (d % 11, (d * 7 + 3) % 13))
      .toDF("src", "dst")
    val r = Hits.scores(e, "src", "dst", iters = 5)
      .as[(Long, Long, Long)].collect()
    val hubTot = r.map(_._2).sum
    val authTot = r.map(_._3).sum
    assert(hubTot <= S && hubTot > S * 95L / 100L, s"hub total $hubTot")
    assert(authTot <= S && authTot > S * 95L / 100L, s"auth total $authTot")
  }

  test("deterministic across partitionings") {
    val edges = (0L until 150L).map(d => (d % 10, (d * 7 + 3) % 12))
    val one = Hits.scores(edges.toDF("src", "dst").repartition(1),
      "src", "dst", 4).orderBy("node")
      .as[(Long, Long, Long)].collect().toSeq
    val many = Hits.scores(edges.toDF("src", "dst").repartition(7),
      "src", "dst", 4).orderBy("node")
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == many, "integer sums are partition-order-independent")
  }

  test("overflow bound is enforced, not just documented") {
    // at scale = 10⁹ the degree bound is 2⁶³/10¹⁸ ≈ 9: a 10-leaf star
    // would wrap the normalization multiply — must fail LOUDLY
    val star = (1L to 10L).map(i => (i, 99L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Hits.scores(star, "src", "dst", iters = 1, scale = 1000000000L)
    }
    assert(ex.getMessage.contains("overflow"))
    // the default micro-unit scale has ~9·10⁶ degrees of headroom and
    // accepts the same graph
    assert(Hits.scores(star, "src", "dst", iters = 1).count() == 11)
  }

  test("topAuthorities ordering is (auth desc, node asc)") {
    val e = Seq((1L, 9L), (2L, 9L), (3L, 8L), (9L, 1L)).toDF("src", "dst")
    val top = Hits.topAuthorities(e, "src", "dst", iters = 3, k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(top.size == 3)
    assert(top.map(_._3).sliding(2).forall(p => p.head >= p.last))
  }

  test("null endpoints feed the totals but are never scored; dups and self-loops") {
    // distinct edges: 1→2, 2→2, 1→null, null→3, 2→3, null→null.
    // auth half: hubs all S; raw(2) = 2S, raw(3) = S, raw(null) = S
    //   (1→null), tot = 4S ⇒ auth(2) = S/2, auth(3) = S/4
    // hub half: raw(1) = auth(2), raw(2) = auth(2) + auth(3),
    //   raw(null) = auth(3) (null→3), tot = 3S/2
    //   ⇒ hub(1) = S/3 (floor), hub(2) = S/2
    val e = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, 2L),
      (2L, 2L), (1L, null), (null, 3L), (2L, 3L), (null, null))
      .toDF("src", "dst")
    def run(iters: Int) = Hits.scores(e, "src", "dst", iters)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(run(1) == Seq((1L, S / 3, 0L), (2L, S / 2, S / 2), (3L, 0L, S / 4)))
    // three rounds, as the SQL formulation computed them
    assert(run(3) ==
      Seq((1L, 309523L, 0L), (2L, 500000L, 500000L), (3L, 0L, 307692L)))
  }

  test("empty input yields an empty (node, hub, auth) frame, cold and warm") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val cold = Hits.scores(e, "src", "dst", iters = 2)
    assert(cold.schema.map(f => f.name -> f.dataType) ==
      Seq("node" -> LongType, "hub" -> LongType, "auth" -> LongType))
    assert(cold.collect().isEmpty)
    val warm = Hits.scoresWarm(e, "src", "dst", iters = 2,
      init = Seq((1L, 5L)).toDF("node", "hub"))
    assert(warm.collect().isEmpty)
  }

  test("the same scores at 1, 3 and 7 shuffle partitions") {
    val e = (0L until 150L).map(d => (d % 10, (d * 7 + 3) % 12))
      .toDF("src", "dst")
    def at(parts: Int) =
      withConf("spark.sql.shuffle.partitions", parts.toString) {
        Hits.scores(e, "src", "dst", 4).orderBy("node")
          .as[(Long, Long, Long)].collect().toSeq
      }
    val want = at(4)
    for (p <- Seq(1, 3, 7)) assert(at(p) == want, s"$p partitions")
  }

  test("a call runs at most 3 Spark jobs and leaves one persisted RDD") {
    val rnd = new scala.util.Random(600)
    val e = Seq.fill(2400)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong))
      .toDF("src", "dst")
    for (iters <- Seq(2, 10)) {
      var jobs = 0
      val left = persistedBy {
        jobs = jobsRunBy(Hits.scores(e, "src", "dst", iters).collect())
      }
      assert(jobs <= 3, s"$jobs jobs at $iters rounds")
      assert(left.size == 1, s"${left.size} persisted RDDs at $iters rounds")
    }
  }
}
