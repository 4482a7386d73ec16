package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Row

/** [[PageRank]] — integer fixed-point damped power iteration. */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  private val S = 1000000000000L

  test("one iteration on a two-node cycle is exact") {
    // a <-> b, n=2, init S/2 each; contribution = S/2 (outdeg 1);
    // new = 15S/200 + 85*(S/2)/100 for both
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = PageRank.ranks(e, "src", "dst", iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val expect = 15L * S / 200L + 85L * (S / 2L) / 100L
    assert(got == Seq((1L, expect), (2L, expect)))
  }

  test("dangling node redistributes its mass uniformly") {
    // a -> b, b dangling. n=2. init S/2.
    // iter1: in(b) = S/2; dang = rank(b) = S/2; dang/n = S/4
    //   a: base + 85*(0 + S/4)/100 ; b: base + 85*(S/2 + S/4)/100
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val got = PageRank.ranks(e, "src", "dst", iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toMap
    val base = 15L * S / 200L
    assert(got(1L) == base + 85L * (S / 4L) / 100L)
    assert(got(2L) == base + 85L * (S / 2L + S / 4L) / 100L)
  }

  test("a hub gains rank over iterations; totals stay near scale") {
    // star: 1..4 all link to 5; 5 links back to 1
    val e = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val r = PageRank.ranks(e, "src", "dst", iters = 8)
      .as[(Long, Long)].collect().toMap
    // the 1<->5 pair trades mass each round (period-2 oscillation decays
    // at 0.85² per cycle), so compare the pair against the leaves rather
    // than each other at a fixed iteration count
    assert(r(5L) > r(2L) && r(1L) > r(2L),
      "the hub cycle holds more rank than any leaf")
    assert(r(2L) == r(3L) && r(3L) == r(4L), "symmetric leaves tie")
    val total = r.values.sum
    // floor losses only shrink the total, never grow it
    assert(total <= S && total > S * 95L / 100L, s"total $total")
  }

  test("iterations are deterministic across partitionings") {
    val edges = (0L until 120L).map(d => (d % 10, (d * 7 + 3) % 12))
    val one = PageRank.ranks(edges.toDF("src", "dst").repartition(1),
      "src", "dst", 5).orderBy("node").as[(Long, Long)].collect().toSeq
    val many = PageRank.ranks(edges.toDF("src", "dst").repartition(7),
      "src", "dst", 5).orderBy("node").as[(Long, Long)].collect().toSeq
    assert(one == many, "integer sums are partition-order-independent")
  }

  test("topRanks ordering is (rank desc, node asc)") {
    val e = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val top = PageRank.topRanks(e, "src", "dst", 3, 2)
      .as[(Long, Long)].collect().toSeq
    assert(top.size == 2 && top.head._2 >= top(1)._2)
    assert(top.map(_._1).distinct.size == 2)
  }

  test("null endpoints, duplicate edges and a self-loop") {
    // distinct edges: 1→2, 2→2, 1→null, null→3, 2→3, null→null; nodes
    // 1, 2, 3 and null (n = 4), each starting at S/4. Out-degrees 1: 2,
    // 2: 2, so every contribution is S/8; 1→null's is lost. null never
    // joins: its out-edges contribute nothing and it counts as dangling,
    // like 3 ⇒ dang = S/2, dang div n = S/8.
    val e = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, 2L),
      (2L, 2L), (1L, null), (null, 3L), (2L, 3L), (null, null))
      .toDF("src", "dst")
    def run(iters: Int) = PageRank.ranks(e, "src", "dst", iters)
      .orderBy("node").collect().toSeq
    val base = 15L * S / 400L
    val lone = base + 85L * (S / 8L) / 100L
    assert(run(1) == Seq(Row(null, lone), Row(1L, lone),
      Row(2L, base + 85L * (S / 4L + S / 8L) / 100L),
      Row(3L, base + 85L * (S / 8L + S / 8L) / 100L)))
    // three rounds, as the SQL formulation computed them
    assert(run(3) == Seq(Row(null, 121171875000L), Row(1L, 121171875000L),
      Row(2L, 314480468750L), Row(3L, 262982421875L)))
  }

  test("zero iterations return the uniform start vector") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = PageRank.ranks(e, "src", "dst", iters = 0)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, S / 3L), (2L, S / 3L), (3L, S / 3L)))
  }

  test("empty input fails with the empty-graph message, cold and warm") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val cold = intercept[IllegalArgumentException] {
      PageRank.ranks(e, "src", "dst", iters = 2)
    }
    assert(cold.getMessage.contains("PageRank: empty graph"))
    val warm = intercept[IllegalArgumentException] {
      PageRank.ranksWarm(e, "src", "dst", iters = 2,
        init = Seq((1L, 5L)).toDF("node", "rank"))
    }
    assert(warm.getMessage.contains("PageRank: empty graph"))
  }

  test("the same ranks at 1, 3 and 7 shuffle partitions") {
    val e = (0L until 120L).map(d => (d % 10, (d * 7 + 3) % 12))
      .toDF("src", "dst")
    def at(parts: Int) =
      withConf("spark.sql.shuffle.partitions", parts.toString) {
        PageRank.ranks(e, "src", "dst", 5).orderBy("node")
          .as[(Long, Long)].collect().toSeq
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
        jobs = jobsRunBy(PageRank.ranks(e, "src", "dst", iters).collect())
      }
      assert(jobs <= 3, s"$jobs jobs at $iters rounds")
      assert(left.size == 1, s"${left.size} persisted RDDs at $iters rounds")
    }
  }
}
