package graft.props

import graft.SparkSuite
import graft.ops.Components
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The alternating large-star/small-star closure compared exactly with a
  * sequential union-find over generated graphs — dense clusters, sparse
  * chains, self-loops, duplicates, disconnected islands. Labels must match
  * node for node (cluster minimum), independent of partitioning. */
class ComponentsProperties extends SparkSuite {
  import spark.implicits._

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.groupBy(find).flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }.toMap
  }

  // mixes edge regimes: a dense core (many edges over few nodes — cliques),
  // a sparse frontier (chains/trees over a wide id range), and noise
  // (self-loops, duplicates, reversed copies)
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    core <- Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
    sparse <- Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 400L), Gen.choose(0L, 400L)))
    dups <- Gen.someOf(core)
  } yield core ++ sparse ++ dups.map(_.swap) ++ Seq((7L, 7L))

  test("closure equals sequential union-find across graph regimes") {
    (0 until 8).foreach { i =>
      val pairs = graphGen(Gen.Parameters.default, Seed(31L + i)).get
        .filter(p => p._1 != p._2)
      val expected = unionFind(pairs)
      val (cc, rounds) = Components.connectedWithRounds(
        pairs.toDF("doc_a", "doc_b").repartition(1 + i % 5),
        "doc_a", "doc_b")
      val rows = cc.as[(Long, Long)].collect()
      assert(rows.length == rows.map(_._1).distinct.length,
        s"seed ${31 + i}: a node carries more than one label")
      assert(rows.toMap == expected, s"seed ${31 + i}")
      assert(rounds <= 12, s"seed ${31 + i}: $rounds rounds")
    }
  }
}
