package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class ComponentsSpec extends SparkSuite {
  import spark.implicits._

  /** Driver-side union-find ground truth for small graphs. */
  private def bruteForce(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
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
    // label every node with the MINIMUM of its component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }.toMap
  }

  private def run(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val df = pairs.toDF("doc_a", "doc_b")
    val (cc, rounds) = Components.connectedWithRounds(df, "doc_a", "doc_b")
    val rows = cc.as[(Long, Long)].collect()
    assert(rows.length == rows.map(_._1).distinct.length,
      "a node carries more than one label")
    (rows.toMap, rounds)
  }

  /** `k` disjoint cliques of `size` nodes each. */
  private def cliques(k: Int, size: Int): Seq[(Long, Long)] =
    for {
      c <- 0 until k
      i <- 0 until size
      j <- i + 1 until size
    } yield ((c * size + i).toLong, (c * size + j).toLong)

  test("random graphs match driver-side union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 60 + trial * 30
      val pairs = Seq.fill(n)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val (got, _) = run(pairs)
      assert(got == bruteForce(pairs), s"trial $trial")
    }
  }

  test("a long chain converges in O(log n) rounds, not O(n)") {
    // 512-node path: label propagation would need ~512 rounds; the
    // alternating algorithm contracts it geometrically.
    val pairs = (0L until 511L).map(i => (i, i + 1))
    val (got, rounds) = run(pairs)
    assert(got.size == 512)
    assert(got.values.forall(_ == 0L))
    assert(rounds <= 12, s"took $rounds rounds on a 512-path")
  }

  test("duplicate, reversed, and self pairs do not disturb the result") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L),
      (10L, 11L))
    val (got, _) = run(pairs)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("empty pair set yields an empty, well-typed result") {
    val df = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (cc, rounds) = Components.connectedWithRounds(df, "doc_a", "doc_b")
    assert(cc.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "component" -> LongType))
    assert(cc.isEmpty)
    assert(rounds == 0)
  }

  test("cliques and an input that is already a star forest close in one round") {
    val (got, rounds) = run(cliques(30, 5))
    assert(got == (0L until 150L).map(i => i -> (i / 5 * 5)).toMap)
    assert(rounds == 1, s"cliques took $rounds rounds")
    // min-rooted stars, given in both orientations
    val stars = Seq((1L, 2L), (3L, 1L), (1L, 4L), (10L, 11L), (12L, 10L))
    val (got2, rounds2) = run(stars)
    assert(got2 == bruteForce(stars))
    assert(rounds2 == 1, s"a star forest took $rounds2 rounds")
  }

  test("a call over 30 five-cliques runs at most 14 Spark jobs") {
    val df = cliques(30, 5).toDF("doc_a", "doc_b")
    val jobs = jobsRunBy(Components.connected(df, "doc_a", "doc_b").collect())
    assert(jobs <= 14, s"$jobs jobs for one call")
  }

  test("a local-checkpoint call leaves only the returned labelling persisted") {
    // each superseded round's checkpoint must be released, not left to
    // the ContextCleaner: a 512-path runs ~9 rounds
    val df = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val left = persistedBy {
      assert(Components.connected(df, "doc_a", "doc_b").count() == 512)
    }
    assert(left.size <= 1, s"${left.size} persisted RDDs left behind")
  }

  test("clusters chains LSH pairs transitively and keepBest keeps one per cluster") {
    // A~B and B~C by construction (shared 3-shingles) even though A and C
    // differ; D is unrelated.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "totally different words about something else entirely here")
    ).toDF("doc_id", "text")
    val cc = Components.clusters(docs, "doc_id", "text")
    val got = cc.as[(Long, Long)].collect().toMap
    // 1 and 2 are identical so must cluster; membership of 3 depends on
    // banding, but every clustered doc labels to the cluster minimum
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(!got.contains(4L))

    val kept = Components.keepBest(docs, "doc_id", cc, length(col("text")))
    val byComp = kept.as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // cluster 1: longest text wins (doc 3 if clustered, else tie 1 vs 2 →
    // smaller id); unclustered docs keep themselves with n_members = 1
    assert(byComp(4L) == ((4L, 1L)))
    val (keeper, n) = byComp(1L)
    if (got.contains(3L)) { assert(keeper == 3L); assert(n == 3L) }
    else { assert(keeper == 1L); assert(n == 2L) }
    // total membership covers every doc exactly once
    assert(kept.agg(sum("n_members")).as[Long].head() == 4L)

    // dropDuplicates returns exactly the keeper rows, schema intact
    val deduped = Components.dropDuplicates(docs, "doc_id", cc,
      length(col("text")))
    assert(deduped.columns.toSeq == docs.columns.toSeq)
    assert(deduped.select("doc_id").as[Long].collect().toSet ==
      byComp.values.map(_._1).toSet)
  }
}
