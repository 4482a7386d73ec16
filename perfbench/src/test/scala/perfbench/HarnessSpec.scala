package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles return measured samples") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.median(xs) == 10.0)
    assert(Stats.percentile(xs, 0.95) == 19.0)
    assert(Stats.percentile(xs, 1.0) == 20.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
  }

  test("a percentile is backed by ten samples beyond it") {
    assert(Stats.beyond(20, 0.5) == 10 && Stats.backed(20, 0.5))
    assert(Stats.beyond(19, 0.5) == 9 && !Stats.backed(19, 0.5))
    assert(Stats.backed(200, 0.95) && !Stats.backed(199, 0.95))
    assert(Stats.backed(100, 0.9) && !Stats.backed(99, 0.9))
    assert(!Stats.backed(0, 0.5))
  }

  test("percentiles reject empty input and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0.0))
  }
}

class SpansSpec extends AnyFunSuite {
  private def s(id: Long, a: Long, b: Long, parent: Long = 0L) =
    Span(id, s"s$id", a, b, parent, 1L)

  test("union length merges overlaps and clips to the window") {
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Spans.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Spans.unionLength(Nil, 0, 100) == 0)
  }

  test("self time subtracts the union of the children, not their sum") {
    val root = s(1, 0, 100)
    val all = Seq(root, s(2, 10, 40, 1), s(3, 30, 50, 1), s(4, 90, 120, 1),
      s(5, 12, 20, 2))
    // children cover [10,50) and [90,100); the grandchild is inside a child
    assert(Spans.selfNs(root, all) == 50)
    assert(Spans.selfNs(all(1), all) == 22)
    assert(Spans.selfNs(all(4), all) == 8)
  }
}

class GeneratorSpec extends AnyFunSuite {
  private def pubsub(seed: Long) = {
    val g = new GenPubsub(seed)
    (g.messages(300), (1 to 200).map(_ => g.nextOp()),
      (1 to 50).map(_ => g.pick(1000)))
  }

  private def stream(seed: Long) = {
    val g = new GenStream(seed)
    val live = g.liveEvents(500, 0L)
    g.newPhase()
    (live ++ g.liveEvents(500, 0L), g.backlog(0L))
  }

  test("the same seed gives byte-identical inputs") {
    assert(pubsub(7) == pubsub(7))
    assert(stream(7) == stream(7))
    assert(new GenDedupGraph(7).digest == new GenDedupGraph(7).digest)
    val lines = (s: Long) => stream(s)._1.map(GenStream.line).mkString("\n")
    assert(lines(7) == lines(7))
  }

  test("a different seed gives different inputs") {
    assert(pubsub(7) != pubsub(8))
    assert(stream(7) != stream(8))
    assert(new GenDedupGraph(7).digest != new GenDedupGraph(8).digest)
  }

  test("generated shares follow the configured traffic dimensions") {
    val dg = new GenDedupGraph(3)
    assert(dg.planted.size == dg.clusters)
    assert(dg.planted.forall(_.members.size == dg.clusterSize))
    assert(dg.planted.flatMap(_.members).distinct.size ==
      dg.clusters * dg.clusterSize)
    val shares = dg.shares.toMap
    assert(shares("share_exact_dup") ==
      dg.clusters * dg.exactPerCluster.toDouble / dg.docs)
    assert(math.abs(shares("graph_in_degree_exponent") - dg.degreeExponent) < 1.0)
    val msgs = new GenPubsub(3).messages(5000)
    assert(Gen.topShare(msgs.map(_.key)) > 5.0 / 200)
  }

  test("stream cohorts never span a phase change") {
    val g = new GenStream(11, cohortEvents = 100)
    val a = g.liveEvents(150, 0L).map(_.user).toSet
    g.newPhase()
    val b = g.liveEvents(150, 0L).map(_.user).toSet
    assert(a.intersect(b).isEmpty)
  }

  test("the funnel fold keeps first view, then later click, then purchase") {
    val evs = Seq(Event(0, 1, "click", 1), Event(1, 1, "view", 2),
      Event(2, 1, "purchase", 3), Event(3, 1, "click", 4),
      Event(4, 1, "purchase", 5), Event(5, 2, "click", 1))
    assert(GenStream.fold(evs) == Map(1L -> (Some(2L), Some(4L), Some(5L))))
  }
}

class MetricsSpec extends AnyFunSuite {
  test("BENCHMARK.json lists exactly the metrics the harness prints") {
    val f = new File("../BENCHMARK.json")
    assume(f.isFile, "BENCHMARK.json sits at the checkout root")
    val root = new ObjectMapper().readTree(f)
    def names(k: String) = root.get(k).elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    assert(names("end_to_end") == Metrics.EndToEnd)
    assert(names("per_layer") == Metrics.PerLayer)
    assert(Metrics.PerLayer.map(_._1).distinct.size == Metrics.PerLayer.size)
  }
}
