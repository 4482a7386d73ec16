package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops._

/** dedup_graph: closed-loop batch passes over a seeded corpus with planted
  * near-duplicate clusters (the dedup half: MinHash LSH + verify, SimHash,
  * shared spans, near decontamination, connected components) and over a
  * seeded power-law link graph (the graph half: HITS and PageRank).
  * Reaches the `ops` operators; no store and no topic source. */
final class DedupGraphWorkload(spark: SparkSession, seed: Long)
  extends Workload {
  import spark.implicits._

  private val GraphIters = 2
  private val VerifyJaccard = 0.5
  /** Planted near copies LSH must find; it is probabilistic per pair. */
  private val MinNearRecall = 0.9

  private var gen: GenDedupGraph = _
  private var docs: DataFrame = _
  private var evalDf: DataFrame = _
  private var edges: DataFrame = _
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val firstDigest = mutable.Map.empty[String, String]
  private val candidates = mutable.ArrayBuffer.empty[(Long, Long)]
  private var nearRecall = 1.0

  def prepare(d: File): Unit = {
    gen = new GenDedupGraph(seed)
    mismatches.clear(); firstDigest.clear(); candidates.clear()
    // staged in memory: the passes read materialized frames, not the
    // driver-side collections they came from
    docs = gen.corpus.toDF("doc_id", "text").localCheckpoint(true)
    evalDf = gen.eval.map { case (i, t, _) => (i, t) }.toDF("doc_id", "text")
      .localCheckpoint(true)
    edges = gen.links.toDF("src", "dst").localCheckpoint(true)
  }

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok && mismatches.size < 20) mismatches += what

  /** Every pass must reproduce the first pass's output exactly. */
  private def sameAsFirst(op: String, rows: Seq[Row]): Unit = {
    val d = Gen.digest(rows.map(_.mkString("|")).sorted.iterator)
    val first = firstDigest.getOrElseUpdate(op, d)
    expect(s"$op digest differs between passes", first == d)
  }

  private def dedupPass(tr: Tracer): Unit = {
    val (cand, verified) = tr.span("ops.minhash_lsh") {
      val c = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .localCheckpoint(true)
      val j = MinHashLsh.jaccardOfPairs(c, docs, "doc_id", "text").collect()
      (j.length.toLong, j.filter(_.getAs[Double]("jaccard") >= VerifyJaccard))
    }
    candidates += cand -> verified.length.toLong
    sameAsFirst("minhash_lsh", verified.toSeq)
    val sim = tr.span("ops.simhash_dedup")(
      SimHashDedup.nearDuplicates(docs, "doc_id", "text").collect())
    sameAsFirst("simhash_dedup", sim.toSeq)
    val spans = tr.span("ops.span_dedup")(
      SpanDedup.sharedSpans(docs, "doc_id", "text").collect())
    sameAsFirst("span_dedup", spans.toSeq)
    val cont = tr.span("ops.decontaminate_near")(
      Decontaminate.near(docs, evalDf, "doc_id", "text").collect())
    sameAsFirst("decontaminate_near", cont.toSeq)
    val pairs = verified.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("doc_a", "doc_b")
    val comps = tr.span("ops.components")(
      Components.connected(pairs, "doc_a", "doc_b").collect())
    sameAsFirst("components", comps.toSeq)
    if (candidates.size == 1) check(sim, spans, cont, comps)
  }

  /** The first pass against the generator's planted answers. */
  private def check(sim: Array[Row], spans: Array[Row], cont: Array[Row],
                    comps: Array[Row]): Unit = {
    val comp = comps.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inSim = sim.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val inSpans = spans.flatMap(r => Seq(r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"))).toSet
    var near, nearFound = 0
    gen.planted.foreach { c =>
      val home = comp.get(c.pivot)
      c.exact.foreach { e =>
        expect(s"exact copy $e of ${c.pivot} not clustered",
          home.isDefined && comp.get(e) == home)
        expect(s"exact copy $e not in simhash pairs", inSim(e))
        expect(s"exact copy $e not in shared spans", inSpans(e))
      }
      near += c.near.size
      nearFound += c.near.count(n => home.isDefined && comp.get(n) == home)
    }
    val homes = gen.planted.flatMap(c => comp.get(c.pivot))
    expect("two planted clusters merged", homes.distinct.size == homes.size)
    val plantedIds = gen.planted.flatMap(_.members).toSet
    expect("a unique document was clustered",
      comp.keySet.forall(plantedIds))
    val flagged = cont.map(_.getLong(0)).toSet
    gen.eval.foreach { case (id, _, kind) =>
      if (kind == "exact") expect(s"eval copy $id not flagged", flagged(id))
      if (kind == "unique") expect(s"eval doc $id flagged", !flagged(id))
    }
    val evalNear = gen.eval.filter(_._3 == "near").map(_._1)
    near += evalNear.size
    nearFound += evalNear.count(flagged)
    nearRecall = nearFound.toDouble / math.max(1, near)
    expect(s"near-duplicate recall $nearRecall", nearRecall >= MinNearRecall)
  }

  private def graphPass(tr: Tracer): Unit = {
    val hits = tr.span("ops.hits")(
      Hits.scores(edges, "src", "dst", GraphIters).collect())
    sameAsFirst("hits", hits.toSeq)
    val pr = tr.span("ops.pagerank")(
      PageRank.ranks(edges, "src", "dst", GraphIters).collect())
    sameAsFirst("pagerank", pr.toSeq)
    val nodes = gen.links.flatMap { case (a, b) => Seq(a, b) }.distinct.size
    expect("hits node count", hits.length == nodes)
    expect("pagerank node count", pr.length == nodes)
    val mass = pr.map(_.getAs[Number]("rank").doubleValue).sum / 1e12
    expect(s"pagerank mass $mass", mass > 0.99 && mass <= 1.0 + 1e-9)
  }

  /** Two pass pairs: the first pays code generation, the second lets the
    * JIT settle, so the measured passes run on steady code. */
  def warmUp(): Unit = {
    val noTrace = new Tracer(spark.sparkContext, enabled = false)
    (1 to 2).foreach { _ => dedupPass(noTrace); graphPass(noTrace) }
  }

  def measure(seconds: Double, tr: Tracer): Outcome = {
    val dedupS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val graphS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    // a pass pair takes most of a run's seconds; two give the medians a
    // second sample
    val r = ClosedLoop.run(seconds, tr, minSteps = 2) { traced =>
      dedupS += tr.op("dedup_graph.dedup", traced)(dedupPass(tr))._2 -> traced
      graphS += tr.op("dedup_graph.graph", traced)(graphPass(tr))._2 -> traced
      2
    }
    val dd = dedupS.map(_._1).toSeq
    val gg = graphS.map(_._1).toSeq
    val problems = mismatches.toSeq ++ r.errors
    Outcome(
      correct = problems.isEmpty && dd.nonEmpty && gg.nonEmpty,
      attempted = r.attempted, failed = r.failed,
      e2e = Map(
        "main_p50_s" -> Stats.median(dd),
        "main_tail_s" -> Stats.percentile(dd, 0.9),
        "side_p50_s" -> Stats.median(gg),
        "work_per_s" -> (dd.size + gg.size) / r.elapsedS),
      detail = Seq(
        "dedup_pass_p50_s" -> Stats.median(dd),
        "dedup_pass_p90_s" -> Stats.percentile(dd, 0.9),
        "dedup_samples" -> dd.size,
        "graph_pass_p50_s" -> Stats.median(gg),
        "graph_samples" -> gg.size,
        "near_dup_recall" -> nearRecall) ++ gen.shares ++
        Seq("mismatches" -> problems),
      overhead = ClosedLoop.overhead(dedupS.toSeq))
  }

  def perLayer(rep: TraceReport): Seq[(String, Double)] = {
    // every pass yields the same pairs (sameAsFirst), so any pass will do
    val pairs = candidates.toSeq
    Metrics.Operators.flatMap(o => rep.operator(s"ops.$o")) ++
      Seq("hits", "pagerank").flatMap(o =>
        rep.operator(s"ops.$o") :+
          (s"ops.$o.jobs_per_round" -> rep.jobs(s"ops.$o") / GraphIters)) ++
      Seq(
        "ops.pairs.candidates" -> Stats.medianOr0(pairs.map(_._1.toDouble)),
        "ops.pairs.verified_ratio" -> Stats.medianOr0(pairs.map { case (c, v) =>
          v.toDouble / math.max(1L, c) }))
  }
}
