package graft.props

import graft.SparkSuite
import graft.ops.{DecisionTree, Hits, Mmr, PageRank}
import org.apache.spark.sql.functions._

/** Generated-input differential properties for the round's graph/rank/
  * tree ops: a plain-Scala reference recomputes every answer on random
  * inputs and the Spark result must match exactly — integer fixed-point
  * PageRank and HITS (cold and warm), greedy MMR (incl. float tie paths),
  * and histogram-split tree training (incl. argmax tie-breaks). */
class GraphRankProperties extends SparkSuite {
  import spark.implicits._

  private val S = 1000000000000L

  /** Sequential integer PageRank — the model [[PageRank.ranks]] must
    * reproduce bit-for-bit. */
  private def modelRanks(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length
    val out = e.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d) <- e) in(d) += rank(s) / out(s)
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val base = 15L * S / (100L * n)
      rank = nodes.map(v =>
        v -> (base + (85L * (in(v) + dang / n)) / 100L)).toMap
    }
    rank
  }

  test("pagerank equals the sequential integer model on random graphs") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)(
        (rnd.nextInt(12).toLong, rnd.nextInt(15).toLong))
        .filter { case (a, b) => a != b }
      val got = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", 4)
        .as[(Long, Long)].collect().toMap
      assert(got == modelRanks(edges, 4), s"seed=$seed")
    }
  }

  private val HS = 1000000L

  /** Sequential integer HITS — the model [[Hits.scores]] (seed `None`)
    * and [[Hits.scoresWarm]] must reproduce bit-for-bit. A warm seed
    * gives the start hub of the nodes it names; the others start at the
    * uniform share HS / n. */
  private def modelHits(edges: Seq[(Long, Long)], iters: Int,
                        seed: Option[Map[Long, Long]])
      : Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    def normalized(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      nodes.map(v => v -> raw.get(v).fold(0L)(_ * HS / tot)).toMap
    }
    var hub = seed.fold(nodes.map(_ -> HS).toMap)(s =>
      nodes.map(v => v -> s.getOrElse(v, HS / nodes.length)).toMap)
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      auth = normalized(e.groupMapReduce(_._2)(p => hub(p._1))(_ + _))
      hub = normalized(e.groupMapReduce(_._1)(p => auth(p._2))(_ + _))
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits equals the sequential integer model on random graphs, cold and warm") {
    for (seed <- Seq(3L, 11L, 29L)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(70)(
        (rnd.nextInt(10).toLong, rnd.nextInt(13).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("src", "dst")
      def collect(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      for (iters <- Seq(1, 3)) {
        assert(collect(Hits.scores(df, "src", "dst", iters)) ==
          modelHits(edges, iters, None), s"cold seed=$seed iters=$iters")
      }
      // a seed over some graph nodes and one node outside the graph
      val init = ((0L until 13L).filter(_ => rnd.nextBoolean()) :+ 99L)
        .map(_ -> rnd.nextInt(1000000).toLong)
      assert(collect(Hits.scoresWarm(df, "src", "dst", 2,
          init.toDF("node", "hub"))) ==
        modelHits(edges, 2, Some(init.toMap)), s"warm seed=$seed")
    }
  }

  /** Sequential greedy MMR. */
  private def modelMmr(cands: Seq[(Long, Long, Double, Seq[Double])],
                       n: Int, lam: Double, lamComp: Double)
      : Seq[(Long, Long, Long)] = {
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    cands.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      var remaining = rows
      var selected = List.empty[(Long, Long, Double, Seq[Double])]
      val picks = Seq.newBuilder[(Long, Long, Long)]
      for (step <- 1 to n if remaining.nonEmpty) {
        val scored = remaining.map { r =>
          val pen = if (selected.isEmpty) 0.0
          else selected.map(s => cos(r._4, s._4)).max
          (lam * r._3 - lamComp * pen, r)
        }
        val best = scored.minBy { case (s, r) => (-s, r._2) }._2
        picks += ((q, step.toLong, best._2))
        selected ::= (best._1, best._2, best._3, best._4)
        remaining = remaining.filterNot(_._2 == best._2)
      }
      picks.result()
    }
  }

  test("MMR equals the sequential greedy model on random shortlists") {
    for (seed <- Seq(3L, 11L)) {
      val rnd = new scala.util.Random(seed)
      // integer-valued vectors → exact doubles → bit-identical cosines
      val rows = for {
        q <- 0L until 4L
        c <- 0 until 8
      } yield (q, q * 100L + c,
        (rnd.nextInt(20) + 1).toDouble / 32.0,
        Seq.fill(4)((rnd.nextInt(5) + 1).toDouble))
      val got = Mmr.rerank(rows.toDF("query_id", "cand_id", "rel", "vec"),
          "query_id", "cand_id", "rel", "vec", n = 3,
          lam = 0.5, lamComp = 0.5)
        .select("query_id", "step", "cand_id")
        .as[(Long, Long, Long)].collect().toSet
      val want = modelMmr(rows.map(r => (r._1, r._2, r._3, r._4)),
        3, 0.5, 0.5).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  /** Brute-force depth-2 tree reference with the engine's exact
    * tie-break order (score desc, bucket asc, thr asc; ge-label +1 on
    * ties) over ATTAINED candidates. */
  private def modelTree(f: Map[Long, Map[Long, Long]], y: Map[Long, Long],
                        maxThr: Int): Map[Long, Long] = {
    def best(ids: Seq[Long]): Option[(Long, Long, Long, Long)] = {
      val cand = for {
        (b, t) <- ids.flatMap(id => f(id).toSeq.flatMap { case (b, c) =>
          (1L to math.min(c, maxThr.toLong)).map(t => (b, t)) }).distinct
      } yield {
        val ge = ids.filter(id => f(id).getOrElse(b, 0L) >= t)
        val lt = ids.filterNot(id => f(id).getOrElse(b, 0L) >= t)
        val accP = ge.count(y(_) == 1L) + lt.count(y(_) == -1L)
        val accN = ge.count(y(_) == -1L) + lt.count(y(_) == 1L)
        (math.max(accP, accN).toLong, b, t,
          if (accP >= accN) 1L else -1L)
      }
      if (cand.isEmpty) None
      else Some {
        val (s, b, t, lab) = cand.minBy { case (s, b, t, _) => (-s, b, t) }
        (b, t, lab, -lab)
      }
    }
    val ids = y.keys.toSeq.sorted
    def majority(m: Seq[Long]): Long =
      if (2L * m.count(y(_) == 1L) >= m.length) 1L else -1L
    val root = best(ids).getOrElse((-1L, 1L, majority(ids), majority(ids)))
    val ge = ids.filter(id => f(id).getOrElse(root._1, 0L) >= root._2)
    val lt = ids.filterNot(ge.contains)
    def leafPred(side: Seq[Long], fallback: Long): Long => Long = {
      best(side) match {
        case Some((b, t, lg, ll)) =>
          id => if (f(id).getOrElse(b, 0L) >= t) lg else ll
        case None => _ => fallback
      }
    }
    val gp = leafPred(ge, root._3); val lp = leafPred(lt, root._4)
    ids.map(id => id -> (if (ge.contains(id)) gp(id) else lp(id))).toMap
  }

  test("depth-2 tree equals brute-force enumeration on random corpora") {
    val vocab = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (seed <- Seq(5L, 9L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 40L).map { i =>
        val words = Seq.fill(rnd.nextInt(12) + 1)(
          vocab(rnd.nextInt(vocab.length)))
        (i, words.mkString(" "), if (rnd.nextBoolean()) 1L else -1L)
      }
      val df = docs.toDF("doc_id", "text", "yy")
      val got = DecisionTree.trainPredict(df, "doc_id", "text", col("yy"),
          buckets = 16, maxThr = 3)
        .select("doc_id", "pred").as[(Long, Long)].collect().toMap
      // reference features mirror hash16(token) % 16
      val md = java.security.MessageDigest.getInstance("MD5")
      def bucket(tok: String): Long = {
        val h = md.digest(tok.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Integer.parseInt(h.substring(0, 4), 16).toLong % 16L
      }
      val f = docs.map { case (id, text, _) =>
        id -> text.split(" ").filter(_.nonEmpty).toSeq.groupBy(bucket)
          .view.mapValues(_.length.toLong).toMap
      }.toMap
      val y = docs.map(d => d._1 -> d._3).toMap
      assert(got == modelTree(f, y, 3), s"seed=$seed")
    }
  }
}
