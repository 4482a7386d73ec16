package graft.ops

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import LinkGraph.{Node, Slice}

/** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a link graph —
  * the complement of [[PageRank]] in web-corpus curation: PageRank ranks
  * global reputation, HITS separates DIRECTORY pages (hubs: pages whose
  * outlinks point at good content) from CONTENT pages (authorities: pages
  * good hubs point at). Curation weights authorities and discounts
  * link-farm hubs.
  *
  * '''Integer-exact discipline''' (the [[PageRank]] contract): scores
  * live in fixed point (`scale` units, longs); each half-round is an
  * integer edge-sum followed by an integer L1 normalization
  * `(x · scale) div sum(x)`, so distributed addition is
  * order-independent and the DuckDB oracle replays every round
  * bit-for-bit. Overflow bound: the normalization multiply needs
  * `maxInDegree · scale² < 2⁶³`, so the default scale is 10⁶ (micro
  * units) — safe to in-degrees of ~9·10⁶, far beyond any host graph's
  * per-node degree after the [[UrlOps.domainCap]] stage.
  *
  * '''Scale shape.''' Score vectors are NODE-sized (hosts) and live
  * co-partitioned with the edge list ([[LinkGraph]]): the distinct edges
  * are shuffled once by source and once by target, so joining a score
  * vector onto its edges is narrow and each half-round is ONE shuffle of
  * map-side-combined sums to the other endpoint. The half-round's L1
  * total rides inside that shuffle: every map task sends its partial sum
  * to every reducer, so no partition waits on the driver or on a
  * single-partition exchange. A call runs one job for the overflow check
  * (which also writes both edge shuffles) and one materialization job
  * for all rounds; iteration count is a fixed constant.
  *
  * Reference analog: the load manager's two-sided ranking of brokers vs
  * bundles — each side scored by the other side's scores
  * (pulsar-broker/.../loadbalance/impl/ModularLoadManagerImpl.java).
  */
object Hits {

  /** Fixed-point (hub, auth) per node after `iters` mutual-reinforcement
    * rounds. Returns (node, hub, auth), scores in `scale` units summing
    * to ~`scale` per side (floor losses excepted). Edges are dedup'd;
    * nodes = src ∪ dst; sink nodes get hub 0, source nodes auth 0. */
  def scores(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
             scale: Long = 1000000L): DataFrame =
    scoresFrom(edges, srcCol, dstCol, iters, scale, init = None)

  /** The incremental (crawl-delta) face: mutual reinforcement seeded
    * from a previous snapshot's HUB vector instead of uniform full
    * scale — delta nodes join at the uniform SHARE `scale / n` (a
    * snapshot hub averages scale/n, so a delta node enters as a typical
    * hub, not a dominant one). No renormalization is needed, unlike
    * [[PageRank.ranksWarm]]: every half-round L1-normalizes, so only
    * the seed's RATIOS matter and mass can never accumulate. Same
    * contraction-to-fixed-point argument (power iteration on AᵀA /
    * AAᵀ), so a near-snapshot seed needs fewer rounds for the same
    * movement tolerance (spec'd in HitsWarmSpec); integer-exact end to
    * end, oracle-replayed two-phase by `q_hits_incremental`. */
  def scoresWarm(edges: DataFrame, srcCol: String, dstCol: String,
                 iters: Int, init: DataFrame,
                 scale: Long = 1000000L): DataFrame =
    scoresFrom(edges, srcCol, dstCol, iters, scale, init = Some(init))

  private def scoresFrom(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, scale: Long,
                         init: Option[DataFrame]): DataFrame = {
    require(iters >= 1 && iters <= 50, s"bad iteration count $iters")
    // scale² must not overflow before the degree bound below can apply
    require(scale >= 1L && scale <= 1000000000L, s"bad scale $scale")
    val g = new LinkGraph(edges, srcCol, dstCol)
    // ENFORCE the scaladoc's overflow bound instead of trusting it: the
    // normalization multiplies a raw edge-sum (≤ maxDegree·scale) by
    // `scale`, so maxDegree·scale² must stay under 2⁶³ or a pathological
    // pre-domainCap graph silently wraps. The check is the call's first
    // job, and it also writes both edge shuffles the rounds read.
    val degBound = Long.MaxValue / scale / scale
    val (maxDeg, n) = g.degreeAndCount()
    require(maxDeg < degBound,
      s"HITS overflow: max node degree $maxDeg * scale^2 ($scale^2) would " +
        s"exceed 2^63; lower `scale` or cap degrees (UrlOps.domainCap) first")
    // every hub starts at full scale (the first normalization rescales,
    // so only the RATIOS of the init matter — uniform ⇒ any positive
    // unit), or at the previous snapshot's hub vector with delta nodes
    // at the uniform share (see [[scoresWarm]])
    var hub = init match {
      case None => g.uniform(scale)
      case Some(prev) => g.seeded(prev, "hub", scale / math.max(n, 1L))
    }
    var auth = hub // every round replaces it (iters ≥ 1)
    for (_ <- 1 to iters) {
      auth = normalized(g, g.out, hub, scale) // incoming hub mass
      hub = normalized(g, g.in, auth, scale) // outgoing authority mass
    }
    // one job for every round: the graph's nodes with both final slices
    g.materialized(
      g.out.zipPartitions(g.in, hub, auth) { (o, i, h, a) =>
        val (hs, as) = (h.next(), a.next())
        LinkGraph.owned(o, i).filter(_ != null).map(v => Row(v, hs(v), as(v)))
      },
      StructField("hub", LongType, nullable = false),
      StructField("auth", LongType, nullable = false))
  }

  /** One half-round: each edge of `adj` (owned endpoint, other endpoint)
    * carries its owner's `from` score to the other endpoint; every node
    * that receives any is L1-normalized in fixed point,
    * `(raw · scale) div tot`, over the total of ALL sums (those sent to
    * a null endpoint included); the rest score 0. */
  private def normalized(g: LinkGraph, adj: RDD[(Node, Node)],
                         from: RDD[Slice], scale: Long): RDD[Slice] =
    g.sumToOwners(adj.zipPartitions(from) { (es, f) =>
      val x = f.next()
      val sums = mutable.HashMap.empty[Long, Long]
      var partial = 0L
      es.foreach { case (own, other) =>
        if (own != null) { // a null endpoint never joins its score
          val v = x(own)
          partial = Math.addExact(partial, v)
          if (other != null)
            sums(other) = Math.addExact(sums.getOrElse(other, 0L), v)
        }
      }
      Iterator((sums, partial))
    }).map { case (raw, tot) =>
      Slice(raw.map { case (v, r) => v -> Math.multiplyExact(r, scale) / tot },
        default = 0L)
    }

  /** Top-k authorities (auth desc, node asc — deterministic), hub score
    * carried: the content-page head a curation run up-weights. */
  def topAuthorities(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int, k: Int): DataFrame =
    scores(edges, srcCol, dstCol, iters)
      .orderBy(col("auth").desc, col("node")).limit(k)
}
