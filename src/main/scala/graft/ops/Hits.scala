package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * '''Scale shape.''' Score tables are NODE-sized (hosts). One round =
  * two joins of node scores onto the edge list (each keyed by one edge
  * endpoint — co-partitionable with the edge list) + two map-side-combined
  * sums + two one-row total aggregates broadcast back into the
  * normalization. Iteration count is a fixed constant; per-round lineage
  * is truncated the same way [[PageRank.ranks]] does it.
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
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    // ENFORCE the scaladoc's overflow bound instead of trusting it: the
    // normalization multiplies a raw edge-sum (≤ maxDegree·scale) by
    // `scale`, so maxDegree·scale² must stay under 2⁶³ or a pathological
    // pre-domainCap graph silently wraps. One map-side-combined degree
    // aggregate + one-row max — cheap next to `iters` join rounds.
    val degBound = Long.MaxValue / scale / scale
    val maxDeg = e.select(col("dst").as("n"))
      .union(e.select(col("src").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .agg(coalesce(max(col("deg")), lit(0L)).as("m")).head.getLong(0)
    require(maxDeg < degBound,
      s"HITS overflow: max node degree $maxDeg * scale^2 ($scale^2) would " +
        s"exceed 2^63; lower `scale` or cap degrees (UrlOps.domainCap) first")
    // every hub starts at full scale (the first normalization rescales,
    // so only the RATIOS of the init matter — uniform ⇒ any positive
    // unit), or at the previous snapshot's hub vector with delta nodes
    // at the uniform share (see [[scoresWarm]])
    var hub = init match {
      case None => nodes.select(col("node"), lit(scale).as("hub"))
      case Some(prev) =>
        val n = nodes.count()
        nodes.join(
            prev.select(col("node"), col("hub").cast("long").as("__ph")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__ph"), lit(scale / math.max(n, 1L))).as("hub"))
          .localCheckpoint(true)
    }
    // the L1 total of each half-round is attached INLINE as a
    // window-over-() on the raw-sum frame (node-sized, post-aggregation)
    // instead of a separate one-row aggregate broadcast back: the
    // broadcast build was its own driver job per half-round, and auth
    // needed its own checkpoint to keep those builds from re-deriving it
    // — 4 jobs per round where the data dependencies need ONE. The
    // single-partition window exchange carries only the aggregated
    // (node, raw) rows, same bytes the old final-agg task read as
    // partials. Arithmetic unchanged: tot = sum(raw) over the same rows.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(Seq.empty[org.apache.spark.sql.Column]: _*)
    // a lazy placeholder (no job) so the output join below is well-defined
    // for any round count; every round replaces it
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (i <- 1 to iters) {
      // auth update: sum incoming hub mass, L1-normalize in fixed point.
      // auth stays LAZY inside the round — with the totals inline the hub
      // checkpoint job is its only per-round consumer, so it is computed
      // exactly once per round. The FINAL round's auth is checkpointed
      // (one extra job per call, not per round) so the output join below
      // reads two checkpoints — the O(1)-final-plan contract PlanAuditSpec
      // pins.
      val aRaw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("raw"))
        .withColumn("tot", sum(col("raw")).over(wAll))
      auth = nodes.join(aRaw, Seq("node"), "left")
        .select(col("node"),
          coalesce(expr(s"(raw * $scale) div tot"), lit(0L)).as("auth"))
      if (i == iters) auth = auth.localCheckpoint(true)
      // hub update: sum outgoing authority mass, normalize likewise
      val hRaw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("raw"))
        .withColumn("tot", sum(col("raw")).over(wAll))
      hub = nodes.join(hRaw, Seq("node"), "left")
        .select(col("node"),
          coalesce(expr(s"(raw * $scale) div tot"), lit(0L)).as("hub"))
        .localCheckpoint(true)
    }
    // both sides are node-sized checkpoints (no stats ⇒ SMJ by default);
    // broadcasting one keeps the final pass shuffle-free
    val out = hub.join(broadcast(auth), "node")
      .select(col("node"), col("hub"), col("auth"))
    e.unpersist(); nodes.unpersist()
    out
  }

  /** Top-k authorities (auth desc, node asc — deterministic), hub score
    * carried: the content-page head a curation run up-weights. */
  def topAuthorities(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int, k: Int): DataFrame =
    scores(edges, srcCol, dstCol, iters)
      .orderBy(col("auth").desc, col("node")).limit(k)
}
