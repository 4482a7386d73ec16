package graft.ops

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step between
  * PAIRS and a usable dedup decision. LSH/SimHash emit pairs, but pairs
  * chain (A~B, B~C puts A and C in one cluster even if they never share a
  * bucket); what dedup keeps-one-of is the transitive CLUSTER. Reference
  * analog: the compactor's `latestForKey` keeps one entry per key
  * (`pulsar-broker/.../compaction/TwoPhaseCompactor.java:62-152`) — here the
  * "key" is the duplicate cluster itself and must first be computed from the
  * pair graph.
  *
  * Scale design: alternating large-star/small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014). A round
  * is ONE plan — large-star then small-star, each a groupBy-min keyed on
  * the node id joined back to the edges — materialized once, then one
  * per-node aggregate over its edges that is both the labelling and the
  * exit check: the loop stops on the first round whose edges form a
  * min-rooted star forest. Convergence is O(log² n) rounds on ANY graph —
  * a chained cluster of length L costs O(log L) rounds where naive label
  * propagation needs L; cliques and star forests close in one. No neighbor
  * list is ever collected: a 100M-member boilerplate cluster contributes
  * one min per partition to its hub's aggregate, never an array. The
  * driver loop is bounded (maxRounds) and every materialization cuts the
  * plan ([[Materialize]]), so plan depth stays O(1) instead of growing
  * with rounds.
  */
object Components {

  /** (id, component) for every node appearing in `pairs`, where `component`
    * is the smallest id in the node's transitively-connected cluster. Ids
    * must be non-null and orderable (the component label is the cluster
    * minimum). Nodes not in any pair are absent — callers coalesce to the
    * node's own id (see [[keepBest]]).
    */
  def connected(pairs: DataFrame, aCol: String, bCol: String,
                maxRounds: Int = 50): DataFrame =
    connectedWithRounds(pairs, aCol, bCol, maxRounds)._1

  /** As [[connected]], also returning the number of alternating rounds the
    * algorithm took (exposed for tests asserting the O(log n) behavior).
    * Each round's edge set and labelling go through [[Materialize]] and are
    * released as soon as nothing later reads them, so a call leaves one
    * persisted RDD: the returned frame's. */
  def connectedWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 50): (DataFrame, Int) = {
    // large-star: every node u links its LARGER neighbors to the smallest
    // node it can see (min of u and u's neighbors) — long chains contract
    // geometrically because minima hop two edges per round. Every output
    // edge points down (b < a).
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mn"))
      sym.join(mins, "a")
        .where(col("b") > col("a"))
        .select(col("b").as("a"), least(col("a"), col("mn")).as("b"))
    }

    // small-star over down-pointing edges: every node u re-points its
    // SMALLER neighbors (and itself) at the smallest of them — flattens
    // local trees into stars. Output edges point down too.
    def smallStar(down: DataFrame): DataFrame = {
      val mins = down.groupBy("a").agg(min("b").as("mn"))
      down.join(mins, "a")
        .select(col("b").as("a"), col("mn").as("b"))
        .union(mins)
        .where(col("a") =!= col("b"))
        .distinct()
    }

    // Down-pointing distinct edges form a min-rooted star forest — the
    // answer, and a fixed point of both operations — exactly when no node
    // has two out-edges, or an out-edge and an in-edge. One aggregate per
    // node yields both that check (observed while the labelling is
    // materialized, so it costs no job of its own) and the labelling:
    // a node's only target is its root, a node without one is a root.
    def labelling(down: DataFrame, bad: Observation): DataFrame =
      down.select(col("a").as("id"), col("b").as("t"))
        .union(down.select(col("b").as("id"),
          lit(null).cast(down.schema("b").dataType).as("t")))
        .groupBy("id")
        .agg(count("t").as("out"), (count(lit(1)) - count("t")).as("in"),
          min("t").as("t"))
        .observe(bad, count(when(col("out") > 1 ||
          (col("out") > 0 && col("in") > 0), 1)).as("bad"))
        .select(col("id"), coalesce(col("t"), col("id")).as("component"))

    // one row per undirected edge, larger id first
    val edges = Observation()
    val e0 = Materialize(pairs
      .select(greatest(col(aCol), col(bCol)).as("a"),
        least(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .observe(edges, count(lit(1)).as("n")))

    // each materialization reads only the one before it, so a call holds
    // at most two
    @annotation.tailrec
    def loop(e: DataFrame, rounds: Int): (DataFrame, Int) = {
      require(rounds < maxRounds,
        s"connected components did not converge in $maxRounds rounds")
      val s = Materialize(smallStar(largeStar(e)))
      Materialize.release(e)
      val bad = Observation()
      val labels = Materialize(labelling(s, bad))
      if (bad.get("bad") == 0L) {
        Materialize.release(s)
        (labels, rounds + 1)
      } else {
        Materialize.release(labels)
        loop(s, rounds + 1)
      }
    }

    if (edges.get("n") == 0L)
      (e0.select(col("a").as("id"), col("b").as("component")), 0)
    else loop(e0, 0)
  }

  /** Near-duplicate clusters of `docs`: MinHash+LSH candidate pairs
    * ([[MinHashLsh.candidatePairs]]) chained into components. One row per
    * CLUSTERED doc: (idCol, component). */
  def clusters(docs: DataFrame, idCol: String, textCol: String,
               shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
               maxBucket: Int = 1024): DataFrame = {
    val pairs = MinHashLsh.candidatePairs(docs, idCol, textCol, shingleK,
      numHashes, bands, maxBucket)
    connected(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", idCol)
  }

  /** One kept representative per duplicate cluster (and every unclustered
    * doc keeps itself): the member with the highest `score`, ties broken by
    * the smallest id. A single map-side-combinable aggregate — no per-key
    * window sort, so a degenerate million-member cluster costs a min, not a
    * single-task sort. Returns (component, keeper id, n_members). */
  def keepBest(docs: DataFrame, idCol: String, comps: DataFrame,
               score: Column): DataFrame = {
    // comps is (node-id, component) whatever the id column was named —
    // [[connected]] emits "id", [[clusters]] re-labels it to the doc
    // column. Resolve the node-id column BY NAME (the one that is not
    // "component"), not by position: a (component, id)-ordered frame would
    // otherwise silently swap labels for ids and keep the wrong docs.
    val idIn = comps.columns.filterNot(_ == "component") match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"comps must be (node-id, component); got ${other.mkString(",")} + component=" +
          comps.columns.contains("component"))
    }
    val c = comps.select(col(idIn).as(idCol), col("component"))
    docs.join(c, Seq(idCol), "left")
      .withColumn("__c", coalesce(col("component"), col(idCol)))
      .groupBy(col("__c").as("component"))
      .agg(
        // min over (−score, id): highest score wins, then smallest id —
        // deterministic without assuming anything about id ordering ties.
        min_by(col(idCol), struct(negate(score), col(idCol)))
          .as("keeper_id"),
        count(lit(1)).as("n_members"))
  }

  /** The deduplicated corpus itself — every row whose id is its cluster's
    * keeper ([[keepBest]] semantics) — the frame a pipeline feeds
    * downstream. Two scans of `docs` (the keeper aggregate and the
    * semi-join probe side); the semi-join never widens docs with extra
    * columns or duplicate rows. */
  def dropDuplicates(docs: DataFrame, idCol: String, comps: DataFrame,
                     score: Column): DataFrame =
    docs.join(keepBest(docs, idCol, comps, score)
      .select(col("keeper_id").as(idCol)), Seq(idCol), "left_semi")
}

/** Persisted, incrementally-maintained duplicate clusters — union-find as a
  * table. Continuous ingest (e.g. [[MinHashIndex.addAndFindPairs]] under the
  * cron loop) emits near-dup pairs batch by batch; this index accumulates
  * them as a link table and resolves transitive clusters on demand, so the
  * corpus is never re-paired.
  *
  * LSM shape: [[addPairs]] appends O(batch) link rows into the live
  * generation's `delta/` and does nothing else — the cost of ingesting a
  * batch tracks the batch. [[compact]] rewrites everything into flat
  * member→root stars under `stars/` in a fresh generation (atomic pointer
  * swap via the shared [[GenStore]]), restoring O(nodes) state no matter
  * how many batches appended. [[resolveAll]] is INCREMENTAL against that
  * snapshot: delta links are contracted onto their stars' roots (each root
  * is its component's minimum, so the contracted minimum is the true
  * minimum), the alternating-star closure runs over the contracted graph
  * only — O(delta) edges, rounds tracking the delta — and untouched stars
  * pass through a single relabel join. The reference-analog shape: cursor
  * recovery reads the last snapshot plus the tail, not the whole ledger
  * (`MessageDeduplication.recoverSequenceIdsMap`,
  * pulsar-broker/.../persistent/MessageDeduplication.java). Run compact on
  * the same maintenance cadence as the other stores
  * ([[graft.sources.CronTriggerer]]).
  *
  * Evidence model: every stored row is headed by the node it is evidence
  * FOR. Raw pairs are appended in both directions, so each endpoint heads
  * one copy; compaction writes each member's star (and each root's
  * self-row) headed by that node, stamped with the node's own newest link
  * ord. Retention ([[compact]]'s `retainOrdGe`) therefore expires NODES
  * whose own evidence is stale — a fresh link elsewhere in the cluster can
  * never launder an expired member back to life. Expiring a node through
  * which a compacted cluster was contracted dissolves the paths that ran
  * through it (conservative: post-compaction retention may split more than
  * link-level retention would have — it never keeps more).
  *
  * Crash contract: appends are plain parquet appends of DISTINCT pairs, so
  * a replayed batch re-appends identical links — duplicate link rows never
  * change the resolved clusters (idempotent replay). Appends and compacts
  * serialize on [[StoreLock]] ([[GenStore]]), like the other stores.
  *
  * Reference analog: compacted subscription state that outlives any run
  * (`MessageDeduplication.takeSnapshot`,
  * pulsar-broker/.../persistent/MessageDeduplication.java).
  */
class ComponentsIndex(spark: SparkSession, path: String,
                      strictOrd: Boolean = false) {

  private val gens = new GenStore(path)

  // shared ord-discipline advisory: pair evidence is stamped `ord` and
  // compact's retention prunes on it — a fresh-checkpoint restart's
  // reset ords would mis-age evidence (see [[OrdHighWater]])
  private val hwm = new OrdHighWater(new java.io.File(path), "components",
    strictOrd)

  /** Parquet files directly in `dir` — a pure listing; an empty append
    * leaves none ([[addPairs]]). */
  private def dataFilesIn(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  private def readDir(dir: File): Option[DataFrame] =
    if (dataFilesIn(dir).isEmpty) None
    else Some(spark.read.parquet(dir.getAbsolutePath))

  /** Flat member→root stars (a, b=root, ord) from the last [[compact]];
    * absent before the first one. One row per known node (roots label
    * themselves). */
  private def stars(): Option[DataFrame] =
    gens.currentGen().flatMap(g => readDir(new File(g, "stars")))

  /** Post-compact link appends (a, b, ord), in `delta/`. */
  private def delta(): Option[DataFrame] =
    gens.currentGen().flatMap(g => readDir(new File(g, "delta")))

  /** Wall-clock-stamped append — for stores whose evidence-age axis IS
    * ingest time. Refused on a strict-ord store (one ~epoch-ms stamp
    * onto an epoch-id-fed store would advance the high-water mark past
    * every future epoch id and wedge all later appends) — the same
    * overload shape as [[MinHashIndex]]'s no-ord `addAndFindPairs`:
    * the explicit-ord face accepts ANY Long, including the negative
    * monotone stamps an in-band sentinel would silently remap to
    * wall-clock. */
  def addPairs(pairs: DataFrame, aCol: String, bCol: String): Unit = {
    require(!strictOrd, "a strict-ord ComponentsIndex requires an " +
      "explicit batch ord: the wall-clock default would advance the " +
      "high-water mark past every epoch-id-scale ord")
    addPairs(pairs, aCol, bCol, System.currentTimeMillis())
  }

  /** Append one batch of pairs, stamped `ord` (epoch-ms or any monotone
    * batch stamp — the evidence-age axis [[compact]]'s retention prunes
    * on). Each pair lands twice (once headed by each endpoint), so the
    * append is O(2·batch) rows; no closure work happens here. A batch
    * without pairs leaves no file: Spark still writes one schema-only
    * file for an empty write, so the write's row count is observed
    * (no extra job) and, at zero, the entries it added are deleted
    * under the append's lock. */
  def addPairs(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b", ord: Long): Unit =
      gens.append(hwm, ord) { gen =>
    val dir = new File(gen, "delta")
    def names = Option(dir.list()).getOrElse(Array.empty[String]).toSet
    val before = names
    val rows = Observation()
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
      .withColumn("ord", graft.functions.Params.paramLong(ord))
      .observe(rows, count(lit(1)).as("n"))
      .write.mode("append")
      .parquet(dir.getAbsolutePath)
    if (rows.get("n") == 0L) {
      (names -- before).foreach(n => new File(dir, n).delete())
      dir.delete() // only succeeds when the write created it
    }
  }

  /** Delta links contracted onto their snapshot roots: each endpoint maps
    * to its star root (itself when unknown), self-loops drop inside the
    * closure. Each root is its component's MINIMUM id, so the minimum over
    * contracted nodes equals the minimum over the merged components'
    * members — contracted labels are the true labels. */
  private def contracted(s: DataFrame, d: DataFrame): DataFrame = {
    val m = s.select(col("a").as("__n"), col("b").as("__r"))
    d.select(col("a"), col("b"))
      .join(m.select(col("__n").as("a"), col("__r").as("__ra")), Seq("a"), "left")
      .join(m.select(col("__n").as("b"), col("__r").as("__rb")), Seq("b"), "left")
      .select(coalesce(col("__ra"), col("a")).as("ra"),
        coalesce(col("__rb"), col("b")).as("rb"))
  }

  /** Untouched stars pass through; stars whose root was relabeled by the
    * delta closure follow it; delta-closure nodes (touched roots + fresh
    * nodes) appear directly. */
  private def assemble(s: DataFrame, cc: DataFrame): DataFrame = {
    val relabel = cc.select(col("id").as("__r"), col("component").as("__c"))
    s.select(col("a").as("id"), col("b").as("__r"))
      .join(relabel, Seq("__r"), "left")
      .select(col("id"), coalesce(col("__c"), col("__r")).as("component"))
      .unionByName(cc)
      .distinct()
  }

  /** (id, component) over every node linked so far. Incremental: the
    * closure runs only over the delta contracted onto the last compact's
    * stars (rounds and edge-set size track links-since-compact, not
    * history); the stars snapshot is touched by exactly two single-pass
    * joins (root lookup + relabel). Before the first append there is no
    * stored schema, so the empty result types its columns as bigint;
    * callers with non-numeric ids should treat the cold-start frame as
    * shapeless. `maxRounds` bounds the delta closure (exposed so tests can
    * assert the rounds bound really does track the delta). */
  def resolveAll(maxRounds: Int = 50): DataFrame = (stars(), delta()) match {
    case (Some(s), Some(d)) =>
      assemble(s, Components.connected(contracted(s, d), "ra", "rb", maxRounds))
    case (Some(s), None) =>
      s.select(col("a").as("id"), col("b").as("component"))
    case (None, Some(d)) => Components.connected(d, "a", "b", maxRounds)
    case (None, None) =>
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("id", "component")
  }

  /** Rewrite everything as flat member→root stars (plus root self-rows)
    * under `stars/` in a fresh generation — state back to O(nodes) and
    * resolution unchanged, no matter how many batches appended. The
    * closure input is the INCREMENTAL contraction (delta onto stars), so
    * steady-state compaction cost tracks the delta too. Each row is
    * stamped with its head node's own newest link ord (see the class
    * doc's evidence model). `retainOrdGe` first EXPIRES nodes whose
    * newest evidence predates the horizon: links touching an expired node
    * dissolve, and clusters held together only through it split (the
    * dedup-snapshot retention contract) — that path re-closes the full
    * kept link set, since expiry can split compacted stars. The replaced
    * generation is kept one cycle for lazy readers; older ones are
    * deleted. */
  def compact(retainOrdGe: Option[Long] = None): Unit =
      gens.rewrite(f => Seq("stars", "delta").contains(f.getName) &&
        dataFilesIn(f).nonEmpty) { (_, next) =>
    val (st, dl) = (stars(), delta())
    // everything stored, viewed as link rows (a, b, ord) — the
    // retention / evidence domain
    val all = (st ++ dl).reduce(_ unionByName _)
    // newest evidence per node: max ord over the rows it heads. Raw
    // links are stored in both directions and stars/self-rows head
    // their member, so the a-side max is exactly the node's own newest
    // evidence — a star's b-side (the root) gains nothing from its
    // members' freshness.
    val nodeOrd = all.groupBy(col("a").as("id")).agg(max("ord").as("__no"))
    // the closure's result is written, then released
    def closeAndWrite(links: DataFrame, aCol: String, bCol: String)(
        stars: DataFrame => DataFrame): Unit = {
      val cc = Components.connected(links, aCol, bCol)
      try write(stars(cc)) finally Materialize.release(cc)
    }
    def write(cc: DataFrame): Unit =
      cc.join(nodeOrd, "id")
        .select(col("id").as("a"), col("component").as("b"),
          col("__no").as("ord"))
        .write.parquet(new File(next, "stars").getAbsolutePath)
    (retainOrdGe, st, dl) match {
      case (Some(h), _, _) =>
        val fresh = nodeOrd.where(col("__no") >= h)
        val kept = all.where(col("a") =!= col("b"))
          .join(fresh.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(fresh.select(col("id").as("b")), Seq("b"), "left_semi")
        closeAndWrite(kept, "a", "b")(identity)
      case (None, Some(s), Some(d)) =>
        closeAndWrite(contracted(s, d), "ra", "rb")(assemble(s, _))
      case (None, Some(s), None) =>
        write(s.select(col("a").as("id"), col("b").as("component")))
      case _ => closeAndWrite(all, "a", "b")(identity)
    }
  }

  /** Count-triggered [[compact]] ([[GenStore.compactIfDue]]), forwarding
    * `retainOrdGe` to the compaction it triggers. Due-ness counts the
    * DELTA dir's append files only, NOT [[GenStore.appendDepth]] over the
    * whole generation: `stars/` is the compacted form itself and its file
    * count is the closure write's shuffle width — counting it would
    * re-rewrite a quiet store on every fire once K is at or below that
    * width. Zero-row appends do not count. */
  def compactIfDue(maxBatches: Int,
                   retainOrdGe: Option[Long] = None): Boolean =
    gens.compactIfDue(maxBatches,
      gens.currentGen().map(g => dataFilesIn(new File(g, "delta")).size)
        .getOrElse(0))(compact(retainOrdGe))
}
