package graft.ops

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The co-partitioned edge list [[Hits]] and [[PageRank]] iterate over.
  *
  * Every shuffle of a call has one width, the session's
  * `spark.sql.shuffle.partitions`, and every node one owner: partition p
  * holds the edges whose source p owns in [[out]], the edges whose target
  * p owns in [[in]], and p's slice of every node vector. Joining a vector
  * onto its edges is then a narrow `zipPartitions`, and a half-round is
  * exactly one shuffle to the other endpoint ([[sumToOwners]]), which also
  * carries the half-round's global total to every partition. All rounds of
  * a call form one lineage, run by the one job of [[materialized]].
  *
  * Null endpoints keep SQL join semantics: a null node is counted (degree,
  * node count) but never joins, so nothing reads its value through an edge
  * and nothing sent to it arrives. Sums use `addExact`/`multiplyExact`, so
  * an overflow fails as ANSI SQL arithmetic does.
  */
private[ops] final class LinkGraph(edges: DataFrame, srcCol: String,
                                   dstCol: String) {
  import LinkGraph._

  private val spark = edges.sparkSession
  private val owners =
    new Owners(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  private val e = edges.select(col(srcCol).cast("long"),
    col(dstCol).cast("long"))

  /** The `node` column of a result: nullable when an endpoint is. */
  private val nodeField: StructField =
    StructField("node", LongType, e.schema.exists(_.nullable))

  /** Distinct (src, dst) edges; partition p holds those whose src p owns.
    * Duplicates meet in one partition, so the dedup runs after the
    * shuffle, on every read. */
  val out: RDD[(Node, Node)] = e.rdd
    .map(r => (r.get(0).asInstanceOf[Node], r.get(1).asInstanceOf[Node]))
    .partitionBy(owners)
    .mapPartitions(_.distinct, preservesPartitioning = true)

  /** The same edges as (dst, src); partition p holds those whose dst p
    * owns. */
  val in: RDD[(Node, Node)] = out.map(_.swap).partitionBy(owners)

  /** (max degree, node count), a null endpoint counted as a node, in one
    * job. The job also writes both edge shuffles, which the rounds then
    * read without running them again. */
  def degreeAndCount(): (Long, Long) =
    out.zipPartitions(in) { (o, i) =>
      val deg = mutable.HashMap.empty[Node, Long]
      (o ++ i).foreach { case (v, _) => deg(v) = deg.getOrElse(v, 0L) + 1L }
      Iterator((deg.values.maxOption.getOrElse(0L), deg.size.toLong))
    }.collect().foldLeft((0L, 0L)) { case ((m, n), (pm, pn)) =>
      (math.max(m, pm), n + pn) }

  /** The vector with value `v` at every node. */
  def uniform(v: Long): RDD[Slice] =
    spark.sparkContext.parallelize(0 until owners.numPartitions,
      owners.numPartitions).map(_ => Slice(mutable.HashMap.empty, v))

  /** The vector `init` (node, `valueCol`) gives at the graph's nodes, and
    * `default` at the nodes it does not name (a null node or value names
    * none). */
  def seeded(init: DataFrame, valueCol: String, default: Long): RDD[Slice] = {
    val named = init.select(col("node").cast("long"),
        col(valueCol).cast("long")).rdd
      .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), r.getLong(1))))
      .partitionBy(owners)
    out.zipPartitions(in, named) { (o, i, s) =>
      val byNode = mutable.HashMap.from(s)
      val vals = mutable.HashMap.empty[Long, Long]
      owned(o, i).foreach(v =>
        if (v != null) byNode.get(v).foreach(vals(v) = _))
      Iterator(Slice(vals, default))
    }
  }

  /** Σ of a vector over every node, a null node included, in one job. */
  def total(vec: RDD[Slice]): Long =
    out.zipPartitions(in, vec) { (o, i, s) =>
      val x = s.next()
      Iterator(owned(o, i).foldLeft(0L)((t, v) => Math.addExact(t, x(v))))
    }.collect().foldLeft(0L)(Math.addExact)

  /** The half-round shuffle. Each map partition gives its per-node sums
    * and one partial value; it sends every node's sum to the node's owner
    * and its partial to EVERY partition. Partition r thus returns the
    * global sums of the nodes it owns and the global Σ partials, with no
    * driver round-trip and no single-partition exchange. */
  def sumToOwners(local: RDD[(mutable.HashMap[Long, Long], Long)])
      : RDD[(mutable.HashMap[Long, Long], Long)] = {
    val owners = this.owners
    val width = owners.numPartitions
    local.mapPartitions { it =>
      val (sums, partial) = it.next()
      val keys = Array.fill(width)(mutable.ArrayBuilder.make[Long])
      val vals = Array.fill(width)(mutable.ArrayBuilder.make[Long])
      sums.foreach { case (k, v) =>
        val r = owners.owner(k); keys(r) += k; vals(r) += v }
      Iterator.tabulate(width)(r =>
        (r, (keys(r).result(), vals(r).result(), partial)))
    }.partitionBy(new Direct(width)).mapPartitions { it =>
      val sums = mutable.HashMap.empty[Long, Long]
      var total = 0L
      it.foreach { case (_, (ks, vs, partial)) =>
        total = Math.addExact(total, partial)
        var j = 0
        while (j < ks.length) {
          sums(ks(j)) = Math.addExact(sums.getOrElse(ks(j), 0L), vs(j))
          j += 1
        }
      }
      Iterator((sums, total))
    }
  }

  /** `rows` as a frame through [[Materialize]]: the call's one job over all
    * rounds, and the one RDD it leaves persisted. */
  def materialized(rows: RDD[Row], fields: StructField*): DataFrame =
    Materialize(spark.createDataFrame(rows, StructType(nodeField +: fields)))
}

private[ops] object LinkGraph {

  /** A node id; null is the SQL null endpoint. */
  type Node = java.lang.Long

  /** One partition's slice of a node vector: `vals` at the nodes it
    * names, `default` at every other node the partition owns. */
  final case class Slice(vals: mutable.HashMap[Long, Long], default: Long) {
    def apply(v: Node): Long =
      if (v == null) default else vals.getOrElse(v.longValue, default)
  }

  /** The nodes one partition owns, each once: the owned endpoints of its
    * slices of [[LinkGraph.out]] and [[LinkGraph.in]]. */
  def owned(out: Iterator[(Node, Node)],
            in: Iterator[(Node, Node)]): Iterator[Node] =
    (out ++ in).map(_._1).distinct

  /** Node → owning partition; the null node lives in partition 0. */
  private final class Owners(val numPartitions: Int) extends Partitioner {
    def owner(v: Long): Int = Math.floorMod(java.lang.Long.hashCode(v),
      numPartitions)
    def getPartition(key: Any): Int = key match {
      case null => 0
      case v: java.lang.Long => owner(v.longValue)
    }
  }

  /** Keys that already are partition ids. */
  private final class Direct(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }
}
