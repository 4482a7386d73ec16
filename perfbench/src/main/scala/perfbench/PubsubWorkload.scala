package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.{Admin, TableViewHandle}
import graft.ops.TopicCompactor

/** pubsub: one client, closed loop, a seeded mix of produce and admin reads
  * on one partitioned topic that grows during the run, with a periodic
  * topic compaction. Reaches `sources`
  * and `core` only; no store and no pair expansion. */
final class PubsubWorkload(spark: SparkSession, seed: Long) extends Workload {
  import GenPubsub._

  private val InitialMessages = 1000
  private val InitialBatches = 2

  private var gen: GenPubsub = _
  private var dir: String = _
  private var admin: Admin = _
  private var tv: TableViewHandle = _
  private val model = new PubsubModel
  private val mismatches = mutable.ArrayBuffer.empty[String]

  private val schema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("key", StringType),
    StructField("value", StringType), StructField("event_time", TimestampType),
    StructField("publish_time", TimestampType),
    StructField("producer_name", StringType),
    StructField("sequence_id", LongType)))

  private def produce(ms: Seq[Msg]): Unit = {
    val rows = ms.map(m => Row("bench", m.partition, m.offset, m.key, m.value,
      new Timestamp(m.publishMs), new Timestamp(m.publishMs), "perfbench",
      m.offset))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.format("graft-topic").option("path", dir).mode("append").save()
    model.add(ms)
  }

  def prepare(d: File): Unit = {
    gen = new GenPubsub(seed)
    dir = new File(d, "topic").getAbsolutePath
    model.clear()
    mismatches.clear()
    gen.messages(InitialMessages).grouped(InitialMessages / InitialBatches)
      .foreach(produce)
    admin = new Admin(spark, dir)
    Option(tv).foreach(_.close())
    tv = new TableViewHandle(spark, dir)
  }

  def warmUp(): Unit = {
    val noTrace = new Tracer(spark.sparkContext, enabled = false)
    (Produce +: Compact +: Reads).foreach(op => run(op, noTrace))
  }

  private def segments(): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(p => Option(p.listFiles()))
      .flatten.count(f => f.getName.startsWith("segment-") &&
        !f.getName.endsWith(".meta"))

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok && mismatches.size < 20) mismatches += what

  /** Runs one op and checks its answer against the model. */
  private def run(op: Op, tr: Tracer): Unit = op match {
    case Produce =>
      val ms = gen.messages(gen.batch)
      tr.span("sources.produce")(produce(ms))
    case Compact =>
      val (kept, _) = tr.span("ops.topic_compactor.compact")(
        TopicCompactor.compact(spark, dir))
      model.compact()
      expect(s"compact kept $kept", kept == model.keyCount)
    case Read("peek") =>
      val from = model.someOffset(gen.pick(model.size))
      val got = tr.span("core.admin.peek")(admin.peekMessages(from, 10))
        .map(r => (r.getAs[Long]("offset"), r.getAs[String]("value"))).toSeq
      expect(s"peek $from", got == model.peek(from, 10))
    case Read("by_id") =>
      val off = model.someOffset(gen.pick(model.size))
      val got = tr.span("core.admin.by_id")(admin.getMessageById(off))
        .map(_.getAs[String]("value"))
      expect(s"by_id $off", got == model.value(off))
    case Read("by_timestamp") =>
      val ts = model.someTimestamp(gen.pick(model.size))
      val got = tr.span("core.admin.by_timestamp")(
        admin.getMessageIdByTimestamp(ts))
      expect(s"by_timestamp $ts", got == model.firstAtOrAfter(ts))
    case Read("backlog") =>
      val cursor = model.someOffset(gen.pick(model.size))
      val got = tr.span("core.admin.backlog")(admin.analyzeBacklog(cursor))
      expect(s"backlog $cursor", got == model.backlog(cursor))
    case Read("tableview") =>
      val key = model.someKey(gen.pick(model.keyCount))
      tr.span("core.tableview.refresh")(tv.refresh())
      val got = tr.span("core.tableview.get")(tv.get(key))
      expect(s"tableview $key", got == model.latest(key))
    case Read("seek_scan") =>
      val ts = model.someTimestamp(gen.pick(model.size))
      val got = tr.span("sources.scan")(
        spark.read.format("graft-topic").option("path", dir).load()
          .where(col("publish_time") >= new Timestamp(ts)).count())
      expect(s"seek_scan $ts", got == model.countAtOrAfter(ts))
    case Read(other) => throw new IllegalStateException(s"unknown read $other")
  }

  private val listed = mutable.ArrayBuffer.empty[(Long, Int)]

  private def step(tr: Tracer, traced: Boolean): (Op, Double) = {
    val op = gen.nextOp()
    // compactions are rare and outside the overhead comparison (reads), so
    // a traced run traces every one of them
    val on = traced || (tr.enabled && op == Compact)
    val segs = if (on) segments() else 0
    val (_, s) = tr.op(s"pubsub.${op.name}", on)(run(op, tr))
    if (on) listed += tr.lastOp -> segs
    (op, s)
  }

  def measure(seconds: Double, tr: Tracer): Outcome = {
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
    val r = ClosedLoop.run(seconds, tr) { traced =>
      val (op, s) = step(tr, traced)
      val cls = op match { case Read(_) => "read"; case o => o.name }
      lat.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += s -> traced
      1
    }
    def all(c: String) = lat.getOrElse(c, mutable.ArrayBuffer.empty).map(_._1)
    val reads = all("read").toSeq
    val produces = all("produce").toSeq
    val ops = lat.values.map(_.size).sum
    Outcome(
      correct = mismatches.isEmpty && r.errors.isEmpty && reads.nonEmpty &&
        produces.nonEmpty,
      attempted = r.attempted, failed = r.failed,
      e2e = Map(
        "main_p50_s" -> Stats.median(reads),
        // p75: about the highest percentile a run's ~40 reads back with ten
        // samples beyond it
        "main_tail_s" -> Stats.percentile(reads, 0.75),
        "side_p50_s" -> Stats.median(produces),
        "work_per_s" -> ops / r.elapsedS),
      detail = Seq(
        "read_p50_s" -> Stats.median(reads),
        "read_p75_s" -> Stats.percentile(reads, 0.75),
        "read_p90_s" -> Stats.percentile(reads, 0.90),
        "read_p95_s" -> Stats.percentile(reads, 0.95),
        "read_samples" -> reads.size,
        "read_p95_backed" -> Stats.backed(reads.size, 0.95),
        "produce_p50_s" -> Stats.median(produces),
        "produce_p90_s" -> Stats.percentile(produces, 0.90),
        "produce_samples" -> produces.size,
        "produce_p90_backed" -> Stats.backed(produces.size, 0.90),
        "pubsub_ops_per_s" -> ops / r.elapsedS,
        "compactions" -> all("compact").size,
        "share_produce_ops" -> produces.size.toDouble / math.max(1, ops),
        "share_top_key_msgs" -> model.topKeyShare,
        "distinct_keys" -> model.keyCount,
        "topic_segments_end" -> segments(),
        "mismatches" -> (mismatches.toSeq ++ r.errors)),
      overhead = ClosedLoop.overhead(lat.getOrElse("read", Nil).toSeq))
  }

  def perLayer(rep: TraceReport): Seq[(String, Double)] = {
    val scans = Seq("core.admin.peek", "core.admin.by_id",
      "core.admin.by_timestamp", "core.admin.backlog", "sources.scan")
      .flatMap(rep.calls)
    val segsByOp = listed.toMap
    val ratios = scans.flatMap { s =>
      segsByOp.get(s.op).filter(_ > 0).map { n =>
        (n.toDouble, rep.sums(s).leafTasks.toDouble)
      }
    }
    val admin = Seq("core.admin.peek", "core.admin.by_id",
      "core.admin.by_timestamp", "core.admin.backlog").flatMap(rep.calls)
    Seq(
      "sources.produce.call_s" -> rep.callS("sources.produce"),
      "sources.produce.jobs" -> rep.jobs("sources.produce"),
      "sources.topic.segments" -> Stats.medianOr0(ratios.map(_._1)),
      "sources.scan.segments_read" -> Stats.medianOr0(ratios.map(_._2)),
      "sources.scan.prune_ratio" -> Stats.medianOr0(ratios.map { case (n, r) =>
        math.max(0.0, n - r) / n }),
      "sources.scan.input_bytes" -> Stats.medianOr0(scans.map(s =>
        rep.sums(s).inputBytes.toDouble)),
      "core.admin.peek_s" -> rep.callS("core.admin.peek"),
      "core.admin.by_id_s" -> rep.callS("core.admin.by_id"),
      "core.admin.by_timestamp_s" -> rep.callS("core.admin.by_timestamp"),
      "core.admin.backlog_s" -> rep.callS("core.admin.backlog"),
      "core.admin.jobs_per_call" ->
        Stats.medianOr0(admin.map(rep.jobsOf(_).size.toDouble)),
      "core.tableview.refresh_s" -> rep.callS("core.tableview.refresh"),
      "core.tableview.get_s" -> rep.callS("core.tableview.get"),
      "ops.topic_compactor.compact_s" ->
        rep.callS("ops.topic_compactor.compact"))
  }

  override def close(): Unit = Option(tv).foreach(_.close())
}

/** The generator-known state of the topic: what every read must return. */
final class PubsubModel {
  private val live = new java.util.TreeMap[java.lang.Long, Msg]()
  private val latestByKey = mutable.HashMap.empty[String, Msg]
  private val keyCounts = mutable.HashMap.empty[String, Long]
  private var keysSorted: Vector[String] = Vector.empty

  def clear(): Unit = {
    live.clear(); latestByKey.clear(); keyCounts.clear()
    keysSorted = Vector.empty
  }

  def add(ms: Seq[Msg]): Unit = {
    ms.foreach { m =>
      live.put(m.offset, m)
      latestByKey(m.key) = m
      keyCounts(m.key) = keyCounts.getOrElse(m.key, 0L) + 1
    }
    keysSorted = latestByKey.keys.toVector.sorted
  }

  /** Topic compaction keeps the latest message per key. */
  def compact(): Unit = {
    live.clear()
    latestByKey.values.foreach(m => live.put(m.offset, m))
  }

  def size: Int = live.size
  def keyCount: Int = latestByKey.size
  def topKeyShare: Double =
    if (keyCounts.isEmpty) 0.0
    else keyCounts.values.max.toDouble / keyCounts.values.sum

  private def nth(i: Int): Msg = {
    val it = live.values().iterator()
    var k = 0
    while (k < i) { it.next(); k += 1 }
    it.next()
  }
  def someOffset(i: Int): Long = nth(i).offset
  def someTimestamp(i: Int): Long = nth(i).publishMs - 5L
  def someKey(i: Int): String = keysSorted(i)

  def value(off: Long): Option[String] = Option(live.get(off)).map(_.value)
  def latest(key: String): Option[String] = latestByKey.get(key).map(_.value)

  def peek(from: Long, n: Int): Seq[(Long, String)] =
    live.tailMap(from, true).values().asScala.take(n)
      .map(m => (m.offset, m.value)).toSeq

  def firstAtOrAfter(ts: Long): Option[Long] =
    live.values().asScala.find(_.publishMs >= ts).map(_.offset)

  def countAtOrAfter(ts: Long): Long =
    live.values().asScala.count(_.publishMs >= ts).toLong

  def backlog(cursor: Long): (Long, Long) = {
    val tail = live.tailMap(cursor, false).values().asScala
    (tail.size.toLong, tail.map(_.value.getBytes("UTF-8").length.toLong).sum)
  }
}
