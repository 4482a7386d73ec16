package graft.sources.v2

import java.io.File
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Pulsar-like topic as a custom DSv2 source/sink — the "Structured
  * Streaming + custom source" north star.
  *
  * Storage model: a topic is a directory of PARTITION subdirectories
  * (`partition-NNN/`), each an append-only log of immutable JSON-line segment
  * files (`segment-*.jsonl`) — the partitioned-topic layout (a partitioned
  * topic is N internal topics, reference:
  * pulsar-client/.../PartitionedProducerImpl.java) over the managed-ledger
  * analog (a ledger is sealed once written; reference:
  * managed-ledger/.../ManagedLedgerImpl.java:767-794). Segments directly in
  * the topic root list as one flat partition: that is how a single
  * partition directory reads on its own as a topic (DelayedBuckets drains
  * each parked bucket's partition that way).
  *
  * Read paths — one row-based path, with one reader per segment codec
  * ([[SegmentReader]] for hot JSONL, [[ParquetSegmentReader]] for cold
  * parquet twins) serving batch, AS OF and micro-batch reads alike:
  *  - batch scan = Reader from earliest to latest (Reader.java:148-174), with
  *    pushed filters on `offset`/`publish_time` used to PRUNE whole segments
  *    via a per-segment min/max footer — the seek-by-timestamp binary search
  *    (PersistentMessageFinder.java:57-64) and compacted-topic findStartPoint
  *    (CompactedTopicImpl.java:169-197) as DSv2 pruning. Column pruning is
  *    pushed into both readers: the JSONL parser builds only the requested
  *    fields, the parquet reader decodes only the requested columns.
  *    Every operator above the scan is row-based, so the per-segment
  *    sidecar and footer stats are where the layout pays off, not a
  *    columnar hand-off to Spark.
  *  - AS OF (time travel) = the batch scan plus a row filter in the reader
  *    (publish time known and ≤ t), after segments wholly newer than t are
  *    pruned from the same stats.
  *  - micro-batch stream = Consumer subscribe (ConsumerImpl): one
  *    InputPartition per (topic partition, sealed segment); the partition
  *    list is re-discovered at every micro-batch plan, so a topic growing
  *    from N to M partitions is picked up without restart — the
  *    autoUpdatePartitions behavior (ConsumerBuilder.java:614-626).
  *
  * Write paths: batch append and streaming epoch writes, each routing rows to
  * their envelope `partition`'s subdirectory (the producer's partition
  * router). Streaming segment names embed (epochId, taskId), so a replayed
  * epoch overwrites the same files — idempotent, the effectively-once produce
  * guarantee (FunctionConfig.EFFECTIVELY_ONCE analog).
  */
class TopicDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topic"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TopicTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new TopicTable(properties.get("path"))
}

object TopicTable {
  /** Envelope subset persisted per message (ms-epoch times on disk).
    * `replicated_from` is the geo-replication origin stamp (reference:
    * Message.isReplicated/getReplicatedFrom, Message.java:231-239): null for
    * locally-produced rows, the origin cluster for rows a replicator copied
    * in — the loop guard [[graft.ops.Sinks.replicate]] keys on. */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("event_time", TimestampType),
    StructField("publish_time", TimestampType),
    StructField("producer_name", StringType),
    StructField("sequence_id", LongType),
    StructField("replicated_from", StringType)))

  /** Bookkeeping id for segments sitting directly in the topic root (a
    * partition directory read on its own as a topic). */
  val FlatPartition: Int = -1

  private val PartDirRx = "partition-(\\d+)".r

  def partitionDir(root: String, pid: Int): File =
    new File(root, f"partition-$pid%03d")

  private def segmentsIn(d: File): Array[File] =
    Option(d.listFiles((_, n) => n.startsWith("segment-") &&
      (n.endsWith(".jsonl") || n.endsWith(".jsonl" + SegmentCodec.ColdExt))))
      .getOrElse(Array.empty).sortBy(_.getName)

  /** Cursor-stable segment name: the offloader may rewrite a JSONL segment
    * as a parquet twin ([[SegmentCodec]]); the physical `.parquet` suffix is
    * a codec detail, not identity. Frontiers, families, pending sets, and
    * consumed-checks all key on the logical name, so offloading a segment
    * never changes its cursor position — and checkpoints written before a
    * rewrite stay valid after it. */
  def logicalName(name: String): String =
    name.stripSuffix(SegmentCodec.ColdExt)
  def logicalName(f: File): String = logicalName(f.getName)

  /** The cold-tier subdirectory: sealed segments moved here by
    * [[graft.ops.Offloader]] keep their (partition, name) identity, so
    * consumers — including the name-keyed stream cursor — read through
    * transparently (the offload read-back of
    * BlobStoreManagedLedgerOffloader.java:95). */
  val OffloadTier = "offloaded"

  /** Every (partitionId, segment) in the topic: partition subdirectories,
    * the cold tier's mirror tree, plus flat-root segments (partition
    * [[FlatPartition]]). Re-listed at every micro-batch plan —
    * partition-count evolution is picked up live. One LOGICAL name maps to
    * exactly one file: an offload race (parquet twin written, JSONL not yet
    * deleted) briefly leaves two physical copies of the same segment, and
    * the JSONL copy wins (fresh writes are JSONL; the twin is the rewrite),
    * the hot tier breaking any remaining tie — never both, or every row in
    * the segment would double-deliver. */
  def listPartitioned(dir: String): Seq[(Int, File)] = {
    val d = new File(dir)
    if (!d.exists()) return Seq.empty
    def tree(root: File): Seq[(Int, File)] = {
      val flat = segmentsIn(root).toSeq.map(f => (FlatPartition, f))
      val parts = Option(root.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap { p =>
          p.getName match {
            case PartDirRx(n) if p.isDirectory =>
              segmentsIn(p).toSeq.map(f => (n.toInt, f))
            case _ => Seq.empty
          }
        }
      flat ++ parts
    }
    val hot = tree(d).map { case (pid, f) => ((pid, f), false) }
    val cold = tree(new File(d, OffloadTier)).map { case (pid, f) => ((pid, f), true) }
    (hot ++ cold)
      .groupBy { case ((pid, f), _) => (pid, logicalName(f)) }
      .values.map { copies =>
        copies.minBy { case ((_, f), isCold) =>
          (f.getName.endsWith(SegmentCodec.ColdExt), isCold)
        }._1
      }
      .toSeq
      .sortBy { case (pid, f) => (pid, logicalName(f)) }
  }

  def listSegments(dir: String): Array[File] =
    listPartitioned(dir).map(_._2).toArray

  /** Where segment `f` of a partition directory, listed earlier, lives
    * now: offload rewrites a
    * segment into the cold tier (twin first, hot copy deleted after) and
    * recall renames it back, both keeping its (partition, logical name),
    * so the same segment is under one of these four paths. Same preference
    * as [[listPartitioned]]: JSONL before twin, hot before cold. Returns
    * `f` when no copy exists. */
  private[v2] def relocate(f: File): File = {
    val part = f.getParentFile
    val tierRoot = part.getParentFile
    val root =
      if (tierRoot.getName == OffloadTier) tierRoot.getParentFile else tierRoot
    val copies = for {
      ext <- Seq("", SegmentCodec.ColdExt)
      tier <- Seq(root, new File(root, OffloadTier))
    } yield new File(new File(tier, part.getName), logicalName(f) + ext)
    copies.find(_.exists()).getOrElse(f)
  }

  /** Segment-name family: the non-digit prefix after `segment-` ("e" for
    * epoch-named streaming segments, "b" for batch appends, "txn-e" for
    * transactional epochs, ...). Within one (partition, family) the writers
    * assign names monotone in VISIBILITY order — epoch numbers for streaming
    * (epochs are serialized per query), driver-issued job-commit stamps for
    * batch ([[TopicBatchWrite.commit]]) — the analog of the broker's
    * monotone ledger-id allocation, and the contract that lets the stream
    * cursor be a bounded frontier instead of a segment set. Writers outside
    * this application fall back to wall clocks; readers defend with
    * `frontierGraceMs`. */
  def family(name: String): String =
    name.stripPrefix("segment-").takeWhile(!_.isDigit)

  /** Topic resolution for `subscribePattern` (regex multi-topic subscribe,
    * reference: ConsumerBuilder.topicsPattern :140-157): subdirectories of
    * `path` whose name matches. Called at EVERY micro-batch plan, so topics
    * created mid-stream are discovered without restart — the recheck timer of
    * PatternMultiTopicsConsumerImpl.java:50,67,96. Without a pattern the path
    * itself is the single topic (named ""). */
  def resolveTopics(path: String, pattern: Option[String]): Seq[(String, String)] =
    pattern match {
      case None => Seq(("", path))
      case Some(p) =>
        val rx = p.r
        Option(new File(path).listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isDirectory &&
            rx.pattern.matcher(f.getName).matches())
          .sortBy(_.getName)
          .map(f => (f.getName, f.getAbsolutePath))
    }

  /** Offset bookkeeping key for one (topic, partition). */
  def partKey(topic: String, pid: Int): String =
    if (topic.isEmpty) pid.toString else s"$topic#$pid"
}

class TopicTable(path: String, asOfMs: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite {
  require(path != null, "graft-topic requires .option(\"path\", dir)")
  override def name(): String =
    s"graft-topic:$path${asOfMs.map(t => s"@asOf=$t").getOrElse("")}"
  override def schema(): StructType = TopicTable.schema
  /** ACCEPT_ANY_SCHEMA: writers resolve envelope fields BY NAME from the
    * incoming query schema (absent nullable fields persist as null), so a
    * producer can append the 9-column legacy envelope or the full one with
    * `replicated_from` without a cast shim. */
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TopicScanBuilder(path,
      Option(options.get("maxSegmentsPerTrigger")).map(_.toInt),
      Option(options.get("startingTime")).map(_.toLong),
      Option(options.get("subscribePattern")),
      Option(options.get("frontierGraceMs")).map(_.toLong),
      asOfMs)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TopicWriteBuilder(path, info.queryId(), info.schema())
}

// ---------------------------------------------------------------------- read

class TopicScanBuilder(path: String, maxSegmentsPerTrigger: Option[Int] = None,
                       startingTimeMs: Option[Long] = None,
                       pattern: Option[String] = None,
                       frontierGraceMs: Option[Long] = None,
                       asOfMs: Option[Long] = None) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TopicTable.schema

  /** Accept offset/publish_time range filters for segment pruning; report all
    * filters as residual so Spark re-applies them exactly. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case GreaterThan(a, _) => a == "offset" || a == "publish_time"
      case GreaterThanOrEqual(a, _) => a == "offset" || a == "publish_time"
      case LessThan(a, _) => a == "offset" || a == "publish_time"
      case LessThanOrEqual(a, _) => a == "offset" || a == "publish_time"
      case EqualTo(a, _) => a == "offset"
      case _ => false
    }
    filters // residual: source prunes segments, Spark verifies rows
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new TopicScan(path, pushed, required, maxSegmentsPerTrigger,
      startingTimeMs, pattern, frontierGraceMs, asOfMs)
}

class TopicScan(path: String, filters: Array[Filter], required: StructType,
                maxSegmentsPerTrigger: Option[Int] = None,
                startingTimeMs: Option[Long] = None,
                pattern: Option[String] = None,
                frontierGraceMs: Option[Long] = None,
                asOfMs: Option[Long] = None)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TopicMicroBatchStream(path, maxSegmentsPerTrigger, startingTimeMs,
      pattern, frontierGraceMs, Some(checkpointLocation))
  override def description(): String =
    s"GraftTopicScan(path=$path, prunedBy=${filters.mkString(",")}" +
      asOfMs.map(t => s", asOfMs=$t").getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] = {
    val segs = TopicTable.resolveTopics(path, pattern)
      .flatMap { case (_, dir) => TopicTable.listSegments(dir) }
    segs.filter { f =>
      // one stats read serves both the pushed filters and time travel's
      // wholly-newer-than-t pruning (rows inside mixed segments filter in
      // the reader)
      val st = SegmentStats.statsFor(f)
      SegmentStats.mightMatch(st, filters) &&
        asOfMs.forall(t => st.forall(_.minPt <= t))
    }
      .map(f => TopicInputPartition(f.getAbsolutePath): InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(required, asOfMs)
}

case class TopicInputPartition(file: String) extends InputPartition

/** Per-segment min/max offset & publish_time — the pruning "footer".
  * Preferred source is the `.meta` sidecar the writer drops at commit (so
  * pruning is pure metadata, never a data read); fallback scans the
  * segment's first/last lines (segments are written in offset order). */
object SegmentStats {
  private val mapper = new ObjectMapper()

  /** `nullPt` counts rows whose publish time is NULL (unknown age); −1 means
    * the count itself is unknown (a parquet footer with missing or
    * unreadable statistics), which age-based destruction must treat as "may
    * contain unknown-age rows". */
  case class Stats(minOff: Long, maxOff: Long, minPt: Long, maxPt: Long,
                   nullPt: Long)

  def sidecarFor(segment: File): File =
    new File(segment.getParentFile, segment.getName + ".meta")

  def writeSidecar(segment: File, s: Stats): Unit = {
    val nf = JsonNodeFactory.instance
    val o = nf.objectNode()
    o.put("min_offset", s.minOff); o.put("max_offset", s.maxOff)
    o.put("min_publish_time_ms", s.minPt); o.put("max_publish_time_ms", s.maxPt)
    o.put("null_publish_time", s.nullPt)
    java.nio.file.Files.write(sidecarFor(segment).toPath,
      o.toString.getBytes("UTF-8"))
  }

  /** Public metadata accessor (sidecar-first, scan fallback). */
  def statsFor(f: File): Option[Stats] = readStats(f)

  /** True iff every row's publish time is KNOWN and older than the horizon.
    * Distinct from `!mightMatch(pt >= horizon)`: a segment whose rows all
    * have null publish_time matches no time predicate (correct for read
    * pruning) but its AGE is unknown — expiry/offload/seek must not treat
    * it as old, or fresh unknown-time data is destroyed. A segment MIXING
    * old-timestamped rows with null-time rows has a real (old) maxPt yet
    * still holds unknown-age rows, so the null count must be exactly zero. */
  def whollyOlderThan(f: File, horizonMs: Long): Boolean =
    readStats(f).exists(s =>
      s.nullPt == 0 && s.maxPt != Long.MinValue && s.maxPt < horizonMs)

  private def readStats(f: File): Option[Stats] = {
    val side = sidecarFor(f)
    if (!side.exists() && f.getName.endsWith(SegmentCodec.ColdExt))
      return SegmentCodec.footerStats(f) // parquet footer = built-in sidecar
    if (side.exists()) {
      val n = mapper.readTree(new String(
        java.nio.file.Files.readAllBytes(side.toPath), "UTF-8"))
      Some(Stats(n.get("min_offset").asLong, n.get("max_offset").asLong,
        n.get("min_publish_time_ms").asLong, n.get("max_publish_time_ms").asLong,
        n.get("null_publish_time").asLong))
    } else {
      // fallback: one pass over the segment. Offsets come from the first and
      // last lines (write order), but the publish-time range must be min/max
      // over the NON-NULL times — taking only the endpoints would let a null
      // endpoint poison the range with a sentinel and prune live rows.
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        val lines = src.getLines()
        if (!lines.hasNext) None
        else {
          var minOff = Long.MaxValue; var maxOff = Long.MinValue
          var minPt = Long.MaxValue; var maxPt = Long.MinValue
          var nullPt = 0L
          var first = true
          var lastOff = 0L
          while (first || lines.hasNext) {
            val n = mapper.readTree(if (first) { first = false; lines.next() }
                                    else lines.next())
            val off = n.get("offset")
            if (off != null && !off.isNull) {
              lastOff = off.asLong
              minOff = math.min(minOff, lastOff)
              maxOff = math.max(maxOff, lastOff)
            }
            val pt = n.get("publish_time_ms")
            if (pt != null && !pt.isNull) {
              minPt = math.min(minPt, pt.asLong)
              maxPt = math.max(maxPt, pt.asLong)
            } else nullPt += 1
          }
          // all-null pt keeps the (MaxValue, MinValue) sentinels: no time
          // predicate can match rows whose publish_time is null, so pruning
          // the segment under a time filter is exact
          Some(Stats(minOff, maxOff, minPt, maxPt, nullPt))
        }
      } finally src.close()
    }
  }

  def mightMatch(f: File, filters: Array[Filter]): Boolean =
    mightMatch(readStats(f), filters)

  /** As [[mightMatch]], against stats the caller already read — AS OF
    * planning checks both the pushed filters and the as-of horizon from ONE
    * stats read (the sidecar-less fallback parses the whole segment on the
    * driver; reading it twice per segment per plan doubles that I/O). */
  def mightMatch(stats: Option[Stats], filters: Array[Filter]): Boolean = {
    if (filters.isEmpty) return true
    stats match {
      case None => false // empty segment matches nothing
      case Some(Stats(minOff, maxOff, minPt, maxPt, _)) =>
      def ms(v: Any): Long = v match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant => i.toEpochMilli
        case other => other.toString.toLong
      }
      filters.forall {
        case GreaterThan("offset", v: Long) => maxOff > v
        case GreaterThanOrEqual("offset", v: Long) => maxOff >= v
        case LessThan("offset", v: Long) => minOff < v
        case LessThanOrEqual("offset", v: Long) => minOff <= v
        case EqualTo("offset", v: Long) => minOff <= v && v <= maxOff
        case GreaterThan("publish_time", v) => maxPt > ms(v)
        case GreaterThanOrEqual("publish_time", v) => maxPt >= ms(v)
        case LessThan("publish_time", v) => minPt < ms(v)
        case LessThanOrEqual("publish_time", v) => minPt <= ms(v)
        case _ => true
      }
    }
  }
}

class TopicReaderFactory(required: StructType, asOfMs: Option[Long] = None)
  extends PartitionReaderFactory {
  /** An offload or recall may have moved the planned segment to another
    * tier or codec since planning; the reader then opens it where it is
    * now ([[TopicTable.relocate]]). */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val planned = new File(p.asInstanceOf[TopicInputPartition].file)
    try open(planned)
    catch {
      case _: java.io.FileNotFoundException |
           _: java.nio.file.NoSuchFileException =>
        open(TopicTable.relocate(planned))
    }
  }

  /** Dispatch on the physical extension: hot segments are JSONL, offloaded
    * cold segments may be parquet twins ([[SegmentCodec]]). */
  private def open(f: File): PartitionReader[InternalRow] =
    if (f.getName.endsWith(SegmentCodec.ColdExt))
      new ParquetSegmentReader(f.getPath, required, asOfMs)
    else new SegmentReader(f.getPath, required, asOfMs)
}

/** Parses one segment; projects only the pruned columns into InternalRows. */
class SegmentReader(file: String, required: StructType,
                    asOfMs: Option[Long] = None)
  extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val src = scala.io.Source.fromFile(file, "UTF-8")
  private val lines = src.getLines()
  private var row: InternalRow = _

  private def fieldValue(node: JsonNode, name: String): Any = {
    def get(k: String): JsonNode = {
      val n = node.get(k)
      if (n == null || n.isNull) null else n
    }
    def str(k: String) = {
      val n = get(k)
      if (n == null) null else UTF8String.fromString(n.asText)
    }
    name match {
      case "topic" => str("topic")
      case "partition" =>
        val n = get("partition"); if (n == null) null else n.asInt
      case "offset" =>
        val n = get("offset"); if (n == null) null else n.asLong
      case "key" => str("key")
      case "value" => str("value")
      case "event_time" => // null round-trips as null, not 1970-01-01
        val n = get("event_time_ms"); if (n == null) null else n.asLong * 1000L
      case "publish_time" =>
        val n = get("publish_time_ms"); if (n == null) null else n.asLong * 1000L
      case "producer_name" => str("producer_name")
      case "sequence_id" =>
        val n = get("sequence_id"); if (n == null) null else n.asLong
      case "replicated_from" => str("replicated_from") // absent in legacy rows
    }
  }

  /** Time-travel visibility: a row is part of the topic "as of t" iff its
    * publish time is known and ≤ t — a message with no publish stamp can't
    * be proven published by t, so AS OF reads exclude it (documented on
    * [[GraftCatalog]]). */
  private def visibleAt(node: JsonNode): Boolean = asOfMs.forall { t =>
    val pt = node.get("publish_time_ms")
    pt != null && !pt.isNull && pt.asLong <= t
  }

  override def next(): Boolean = {
    while (lines.hasNext) {
      val node = mapper.readTree(lines.next())
      if (visibleAt(node)) {
        row = InternalRow.fromSeq(required.fields.toIndexedSeq
          .map(f => fieldValue(node, f.name)))
        return true
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = src.close()
}

// ----------------------------------------------------------- streaming read

/** Stream position within one topic partition: a frontier per segment-name
  * family (the highest admitted name) plus a small `pending` set of names at
  * or below the frontier not yet admitted. A segment is consumed iff its name
  * is ≤ its family's frontier and not pending. The offset therefore stays
  * CONSTANT-SIZE as segments accumulate — a cursor position, not a set —
  * exactly like the reference cursor's markDeletePosition +
  * individuallyDeletedMessages ranges (managed-ledger ManagedCursorImpl).
  * Correctness relies on the writers' monotone-name contract
  * ([[TopicTable.family]]). */
case class PartCursor(frontiers: Map[String, String], pending: Set[String]) {
  def consumed(name: String): Boolean =
    frontiers.get(TopicTable.family(name)).exists(name <= _) &&
      !pending.contains(name)
}

case class TopicOffset(parts: Map[String, PartCursor]) extends Offset {
  def consumed(part: String, name: String): Boolean =
    parts.get(part).exists(_.consumed(name))

  override def json(): String = {
    val nf = JsonNodeFactory.instance
    val root = nf.objectNode()
    root.put("v", 2)
    val po = nf.objectNode()
    parts.toSeq.sortBy(_._1).foreach { case (part, c) =>
      val cn = nf.objectNode()
      val fo = nf.objectNode()
      c.frontiers.toSeq.sorted.foreach { case (fam, name) => fo.put(fam, name) }
      cn.set[JsonNode]("f", fo)
      if (c.pending.nonEmpty) {
        val xa = nf.arrayNode()
        c.pending.toSeq.sorted.foreach(xa.add)
        cn.set[JsonNode]("x", xa)
      }
      po.set[JsonNode](part, cn)
    }
    root.set[JsonNode]("parts", po)
    root.toString
  }
}

object TopicOffset {
  val empty: TopicOffset = TopicOffset(Map.empty)

  /** The offset marking exactly `consumed` as read, given the full listing.
    * Frontier = max consumed name per (partition, family); pending = the
    * unconsumed stragglers that sort at or below it. Names consumed earlier
    * but since deleted (compaction/expiry) drop out harmlessly. */
  def marking(listed: Seq[(String, String)],
              consumed: Set[(String, String)]): TopicOffset =
    marking(listed, consumed, TopicOffset.empty, Set.empty)

  /** [[marking]] seeded by the previous offset, for the per-trigger advance:
    * family frontiers are MONOTONE (max of the seed's and this listing's),
    * and `seed` pending names in `retainedAbsent` — absent from THIS listing
    * but not yet durably absent — survive as pending. Both guard the same
    * hole: a segment name can transiently vanish from one listing (epoch
    * replay's delete→rename, offload/recall moving a file between tiers
    * mid-listing), and recomputing the cursor from that listing alone would
    * regress the frontier (→ an already-delivered segment re-admitted on
    * reappearance) or un-park a late arrival (→ it re-classifies consumed
    * and is lost). Names that stay gone (retention, compaction) leave the
    * pending set once durably absent; a monotone frontier over a deleted
    * name is harmless — it only marks consumed work consumed. */
  def marking(listed: Seq[(String, String)],
              consumed: Set[(String, String)],
              seed: TopicOffset,
              retainedAbsent: Set[(String, String)]): TopicOffset = {
    val byPart = listed.groupBy(_._1)
    val parts = (byPart.keySet ++ seed.parts.keySet).flatMap { part =>
      val names = byPart.getOrElse(part, Seq.empty).map(_._2)
      val seedCur = seed.parts.get(part)
      val consumedNames = names.filter(n => consumed((part, n)))
      val listedMax = consumedNames.groupBy(TopicTable.family)
        .map { case (fam, ns) => fam -> ns.max }
      val seedF = seedCur.map(_.frontiers).getOrElse(Map.empty)
      val frontiers = (listedMax.keySet ++ seedF.keySet).map { fam =>
        fam -> (listedMax.get(fam).toSeq ++ seedF.get(fam).toSeq).max
      }.toMap
      if (frontiers.isEmpty) None
      else {
        val pendingListed = names.filter(n => !consumed((part, n)) &&
          frontiers.get(TopicTable.family(n)).exists(n <= _)).toSet
        val pendingAbsent = seedCur.map(_.pending).getOrElse(Set.empty)
          .filter(n => retainedAbsent((part, n)))
        Some(part -> PartCursor(frontiers, pendingListed ++ pendingAbsent))
      }
    }.toMap
    TopicOffset(parts)
  }

  def fromJson(json: String): TopicOffset = {
    val po = new ObjectMapper().readTree(json).get("parts")
    val parts = po.fieldNames().asScala.map { k =>
      val cn = po.get(k)
      val fo = cn.get("f")
      val frontiers = fo.fieldNames().asScala
        .map(f => f -> fo.get(f).asText).toMap
      val pending =
        if (cn.has("x")) cn.get("x").elements().asScala.map(_.asText).toSet
        else Set.empty[String]
      k -> PartCursor(frontiers, pending)
    }.toMap
    TopicOffset(parts)
  }
}

object TopicMicroBatchStream {
  /** Consecutive listings a known segment name must be absent from before
    * its observation record is pruned (and a parked pending name released).
    * Transient rename windows span exactly one listing; retention deletions
    * are permanent, so they prune after this many triggers. */
  val DurableAbsenceListings = 3
}

class TopicMicroBatchStream(path: String,
                            maxSegmentsPerTrigger: Option[Int] = None,
                            startingTimeMs: Option[Long] = None,
                            pattern: Option[String] = None,
                            frontierGraceMs: Option[Long] = None,
                            checkpointLocation: Option[String] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-STREAM first-observation state — the signal behind both automatic
    * late-arrival recovery and the `frontierGraceMs` quarantine.
    * Observation time cannot be forged by a foreign writer the way mtime
    * can (POSIX rename preserves mtime, so a stage-then-rename writer looks
    * pre-aged). Per-instance on purpose: a JVM-global registry would let
    * two streams on one root with different subscribe patterns prune each
    * other's entries (mass re-delivery), and would make late detection
    * one-shot across queries — the first stream to list a late name would
    * consume the "new" signal and every other stream reading the same topic
    * would silently skip it. Memory is bounded by THIS stream's live
    * listing: entries for names no longer listed are pruned every trigger —
    * the same O(#segments) the per-trigger listing itself already costs.
    *
    * The baseline listing seeds firstSeen from file mtime: those names were
    * visible before this stream started watching, so they can never be
    * classified as late arrivals, and mtime is the best available age
    * estimate for grace pacing. */
  private var baselined = false
  private val firstSeen = mutable.Map.empty[(String, String), Long]
  /** Consecutive listings a known name has been absent from. A record is
    * only dropped after [[TopicMicroBatchStream.DurableAbsenceListings]]
    * consecutive absences: a single absence can be a transient rename window (epoch
    * replay's delete→rename, offload/recall moving the file between tiers
    * mid-listing), and pruning on it would make the reappearance look like
    * a first observation — re-flagging an already-delivered segment as a
    * late arrival and duplicating it. */
  private val absences = mutable.Map.empty[(String, String), Int]
  /** Late arrivals stay candidates until the checkpointed START offset
    * stops classifying them consumed (the pending reclassification landed
    * in the WAL) — a trigger failing between detection and offset commit
    * must not lose the recovery. */
  private val lateCandidates = mutable.Set.empty[(String, String)]

  /** Observation-state sidecar under the stream's checkpoint directory.
    * The firstSeen/absences/lateCandidates maps are the late-arrival
    * defense's MEMORY; keeping them only in the JVM left the documented
    * residual window — a late name whose first appearance landed across a
    * restart re-entered the mtime baseline and was indistinguishable from
    * a consumed one. Persisting them restores watch continuity: on restart
    * the stream baselines from the sidecar, so a name absent from it is a
    * genuinely NEW observation and the below-frontier check can park it
    * for redelivery. Written tmp+rename after every plan (O(listing), the
    * same order the listing itself costs); a CORRUPT sidecar fails loudly
    * — silently treating it as missing would reopen the exact window it
    * closes. State staler than the checkpointed offset (crash between
    * plan and WAL commit) only re-observes names, which is idempotent. */
  private def obsFile: Option[File] = checkpointLocation.map { loc =>
    val dir =
      if (loc.startsWith("file:")) new File(new java.net.URI(loc))
      else new File(loc)
    new File(dir, "graft-observations.json")
  }

  locally {
    obsFile.filter(_.exists()).foreach { f =>
      val node = new ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      baselined = node.get("baselined").asBoolean
      node.get("firstSeen").elements().asScala.foreach { e =>
        firstSeen((e.get(0).asText, e.get(1).asText)) = e.get(2).asLong }
      node.get("absences").elements().asScala.foreach { e =>
        absences((e.get(0).asText, e.get(1).asText)) = e.get(2).asInt }
      node.get("lateCandidates").elements().asScala.foreach { e =>
        lateCandidates += ((e.get(0).asText, e.get(1).asText)) }
    }
  }

  private def persistObservations(): Unit = obsFile.foreach { f =>
    val nf = JsonNodeFactory.instance
    val root = nf.objectNode()
    root.put("baselined", baselined)
    def tuples(xs: Iterable[((String, String), Option[Long])], field: String): Unit = {
      val arr = nf.arrayNode()
      xs.toSeq.sortBy(_._1).foreach { case ((p, n), v) =>
        val e = nf.arrayNode(); e.add(p); e.add(n); v.foreach(e.add)
        arr.add(e)
      }
      root.set[JsonNode](field, arr)
    }
    tuples(firstSeen.map { case (k, v) => k -> Some(v) }, "firstSeen")
    tuples(absences.map { case (k, v) => k -> Some(v.toLong) }, "absences")
    tuples(lateCandidates.map(_ -> None), "lateCandidates")
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, "." + f.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, root.toString.getBytes("UTF-8"))
    if (!tmp.renameTo(f)) {
      f.delete()
      if (!tmp.renameTo(f))
        throw new java.io.IOException(
          s"graft-topic: observation sidecar swap failed at $f")
    }
  }

  /** Full (topic#partition, segment) listing. Topic resolution AND partition
    * listing happen here, at plan time — new matching topics (regex
    * re-discovery) and new partition directories (autoUpdatePartitions) both
    * enter the stream without restart. */
  private def listedFiles: Seq[(String, File)] =
    TopicTable.resolveTopics(path, pattern).flatMap { case (t, dir) =>
      TopicTable.listPartitioned(dir).map { case (pid, f) =>
        (TopicTable.partKey(t, pid), f)
      }
    }

  private def listedNames: Seq[(String, String)] =
    listedFiles.map { case (part, f) => (part, TopicTable.logicalName(f)) }

  /** `startingTime` seek: segments wholly before the timestamp start out
    * consumed — the subscribe-from-timestamp cursor position
    * (PersistentMessageFinder.java:57-64 as an initial-offset rule). */
  override def initialOffset(): Offset = startingTimeMs match {
    case None => TopicOffset.empty
    case Some(ts) =>
      // only PROVABLY older segments start out consumed; unknown-age
      // (null publish time) segments are still delivered
      val skipped = listedFiles
        .filter { case (_, f) => SegmentStats.whollyOlderThan(f, ts) }
        .map { case (part, f) => (part, TopicTable.logicalName(f)) }.toSet
      TopicOffset.marking(listedNames, skipped)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Batch-receive pacing (BatchReceivePolicy.maxNumMessages analog at
    * segment granularity): admit at most maxSegmentsPerTrigger new sealed
    * segments per micro-batch, oldest names first across all partitions.
    *
    * Foreign-writer defense is ON BY DEFAULT via first-observation
    * tracking ([[SegmentFirstSeen]]): a name that first APPEARS already
    * below its family frontier — a foreign writer's (skewed clock, slow
    * commit) late publication — is exactly the case the frontier would
    * silently classify as consumed. Such names are pulled OUT of the
    * consumed set, so [[TopicOffset.marking]] parks them in `pending` and
    * the next trigger admits and delivers them: zero data loss, zero added
    * latency for the normal path. In-process writers can never hit this —
    * batch names are driver-issued inside the reveal lock
    * ([[TopicBatchWrite.commit]]), so name order matches visibility order
    * within one application.
    *
    * `frontierGraceMs` (option, default off) additionally PACES admission:
    * a segment is only admitted once it has been OBSERVED for at least the
    * grace window, so a racing lower name is already listed by the time the
    * frontier advances and never needs the late-arrival path at all.
    * Keying on observation age (not mtime — POSIX rename preserves mtime,
    * so a foreign stage-then-rename writer would look pre-aged) covers
    * writers that do not run this codebase. Restarts do NOT reopen the
    * window: observation state persists in a checkpoint sidecar
    * ([[obsFile]]), so a late name first appearing while the query is
    * stopped is still a new observation on restart and parks for
    * redelivery; only a stream run without a checkpoint location (direct
    * construction in tests) falls back to the mtime baseline. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[TopicOffset]
    val files = listedFiles
    val listed = files.map { case (part, f) => (part, TopicTable.logicalName(f)) }
    val listedSet = listed.toSet
    val now = System.currentTimeMillis()
    val newNames: Set[(String, String)] =
      if (!baselined) {
        baselined = true
        files.foreach { case (part, f) =>
          firstSeen((part, TopicTable.logicalName(f))) = f.lastModified()
        }
        Set.empty
      } else {
        val nn = listedSet.diff(firstSeen.keySet)
        nn.foreach(firstSeen(_) = now)
        nn
      }
    // durable-absence pruning: see [[absences]] — one missed listing is not
    // evidence a segment is gone
    val absentNow = firstSeen.keySet.diff(listedSet)
    absences.filterInPlace { case (k, _) => absentNow.contains(k) }
    absentNow.foreach(k => absences(k) = absences.getOrElse(k, 0) + 1)
    val durablyAbsent = absences.collect {
      case (k, c) if c >= TopicMicroBatchStream.DurableAbsenceListings => k
    }.toSet
    firstSeen --= durablyAbsent
    absences --= durablyAbsent
    val retainedAbsent: Set[(String, String)] =
      (absentNow -- durablyAbsent).toSet
    val byName = files.map { case (part, f) =>
      ((part, TopicTable.logicalName(f)), f) }.toMap
    // late = first appeared below its family frontier. A seek's initial
    // offset intentionally skips provably-pre-seek segments — one of those
    // appearing late is the seek working as intended, not data loss.
    val newLate = newNames.filter { case pn @ (p, n) =>
      startOff.consumed(p, n) &&
        !startingTimeMs.exists(ts =>
          byName.get(pn).exists(SegmentStats.whollyOlderThan(_, ts)))
    }
    if (newLate.nonEmpty)
      log.warn(s"graft-topic $path: ${newLate.size} segment(s) appeared " +
        s"BELOW their family frontier (foreign writer's late commit?) — " +
        s"parking as pending for redelivery: ${newLate.take(3).mkString(", ")}")
    lateCandidates ++= newLate
    // a candidate is done the moment the start offset stops calling it
    // consumed (its pending reclassification reached the checkpoint; normal
    // admission takes over) or it left the listing DURABLY — and must NOT
    // persist past that, or its eventual delivery would re-flag it forever.
    // Transient absence (still in firstSeen) keeps the candidate alive so a
    // rename window cannot lose the recovery.
    lateCandidates.filterInPlace { case pn @ (p, n) =>
      firstSeen.contains(pn) && startOff.consumed(p, n)
    }
    val late: Set[(String, String)] = lateCandidates.toSet
    val fresh: Set[(String, String)] = frontierGraceMs match {
      case Some(g) if g > 0 =>
        val cutoff = System.currentTimeMillis() - g
        listed.filter(pn => firstSeen.getOrElse(pn, 0L) > cutoff).toSet
      case _ => Set.empty
    }
    val unconsumed = listed
      .filterNot { case (part, n) => startOff.consumed(part, n) }
      .filterNot(fresh)
      .sortBy { case (part, n) => (n, part) }
    val admitted = maxSegmentsPerTrigger match {
      case Some(k) => unconsumed.take(k)
      case None => unconsumed
    }
    val consumedNow = listed.filter { case (part, n) =>
      startOff.consumed(part, n)
    }.toSet -- late ++ admitted
    // seeded marking: frontiers monotone vs the checkpointed start, parked
    // names survive a transient absence — see [[TopicOffset.marking]]
    val out = TopicOffset.marking(listed, consumedNow, startOff, retainedAbsent)
    persistObservations()
    out
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    TopicOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // cursor markDelete analog
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffset]
    val e = end.asInstanceOf[TopicOffset]
    listedFiles
      .filter { case (part, f) =>
        val n = TopicTable.logicalName(f)
        e.consumed(part, n) && !s.consumed(part, n)
      }
      .map { case (_, f) => TopicInputPartition(f.getAbsolutePath): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(TopicTable.schema)
}

// --------------------------------------------------------------------- write

class TopicWriteBuilder(path: String, queryId: String, schema: StructType)
  extends WriteBuilder {
  override def build(): Write = {
    // ACCEPT_ANY_SCHEMA turned off Spark's own write-side validation, so
    // the builder re-checks here (driver, analysis time): any envelope
    // field the query DOES produce must carry the envelope's type —
    // otherwise the name-resolved InternalRow accessors would persist
    // reinterpreted garbage (e.g. a string read through getLong).
    val expected = TopicTable.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = schema.fields.toSeq.flatMap { f =>
      expected.get(f.name) match {
        case Some(t) if t != f.dataType =>
          Some(s"${f.name}: ${f.dataType.simpleString} (envelope needs ${t.simpleString})")
        case _ => None // unknown columns are ignored by the writer
      }
    }
    require(bad.isEmpty,
      s"graft-topic write schema type mismatch — ${bad.mkString("; ")}")
    new Write {
      override def toBatch: BatchWrite =
        new TopicBatchWrite(path, queryId, schema)
      override def toStreaming: StreamingWrite =
        new TopicStreamingWrite(path, queryId, schema)
    }
  }
}

/** One staged-but-invisible segment from a task: the tmp file plus the
  * pruning stats gathered while writing it. `name` is the final segment
  * name for streaming epochs (computed from the epoch id) and empty for
  * batch, where the DRIVER stamps names at job commit. `taskPart` is the
  * Spark task partition that staged the file — the DATA-deterministic key
  * batch name-stamping orders on (tmp paths are UUIDs; ordering on them
  * assigned names by scheduling accident, so the same written DataFrame
  * produced differently-composed segments run to run, and every
  * paced-replay consumer downstream saw run-varying batch membership —
  * the `simhash_dups` 209-vs-213 wobble). Visibility always happens at
  * job/epoch commit, in ascending-name order. */
case class StagedSegment(path: String, name: String, n: Long,
                         minOff: Long, maxOff: Long,
                         minPt: Long, maxPt: Long, nullPt: Long,
                         taskPart: Int)
case class StagedCommit(segments: Seq[StagedSegment]) extends WriterCommitMessage

/** Shared driver-side reveal: rename staged tmps to their final names in
  * ASCENDING name order under one lock, so a reader listing mid-commit can
  * only observe a prefix of the name sequence — name order equals
  * visibility order, the frontier cursor's contract. Each revealed file's
  * mtime is refreshed to the reveal instant (staging can predate the
  * commit by arbitrarily long, and the reader-side `frontierGraceMs`
  * quarantine keys on segment age AT VISIBILITY, not at write). A failure
  * midway deletes the already-revealed files before rethrowing, so a
  * failed job never leaves half its output visible. */
private[v2] object SegmentReveal {
  def reveal(root: String, named: Seq[(File, StagedSegment)]): Unit = {
    val sorted = named.sortBy { case (dst, _) => (dst.getParent, dst.getName) }
    val revealed = mutable.Buffer.empty[File]
    try SegmentClock.synchronized {
      sorted.foreach { case (dst, s) =>
        if (dst.exists()) { // idempotent epoch replay overwrites
          dst.delete(); SegmentStats.sidecarFor(dst).delete()
        }
        // a replayed epoch may have been offloaded meanwhile — the rewrite
        // supersedes the cold copy (same (partition, logical-name) identity,
        // whether the cold copy is still JSONL or a parquet twin)
        val coldDir = new File(new File(root, TopicTable.OffloadTier),
          dst.getParentFile.getName)
        Seq(new File(coldDir, dst.getName),
            new File(coldDir, dst.getName + SegmentCodec.ColdExt))
          .foreach { cold =>
            if (cold.exists()) {
              cold.delete(); SegmentStats.sidecarFor(cold).delete()
            }
          }
        if (!new File(s.path).renameTo(dst))
          throw new java.io.IOException(
            s"graft-topic commit: rename failed for ${s.path} -> $dst")
        dst.setLastModified(System.currentTimeMillis())
        revealed += dst
      }
    } catch {
      case t: Throwable =>
        revealed.foreach { f =>
          f.delete(); SegmentStats.sidecarFor(f).delete()
        }
        throw t
    }
    // sidecars follow the segments (readers fall back to a scan if missing)
    sorted.foreach { case (dst, s) =>
      if (s.n > 0)
        SegmentStats.writeSidecar(dst,
          SegmentStats.Stats(s.minOff, s.maxOff, s.minPt, s.maxPt, s.nullPt))
    }
  }

  def abortStaged(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case StagedCommit(ss) => ss.foreach(s => new File(s.path).delete())
      case _ => ()
    }
}

/** Batch append with DRIVER-issued segment names: tasks stage their files
  * invisibly (dot-prefixed tmp names the listers ignore) and report them in
  * the commit message; the job-level commit — which runs once, on the
  * driver, after every task succeeded — stamps each file from the single
  * [[SegmentClock]] and renames it visible, all under one lock. Name order
  * therefore equals visibility order for every batch writer in the
  * application, which is the monotone-name contract the stream cursor's
  * family frontier relies on ([[TopicTable.family]]) — the analog of the
  * broker's central monotone ledger-id allocator
  * (managed-ledger/.../ManagedLedgerImpl.java:767-794) rather than
  * per-task wall clocks. Foreign applications writing the same topic are
  * covered by the reader-side `frontierGraceMs` quarantine. */
class TopicBatchWrite(path: String, queryId: String, schema: StructType)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new TopicStagedWriterFactory(path, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // order by (envelope partition, staging task partition): both are
    // functions of the DATA, so the name↔content assignment is identical
    // across runs of the same write — ordering on the UUID tmp path made
    // it a scheduling accident (see [[StagedSegment.taskPart]])
    val staged = messages.toSeq
      .collect { case StagedCommit(ss) => ss }.flatten
      .sortBy(s => (new File(s.path).getParentFile.getName, s.taskPart))
    // stamping and reveal share ONE critical section (the reveal's lock is
    // reentrant): if stamps were issued outside it, two concurrent batch
    // commits could interleave so the job holding HIGHER stamps reveals
    // first, a micro-batch trigger between the reveals advances the family
    // frontier past the lower names, and the lower names are silently
    // skipped when they appear. Inside the lock, stamps are ascending in
    // the same order the reveal renames, and no other commit's names can
    // become visible between this commit's stamping and its reveal.
    SegmentClock.synchronized {
      val named = staged.map { s =>
        val dst = new File(new File(s.path).getParentFile,
          f"segment-b${SegmentClock.next()}%013d-${queryId.take(8)}.jsonl")
        (dst, s)
      }
      SegmentReveal.reveal(path, named)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SegmentReveal.abortStaged(messages)
}

/** Streaming epochs reveal at EPOCH commit on the driver, not at task
  * commit: two tasks of one epoch routing rows to the same envelope
  * partition produce sibling names (`...-p00000`, `...-p00001`) in one
  * name family, and unordered task-level renames could let a reader admit
  * the higher name before the lower existed — the same frontier hole the
  * batch path closes with driver-side reveal. Epoch replay stays
  * idempotent: names embed (query, epoch, task), so a replay overwrites
  * the same files ([[SegmentReveal]] handles the overwrite + cold-tier
  * supersede). */
class TopicStreamingWrite(path: String, queryId: String, schema: StructType)
  extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new TopicStreamWriterFactory(path, TopicStreamingWrite.alphaId(queryId),
      schema)
  private val alpha = TopicStreamingWrite.alphaId(queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq
      .collect { case StagedCommit(ss) => ss }.flatten
    val named = staged.map { s =>
      (new File(new File(s.path).getParentFile, s.name), s)
    }
    SegmentReveal.reveal(path, named)
    // a REPLAYED epoch can legitimately produce fewer task files than the
    // failed attempt (partition counts change across restarts): anything
    // still visible under this epoch's name prefix that this commit did
    // not produce is the previous attempt's orphan — reap it, or its rows
    // double-deliver
    val keep = named.map { case (dst, _) =>
      (dst.getParentFile.getName, dst.getName) }.toSet
    val prefix = f"segment-e$alpha$epochId%010d-"
    TopicTable.listPartitioned(path).foreach { case (_, f) =>
      if (f.getName.startsWith(prefix) &&
          !keep((f.getParentFile.getName, f.getName))) {
        f.delete(); SegmentStats.sidecarFor(f).delete()
      }
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SegmentReveal.abortStaged(messages)
}

object TopicStreamingWrite {
  /** Letters-only query discriminator for epoch segment names: each
    * streaming query gets its OWN name family ("e" + 8 letters), so two
    * queries producing into one topic cannot collide on epoch names or
    * swallow each other's segments under a shared family frontier — the
    * analog of the reference's unique producer names on one topic. Stable
    * across restarts (the streaming query id persists in the checkpoint),
    * which keeps epoch replay idempotent. */
  def alphaId(queryId: String): String =
    queryId.toLowerCase.filter(c => c.isDigit || ('a' to 'f').contains(c))
      .map(c => if (c.isDigit) ('a' + (c - '0')).toChar
                else ('k' + (c - 'a')).toChar)
      .padTo(8, 'a').take(8).mkString
}

/** Strictly-increasing commit stamp: wall-clock millis, bumped past the last
  * issued value so two commits in the same millisecond (or a clock step
  * backwards) still produce ascending names within this JVM. Batch names are
  * issued ONLY on the driver, inside [[TopicBatchWrite.commit]]'s lock — the
  * local analog of the broker's central monotone ledger-id allocator — so
  * within one application name order equals visibility order. Two SEPARATE
  * applications appending to one topic keep a wall-clock assumption; readers
  * close that window with `frontierGraceMs`. */
object SegmentClock {
  private val last = new java.util.concurrent.atomic.AtomicLong(0L)
  def next(): Long =
    last.updateAndGet(l => math.max(System.currentTimeMillis(), l + 1))
}

class TopicStagedWriterFactory(path: String, schema: StructType)
  extends DataWriterFactory {
  /** Batch tasks stage invisibly; the driver names segments at job commit
    * ([[TopicBatchWrite.commit]]), ordered by the task partition staged
    * here (the data-deterministic stamping key). */
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SegmentWriter(path, stagedName = "", writeSchema = schema,
      taskPart = partitionId)
}

class TopicStreamWriterFactory(path: String, alphaQueryId: String,
                               schema: StructType)
  extends StreamingDataWriterFactory {
  /** Epoch in the name ⇒ replaying an epoch rewrites the same files —
    * idempotent streaming produce (effectively-once). Epochs are monotone
    * within the query's own family ("e" + query discriminator), satisfying
    * the frontier contract even with several producers on one topic; the
    * intra-epoch task siblings are visibility-ordered by the epoch-commit
    * reveal ([[TopicStreamingWrite]]). */
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SegmentWriter(path,
      stagedName = f"segment-e$alphaQueryId$epochId%010d-p$partitionId%05d.jsonl",
      writeSchema = schema, taskPart = partitionId)
}

/** Routes each row to its envelope partition's subdirectory — the producer's
  * partition router (reference: PartitionedProducerImpl; MessageRoutingMode).
  * One open segment per (this task, envelope partition). Task commit never
  * reveals anything: files stay as invisible tmps and the commit message
  * carries their paths + stats (plus the precomputed `stagedName` for
  * streaming epochs; empty for batch, where the driver stamps names) — the
  * job/epoch commit renames them visible in order ([[SegmentReveal]]).
  *
  * Envelope fields are resolved BY NAME from `writeSchema` (the incoming
  * query's schema — ACCEPT_ANY_SCHEMA): a field the query doesn't produce
  * persists as null (partition defaults to 0), so legacy 9-column producers
  * and full-envelope producers coexist. */
class SegmentWriter(root: String, stagedName: String,
                    writeSchema: StructType, taskPart: Int)
  extends DataWriter[InternalRow] {
  private val nf = JsonNodeFactory.instance
  private val fieldIdx: Map[String, Int] =
    writeSchema.fieldNames.zipWithIndex.toMap
  private def at(name: String): Int = fieldIdx.getOrElse(name, -1)

  private class PartOut(pid: Int) {
    val dir: File = TopicTable.partitionDir(root, pid)
    dir.mkdirs()
    val tmp = new File(dir, s".graft-${UUID.randomUUID()}.tmp")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(new java.io.FileOutputStream(tmp), "UTF-8"))
    // pruning-footer stats tracked as rows stream through
    var n = 0L
    var minOff: Long = Long.MaxValue; var maxOff: Long = Long.MinValue
    var minPt: Long = Long.MaxValue; var maxPt: Long = Long.MinValue
    var nullPt = 0L
  }
  private val outs = mutable.Map.empty[Int, PartOut]

  override def write(r: InternalRow): Unit = {
    def isNull(i: Int): Boolean = i < 0 || r.isNullAt(i)
    val pidIdx = at("partition")
    val pid = if (isNull(pidIdx)) 0 else r.getInt(pidIdx)
    val po = outs.getOrElseUpdate(pid, new PartOut(pid))
    po.n += 1
    val o = nf.objectNode()
    def s(name: String, k: String): Unit = {
      val i = at(name)
      if (isNull(i)) o.putNull(k) else o.put(k, r.getUTF8String(i).toString)
    }
    s("topic", "topic")
    o.put("partition", pid)
    // null offset round-trips as null (stats skip it — a null-offset row
    // matches no offset predicate), matching the reader's surfacing
    val offIdx = at("offset")
    if (isNull(offIdx)) o.putNull("offset")
    else {
      val off = r.getLong(offIdx)
      po.minOff = math.min(po.minOff, off); po.maxOff = math.max(po.maxOff, off)
      o.put("offset", off)
    }
    s("key", "key"); s("value", "value")
    // nullable-by-schema event_time round-trips as null, never 1970-01-01
    val etIdx = at("event_time")
    if (isNull(etIdx)) o.putNull("event_time_ms")
    else o.put("event_time_ms", r.getLong(etIdx) / 1000L)
    val ptIdx = at("publish_time")
    if (isNull(ptIdx)) { o.putNull("publish_time_ms"); po.nullPt += 1 }
    else {
      val pt = r.getLong(ptIdx) / 1000L
      po.minPt = math.min(po.minPt, pt); po.maxPt = math.max(po.maxPt, pt)
      o.put("publish_time_ms", pt)
    }
    s("producer_name", "producer_name")
    val seqIdx = at("sequence_id")
    if (isNull(seqIdx)) o.putNull("sequence_id")
    else o.put("sequence_id", r.getLong(seqIdx))
    if (at("replicated_from") >= 0 && !isNull(at("replicated_from")))
      o.put("replicated_from",
        r.getUTF8String(at("replicated_from")).toString)
    po.out.println(o.toString)
  }

  override def commit(): WriterCommitMessage = {
    val segs = outs.values.toSeq.sortBy(_.dir.getName).map { po =>
      po.out.close()
      StagedSegment(po.tmp.getAbsolutePath, stagedName, po.n,
        po.minOff, po.maxOff, po.minPt, po.maxPt, po.nullPt, taskPart)
    }
    StagedCommit(segs)
  }
  override def abort(): Unit =
    outs.values.foreach { po => po.out.close(); po.tmp.delete() }
  override def close(): Unit = ()
}
