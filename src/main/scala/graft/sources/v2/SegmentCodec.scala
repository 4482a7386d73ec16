package graft.sources.v2

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Types
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Columnar (parquet) segment codec for the COLD tier: the offloader rewrites
  * sealed JSONL segments into parquet twins — the analog of the reference
  * offloader rewriting ledgers into its own block format (tiered-storage/
  * jcloud/.../BlobStoreManagedLedgerOffloader.java:95). The twin keeps the
  * segment's LOGICAL name (`segment-X.jsonl` → `segment-X.jsonl.parquet`,
  * [[TopicTable.logicalName]] strips the codec suffix), so frontiers,
  * families, and consumed-checks are oblivious to the codec; readers dispatch
  * on the physical extension. Cold reads stop re-parsing JSON on every scan,
  * and pruning can fall back to the parquet footer's column statistics when a
  * `.meta` sidecar is missing.
  *
  * Segments are always local files, so twins and footers go through
  * parquet's `LocalInputFile`/`LocalOutputFile` (plain `java.nio` channels)
  * rather than a Hadoop `FileSystem`: no JVM-wide filesystem cache decides
  * which `file:` class serves them, and no checksum file follows a twin. */
object SegmentCodec {

  /** Physical suffix of a parquet-rewritten segment. A codec detail, never
    * part of the segment's identity. */
  val ColdExt = ".parquet"

  /** On-disk envelope, mirroring the JSONL field names (ms-epoch times). */
  val parquetSchema: MessageType = Types.buildMessage()
    .optional(BINARY).as(stringType).named("topic")
    .optional(INT32).named("partition")
    .optional(INT64).named("offset")
    .optional(BINARY).as(stringType).named("key")
    .optional(BINARY).as(stringType).named("value")
    .optional(INT64).named("event_time_ms")
    .optional(INT64).named("publish_time_ms")
    .optional(BINARY).as(stringType).named("producer_name")
    .optional(INT64).named("sequence_id")
    .optional(BINARY).as(stringType).named("replicated_from")
    .named("graft_segment")

  /** Rewrite one JSONL segment as its parquet twin, preserving row order.
    * Written to a dot-prefixed tmp (invisible to listers) then renamed, so a
    * concurrent reader never observes a partial file. */
  def rewriteToParquet(src: File, dst: File): Unit = {
    val mapper = new ObjectMapper()
    val gf = new SimpleGroupFactory(parquetSchema)
    val tmp = new File(dst.getParentFile, "." + dst.getName + ".tmp")
    tmp.delete()
    // zstd: the cold tier is the 100 TB tier — storage footprint and read
    // I/O dominate there, and the column reader decompresses pages
    // transparently either way
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp.toPath))
      .withType(parquetSchema)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .build()
    try {
      val in = scala.io.Source.fromFile(src, "UTF-8")
      try in.getLines().foreach { line =>
        val n = mapper.readTree(line)
        val g = gf.newGroup()
        def str(k: String): Unit = {
          val v = n.get(k); if (v != null && !v.isNull) g.append(k, v.asText)
        }
        def i64(k: String): Unit = {
          val v = n.get(k); if (v != null && !v.isNull) g.append(k, v.asLong)
        }
        str("topic")
        val p = n.get("partition")
        if (p != null && !p.isNull) g.append("partition", p.asInt)
        i64("offset"); str("key"); str("value")
        i64("event_time_ms"); i64("publish_time_ms")
        str("producer_name"); i64("sequence_id"); str("replicated_from")
        w.write(g)
      } finally in.close()
    } finally w.close()
    if (dst.exists()) dst.delete()
    if (!tmp.renameTo(dst))
      throw new java.io.IOException(
        s"segment parquet rewrite: rename failed for $tmp -> $dst")
  }

  /** Pruning stats from the parquet FOOTER (row-group column statistics) —
    * the sidecar-less fallback for cold segments. Returns None for an empty
    * file (matches nothing, like an empty JSONL segment). When any required
    * statistic is missing the ranges degrade to ±∞ and the null count to
    * "unknown" (−1): pruning then keeps the segment and age-based
    * destruction refuses it — never the destructive direction. */
  def footerStats(f: File): Option[SegmentStats.Stats] =
    try {
      val pf = ParquetFileReader.open(new LocalInputFile(f.toPath))
      try {
        val blocks = pf.getFooter.getBlocks.asScala
        if (blocks.map(_.getRowCount).sum == 0) None
        else {
          var minOff = Long.MaxValue; var maxOff = Long.MinValue
          var minPt = Long.MaxValue; var maxPt = Long.MinValue
          var nullPt = 0L
          var offOk = true; var ptOk = true
          blocks.foreach { b =>
            def col(name: String) = b.getColumns.asScala
              .find(_.getPath.toDotString == name)
            col("offset") match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty) offOk = false
                else if (st.hasNonNullValue) {
                  minOff = math.min(minOff,
                    st.genericGetMin.asInstanceOf[java.lang.Long])
                  maxOff = math.max(maxOff,
                    st.genericGetMax.asInstanceOf[java.lang.Long])
                }
              case None => offOk = false
            }
            col("publish_time_ms") match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty || !st.isNumNullsSet) ptOk = false
                else {
                  nullPt += st.getNumNulls
                  if (st.hasNonNullValue) {
                    minPt = math.min(minPt,
                      st.genericGetMin.asInstanceOf[java.lang.Long])
                    maxPt = math.max(maxPt,
                      st.genericGetMax.asInstanceOf[java.lang.Long])
                  }
                }
              case None => ptOk = false
            }
          }
          if (!offOk) { minOff = Long.MinValue; maxOff = Long.MaxValue }
          if (!ptOk) { minPt = Long.MinValue; maxPt = Long.MaxValue; nullPt = -1L }
          Some(SegmentStats.Stats(minOff, maxOff, minPt, maxPt, nullPt))
        }
      } finally pf.close()
    } catch { case _: Exception =>
      // unreadable footer: keep the segment visible to every predicate and
      // undatable for destruction
      Some(SegmentStats.Stats(Long.MinValue, Long.MaxValue,
        Long.MinValue, Long.MaxValue, -1L))
    }
}

/** Reads one parquet cold segment: each row group is decoded
  * column-at-a-time through parquet's column API (`ColumnReadStoreImpl`/
  * `ColumnReader`) into a batch of up to [[ParquetSegmentReader.BatchSize]]
  * reusable rows, which are then served one by one — the cold twin of
  * [[SegmentReader]], and the reason the offload rewrite exists (offloaded
  * ledgers are read back through an index, not re-parsed:
  * tiered-storage/jcloud/.../BlobStoreBackedReadHandleImpl.java). Only the
  * requested columns are decompressed; a count-only scan takes its row
  * count from the footer and never opens a page.
  *
  * AS OF reads skip every row whose publish time is unknown or later than
  * t (the [[SegmentReader]] contract); when the query projected
  * `publish_time` away it is decoded as one extra hidden column. */
class ParquetSegmentReader(file: String, required: StructType,
                           asOfMs: Option[Long] = None)
  extends PartitionReader[InternalRow] {
  import ParquetSegmentReader._

  private val reader = ParquetFileReader.open(
    new LocalInputFile(new File(file).toPath))
  private val createdBy = reader.getFooter.getFileMetaData.getCreatedBy

  private val hiddenPt =
    asOfMs.isDefined && !required.fieldNames.contains("publish_time")
  private val requestedSchema: MessageType = {
    val wanted = required.fieldNames.map(diskField).toSet ++
      (if (hiddenPt) Set("publish_time_ms") else Set.empty)
    new MessageType("graft_segment", SegmentCodec.parquetSchema.getFields
      .asScala.filter(f => wanted.contains(f.getName)).toList.asJava)
  }
  reader.setRequestedSchema(requestedSchema)

  private def descriptor(disk: String): ColumnDescriptor =
    requestedSchema.getColumnDescription(Array(disk))
  /** Descriptor per required field, in output order. */
  private val descriptors: Array[ColumnDescriptor] =
    required.fields.map(f => descriptor(diskField(f.name)))
  private val ptDescriptor: Option[ColumnDescriptor] =
    if (hiddenPt) Some(descriptor("publish_time_ms")) else None
  private val ptOrdinal =
    if (asOfMs.isEmpty || hiddenPt) -1 else required.fieldIndex("publish_time")

  private val footerRows =
    reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
  private val rows: Array[SpecificInternalRow] =
    Array.fill(math.min(BatchSize.toLong, footerRows).toInt)(
      new SpecificInternalRow(required))
  private val visible = new Array[Boolean](rows.length)

  // a count-only scan never opens a page: the footer's row count is all
  // there is to read
  private val pageless = requestedSchema.getFieldCount == 0
  private var rowsLeftInGroup: Long = if (pageless) footerRows else 0L
  private var colReaders: Array[ColumnReader] = _
  private var ptReader: ColumnReader = _
  private var n = 0
  private var pos = 0

  override def next(): Boolean = {
    pos += 1
    while (pos >= n || !(asOfMs.isEmpty || visible(pos))) {
      if (pos >= n) {
        if (!decodeBatch()) return false
        pos = 0
      } else pos += 1
    }
    true
  }

  /** Decodes the next batch into `rows` (and `visible` for AS OF); false
    * at the end of the file. */
  private def decodeBatch(): Boolean = {
    while (rowsLeftInGroup <= 0L) {
      if (pageless) return false
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      rowsLeftInGroup = pages.getRowCount
      if (rowsLeftInGroup > 0L) {
        val store =
          new ColumnReadStoreImpl(pages, NoopRoot, requestedSchema, createdBy)
        colReaders = descriptors.map(store.getColumnReader)
        ptReader = ptDescriptor.map(store.getColumnReader).orNull
      }
    }
    n = math.min(BatchSize.toLong, rowsLeftInGroup).toInt
    var j = 0
    while (j < descriptors.length) {
      decodeColumn(j); j += 1
    }
    asOfMs.foreach { t =>
      var i = 0
      if (hiddenPt) {
        val maxDef = ptDescriptor.get.getMaxDefinitionLevel
        while (i < n) {
          visible(i) = ptReader.getCurrentDefinitionLevel == maxDef &&
            ptReader.getLong <= t
          ptReader.consume(); i += 1
        }
      } else while (i < n) {
        visible(i) = !rows(i).isNullAt(ptOrdinal) &&
          rows(i).getLong(ptOrdinal) / 1000L <= t
        i += 1
      }
    }
    rowsLeftInGroup -= n
    true
  }

  /** Field `j`'s next `n` values into `rows`; type dispatch once per
    * column, not per value. */
  private def decodeColumn(j: Int): Unit = {
    val cr = colReaders(j)
    val maxDef = descriptors(j).getMaxDefinitionLevel
    def fill(put: SpecificInternalRow => Unit): Unit = {
      var i = 0
      while (i < n) {
        if (cr.getCurrentDefinitionLevel == maxDef) put(rows(i))
        else rows(i).setNullAt(j)
        cr.consume(); i += 1
      }
    }
    required.fields(j).dataType match {
      case StringType =>
        fill(_.update(j, UTF8String.fromBytes(cr.getBinary.getBytes)))
      case IntegerType => fill(_.setInt(j, cr.getInteger))
      case LongType => fill(_.setLong(j, cr.getLong))
      // ms on disk → micros in the envelope
      case TimestampType => fill(_.setLong(j, cr.getLong * 1000L))
      case dt =>
        throw new UnsupportedOperationException(s"segment envelope type $dt")
    }
  }

  override def get(): InternalRow = rows(pos)
  override def close(): Unit = reader.close()
}

object ParquetSegmentReader {
  /** Rows per decoded batch — Spark's own parquet reader default. */
  val BatchSize = 4096

  /** Envelope column name → on-disk parquet field (ms-epoch twins for the
    * timestamp columns). */
  def diskField(name: String): String = name match {
    case "event_time" => "event_time_ms"
    case "publish_time" => "publish_time_ms"
    case other => other
  }

  /** Inert converter tree: `ColumnReadStoreImpl` requires a converter for
    * dictionary-support probing, but values are pulled through the
    * `ColumnReader` getters, never pushed into the converter. */
  private object NoopRoot extends GroupConverter {
    private val prim = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = prim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
