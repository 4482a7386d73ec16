package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkSuite
import graft.sources.v2.TopicTable
import org.apache.spark.sql.functions._

/** Tiered-storage offload with transparent read-back and cursor continuity. */
class OffloaderSpec extends SparkSuite {
  import spark.implicits._

  private def writeAt(dir: String, t: String, offs: Range): Unit =
    offs.map { i =>
      ("t", 0, i.toLong, s"k$i", s"v$i", ts(t), ts(t), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()

  test("offload moves cold segments; batch reads and pruning see through tiers") {
    val dir = Files.createTempDirectory("offload").toFile.getAbsolutePath
    writeAt(dir, "2024-01-01 00:00:00", 0 until 50)  // cold
    writeAt(dir, "2024-02-01 00:00:00", 50 until 80) // hot
    val moved = Offloader.offload(dir, ts("2024-01-15 00:00:00").getTime)
    assert(moved == 1)
    // the cold segment is REWRITTEN as a parquet twin (same logical name)
    // with its sidecar alongside under offloaded/
    val cold = new File(dir, s"${TopicTable.OffloadTier}/partition-000")
    assert(cold.listFiles().count(_.getName.endsWith(".jsonl.parquet")) == 1)
    assert(cold.listFiles().count(_.getName.endsWith(".meta")) == 1)
    assert(cold.listFiles().count(_.getName.endsWith(".jsonl")) == 0)
    // it is genuine parquet (magic bytes), not renamed JSONL
    val twin = cold.listFiles().find(_.getName.endsWith(".parquet")).get
    val magic = java.nio.file.Files.readAllBytes(twin.toPath).take(4)
    assert(new String(magic, "UTF-8") == "PAR1")
    // transparent read-back: all rows visible, pruning still metadata-driven
    val back = spark.read.format("graft-topic").option("path", dir).load()
    assert(back.count() == 80)
    assert(back.where(col("offset") >= 60).count() == 20)
    // recall brings the tier back to hot
    assert(Offloader.recall(dir) == 1)
    assert(spark.read.format("graft-topic").option("path", dir).load()
      .count() == 80)
  }

  test("offload and recall leave only segments and their sidecars in the tier directories") {
    val dir = Files.createTempDirectory("offload-clean").toFile.getAbsolutePath
    writeAt(dir, "2024-01-01 00:00:00", 0 until 50)
    writeAt(dir, "2024-01-02 00:00:00", 50 until 80)
    val hot = new File(dir, "partition-000")
    val cold = new File(dir, s"${TopicTable.OffloadTier}/partition-000")
    // every file is a segment (`segment-*`, either codec) or its `.meta`
    // sidecar — no staging tmp, no checksum file left behind
    def strays(d: File): Seq[String] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.map(_.getName)
        .filterNot(_.startsWith("segment-"))
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 2)
    assert(cold.listFiles().count(_.getName.endsWith(".jsonl.parquet")) == 2)
    assert(strays(hot).isEmpty && strays(cold).isEmpty,
      s"after offload: hot ${strays(hot)}, cold ${strays(cold)}")
    assert(Offloader.recall(dir) == 2)
    assert(hot.listFiles().count(_.getName.endsWith(".jsonl.parquet")) == 2)
    assert(strays(hot).isEmpty && strays(cold).isEmpty,
      s"after recall: hot ${strays(hot)}, cold ${strays(cold)}")
  }

  test("a segment that moves between tiers after planning is read where it is now") {
    import graft.sources.v2.{TopicInputPartition, TopicReaderFactory}
    val dir = Files.createTempDirectory("offload-moved").toFile.getAbsolutePath
    writeAt(dir, "2024-01-01 00:00:00", 0 until 20)
    def planned() = TopicTable.listSegments(dir).toSeq
      .map(f => TopicInputPartition(f.getAbsolutePath))
    val factory = new TopicReaderFactory(TopicTable.schema)
    def offsets(parts: Seq[TopicInputPartition]): Seq[Long] =
      parts.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getLong(2)).toList
        finally r.close()
      }.sorted
    // planned on the hot JSONL path, read after offload moved it cold
    val hot = planned()
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    assert(offsets(hot) == (0L until 20L))
    // planned on the cold twin, read after recall moved it back
    val cold = planned()
    assert(Offloader.recall(dir) == 1)
    assert(offsets(cold) == (0L until 20L))
  }

  test("parquet twin round-trips every column including nulls") {
    val dir = Files.createTempDirectory("offload-nulls").toFile.getAbsolutePath
    val rows = Seq(
      ("t", 0, 1L, "k1", "v1", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), "p", 1L),
      ("t", 0, 2L, null, null, null,
        ts("2024-01-01 00:00:01"), null, 2L))
    rows.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()
    val before = spark.read.format("graft-topic").option("path", dir).load()
      .collect().map(_.toSeq).toSet
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    val after = spark.read.format("graft-topic").option("path", dir).load()
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("parquet footer statistics serve pruning when the sidecar is missing") {
    val dir = Files.createTempDirectory("offload-footer").toFile.getAbsolutePath
    writeAt(dir, "2024-01-01 00:00:00", 0 until 50)
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    val cold = new File(dir, s"${TopicTable.OffloadTier}/partition-000")
    val twin = cold.listFiles().find(_.getName.endsWith(".parquet")).get
    // drop the sidecar: stats must come from the parquet footer
    assert(new File(cold, twin.getName + ".meta").delete())
    val st = graft.sources.v2.SegmentStats.statsFor(twin).get
    assert(st.minOff == 0L && st.maxOff == 49L)
    assert(st.nullPt == 0L)
    assert(st.minPt == ts("2024-01-01 00:00:00").getTime &&
      st.maxPt == st.minPt)
    // and pruning still answers through the footer: an out-of-range offset
    // predicate skips the segment entirely, an in-range one reads it
    val back = spark.read.format("graft-topic").option("path", dir).load()
    assert(back.where(col("offset") > 100).count() == 0)
    assert(back.where(col("offset") <= 10).count() == 11)
  }

  test("stream cursor continuity: consumed stays consumed across offload, unconsumed delivers from cold") {
    val dir = Files.createTempDirectory("offload-stream").toFile.getAbsolutePath
    writeAt(dir, "2024-01-01 00:00:00", 0 until 40)
    val q = spark.readStream.format("graft-topic").option("path", dir).load()
      .groupBy().count()
      .writeStream.format("memory").queryName("offload_tail")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("offload_tail").as[Long].head() == 40)
    // offload the (already consumed) segment mid-stream → NO re-delivery,
    // because (partition, name) identity is preserved across tiers
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    q.processAllAvailable()
    assert(spark.table("offload_tail").as[Long].head() == 40)
    // a new cold segment offloaded BEFORE the stream sees it still delivers
    writeAt(dir, "2024-01-02 00:00:00", 100 until 110)
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    q.processAllAvailable()
    val n = spark.table("offload_tail").as[Long].head()
    q.stop()
    assert(n == 50) // delivered straight from the cold tier
  }
}
