package graft.sources

import java.nio.file.Files

import graft.SparkSuite
import graft.ops.Offloader
import graft.sources.v2.TopicTable
import org.apache.spark.sql.functions._

/** Codec parity for the topic scan: hot JSONL segments parse row by row,
  * cold parquet twins decode column-at-a-time (the "columnar" codec) and
  * serve rows from the decoded batch — the same rows either way, with
  * nulls, projections, count-only scans and mixed tiers. */
class ColumnarScanSpec extends SparkSuite {
  import spark.implicits._

  /** Rows spanning several 4096-row batches, with nulls sprinkled through
    * every nullable column so null bitmaps are exercised mid-batch. */
  private def writeRows(dir: String, n: Int): Unit =
    (0 until n).map { i =>
      ("t", 0, i.toLong,
        if (i % 7 == 0) null else s"k$i",
        if (i % 11 == 0) null else s"v$i",
        if (i % 13 == 0) null else ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"),
        if (i % 17 == 0) null else "p",
        i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()

  private def readTopic(dir: String) =
    spark.read.format("graft-topic").option("path", dir).load()

  test("batch scans are columnar and round-trip across both codecs") {
    val dir = Files.createTempDirectory("colscan").toFile.getAbsolutePath
    writeRows(dir, 10000)

    val hot = readTopic(dir)
    val expected = hot.collect().map(_.toSeq).toSet
    assert(expected.size == 10000)

    // offload everything: same logical segments, parquet twins
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)
    val cold = new java.io.File(dir, TopicTable.OffloadTier)
    assert(cold.exists())
    val after = readTopic(dir).collect().map(_.toSeq).toSet
    assert(after == expected)
  }

  test("count-only and projected scans stay correct on the cold tier") {
    val dir = Files.createTempDirectory("colscan-proj").toFile.getAbsolutePath
    writeRows(dir, 9000)
    assert(Offloader.offload(dir, ts("2024-06-01 00:00:00").getTime) == 1)

    // zero-column scan: counts come from footers, no pages decoded
    assert(readTopic(dir).count() == 9000)

    // narrow projection with nulls and a filter that survives past pruning
    val proj = readTopic(dir)
      .where(col("offset") >= 100)
      .select(col("key"), col("offset"), col("event_time"))
    assert(proj.count() == 8900)
    val row = proj.where(col("offset") === 701).collect().head
    assert(row.getString(0) == "k701" && row.getLong(1) == 701L)
    assert(proj.where(col("key").isNull).count() ==
      (100 until 9000).count(_ % 7 == 0))
    assert(proj.where(col("event_time").isNull).count() ==
      (100 until 9000).count(_ % 13 == 0))

    // aggregation over the cold scan matches the closed form
    val sum = readTopic(dir).agg(org.apache.spark.sql.functions.sum("offset"))
      .as[Long].head()
    assert(sum == (0L until 9000L).sum)
  }

  test("mixed hot and cold tiers read through one columnar scan") {
    val dir = Files.createTempDirectory("colscan-mixed").toFile.getAbsolutePath
    (0 until 500).map { i =>
      ("t", 0, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()
    (500 until 800).map { i =>
      ("t", 0, i.toLong, s"k$i", s"v$i", ts("2024-02-01 00:00:00"),
        ts("2024-02-01 00:00:00"), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()
    // first segment goes cold, second stays hot JSONL
    assert(Offloader.offload(dir, ts("2024-01-15 00:00:00").getTime) == 1)
    val df = readTopic(dir)
    assert(df.count() == 800)
    assert(df.agg(org.apache.spark.sql.functions.sum("offset")).as[Long]
      .head() == (0L until 800L).sum)
    assert(df.where(col("offset") >= 750).count() == 50)
  }
}
