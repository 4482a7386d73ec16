package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSuite
import graft.sources.v2.SegmentCodec
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.functions._

/** The cold reader decodes a row group column-at-a-time in 4096-row
  * batches and rebuilds its column readers at every row-group boundary;
  * offload-produced segments are small enough to land in ONE row group, so
  * these specs write cold twins directly: one with a tiny row-group size to
  * force many groups (and group sizes that don't divide the batch) through
  * the reader, one whose AS OF-invisible rows straddle a batch boundary. */
class ColumnarRowGroupSpec extends SparkSuite {
  import spark.implicits._

  /** Writes `n` envelope rows, filled in by `row`, as one cold twin in
    * the topic's partition-000. */
  private def writeTwin(topic: File, n: Int, rowGroupBytes: Option[Long] = None)(
      row: (Int, Group) => Unit): Unit = {
    val part = new File(topic, "partition-000"); part.mkdirs()
    val seg = new File(part, "segment-b0000000000001-test.jsonl.parquet")
    val gf = new SimpleGroupFactory(SegmentCodec.parquetSchema)
    val b = ExampleParquetWriter.builder(new LocalOutputFile(seg.toPath))
      .withType(SegmentCodec.parquetSchema)
    val w = rowGroupBytes.fold(b)(b.withRowGroupSize).build()
    try (0 until n).foreach { i =>
      val g = gf.newGroup()
      row(i, g)
      w.write(g)
    } finally w.close()
  }

  test("multi-row-group cold segments decode across group boundaries") {
    val dir = Files.createTempDirectory("colscan-rg").toFile
    val baseMs = ts("2024-01-01 00:00:00").getTime
    // ~1KB row groups: thousands of groups over 9000 rows, none aligned to
    // the 4096-row batch
    writeTwin(dir, 9000, Some(1024L)) { (i, g) =>
      g.append("topic", "t").append("partition", 0)
        .append("offset", i.toLong)
      if (i % 7 != 0) g.append("key", s"k$i")
      g.append("value", s"v$i")
      if (i % 13 != 0) g.append("event_time_ms", baseMs + i)
      g.append("publish_time_ms", baseMs + i)
        .append("producer_name", "p").append("sequence_id", i.toLong)
    }

    val df = spark.read.format("graft-topic")
      .option("path", dir.getAbsolutePath).load()
    assert(df.count() == 9000)
    assert(df.agg(sum("offset")).as[Long].head() == (0L until 9000L).sum)
    assert(df.where(col("key").isNull).count() == (0 until 9000).count(_ % 7 == 0))
    assert(df.where(col("event_time").isNull).count() ==
      (0 until 9000).count(_ % 13 == 0))
    val r = df.where(col("offset") === 4097).select("key", "value",
      "publish_time").collect().head
    assert(r.getString(0) == "k4097" && r.getString(1) == "v4097")
    assert(r.getTimestamp(2).getTime == baseMs + 4097)
  }

  test("AS OF skips invisible rows across a batch boundary with publish_time projected away") {
    val root = Files.createTempDirectory("colscan-asof").toFile
    val topic = new File(root, "asof")
    val baseMs = ts("2024-01-01 00:00:00").getTime
    val tMs = ts("2024-01-01 01:00:00").getTime
    // invisible at t: an unknown publish time (i % 5 == 0), a later one
    // (i % 3 == 0), and a 200-row run of later ones straddling the
    // 4096-row batch boundary
    def pt(i: Int): Option[Long] =
      if (i % 5 == 0) None
      else if (i % 3 == 0 || (i >= 4000 && i < 4200)) Some(tMs + 1000L + i)
      else Some(baseMs + i)
    val n = 10000
    writeTwin(topic, n) { (i, g) =>
      g.append("topic", "t").append("partition", 0)
        .append("offset", i.toLong).append("key", s"k$i")
        .append("value", s"v$i")
      pt(i).foreach(g.append("publish_time_ms", _))
      g.append("sequence_id", i.toLong)
    }
    val visible = (0 until n).filter(i => pt(i).exists(_ <= tMs))

    spark.conf.set("spark.sql.catalog.graft_asof",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_asof.root", root.getAbsolutePath)
    def asOf(cols: String) = spark.sql(
      s"SELECT $cols FROM graft_asof.asof TIMESTAMP AS OF '2024-01-01 01:00:00'")
    // publish_time projected away: decoded as the hidden column
    assert(asOf("key, offset").as[(String, Long)].collect().toSet ==
      visible.map(i => (s"k$i", i.toLong)).toSet)
    assert(asOf("count(*)").as[Long].head() == visible.size)
    // publish_time requested: the same rows, read from the output column
    assert(asOf("offset, publish_time").as[(Long, java.sql.Timestamp)]
      .collect().map { case (o, p) => (o, p.getTime) }.sorted.toSeq ==
      visible.map(i => (i.toLong, baseMs + i)))
    // without AS OF every row is there
    assert(spark.sql("SELECT count(*) FROM graft_asof.asof").as[Long]
      .head() == n)
  }
}
