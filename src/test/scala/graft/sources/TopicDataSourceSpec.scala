package graft.sources

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

class TopicDataSourceSpec extends SparkSuite {
  import spark.implicits._

  private def envelopeDf(offsets: Range, producer: String = "p0"): DataFrame =
    offsets.map { i =>
      ("t1", 0, i.toLong, s"k${i % 3}", s"v$i",
        ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), producer, i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")

  private def tmpDir() =
    Files.createTempDirectory("graft-topic").toFile.getAbsolutePath

  test("batch write → batch read round-trips the envelope") {
    val dir = tmpDir()
    envelopeDf(0 until 100).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    val back = spark.read.format("graft-topic").option("path", dir).load()
    assert(back.count() == 100)
    val r = back.orderBy("offset").select("key", "value", "sequence_id")
      .as[(String, String, Long)].head()
    assert(r == (("k0", "v0", 0L)))
    // event_time round-trips at ms precision
    val t = back.orderBy("offset").select("event_time").head().getTimestamp(0)
    assert(t == ts("2024-01-01 00:00:00"))
  }

  test("offset filter prunes whole segments (seek analog)") {
    val dir = tmpDir()
    // three sealed segments: offsets 0-99, 100-199, 200-299
    envelopeDf(0 until 100).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    envelopeDf(100 until 200).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    envelopeDf(200 until 300).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    assert(graft.sources.v2.TopicTable.listSegments(dir).length == 3)

    val q = spark.read.format("graft-topic").option("path", dir).load()
      .where(col("offset") >= 150L)
    assert(q.count() == 150)
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.inputRDD.getNumPartitions == 2) // first segment pruned
  }

  test("publish_time filter prunes segments (seek-by-timestamp)") {
    val dir = tmpDir()
    envelopeDf(0 until 60).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    envelopeDf(60 until 120).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    val q = spark.read.format("graft-topic").option("path", dir).load()
      .where(col("publish_time") >= lit(ts("2024-01-01 00:01:00")))
    assert(q.count() == 60)
    val parts = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get.inputRDD.getNumPartitions
    assert(parts == 1)
  }

  test("pruning uses the .meta sidecar; deleting it falls back to a scan") {
    val dir = tmpDir()
    envelopeDf(0 until 50).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    envelopeDf(50 until 100).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    val segs = graft.sources.v2.TopicTable.listSegments(dir)
    // writer dropped one sidecar per segment
    assert(segs.forall(s => graft.sources.v2.SegmentStats.sidecarFor(s).exists()))
    def prunedCount() = {
      val q = spark.read.format("graft-topic").option("path", dir).load()
        .where(col("offset") >= 50L)
      q.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get.inputRDD.getNumPartitions
    }
    assert(prunedCount() == 1) // sidecar path
    segs.foreach(s => graft.sources.v2.SegmentStats.sidecarFor(s).delete())
    assert(prunedCount() == 1) // scan fallback gives identical pruning
  }

  test("column pruning reaches the reader") {
    val dir = tmpDir()
    envelopeDf(0 until 10).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    val q = spark.read.format("graft-topic").option("path", dir).load()
      .select("key")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("key"))
  }

  test("micro-batch stream tails new segments with checkpointable offsets") {
    val dir = tmpDir()
    envelopeDf(0 until 50).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    val q = spark.readStream.format("graft-topic").option("path", dir).load()
      .groupBy($"key").count()
      .writeStream.format("memory").queryName("topic_tail")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("topic_tail").as[(String, Long)].collect()
      .map(_._2).sum == 50)
    // a new sealed segment arrives → next micro-batch picks up exactly it
    envelopeDf(50 until 80).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    q.processAllAvailable()
    val total = spark.table("topic_tail").as[(String, Long)].collect()
      .map(_._2).sum
    q.stop()
    assert(total == 80)
  }

  test("maxSegmentsPerTrigger paces admission across micro-batches") {
    val dir = tmpDir()
    (0 until 3).foreach(i => envelopeDf(i * 10 until (i + 1) * 10)
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save())
    val q = spark.readStream.format("graft-topic").option("path", dir)
      .option("maxSegmentsPerTrigger", "1").load()
      .groupBy().count()
      .writeStream.format("memory").queryName("paced")
      .outputMode("complete").start()
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    val total = spark.table("paced").as[Long].head()
    q.stop()
    assert(total == 30)
    assert(batches.length == 3) // one sealed segment admitted per trigger
    assert(batches.forall(_.numInputRows == 10))
  }

  test("startingTime seeks the stream past wholly-older segments") {
    val dir = tmpDir()
    envelopeDf(0 until 60).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save() // publish_time < 00:01
    envelopeDf(60 until 120).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save() // publish_time >= 00:01
    val q = spark.readStream.format("graft-topic").option("path", dir)
      .option("startingTime", ts("2024-01-01 00:01:00").getTime.toString)
      .load()
      .groupBy().count()
      .writeStream.format("memory").queryName("seeked")
      .outputMode("complete").start()
    q.processAllAvailable()
    val n = spark.table("seeked").as[Long].head()
    q.stop()
    assert(n == 60) // first segment skipped entirely
  }

  test("null event_time round-trips as null (not epoch 0)") {
    val dir = tmpDir()
    Seq(("t1", 0, 0L, "k", "v", null.asInstanceOf[java.sql.Timestamp],
      ts("2024-01-01 00:00:00"), "p", 0L))
      .toDF("topic", "partition", "offset", "key", "value", "event_time",
        "publish_time", "producer_name", "sequence_id")
      .write.format("graft-topic").option("path", dir).mode("append").save()
    val r = spark.read.format("graft-topic").option("path", dir).load()
      .select("event_time", "publish_time").head()
    assert(r.isNullAt(0))
    assert(r.getTimestamp(1) == ts("2024-01-01 00:00:00"))
  }

  test("writer routes rows to their partition subdirectory (partition router)") {
    val dir = tmpDir()
    (0 until 30).map { i =>
      ("t1", i % 3, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .coalesce(1).write.format("graft-topic").option("path", dir)
      .mode("append").save()
    val byDir = graft.sources.v2.TopicTable.listPartitioned(dir)
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(byDir.keySet == Set(0, 1, 2)) // one subdir per envelope partition
    val back = spark.read.format("graft-topic").option("path", dir).load()
    assert(back.count() == 30)
    assert(back.where($"partition" === 1).count() == 10)
  }

  test("stream discovers a new partition directory without restart (autoUpdatePartitions)") {
    val dir = tmpDir()
    def writePart(p: Int, offs: Range): Unit =
      offs.map { i =>
        ("t1", p, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
          ts("2024-01-01 00:00:00"), "p", i.toLong)
      }.toDF("topic", "partition", "offset", "key", "value", "event_time",
        "publish_time", "producer_name", "sequence_id")
        .coalesce(1).write.format("graft-topic").option("path", dir)
        .mode("append").save()
    writePart(0, 0 until 20)
    val q = spark.readStream.format("graft-topic").option("path", dir).load()
      .groupBy($"partition").count()
      .writeStream.format("memory").queryName("part_evo")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("part_evo").as[(Int, Long)].collect().toMap ==
      Map(0 -> 20L))
    writePart(1, 100 until 130) // the topic grows a partition mid-stream
    q.processAllAvailable()
    val counts = spark.table("part_evo").as[(Int, Long)].collect().toMap
    q.stop()
    assert(counts == Map(0 -> 20L, 1 -> 30L))
  }

  test("subscribePattern discovers topics created mid-stream (regex recheck)") {
    val root = tmpDir()
    def writeTopic(name: String, offs: Range): Unit =
      envelopeDf(offs).coalesce(1).write.format("graft-topic")
        .option("path", s"$root/$name").mode("append").save()
    writeTopic("t-a", 0 until 10)
    val q = graft.sources.Topics.subscribePattern(spark, root, "t-.*")
      .groupBy().count()
      .writeStream.format("memory").queryName("rediscover")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("rediscover").as[Long].head() == 10)
    writeTopic("t-b", 0 until 7)   // new matching topic, no restart
    writeTopic("skip-me", 0 until 5) // non-matching topic stays invisible
    q.processAllAvailable()
    val n = spark.table("rediscover").as[Long].head()
    q.stop()
    assert(n == 17)
  }

  test("stream offset stays bounded as segments accumulate (cursor, not a set)") {
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    (1 to 10000).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(pdir, f"segment-e$i%010d-p00000.jsonl").toPath,
        s"""{"topic":"t","partition":0,"offset":$i,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$i}"""
          .getBytes("UTF-8"))
    }
    val stream = new TopicMicroBatchStream(dir)
    val off1 = stream.latestOffset(TopicOffset.empty, ReadLimit.allAvailable())
    // 10k consumed segments compress to one frontier name
    assert(off1.json().length < 300, s"offset too big: ${off1.json()}")
    assert(stream.planInputPartitions(TopicOffset.empty, off1).length == 10000)
    // one more segment → exactly one new input partition, offset still tiny
    java.nio.file.Files.write(
      new java.io.File(pdir, f"segment-e${10001}%010d-p00000.jsonl").toPath,
      s"""{"topic":"t","partition":0,"offset":10001,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":10001}"""
        .getBytes("UTF-8"))
    val off2 = stream.latestOffset(off1, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off1, off2).length == 1)
    assert(off2.json().length < 300)
  }

  test("sidecar-less stats survive null publish times at the segment endpoints") {
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    // last line's publish_time is null: the scan fallback must still see the
    // real times from earlier lines (endpoint-only stats would poison the
    // range and prune live rows)
    val lines = Seq(
      s"""{"topic":"t","partition":0,"offset":1,"key":"k","value":"v1","event_time_ms":0,"publish_time_ms":${ts("2024-01-10 00:00:00").getTime},"producer_name":"p","sequence_id":1}""",
      s"""{"topic":"t","partition":0,"offset":2,"key":"k","value":"v2","event_time_ms":0,"publish_time_ms":null,"producer_name":"p","sequence_id":2}""")
    java.nio.file.Files.write(
      new java.io.File(pdir, "segment-e0000000001-p00000.jsonl").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val q = spark.read.format("graft-topic").option("path", dir).load()
      .where($"publish_time" >= lit(ts("2024-01-01 00:00:00")))
    assert(q.count() == 1) // v1 matches; the segment was NOT pruned away
  }

  test("SegmentClock stamps are strictly increasing even inside one millisecond") {
    val stamps = (0 until 2000).map(_ => graft.sources.v2.SegmentClock.next())
    assert(stamps == stamps.sorted && stamps.distinct.size == stamps.size)
  }

  test("admission paces across partitions oldest-name-first, consuming everything") {
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    // two partitions, interleaved epoch names
    (0 until 2).foreach { p =>
      val pdir = new java.io.File(dir, f"partition-$p%03d"); pdir.mkdirs()
      (1 to 3).foreach { e =>
        java.nio.file.Files.write(
          new java.io.File(pdir, f"segment-e$e%010d-p00000.jsonl").toPath,
          s"""{"topic":"t","partition":$p,"offset":$e,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$e}"""
            .getBytes("UTF-8"))
      }
    }
    val stream = new TopicMicroBatchStream(dir, maxSegmentsPerTrigger = Some(2))
    var off: org.apache.spark.sql.connector.read.streaming.Offset = TopicOffset.empty
    var batches = 0; var total = 0
    var progressed = true
    while (progressed) {
      val next = stream.latestOffset(off, ReadLimit.allAvailable())
      val n = stream.planInputPartitions(off, next).length
      progressed = n > 0
      if (progressed) { batches += 1; total += n; off = next }
    }
    assert(total == 6 && batches == 3) // 2 per trigger, nothing starved
  }

  test("a transient listing absence never re-delivers a consumed segment") {
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    def seg(e: Int) = new java.io.File(pdir, f"segment-e$e%010d-p00000.jsonl")
    def write(e: Int): Unit = java.nio.file.Files.write(seg(e).toPath,
      s"""{"topic":"t","partition":0,"offset":$e,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$e}"""
        .getBytes("UTF-8"))
    (1 to 3).foreach(write)
    val stream = new TopicMicroBatchStream(dir)
    val off1 = stream.latestOffset(TopicOffset.empty, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(TopicOffset.empty, off1).length == 3)
    // the family-max name vanishes for ONE listing — the epoch-replay
    // delete→rename / offload-recall rename window — then reappears
    val hidden = java.nio.file.Files.createTempDirectory("graft-hide").toFile
    val stash = new java.io.File(hidden, seg(3).getName)
    assert(seg(3).renameTo(stash))
    val off2 = stream.latestOffset(off1, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off1, off2).isEmpty)
    assert(stash.renameTo(seg(3)))
    val off3 = stream.latestOffset(off2, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off2, off3).isEmpty,
      "reappearing consumed segment was re-admitted")
    // the next genuinely new segment flows alone — the reappeared name must
    // not ride along as a late-arrival redelivery
    write(4)
    val off4 = stream.latestOffset(off3, ReadLimit.allAvailable())
    val batch4 = stream.planInputPartitions(off3, off4)
    assert(batch4.length == 1 &&
      batch4.head.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.endsWith(seg(4).getName),
      s"expected only segment 4, got ${batch4.mkString(", ")}")
  }

  test("startingTime with out-of-order segment times parks stragglers as pending") {
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    // three segments; the MIDDLE name holds the NEWEST publish times, so a
    // startingTime seek consumes names 1 and 3 and must park name 2's gap
    // as pending below the frontier rather than lose it
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    def raw(e: Int, ptMs: Long): Unit =
      java.nio.file.Files.write(
        new java.io.File(pdir, f"segment-e$e%010d-p00000.jsonl").toPath,
        s"""{"topic":"t","partition":0,"offset":$e,"key":"k","value":"v$e","event_time_ms":0,"publish_time_ms":$ptMs,"producer_name":"p","sequence_id":$e}"""
          .getBytes("UTF-8"))
    raw(1, 1000L); raw(2, 9000L); raw(3, 2000L)
    val stream = new TopicMicroBatchStream(dir, startingTimeMs = Some(5000L))
    val init = stream.initialOffset().asInstanceOf[TopicOffset]
    // names 1 and 3 are wholly-older (consumed); 2 is pending below frontier 3
    assert(init.parts("0").pending == Set("segment-e0000000002-p00000.jsonl"))
    val next = stream.latestOffset(init, ReadLimit.allAvailable())
    val batch = stream.planInputPartitions(init, next)
    assert(batch.length == 1 &&
      batch.head.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.endsWith("segment-e0000000002-p00000.jsonl"))
  }

  test("mixed name families: batch appends after streaming epochs still consumed") {
    // epoch-named ("e") segments sort AFTER batch-time ("b") names; the
    // per-FAMILY frontiers must keep both monotone sequences independently,
    // or a batch append into a streamed topic would land below the "e"
    // frontier and be swallowed.
    val src = tmpDir(); val dir = tmpDir(); val cp = tmpDir()
    envelopeDf(0 until 10).coalesce(1).write.format("graft-topic")
      .option("path", src).mode("append").save()
    // streaming write → epoch-named segments in dir
    val sq = spark.readStream.format("graft-topic").option("path", src).load()
      .writeStream.format("graft-topic").option("path", dir)
      .option("checkpointLocation", cp).start()
    sq.processAllAvailable(); sq.stop()
    // now a reader tails dir; then a BATCH append arrives (family "b")
    val q = spark.readStream.format("graft-topic").option("path", dir).load()
      .groupBy().count()
      .writeStream.format("memory").queryName("mixed_fam")
      .outputMode("complete").start()
    q.processAllAvailable()
    assert(spark.table("mixed_fam").as[Long].head() == 10)
    envelopeDf(100 until 120).coalesce(1).write.format("graft-topic")
      .option("path", dir).mode("append").save()
    q.processAllAvailable()
    val n = spark.table("mixed_fam").as[Long].head()
    // and another streaming epoch after the batch write
    val sq2 = spark.readStream.format("graft-topic").option("path", src).load()
      .where($"offset" < 5)
      .writeStream.format("graft-topic").option("path", dir)
      .option("checkpointLocation", tmpDir()).start()
    sq2.processAllAvailable(); sq2.stop()
    q.processAllAvailable()
    val n2 = spark.table("mixed_fam").as[Long].head()
    q.stop()
    assert(n == 30, s"batch append below the e-frontier was lost (got $n)")
    assert(n2 == 35, s"post-batch epoch write lost (got $n2)")
  }

  test("frontierGraceMs: observation-age pacing an mtime-forging writer cannot bypass") {
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    def rawB(stamp: Long, off: Int): java.io.File = {
      val f = new java.io.File(pdir, f"segment-b$stamp%013d-x.jsonl")
      java.nio.file.Files.write(f.toPath,
        s"""{"topic":"t","partition":0,"offset":$off,"key":"k","value":"v$off","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$off}"""
          .getBytes("UTF-8"))
      f
    }
    val old = System.currentTimeMillis() - 600000L
    val stream = new TopicMicroBatchStream(dir,
      frontierGraceMs = Some(500L))
    // pre-existing aged segment (baseline listing) is admitted normally
    val f1 = rawB(100, 1); f1.setLastModified(old)
    val off1 = stream.latestOffset(TopicOffset.empty, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(TopicOffset.empty, off1).length == 1)
    // a high name arrives with a FORGED old mtime (a foreign writer's
    // rename preserves mtime on POSIX): quarantine keys on when the READER
    // first observed it, so the forgery does not bypass the grace window
    val f2 = rawB(300, 3); f2.setLastModified(old)
    val off2 = stream.latestOffset(off1, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off1, off2).isEmpty,
      "mtime-forged segment admitted inside the grace window")
    // the skewed-clock writer lands a LOWER name strictly later. The
    // observation clock starts at the next LISTING, so after the sleep the
    // high name is grace-aged (admitted, frontier advances) while the lower
    // one is only now observed: it parks as pending under the advanced
    // frontier instead of vanishing...
    val f3 = rawB(200, 2); f3.setLastModified(old)
    Thread.sleep(900)
    val off3 = stream.latestOffset(off2, ReadLimit.allAvailable())
    val batch3 = stream.planInputPartitions(off2, off3)
      .map(_.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.split("/").last)
    assert(batch3.toSeq == Seq("segment-b0000000000300-x.jsonl"))
    // ...and once IT ages past the grace window it is delivered too —
    // nothing skipped, in spite of the inverted arrival order
    Thread.sleep(900)
    val off4 = stream.latestOffset(off3, ReadLimit.allAvailable())
    val batch4 = stream.planInputPartitions(off3, off4)
      .map(_.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.split("/").last)
    assert(batch4.toSeq == Seq("segment-b0000000000200-x.jsonl"),
      s"late lower name lost: delivered $batch4")
  }

  test("without grace, a late lower name below the frontier parks pending and is delivered") {
    // default-on foreign-writer defense: zero-latency admission for the
    // normal path, and a name first appearing BELOW its family frontier is
    // recovered via pending instead of being classified consumed
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    def rawB(stamp: Long): Unit =
      java.nio.file.Files.write(
        new java.io.File(pdir, f"segment-b$stamp%013d-x.jsonl").toPath,
        s"""{"topic":"t","partition":0,"offset":$stamp,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$stamp}"""
          .getBytes("UTF-8"))
    val stream = new TopicMicroBatchStream(dir)
    rawB(300)
    val off1 = stream.latestOffset(TopicOffset.empty, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(TopicOffset.empty, off1).length == 1,
      "default path must admit a fresh segment immediately")
    // foreign writer's late commit: a LOWER name appears under the advanced
    // frontier. Trigger 1 detects the late arrival and parks it pending...
    rawB(200)
    val off2 = stream.latestOffset(off1, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off1, off2).isEmpty)
    // ...trigger 2 admits and delivers it — no rows lost, no option set
    val off3 = stream.latestOffset(off2, ReadLimit.allAvailable())
    val batch = stream.planInputPartitions(off2, off3)
      .map(_.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.split("/").last)
    assert(batch.toSeq == Seq("segment-b0000000000200-x.jsonl"),
      s"late lower name not recovered: $batch")
    // and it does not re-deliver afterwards
    val off4 = stream.latestOffset(off3, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(off3, off4).isEmpty)
  }

  test("a late name first appearing across a restart parks and is delivered (persisted observations)") {
    // the docstring's old residual window: firstSeen lived only in the JVM,
    // so a foreign late commit landing while the query was STOPPED entered
    // the restart's mtime baseline and was classified consumed. With the
    // checkpoint sidecar the restarted stream knows what it had seen.
    import graft.sources.v2.{TopicMicroBatchStream, TopicOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    val cp = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    def rawB(stamp: Long): Unit =
      java.nio.file.Files.write(
        new java.io.File(pdir, f"segment-b$stamp%013d-x.jsonl").toPath,
        s"""{"topic":"t","partition":0,"offset":$stamp,"key":"k","value":"v","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":$stamp}"""
          .getBytes("UTF-8"))
    val s1 = new TopicMicroBatchStream(dir, checkpointLocation = Some(cp))
    rawB(300)
    val off1 = s1.latestOffset(TopicOffset.empty, ReadLimit.allAvailable())
    assert(s1.planInputPartitions(TopicOffset.empty, off1).length == 1)
    // the query stops; a foreign writer's late commit lands a LOWER name
    // while no reader JVM is watching
    rawB(200)
    // restart: a fresh stream instance over the same checkpoint
    val s2 = new TopicMicroBatchStream(dir, checkpointLocation = Some(cp))
    val off2 = s2.latestOffset(off1, ReadLimit.allAvailable())
    assert(s2.planInputPartitions(off1, off2).isEmpty,
      "late name must park pending on the detection trigger")
    val off3 = s2.latestOffset(off2, ReadLimit.allAvailable())
    val batch = s2.planInputPartitions(off2, off3)
      .map(_.asInstanceOf[graft.sources.v2.TopicInputPartition]
        .file.split("/").last)
    assert(batch.toSeq == Seq("segment-b0000000000200-x.jsonl"),
      s"late name first observed across a restart was lost: $batch")
    // no re-delivery afterwards
    val off4 = s2.latestOffset(off3, ReadLimit.allAvailable())
    assert(s2.planInputPartitions(off3, off4).isEmpty)
    // a corrupt sidecar fails loudly instead of silently reopening the
    // restart window as "no state"
    java.nio.file.Files.write(
      new java.io.File(cp, "graft-observations.json").toPath,
      "not json".getBytes("UTF-8"))
    intercept[Exception] {
      new TopicMicroBatchStream(dir, checkpointLocation = Some(cp))
    }
  }

  test("batch segment names are driver-issued at job commit (no task clocks)") {
    val dir = tmpDir()
    // 3 tasks × up to 3 envelope partitions each stage invisibly; the job
    // commit stamps every file from one clock under one lock
    (0 until 30).map { i =>
      ("t1", i % 3, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .repartition(3).write.format("graft-topic").option("path", dir)
      .mode("append").save()
    val segs = graft.sources.v2.TopicTable.listPartitioned(dir)
    assert(segs.map(_._2.getName).distinct.size == segs.size)
    assert(segs.forall { case (_, f) =>
      graft.sources.v2.TopicTable.family(f.getName) == "b" })
    assert(segs.forall { case (_, f) =>
      graft.sources.v2.SegmentStats.sidecarFor(f).exists() })
    // no staged tmps survive the commit
    val leftovers = segs.map(_._2.getParentFile).distinct
      .flatMap(d => Option(d.listFiles((_, n) => n.startsWith(".graft-")))
        .getOrElse(Array.empty).toSeq)
    assert(leftovers.isEmpty, s"staged tmps leaked: $leftovers")
    assert(spark.read.format("graft-topic").option("path", dir).load()
      .count() == 30)
  }

  test("batch name stamping is data-deterministic: same write, same segment contents") {
    // names were stamped in UUID-tmp-path order before: the same
    // DataFrame written twice landed DIFFERENT rows under the Nth segment
    // name, so any paced consumer (maxSegmentsPerTrigger) saw run-varying
    // micro-batch membership — the StreamBench simhash_dups 209-vs-213
    // wobble. Stamping now orders on (envelope partition, staging task
    // partition), both functions of the data.
    def write(): String = {
      val dir = tmpDir()
      (0 until 60).map { i =>
        ("t1", i % 2, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
          ts("2024-01-01 00:00:00"), "p", i.toLong)
      }.toDF("topic", "partition", "offset", "key", "value", "event_time",
        "publish_time", "producer_name", "sequence_id")
        .repartition(6, col("sequence_id"))
        .write.format("graft-topic").option("path", dir)
        .mode("append").save()
      dir
    }
    def contentsBySegmentOrdinal(dir: String): Seq[Set[String]] =
      graft.sources.v2.TopicTable.listPartitioned(dir)
        .sortBy { case (p, f) => (p, f.getName) }
        .map { case (_, f) =>
          scala.io.Source.fromFile(f, "UTF-8").getLines()
            .map(l => l.split("\"key\":\"")(1).takeWhile(_ != '"')).toSet
        }.toSeq
    val a = contentsBySegmentOrdinal(write())
    val b = contentsBySegmentOrdinal(write())
    // SegmentClock is global so absolute names differ across topics —
    // compare by ordinal: the Nth revealed segment must hold the same rows
    assert(a == b,
      s"segment composition differed between identical writes:\n$a\nvs\n$b")
  }

  test("paced replay delivers identical micro-batch membership across runs") {
    // the full ask-#2 claim: write once, consume twice with
    // maxSegmentsPerTrigger=1 — every trigger must hold the SAME keys in
    // the SAME order of batches, so any exists-earlier verdict downstream
    // (simhash dup flags, keeper election) is a pure function of the data
    val dir = tmpDir()
    (0 until 48).map { i =>
      ("t1", i % 4, i.toLong, s"k$i", s"v$i", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), "p", i.toLong)
    }.toDF("topic", "partition", "offset", "key", "value", "event_time",
      "publish_time", "producer_name", "sequence_id")
      .repartition(4, col("sequence_id"))
      .write.format("graft-topic").option("path", dir)
      .mode("append").save()
    def consume(): Seq[(Long, Set[String])] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[String])]
      val q = spark.readStream.format("graft-topic").option("path", dir)
        .option("maxSegmentsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
          got += ((e, b.select("key").as[String].collect().toSet)); ()
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft-det-cp").toString)
        .start()
      q.processAllAvailable(); q.stop()
      got.toSeq
    }
    val a = consume()
    val b = consume()
    assert(a.nonEmpty && a.map(_._2.size).sum == 48)
    assert(a == b, s"micro-batch membership diverged between runs:\n$a\nvs\n$b")
  }

  test("whollyOlderThan refuses a segment mixing old rows with null-time rows") {
    import graft.sources.v2.SegmentStats
    val dir = tmpDir()
    val pdir = new java.io.File(dir, "partition-000"); pdir.mkdirs()
    val mixed = new java.io.File(pdir, "segment-e0000000001-p00000.jsonl")
    java.nio.file.Files.write(mixed.toPath, Seq(
      s"""{"topic":"t","partition":0,"offset":1,"key":"k","value":"old","event_time_ms":0,"publish_time_ms":1000,"producer_name":"p","sequence_id":1}""",
      s"""{"topic":"t","partition":0,"offset":2,"key":"k","value":"unknown-age","event_time_ms":0,"publish_time_ms":null,"producer_name":"p","sequence_id":2}""")
      .mkString("\n").getBytes("UTF-8"))
    // scan fallback: maxPt is old, but the null-time row makes age unknown
    assert(!SegmentStats.whollyOlderThan(mixed, horizonMs = 5000L))
    // the sidecar the writer drops carries the null count and agrees
    SegmentStats.writeSidecar(mixed, SegmentStats.statsFor(mixed).get)
    assert(!SegmentStats.whollyOlderThan(mixed, horizonMs = 5000L))
    // an all-known old segment IS wholly older
    val known = new java.io.File(pdir, "segment-e0000000002-p00000.jsonl")
    java.nio.file.Files.write(known.toPath,
      s"""{"topic":"t","partition":0,"offset":3,"key":"k","value":"old","event_time_ms":0,"publish_time_ms":1000,"producer_name":"p","sequence_id":3}"""
        .getBytes("UTF-8"))
    assert(SegmentStats.whollyOlderThan(known, horizonMs = 5000L))
  }

  test("null offset and sequence_id round-trip as null (not 0)") {
    val dir = tmpDir()
    Seq(("t1", 0, null.asInstanceOf[java.lang.Long], "k", "v",
      ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), "p",
      null.asInstanceOf[java.lang.Long]))
      .toDF("topic", "partition", "offset", "key", "value", "event_time",
        "publish_time", "producer_name", "sequence_id")
      .write.format("graft-topic").option("path", dir).mode("append").save()
    val r = spark.read.format("graft-topic").option("path", dir).load()
      .select("offset", "sequence_id").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("streaming write: epoch-named segments are idempotent on replay") {
    val dir = tmpDir()
    val src = tmpDir()
    envelopeDf(0 until 30).coalesce(1).write.format("graft-topic")
      .option("path", src).mode("append").save()
    val cp = tmpDir()
    def run(): Unit = {
      val q = spark.readStream.format("graft-topic").option("path", src).load()
        .writeStream.format("graft-topic").option("path", dir)
        .option("checkpointLocation", cp).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val n1 = spark.read.format("graft-topic").option("path", dir).load().count()
    run() // restart from checkpoint: no duplicate rows
    val n2 = spark.read.format("graft-topic").option("path", dir).load().count()
    assert(n1 == 30 && n2 == 30)
  }
}
