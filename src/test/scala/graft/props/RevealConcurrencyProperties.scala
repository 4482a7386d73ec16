package graft.props

import java.io.File
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import graft.SparkSuite
import graft.sources.v2._
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** Hammers concurrent batch-job commits (driver-stamped names) and
  * streaming-epoch commits (precomputed names, distinct per-query families)
  * against one topic while a frontier-cursor reader admits concurrently.
  * Contract under test: stamping + reveal share ONE critical section
  * ([[TopicBatchWrite.commit]]), so within an application name order equals
  * visibility order and every committed segment is delivered EXACTLY once —
  * without `frontierGraceMs`. Before the fix, two interleaved batch commits
  * could reveal higher stamps first; a reader trigger between the reveals
  * advanced the family frontier past the lower names and silently skipped
  * them when they appeared. */
class RevealConcurrencyProperties extends SparkSuite {

  private def stage(dir: String, pid: Int, payload: String): StagedSegment = {
    val pdir = new File(dir, f"partition-$pid%03d"); pdir.mkdirs()
    val tmp = new File(pdir, s".graft-${UUID.randomUUID()}.tmp")
    Files.write(tmp.toPath,
      s"""{"topic":"t","partition":$pid,"offset":1,"key":"k","value":"$payload","event_time_ms":0,"publish_time_ms":0,"producer_name":"p","sequence_id":1}"""
        .getBytes("UTF-8"))
    StagedSegment(tmp.getAbsolutePath, "", 1, 1, 1, 0, 0, 0, taskPart = 0)
  }

  test("concurrent batch + epoch commits deliver exactly once to a live frontier reader") {
    (0 until 3).foreach { run =>
      val dir = Files.createTempDirectory(s"reveal-conc$run").toFile.getAbsolutePath
      val partitions = 2
      val batchThreads = 8; val commitsPerThread = 50
      val streamThreads = 2; val epochsPerThread = 20

      val failure = new AtomicReference[Throwable](null)
      val writers = (0 until batchThreads).map { t =>
        new Thread(() => try {
          val w = new TopicBatchWrite(dir, s"batchq$t$run", TopicTable.schema)
          (0 until commitsPerThread).foreach { c =>
            val segs = (0 until partitions).map(p => stage(dir, p, s"b$t-$c"))
            w.commit(Array[WriterCommitMessage](StagedCommit(segs)))
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) })
      } ++ (0 until streamThreads).map { t =>
        new Thread(() => try {
          // one streaming query per thread -> its own "e"+alpha name family
          val w = new TopicStreamingWrite(dir, f"ss$t$run%05d", TopicTable.schema)
          (0 until epochsPerThread).foreach { e =>
            val alpha = TopicStreamingWrite.alphaId(f"ss$t$run%05d")
            val seg = stage(dir, t % partitions, s"s$t-$e")
              .copy(name = f"segment-e$alpha$e%010d-p00000.jsonl")
            w.commit(e.toLong, Array[WriterCommitMessage](StagedCommit(Seq(seg))))
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) })
      }

      val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
      val stream = new TopicMicroBatchStream(dir)
      var off: org.apache.spark.sql.connector.read.streaming.Offset =
        TopicOffset.empty
      val rnd = new scala.util.Random(414L + run)
      def admit(limit: Option[Int]): Unit = {
        val capped = new TopicMicroBatchStream(dir, maxSegmentsPerTrigger = limit)
        val next = capped.latestOffset(off, ReadLimit.allAvailable())
        delivered ++= stream.planInputPartitions(off, next).map { p =>
          val f = new File(p.asInstanceOf[TopicInputPartition].file)
          s"${f.getParentFile.getName}/${f.getName}"
        }
        off = stream.deserializeOffset(next.asInstanceOf[TopicOffset].json())
      }

      writers.foreach(_.start())
      // admit continuously while writers race; random pacing caps exercise
      // the pending set alongside the frontier
      while (writers.exists(_.isAlive)) {
        admit(if (rnd.nextBoolean()) Some(1 + rnd.nextInt(4)) else None)
      }
      writers.foreach(_.join())
      if (failure.get() != null) throw failure.get()
      admit(None); admit(None) // final full drains

      val onDisk = TopicTable.listPartitioned(dir)
        .map { case (_, f) => s"${f.getParentFile.getName}/${f.getName}" }.toSet
      val expected =
        batchThreads * commitsPerThread * partitions +
          streamThreads * epochsPerThread
      assert(onDisk.size == expected,
        s"run $run: ${onDisk.size} visible segments, expected $expected")
      assert(delivered.size == delivered.distinct.size,
        s"run $run: duplicates delivered")
      assert(delivered.toSet == onDisk,
        s"run $run: skipped ${(onDisk -- delivered.toSet).take(5)}")
    }
  }
}
