package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSuite
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming commit path starts no processes: offset and commit logs,
  * state-store deltas and a parquet write on the local filesystem.
  * Hadoop's own local filesystem, without its native library, forks
  * `chmod` per created file and `readlink` per `FileContext` rename —
  * about 12 forks per partition per micro-batch of a keyed stateful query.
  * Process starts are read from JFR's `jdk.ProcessStart` events. */
class CommitSpawnSpec extends SparkSuite {
  import spark.implicits._

  private val forking = Set("chmod", "readlink", "stat", "ls")

  /** The command lines of the processes this JVM starts while `body` runs.
    * A sentinel process after `body` is the barrier: events arrive in
    * commit order, so once its start is seen every earlier one has been. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val token = s"spawn-barrier-${java.util.UUID.randomUUID()}"
    val cmds = new ConcurrentLinkedQueue[String]()
    @volatile var sawBarrier = false
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => {
        val cmd = e.getString("command")
        if (cmd.contains(token)) sawBarrier = true else cmds.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder("echo", token).start().waitFor()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!sawBarrier && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawBarrier, "JFR never reported the barrier process")
    } finally rs.close()
    cmds.toArray(new Array[String](0)).toSeq
  }

  test("a stateful micro-batch query and a parquet write fork no file tools") {
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("spawn-cp").toFile.getAbsolutePath
    val out = Files.createTempDirectory("spawn-out").toFile.getAbsolutePath
    val policy = EventAnalytics.Eviction(watermarkLagMs = 1000L,
      horizonMs = 2000L)
    val batches = Seq(
      (1 to 40).map(u => UserEvent(u.toLong, "view", 1000000L)),
      (1 to 40).map(u => UserEvent(u.toLong, "click", 3000000L)),
      (41 to 80).map(u => UserEvent(u.toLong, "view", 9000000L)))
    val started = processesStartedBy {
      val source = MemoryStream[UserEvent]
      val q = EventAnalytics.funnelProgress(source.toDS(), Some(policy))
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", cp)
        .start()
      try batches.foreach { b =>
        source.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      assert(q.lastProgress.batchId >= 2L, "three micro-batches ran")
      // an uncached FileSystem: the JVM-wide cache may hold an instance
      // another suite built before the session existed (the documented
      // limit in GraftSession), which would test that suite, not this path
      (1 to 100).toDF("n").write.mode("overwrite")
        .option("fs.file.impl.disable.cache", "true").parquet(out)
    }
    val forks = started.filter(c =>
      forking(c.trim.split("\\s+").head.split('/').last))
    assert(forks.size == 0,
      s"file-tool processes started, e.g. ${forks.take(3).mkString("; ")}")
    assert(spark.read.parquet(out).count() == 100L)
  }
}
