package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.{EventAnalytics, UserEvent}

/** stream: open loop. A generator thread appends creation-stamped events
  * as topic segments at a fixed rate while one streaming query runs
  * `EventAnalytics.funnelProgress` (eviction on) from the `graft-topic`
  * source into a `graft-topic` topic; then a pre-staged backlog is revealed
  * and drained. Reaches `sources` (micro-batch path) and `streaming`
  * (state); no store and no batch operator. */
final class StreamWorkload(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  /** Share of the measured phase spent in the open loop; the drain follows. */
  private val OpenLoopShare = 0.7
  private val MaxSegmentsPerTrigger = 10
  /** 2.5 s of paced traffic, so the measured batches run on warm code. */
  private val WarmUpSegments = 25

  private var gen: GenStream = _
  private var dir: File = _
  private var inPart: File = _
  private var backlog: Vector[Vector[Event]] = Vector.empty
  private var stagedBacklog: Vector[File] = Vector.empty
  private var query: StreamingQuery = _
  private var runId: String = ""
  private val written = mutable.ArrayBuffer.empty[Event]
  /** (due ms, written ms) per live segment. */
  private val segWrites = mutable.ArrayBuffer.empty[(Long, Long)]
  private var nextSeg = 0L

  def prepare(d: File): Unit = {
    gen = new GenStream(seed)
    dir = d
    inPart = new File(new File(d, "events"), "partition-000")
    inPart.mkdirs()
    written.clear(); segWrites.clear(); nextSeg = 0
    backlog = gen.backlog(System.currentTimeMillis() * 1000L)
    val staging = new File(d, "backlog-staging")
    stagedBacklog = backlog.zipWithIndex.map { case (evs, k) =>
      GenStream.writeSegment(staging, GenStream.backlogName(k), evs)
    }
  }

  private def writeLive(startUs: Long): Unit = {
    val evs = gen.liveEvents(gen.eventsPerSegment, startUs)
    val dueMs = evs.last.dueUs / 1000L
    GenStream.writeSegment(inPart, GenStream.liveName(nextSeg), evs)
    segWrites += dueMs -> System.currentTimeMillis()
    written ++= evs
    nextSeg += 1
  }

  private def consumedRows: Long =
    query.recentProgress.map(_.numInputRows).sum

  private def awaitRows(n: Long, timeoutS: Double): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (consumedRows < n) {
      require(query.exception.isEmpty, s"query failed: ${query.exception}")
      require(System.nanoTime() < end, s"stream did not consume $n rows")
      Thread.sleep(5)
    }
  }

  def warmUp(): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val ds = spark.readStream.format("graft-topic")
      .option("path", inPart.getParent)
      .option("maxSegmentsPerTrigger", MaxSegmentsPerTrigger.toString).load()
      .select(col("key").cast("long").as("user_id"),
        split(col("value"), "\\|").as("kv"))
      .select(col("user_id"), col("kv")(0).as("event_type"),
        col("kv")(1).cast("long").as("ts_us"))
      .as[UserEvent]
    def part(c: String) = coalesce(col(c).cast("string"), lit(""))
    val sinkDir = new File(dir, "funnel").getAbsolutePath
    query = EventAnalytics.funnelProgress(ds,
        evict = Some(EventAnalytics.Eviction(watermarkLagMs = 100L,
          horizonMs = 1500L)))
      .select(lit("funnel").as("topic"), lit(0).as("partition"),
        col("user_id").cast("string").as("key"),
        concat_ws("|", part("t1"), part("t2"), part("t3")).as("value"))
      .writeStream
      // the graft-topic streaming sink is append-only; the funnel emits
      // updates, so each micro-batch goes through the topic's batch write
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.format("graft-topic").option("path", sinkDir)
          .mode("append").save()
      }
      .option("checkpointLocation", new File(dir, "cp").getAbsolutePath)
      .outputMode("update")
      .start()
    runId = query.runId.toString
    openLoop(WarmUpSegments)
  }

  /** Paces `n` live segments from a generator thread, one per
    * `eventsPerSegment / ratePerS`, each event stamped with its due time,
    * then waits until the query consumed them; calls `atHalf` before the
    * middle segment. Returns the first segment's index. */
  private def openLoop(n: Int, atHalf: () => Unit = () => ()): Long = {
    gen.newPhase()
    val first = nextSeg
    val segMs = gen.eventsPerSegment * 1000.0 / gen.ratePerS
    val startMs = System.currentTimeMillis()
    val startUs = startMs * 1000L - (first * segMs * 1000).toLong
    val t = new Thread(() => (0 until n).foreach { k =>
      val wait = startMs + ((k + 1) * segMs).toLong - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (k == n / 2) atHalf()
      writeLive(startUs)
    }, "perfbench-generator")
    t.start()
    t.join()
    awaitRows(written.size, 60)
    first
  }

  /** Commit time of a micro-batch: trigger start plus trigger duration. */
  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  @volatile private var listenerOn = false
  private val traced = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (listenerOn) traced.synchronized { traced += e.progress }
  }

  def measure(seconds: Double, tr: Tracer): Outcome = {
    if (tr.enabled) spark.streams.addListener(listener)
    val warmRows = written.size.toLong
    val batchesBefore = query.recentProgress.length
    val segMs = gen.eventsPerSegment * 1000.0 / gen.ratePerS
    val nSegs = (seconds * OpenLoopShare * 1000 / segMs).toInt
    // a traced run records the second half of the open loop only; the
    // first half is its untraced control for bench.trace_overhead
    val firstLive = openLoop(nSegs, () => if (tr.enabled) listenerOn = true)
    val liveTotal = written.size.toLong
    // the drain starts from an idle query, not mid-way through a no-data
    // (eviction) batch
    while (query.status.isTriggerActive) Thread.sleep(2)
    val revealMs = System.currentTimeMillis()
    stagedBacklog.foreach { f =>
      java.nio.file.Files.move(
        graft.sources.v2.SegmentStats.sidecarFor(f).toPath,
        new File(inPart, f.getName + ".meta").toPath)
      java.nio.file.Files.move(f.toPath, new File(inPart, f.getName).toPath)
    }
    val backlogTotal = backlog.map(_.size).sum.toLong
    awaitRows(liveTotal + backlogTotal, 120)
    listenerOn = false
    query.stop()
    if (tr.enabled) spark.streams.removeListener(listener)

    // every batch since the query started, in order
    val progress = query.recentProgress.toVector
    val cum = progress.scanLeft(0L)(_ + _.numInputRows)
    val liveEvents = written.toVector
    // event i was consumed by the batch whose cumulative row range holds it
    val latencies = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val onFromMs = if (tr.enabled) segWrites(firstLive.toInt + nSegs / 2)._2
      else Long.MaxValue
    progress.indices.foreach { b =>
      val c = commitMs(progress(b))
      val lo = math.max(cum(b), warmRows)
      val hi = math.min(cum(b + 1), liveTotal)
      (lo until hi).foreach { i =>
        val s = (c - liveEvents(i.toInt).dueUs / 1000.0) / 1e3
        latencies += s -> (c >= onFromMs)
      }
    }
    val drainBatches = progress.indices.filter(b => cum(b + 1) > liveTotal)
    val drainEndMs = commitMs(progress(drainBatches.last))
    val drainRate = backlogTotal / ((drainEndMs - revealMs) / 1e3)
    // batches that consumed open-loop events (no-data eviction batches
    // excluded)
    val openBatches = progress.indices.drop(batchesBefore)
      .filter(b => cum(b + 1) <= liveTotal && cum(b + 1) > cum(b))
      .map(progress)
    val lat = latencies.map(_._1).toSeq
    val triggerS = openBatches.map(_.durationMs.getOrDefault(
      "triggerExecution", 0L) / 1e3)

    // the funnel sink against a plain fold of every event the query saw
    spark.sparkContext.setJobGroup(Tracer.Off, "check", false)
    val got = spark.read.format("graft-topic")
      .option("path", new File(dir, "funnel").getAbsolutePath).load()
      .select("key", "value").as[(String, String)].collect()
      .groupBy(_._1.toLong).map { case (u, vs) =>
        def opt(s: String) = if (s.isEmpty) None else Some(s.toLong)
        u -> vs.map { case (_, v) =>
          val p = v.split("\\|", -1)
          (opt(p(0)), opt(p(1)), opt(p(2)))
        }.maxBy { case (a, b, c) => Seq(a, b, c).count(_.isDefined) }
      }
    spark.sparkContext.clearJobGroup()
    val want = GenStream.fold(liveEvents ++ backlog.flatten)
    val diff = (want.keySet ++ got.keySet)
      .filter(u => want.get(u) != got.get(u))

    val lateS = segWrites.drop(firstLive.toInt).map { case (due, at) =>
      math.max(0L, at - due) / 1e3 }
    lastRun = Some(StreamWorkload.RunFacts(progress.drop(batchesBefore),
      cum.drop(batchesBefore), segWrites.drop(firstLive.toInt).toVector,
      lateS.maxOption.getOrElse(0.0)))
    Outcome(
      correct = diff.isEmpty && lat.nonEmpty,
      attempted = liveTotal - warmRows + backlogTotal,
      failed = 0L,
      e2e = Map(
        "main_p50_s" -> Stats.median(lat),
        "main_tail_s" -> Stats.percentile(lat, 0.95),
        "side_p50_s" -> Stats.median(triggerS),
        "work_per_s" -> drainRate),
      detail = Seq(
        "event_latency_p50_s" -> Stats.median(lat),
        "event_latency_p95_s" -> Stats.percentile(lat, 0.95),
        "event_samples" -> lat.size,
        "stream_events_per_s" -> drainRate,
        "drain_events" -> backlogTotal,
        "drain_batches" -> drainBatches.size,
        "open_loop_batches" -> openBatches.size,
        "trigger_p50_s" -> Stats.median(triggerS),
        "offered_events_per_s" -> gen.ratePerS,
        "gen_late_max_s" -> lateS.maxOption.getOrElse(0.0),
        "share_top_user_events" -> Gen.topShare(liveEvents.map(_.user)),
        "funnel_users" -> want.size,
        "funnel_mismatches" -> diff.size),
      overhead = ClosedLoop.overhead(latencies.toSeq))
  }

  private var lastRun: Option[StreamWorkload.RunFacts] = None

  override def streamGroups: Set[String] = Set(runId)

  def perLayer(rep: TraceReport): Seq[(String, Double)] = {
    val f = lastRun.get
    val ps = traced.synchronized(traced.toVector)
    def dur(k: String) =
      Stats.medianOr0(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    val states = ps.flatMap(_.stateOperators.headOption)
    // live segments written before each batch committed, minus consumed
    val lag = f.batches.indices.map { b =>
      val c = commitMs(f.batches(b))
      val written = f.writes.count(_._2 <= c)
      val consumed = (f.cum(b + 1) - f.cum.head) / math.max(1,
        gen.eventsPerSegment)
      (written - consumed).toDouble
    }
    val streamJobs = rep.streamJobs(runId)
    Seq(
      "sources.stream.lag_segments_max" -> lag.maxOption.getOrElse(0.0),
      "sources.stream.latest_offset_ms" -> dur("latestOffset"),
      "sources.stream.get_batch_ms" -> dur("getBatch"),
      "sources.stream.rows_per_batch" ->
        Stats.medianOr0(ps.map(_.numInputRows.toDouble)),
      "streaming.batch.add_batch_ms" -> dur("addBatch"),
      "streaming.batch.planning_ms" -> dur("queryPlanning"),
      "streaming.batch.commit_ms" -> dur("commitOffsets"),
      "streaming.batch.trigger_ms" -> dur("triggerExecution"),
      "streaming.batch.jobs" -> streamJobs.size.toDouble /
        math.max(1, f.batches.size),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.state.rows" ->
        Stats.medianOr0(states.map(_.numRowsTotal.toDouble)),
      "streaming.state.memory_bytes" ->
        Stats.medianOr0(states.map(_.memoryUsedBytes.toDouble)),
      "streaming.state.commit_ms" ->
        Stats.medianOr0(states.map(_.commitTimeMs.toDouble)),
      "streaming.state.rows_evicted" ->
        states.map(_.numRowsRemoved).sum.toDouble,
      "bench.gen_late_max_s" -> f.genLateMaxS) ++
      rep.sparkPerBatch(streamJobs, f.batches.map(p =>
        (Instant.parse(p.timestamp).toEpochMilli, commitMs(p))))
  }

  override def close(): Unit =
    Option(query).filter(_.isActive).foreach(_.stop())
}

object StreamWorkload {
  /** What a traced run's per-layer metrics need from the measured phase:
    * its micro-batches, their cumulative input rows, and the live
    * segments' (due ms, written ms). */
  final case class RunFacts(batches: Vector[StreamingQueryProgress],
                            cum: Vector[Long],
                            writes: Vector[(Long, Long)],
                            genLateMaxS: Double)
}
