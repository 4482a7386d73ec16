package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. Times are epoch nanoseconds so they line up with the
  * listener's job times (epoch milliseconds). `parent` is 0 for an op's
  * root span; every span of one op shares `op`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long) {
  def wallNs: Long = endNs - startNs
}

object Spans {
  /** Length of the union of `iv`, each interval clipped to [lo, hi). */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** A span's duration minus the part of its interval its children cover. */
  def selfNs(s: Span, all: Seq[Span]): Long =
    s.wallNs - unionLength(
      all.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs)
}

/** Records spans around the benchmark's calls into the product, and tags
  * the Spark jobs each call runs with a job group naming its span.
  *
  * Disabled (untraced runs) it only runs the body. Enabled, each op is
  * either traced — spans recorded, jobs tagged `pb:<span id>` — or run as
  * an untraced control whose jobs carry the group [[Tracer.Off]] (as do
  * the harness's own output checks); the workloads alternate the two to
  * measure the tracing overhead in the same run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val clockBase: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = clockBase + System.nanoTime()

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var tracing = false
  private var opId = 0L

  /** Run one top-level op, traced or as an untraced control. Returns the
    * body's result and its wall time in seconds. */
  def op[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
    tracing = enabled && traced
    if (enabled && !traced) sc.setJobGroup(Tracer.Off, name, false)
    opId += 1
    val t0 = System.nanoTime()
    try {
      val r = span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      tracing = false
      if (enabled) sc.clearJobGroup()
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      stack.set(id :: parents)
      sc.setJobGroup(Tracer.group(id), name, false)
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        stack.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), name, false)
          case None => sc.clearJobGroup()
        }
        recorded.synchronized {
          recorded += Span(id, name, t0, t1, parents.headOption.getOrElse(0L),
            opId)
        }
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toVector)

  /** The id of the latest op; its spans carry it. */
  def lastOp: Long = opId
}

object Tracer {
  val Off = "pb:off"
  def group(spanId: Long): String = s"pb:$spanId"
  def spanOf(group: String): Option[Long] =
    if (group != null && group.startsWith("pb:") && group != Off)
      group.drop(3).toLongOption
    else None
}

final class Job(val id: Int, val group: String, val startMs: Long,
                val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var leaf = false
}

/** Per-job and per-stage accounting from the listener bus. Stages belong to
  * the job whose `SparkListenerJobStart.stageIds` first named them; jobs
  * belong to the span named by their job group. */
final class JobLedger extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAggs = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new Job(e.jobId, group, e.time, e.stageIds))
    e.stageInfos.foreach { si =>
      stageJob.putIfAbsent(si.stageId, e.jobId)
      val agg = stageAggs.computeIfAbsent(si.stageId, _ => new StageAgg)
      agg.synchronized { agg.leaf = si.parentIds.isEmpty }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val agg = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
      agg.synchronized {
        agg.tasks += 1
        agg.runMs += m.executorRunTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.inputBytes += m.inputMetrics.bytesRead
      }
    }

  /** Stages that ran for a job (skipped stages have no tasks). */
  def stagesOf(j: Job): Seq[StageAgg] =
    j.stageIds.filter(s => stageJob.get(s) == j.id)
      .flatMap(s => Option(stageAggs.get(s))).filter(_.tasks > 0)

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
}

/** Sums of listener counters over a set of jobs. */
final case class JobSums(jobs: Int, tasks: Long, taskS: Double, gcS: Double,
                         shuffleBytes: Long, spillBytes: Long,
                         inputBytes: Long, leafTasks: Long)

object JobSums {
  def of(ledger: JobLedger, js: Seq[Job]): JobSums = {
    val st = js.flatMap(ledger.stagesOf)
    JobSums(js.size, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3,
      st.map(_.gcMs).sum / 1e3, st.map(_.shuffleWrite).sum,
      st.map(_.spill).sum, st.map(_.inputBytes).sum,
      st.filter(_.leaf).map(_.tasks).sum)
  }
}

/** Per-span views over one traced run: a span's jobs are those tagged with
  * its id or any descendant's. */
final class TraceReport(val spans: Seq[Span], ledger: JobLedger,
                        val cores: Int) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val jobsBySpan: Map[Long, Seq[Job]] =
    ledger.allJobs.flatMap(j => Tracer.spanOf(j.group).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsOf(s: Span): Seq[Job] =
    subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Nil))

  def sums(s: Span): JobSums = JobSums.of(ledger, jobsOf(s))

  def calls(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Wall time not covered by any of the span's jobs. */
  def driverGapS(s: Span): Double = {
    val iv = jobsOf(s).filter(_.endMs >= 0)
      .map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
    (s.wallNs - Spans.unionLength(iv, s.startNs, s.endNs)) / 1e9
  }

  /** Median self time per span name. */
  def selfS(): Seq[(String, Double)] =
    spans.map(_.name).distinct.sorted.map(n =>
      n -> Stats.medianOr0(calls(n).map(s => Spans.selfNs(s, spans) / 1e9)))

  // medians over the calls of one span name
  def callS(name: String): Double =
    Stats.medianOr0(calls(name).map(_.wallNs / 1e9))
  def jobs(name: String): Double =
    Stats.medianOr0(calls(name).map(jobsOf(_).size.toDouble))
  def taskS(name: String): Double =
    Stats.medianOr0(calls(name).map(sums(_).taskS))
  def shuffleBytes(name: String): Double =
    Stats.medianOr0(calls(name).map(sums(_).shuffleBytes.toDouble))

  /** Task time over the call's wall time times the Spark cores. */
  def coreUtil(name: String): Double = {
    val cs = calls(name)
    val wall = cs.map(_.wallNs / 1e9).sum
    if (wall <= 0) 0.0 else cs.map(sums(_).taskS).sum / (wall * cores)
  }

  /** The five per-operator metrics of the spans named `span`, under the
    * same name. */
  def operator(span: String): Seq[(String, Double)] = Seq(
    s"$span.call_s" -> callS(span), s"$span.jobs" -> jobs(span),
    s"$span.task_s" -> taskS(span), s"$span.core_util" -> coreUtil(span),
    s"$span.shuffle_bytes" -> shuffleBytes(span))

  /** Jobs whose group names no span and is not the untraced control. */
  def unattributedJobs(streamGroups: Set[String]): Int =
    ledger.allJobs.count(j => j.group != Tracer.Off &&
      Tracer.spanOf(j.group).forall(id => !spans.exists(_.id == id)) &&
      !streamGroups.contains(j.group))

  /** Jobs a streaming query ran (its run id is their job group). */
  def streamJobs(runId: String): Seq[Job] =
    ledger.allJobs.filter(_.group == runId)

  /** Workload-wide Spark counters per micro-batch of a streaming query;
    * the driver gap is batch wall time outside the query's jobs. */
  def sparkPerBatch(js: Seq[Job], batches: Seq[(Long, Long)])
  : Seq[(String, Double)] = {
    val n = math.max(1, batches.size).toDouble
    val s = JobSums.of(ledger, js)
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
    val gapMs = batches.map { case (a, b) =>
      (b - a) - Spans.unionLength(iv, a, b) }.sum
    Seq("spark.jobs" -> s.jobs / n, "spark.tasks" -> s.tasks / n,
      "spark.task_s" -> s.taskS / n, "spark.gc_s" -> s.gcS / n,
      "spark.driver_gap_s" -> gapMs / 1e3 / n,
      "spark.shuffle_write_bytes" -> s.shuffleBytes / n,
      "spark.spill_bytes" -> s.spillBytes / n)
  }

  /** Workload-wide Spark counters, per traced op (root spans). */
  def sparkPerOp(): Seq[(String, Double)] = {
    val roots = spans.filter(_.parent == 0)
    val n = math.max(1, roots.size).toDouble
    val s = roots.map(sums)
    Seq(
      "spark.jobs" -> s.map(_.jobs).sum / n,
      "spark.tasks" -> s.map(_.tasks).sum / n,
      "spark.task_s" -> s.map(_.taskS).sum / n,
      "spark.gc_s" -> s.map(_.gcS).sum / n,
      "spark.driver_gap_s" -> roots.map(driverGapS).sum / n,
      "spark.shuffle_write_bytes" -> s.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes" -> s.map(_.spillBytes).sum / n)
  }
}
