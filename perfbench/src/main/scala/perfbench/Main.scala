package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A number with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What one measured phase produced. `e2e` fills the generic end-to-end
  * metrics (see [[Metrics.EndToEnd]]) except `setup_s` and `peak_rss_mb`,
  * which [[Main]] measures; `detail` is printed on the line before the
  * result (the workload's own metric names, sample counts, input shares). */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         detail: Seq[(String, Any)],
                         overhead: Double)

/** One seeded workload. [[prepare]] generates and stages the inputs and is
  * repeated for the set-up median; the workload keeps the state of the last
  * call. [[warmUp]] runs the first passes on that state, then [[measure]]
  * runs the timed phase on the same state. */
trait Workload {
  def prepare(dir: File): Unit
  def warmUp(): Unit
  def measure(seconds: Double, tr: Tracer): Outcome
  /** Per-layer metrics of a traced measure ([[Metrics.PerLayer]] names). */
  def perLayer(rep: TraceReport): Seq[(String, Double)]
  /** Job groups the workload's own threads run under (streaming queries). */
  def streamGroups: Set[String] = Set.empty
  def close(): Unit = ()
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: File)

object Args {
  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")))
  }
}

object Main {
  /** Set-up rounds whose median `setup_s` reports. */
  val SetupRounds = 3

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: File): SparkSession = {
    val spark = graft.core.GraftSession
      .builder(s"local[$cores]", shufflePartitions = Some(cores))
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
      case "pubsub" => new PubsubWorkload(spark, seed)
      case "stream" => new StreamWorkload(spark, seed)
      case "dedup_graph" => new DedupGraphWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a.work)
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val wl = workload(a.workload, spark, a.seed)
    val prepS = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      wl.prepare(new File(a.work, s"setup-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = bootS + Stats.median(prepS) + warmS

    val ledger = if (a.trace) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val out = wl.measure(a.seconds, tracer)

    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    var selfTimes: Seq[(String, Double)] = Nil
    ledger match {
      case None =>
        val all = out.e2e ++ Map("setup_s" -> setupS,
          "peak_rss_mb" -> peakRssMb())
        Metrics.EndToEnd.foreach { case (n, unit) =>
          metrics(n) = Metric(all.getOrElse(n,
            throw new IllegalStateException(s"workload did not report $n")),
            unit)
        }
      case Some(l) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val rep = new TraceReport(tracer.spans, l, cores)
        selfTimes = rep.selfS()
        val got = (rep.sparkPerOp() ++ wl.perLayer(rep) ++ Seq(
          "spark.blocks_retained" -> spark.sparkContext.getRDDStorageInfo
            .map(_.numCachedPartitions.toDouble).sum,
          "spark.unattributed_jobs" ->
            rep.unattributedJobs(wl.streamGroups).toDouble,
          "bench.trace_overhead" -> out.overhead)).toMap
        val unknown = got.keySet -- Metrics.PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        Metrics.PerLayer.foreach { case (n, unit) =>
          metrics(n) = Metric(got.getOrElse(n, 0.0), unit)
        }
    }
    wl.close()
    val detail = Seq("workload" -> a.workload, "seed" -> a.seed,
      "setup_boot_s" -> bootS, "setup_prepare_s" -> prepS,
      "setup_warmup_s" -> warmS) ++
      out.detail ++ (if (selfTimes.isEmpty) Nil else Seq("self_s" -> selfTimes))
    println(Json.obj(detail))
    println(Json.obj(Seq("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics.toSeq.map { case (n, m) =>
        n -> Seq("value" -> m.value, "unit" -> m.unit) })))
    System.out.flush()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric value")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
