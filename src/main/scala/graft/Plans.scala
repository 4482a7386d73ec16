package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement-round tool (guide §1): captures `.explain("formatted")` for
  * named queries to files, and optionally times them with a per-job
  * breakdown from a SparkListener — so a multi-job query (store builds,
  * collect-driven probe planning, appends) attributes its seconds to the
  * job that spent them instead of one opaque total.
  *
  * Usage (sbt):
  *   runMain graft.Plans --out plans/r19 [--suffix _before] [--time N] q_a q_b ...
  *   runMain graft.Plans --out plans/r19 --all
  *
  * NOT part of the driver contract: Bench/Verify are the graded mains; this
  * exists so plan claims in OPTIMIZATION_r*.md are reproducible artifacts.
  *
  * Measurement caveats (tool-only): rep 1 times only `count()` on the
  * already-constructed frame, while reps ≥ 2 time construction + count —
  * A/B claims should use reps 2+ (construction carries store side effects).
  * For *_incremental queries each rep mutates fresh temp-dir stores, so
  * reps are i.i.d. in store STATE but not in page-cache warmth.
  */
object Plans {

  /** Per-job wall time, stage/task counts and shuffle volume. A stage
    * belongs to the job whose `SparkListenerJobStart.stageIds` first named
    * it — exact when jobs overlap (`Fs.inParallel`), and a stage a later
    * job reuses (and skips) stays with the job that ran it. */
  private[graft] final class JobTimer extends SparkListener {
    case class JobRec(id: Int, desc: String, started: Long,
                      var ended: Long = -1L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var shuffleReadMb: Double = 0.0,
                      var shuffleWriteMb: Double = 0.0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob = TrieMap.empty[Int, Int]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(js.jobId, JobRec(js.jobId, desc, js.time))
      js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.ended = je.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stageJob.get(sc.stageInfo.stageId).flatMap(id => Option(jobs.get(id)))
        .foreach { j =>
          j.stages += 1
          j.tasks += sc.stageInfo.numTasks
          Option(sc.stageInfo.taskMetrics).foreach { m =>
            j.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
            j.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
          }
        }
    def drainReport(): String = {
      val rs = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.id)
      jobs.clear()
      stageJob.clear()
      rs.map { r =>
        val dur = if (r.ended < 0) -1.0 else (r.ended - r.started) / 1e3
        f"  job ${r.id}%3d ${dur}%7.2fs stages=${r.stages}%2d " +
          f"tasks=${r.tasks}%4d shufR=${r.shuffleReadMb}%8.1fMB " +
          f"shufW=${r.shuffleWriteMb}%8.1fMB ${r.desc.take(60)}"
      }.mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    def takeOpt(as: Seq[String], flag: String): (Option[String], Seq[String]) =
      as.indexOf(flag) match {
        case -1 => (None, as)
        case i =>
          require(i + 1 < as.length, s"$flag needs an argument")
          (Some(as(i + 1)), as.patch(i, Nil, 2))
      }
    val (outArg, r1) = takeOpt(args.toSeq, "--out")
    val (sufArg, r2) = takeOpt(r1, "--suffix")
    val (timeArg, r3) = takeOpt(r2, "--time")
    val all = r3.contains("--all")
    val names0 = r3.filterNot(_ == "--all")
    val outDir = outArg.getOrElse("plans/r19")
    val suffix = sufArg.getOrElse("")
    val reps = timeArg.map(_.toInt).getOrElse(0)
    val unknown = names0.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else names0
    require(names.nonEmpty, "pass query names or --all")

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)

    // same warmup as Bench so timings are steady-state comparable
    graft.core.Tables.all.foreach(t =>
      graft.core.Tables.load(spark, sfDir, t).count())
    SparkEntry.queries("q_join_broadcast")(spark, sfDir).count()
    graft.queries.Artifacts.reapExcept(
      (Seq(sfDir) ++ Seq("sf0.001", "sf0.01", "sf0.1")
        .map(s => s"/root/testdata/$s")).distinct)

    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      timer.drainReport() // discard construction-phase noise between queries
      try {
        // construction itself can run store-building jobs; time it apart
        val c0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name: construct")
        val df = fn(spark, sfDir)
        val constructS = (System.nanoTime() - c0) / 1e9
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), plan)
        var best = Double.MaxValue
        if (reps > 0) {
          (1 to reps).foreach { i =>
            spark.sparkContext.setJobDescription(s"$name: count rep$i")
            val t0 = System.nanoTime()
            // same timed action as Bench (count) for comparability
            val df2 = if (i == 1) df else fn(spark, sfDir)
            df2.count()
            val dt = (System.nanoTime() - t0) / 1e9
            if (dt < best) best = dt
            println(f"PLANS $name rep$i: $dt%.3f s")
            println(timer.drainReport())
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            spark.catalog.clearCache()
          }
          println(f"PLANS $name: construct=$constructS%.3f s best=$best%.3f s")
        } else {
          println(f"PLANS $name: construct=$constructS%.3f s (plan written)")
        }
        spark.sparkContext.setJobDescription(null)
      } catch { case t: Throwable =>
        System.err.println(s"PLANS FAIL $name: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
