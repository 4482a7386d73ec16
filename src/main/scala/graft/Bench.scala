package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. An untimed warmup
  * query absorbs JVM/codegen startup so per-query numbers reflect steady
  * state. */
object Bench {

  /** The standing quiet baseline among `files` ((name, mtime) of the
    * cwd listing): newest ROUND wins, parsed from the name
    * (`BENCH_QUIET_r16.json`) — lexicographic max breaks across digit
    * widths (r99 > r100) and case (R17 < r16), either of which would
    * silently hand the ratio-retime pass a stale round's record.
    * Round-less names tie at -1 and fall back to mtime.
    *
    * When `wantSf` is given, candidates whose RECORD declares that sf
    * (via `sfOf`, a content probe) are preferred: once per-scale quiet
    * records exist, a newer other-scale capture must not shadow the
    * same-sf baseline — the downstream sf guard would just empty the
    * quiet map and silently disable the ratio pass the baseline exists
    * to power. Falls back to all candidates when none declare a match
    * (older records, unreadable files). */
  private[graft] def pickQuietBaseline(
      files: Seq[(String, Long)],
      sfOf: String => Option[String] = _ => None,
      wantSf: Option[String] = None): Option[String] = {
    def round(n: String): Long =
      "[rR](\\d+)".r.findFirstMatchIn(n).map(_.group(1).toLong)
        .getOrElse(-1L)
    val candidates = files.filter { case (n, _) =>
      n.startsWith("BENCH_QUIET") && n.endsWith(".json") }
    val pool = wantSf
      .map(sf => candidates.filter { case (n, _) => sfOf(n).contains(sf) })
      .filter(_.nonEmpty)
      .getOrElse(candidates)
    pool.sortBy { case (n, mtime) => (round(n), mtime) }
      .lastOption.map(_._1)
  }

  /** Whether a slowest-pass retime is warranted for a query timed at
    * `boardS` with quiet-record base `quiet`: a first look the standing
    * quiet record CONFIRMS (ratio ≤ 1.3 on a non-trivial base) is
    * already adjudicated — re-timing it spends board minutes to learn
    * what the baseline just said, and kept r17's headline at 26 retimes
    * on a loaded box. No baseline (or a sub-20 ms base, where ratios are
    * noise) keeps the unconditional retime: the backstop must not
    * silently narrow when the adjudication data is absent. */
  private[graft] def slowRetimeNeeded(boardS: Double,
                                      quiet: Option[Double]): Boolean =
    quiet match {
      case Some(q) if q > 0.02 => boardS / q > 1.3
      case _ => true
    }

  /** Whether a pass-2 (board/quiet ratio) retime is warranted: ratio > 2
    * on a non-trivial quiet base (sub-20 ms bases are pure noise) AND an
    * absolute excess over quiet worth adjudicating. The delta guard is
    * the r18 lesson: three of that board's five quiet_ratio retimes were
    * sub-second queries 0.1–0.25 s over their quiet base — position
    * noise on a box the board loads up itself; a retime there spends a
    * board slot to adjudicate epsilon no claim rests on (per-query
    * claims ride the QUIET record, and 0.25 s cannot move a 100+ s
    * headline). Queries with a real excess still retime. */
  private[graft] def quietRetimeNeeded(boardS: Double, quiet: Double): Boolean =
    quiet > 0.02 && boardS / quiet > 2.0 && boardS - quiet > 0.25

  /** The `sf` field of a Bench record on disk, or None when absent or
    * unreadable (feeds [[pickQuietBaseline]]'s same-sf preference). */
  private def sfOfRecord(name: String): Option[String] =
    try Option(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(name)).get("sf")).map(_.asText())
    catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // quiet-box gate: a bench started on a loaded box carries ~10% noise
    // in every per-query line (the r10 lesson). Wait for the load to
    // drain rather than silently timing against contention; after the
    // grace window proceed anyway — a late record beats no record — with
    // the wait visible in the JSON for the reader to discount. The 600 s
    // cap exists because loadavg is a 1-minute EWMA: the sbt compile that
    // launched this main can alone hold it above 1 for ~3 minutes, and
    // the r11 record started at 1.57 because the old 180 s cap expired
    // while that decay was still in flight.
    // quiet-CAPTURE mode (SPARK_GRAFT_QUIET_CAPTURE=1): this run intends
    // to become the standing BENCH_QUIET record every later board
    // self-adjudicates against, so its capture conditions are a hard
    // gate, not a grace window — the r16 record was taken at loadavg
    // 0.81 vs r15's 0.25 and drifted quiet-to-quiet +19% for box
    // reasons, which the 10-query A/B then had to rescue. A quiet
    // capture REFUSES to run (exit 2, no record written) when the load
    // has not drained below the gate by the end of the wait window; the
    // gate value is stamped into the record so a reader can verify the
    // conditions the standing baseline was taken under.
    val quietCapture = sys.env.get("SPARK_GRAFT_QUIET_CAPTURE").contains("1")
    val quietGate = sys.env.get("SPARK_GRAFT_QUIET_GATE").map(_.toDouble)
      .getOrElse(0.5)
    val maxLoad = {
      val m = sys.env.get("SPARK_GRAFT_MAX_LOAD").map(_.toDouble)
        .getOrElse(1.0)
      if (quietCapture) math.min(m, quietGate) else m
    }
    var loadWaitS = 0
    while (loadavg >= maxLoad && loadWaitS < 600) {
      System.err.println(f"BENCH: loadavg ${loadavg}%.2f >= $maxLoad%.1f — " +
        s"waiting for a quiet box (${loadWaitS}s)")
      Thread.sleep(10000); loadWaitS += 10
    }
    // board-grade second stage (non-quiet runs): the r17 board started at
    // loadavg 1.5 because the 600 s window expired mid-drain and the run
    // proceeded — and then needed 26 retimes to adjudicate itself. A
    // MILDER hard-ish gate (~2.0, the level where per-query noise clearly
    // dominates) gets a second window before giving up: a headline board
    // should be captured on a box quiet enough that the retime pass is a
    // backstop, not the measurement. After both windows proceed anyway —
    // a late record beats no record, and the stamped loadavg_entry lets
    // the reader discount it.
    val boardGate = sys.env.get("SPARK_GRAFT_BOARD_GATE").map(_.toDouble)
      .getOrElse(2.0)
    // the board gate gets its OWN 600 s budget (not the remainder of the
    // first window's): a first window that exits immediately must not hand
    // the board gate a 1200 s wait, and one that expired in full must not
    // leave it zero. loadWaitS stays the TOTAL stamped in the record.
    var boardWaitS = 0
    while (!quietCapture && loadavg >= boardGate && boardWaitS < 600) {
      System.err.println(f"BENCH: loadavg ${loadavg}%.2f >= board gate " +
        f"$boardGate%.1f — extended wait (${loadWaitS}s)")
      Thread.sleep(10000); boardWaitS += 10; loadWaitS += 10
    }
    if (quietCapture && loadavg >= quietGate) {
      System.err.println(f"BENCH: QUIET CAPTURE REFUSED — loadavg " +
        f"${loadavg}%.2f >= gate $quietGate%.2f after ${loadWaitS}s wait; " +
        "a record taken on a loaded box would poison every later board's " +
        "ratio adjudication. Retry when the box drains.")
      sys.exit(2)
    }
    // the EXTERNAL load the gate actually enforced: loadavg_start is read
    // after the warmup, whose own 32-thread burst moves the 1-minute EWMA
    // — so the record carries both (entry = box conditions, start =
    // entry + self-load), and a reader audits the capture against entry
    val loadEntry = loadavg
    // args parse BEFORE the session: --threads decides the scheduler mode
    def takeOpt(as: Seq[String], flag: String): (Option[String], Seq[String]) =
      as.indexOf(flag) match {
        case -1 => (None, as)
        case i =>
          require(i + 1 < as.length, s"$flag needs an argument")
          (Some(as(i + 1)), as.patch(i, Nil, 2))
      }
    val (outArg, rest1) = takeOpt(args.toSeq, "--out")
    val (thrArg, rest2) = takeOpt(rest1, "--threads")
    val (repArg, nameArgs) = takeOpt(rest2, "--repeat")
    val threads = thrArg.map(_.toInt).getOrElse(1)
    require(threads >= 1 && threads <= 64, s"bad --threads $threads")
    val repeat = repArg.map(_.toInt).getOrElse(1)
    require(repeat >= 1 && repeat <= 50, s"bad --repeat $repeat")
    require(repeat == 1 || threads == 1,
      "--repeat and --threads are separate faces; pass one")
    // the standing quiet record is the SERIAL board by definition — a
    // soak or concurrent record under the capture flag would neither
    // carry the gate stamp (those faces return early) nor be a valid
    // baseline for the serial ratio-retime pass; refuse rather than
    // emit an unstamped record the flag promised to stamp
    require(!quietCapture || (threads == 1 && repeat == 1),
      "SPARK_GRAFT_QUIET_CAPTURE=1 is the serial-board face; drop " +
        "--threads/--repeat for a quiet capture")
    val builder = graft.core.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    // service posture under a concurrent board: FIFO lets one query's wide
    // stage occupy every task slot while an ITERATIVE query's many small
    // jobs starve behind it once per iteration (measured 11–24× inflation
    // on the KMeans-training queries at --threads 4/8); FAIR with one
    // pool per worker thread (assigned in runConcurrent — mode alone
    // leaves every job in the FIFO 'default' pool) interleaves slots
    // across concurrent jobs, bounding interference near the fair-share
    // expectation
    if (threads > 1) builder.config("spark.scheduler.mode", "FAIR")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table + one agg/join pipeline (untimed)
    graft.core.Tables.all.foreach(t =>
      graft.core.Tables.load(spark, sfDir, t).count())
    SparkEntry.queries("q_join_broadcast")(spark, sfDir).count()

    // artifact-store hygiene: testdata regenerates between rounds, so
    // superseded corpus fingerprints (and crashed-build tmp orphans) would
    // otherwise accumulate in the shared store forever — reap everything
    // not belonging to a live testdata snapshot before timing starts
    graft.queries.Artifacts.reapExcept(
      (Seq(sfDir) ++ Seq("sf0.001", "sf0.01", "sf0.1")
        .map(s => s"/root/testdata/$s")).distinct)

    // best-of-2 per query: one-off scheduler/GC hiccups on a shared box
    // otherwise masquerade as operator cost. A FAILING query records -1 and
    // is listed in "failed" — a swallowed exception must not read as a fast
    // successful run.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // optional args = query-name subset (local iteration); driver passes
    // none. Unknown names fail loudly — a typo must not look like a fast
    // clean run.
    // `--out <file>` redirects the full JSON record; `--threads N` runs
    // the board with N concurrent query threads on the one session (the
    // service-contention face — see runConcurrent); remaining args are
    // query names
    val unknown = nameArgs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (nameArgs.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => nameArgs.contains(n) }
    val loadStart = loadavg
    if (threads > 1) {
      runConcurrent(spark, sfDir, selected, threads, outArg, loadEntry,
        loadStart, loadWaitS)
      return
    }
    if (repeat > 1) {
      runSoak(spark, sfDir, selected, repeat, outArg, loadEntry, loadStart,
        loadWaitS)
      return
    }
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case t: Throwable =>
        System.err.println(s"BENCH FAIL $name: ${t.getMessage}")
        t.printStackTrace()
        return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // UNTIMED inter-query hygiene: queries persist/materialize
      // internally and their blocks outlive the query (freed only when the
      // RDD is GC'd), so a long board at larger SFs accumulates storage
      // blocks until eviction churn inflates later queries (measured ~10×
      // on sub-second scans late in the sf3 run; the same queries re-time
      // clean in isolation). Drop leaked blocks so each query is measured
      // against a clean store.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      dt
    }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val loadAtFirst = scala.collection.mutable.HashMap.empty[String, Double]
    selected.foreach { case (name, fn) =>
      loadAtFirst(name) = loadavg
      val a = once(name, fn)
      val best = if (a < 0) a else {
        val b = once(name, fn); if (b < 0) b else math.min(a, b)
      }
      if (best < 0) failed += name
      results(name) = best
    }
    // noise guard: best-of-2 runs back-to-back, so a box-load spike spanning
    // both looks like real operator cost (it inverted a 3x MinHash win into
    // an apparent regression once). Re-time the slowest queries at the END
    // of the run — the second look lands minutes after the first,
    // decorrelating the noise. Adoption policy: a faster retime is ALWAYS
    // adopted. The earlier quiet-box-only gate (adopt only when
    // load_retime <= max(load_first, board median)) tried to block
    // reroll-luck flattering, but its two legitimate-adoption cases —
    // (a) retime at-least-as-quiet as the first look, (b) retime faster
    // under load AT OR ABOVE the first look's, where a busier box cannot
    // flatter a timing so the FIRST number must have been the anomaly —
    // jointly cover the whole load line: any load_retime is either below
    // max(load_first, median) or at/above load_first. So the honest form
    // of the policy is an unconditional min-keep, stated as such rather
    // than hidden behind a vacuous conditional. What keeps it safe is the
    // AUDIT TRAIL, not a gate: BOTH timings and BOTH loads go into the
    // full record ("retimed": {name: {first, retime, load_first,
    // load_retime, adopted}} + "load_board_median"), so a suspicious
    // adoption is visible, and a retime under a genuine external spike
    // will virtually never BE faster in the first place (the r13 phantom
    // went the other way: a 24.5 s first look on a query every quiet leg
    // timed at ~1.8 s was refused adoption by the asymmetric gate).
    val loadSamples = loadAtFirst.values.toSeq.sorted
    val boardMedianLoad =
      if (loadSamples.isEmpty) 0.0 else loadSamples(loadSamples.size / 2)
    // the standing quiet-box record (BENCH_QUIET_*.json, committed per
    // round; override with SPARK_GRAFT_QUIET_BASELINE) makes the board
    // SELF-adjudicating: the top-10 pass below retimes only the slowest
    // ABSOLUTE queries, so a sub-second query showing >2x its quiet
    // record (position noise late in a long board) used to ship
    // un-adjudicated. A second pass keys on the board/quiet ratio
    // instead, regardless of absolute time.
    val quietFile = sys.env.get("SPARK_GRAFT_QUIET_BASELINE").orElse(
      pickQuietBaseline(Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty).toSeq
        .map(f => (f.getName, f.lastModified())),
        sfOfRecord, Some(sfDir)))
    val quiet: Map[String, Double] = quietFile.map { f =>
      // a REAL JSON parse (jackson, shipped with Spark), not substring
      // surgery: the file is tiny and the old hand parse silently
      // yielded an empty/truncated map on any format evolution —
      // quietly disabling the ratio-retime pass it exists to power.
      // Every empty path LOGS its reason: format drift must be
      // distinguishable from "no baseline committed".
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(f))
        // the quiet record adjudicates ONLY its own scale: a ratio
        // against another SF's record is data growth, not box noise —
        // an sf1 sweep compared to the sf0.1 quiet record would retime
        // the whole board for nothing
        val sfOk = Option(node.get("sf")).exists(_.asText() == sfDir)
        val qNode = Option(node.get("queries")).filter(_.isObject)
        if (!sfOk) {
          System.err.println(s"BENCH: quiet baseline $f is for a " +
            s"different sf than $sfDir — ratio-retime pass disabled " +
            "(expected when benching a non-gate scale)")
          Map.empty[String, Double]
        } else if (qNode.isEmpty) {
          System.err.println(s"BENCH: quiet baseline $f has no " +
            "\"queries\" object — format drift? ratio-retime pass " +
            "disabled")
          Map.empty[String, Double]
        } else {
          import scala.jdk.CollectionConverters._
          val parsed = qNode.get.fields().asScala
            .filter(_.getValue.isNumber)
            .map(e => e.getKey -> e.getValue.asDouble()).toMap
          if (parsed.isEmpty)
            System.err.println(s"BENCH: quiet baseline $f parsed to an " +
              "EMPTY query map — format drift? ratio-retime pass disabled")
          parsed
        }
      } catch { case t: Throwable =>
        System.err.println(s"BENCH: unreadable quiet baseline $f: " +
          t.getMessage)
        Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)
    def retimeOne(name: String, first: Double, trigger: String) = {
      val loadRetime = loadavg
      val again = once(name, selected(name))
      val adopted = again >= 0 && again < first
      if (adopted) results(name) = again
      (name, first, again, loadAtFirst(name), loadRetime, adopted, trigger)
    }
    val slowestPass = results.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(10)
      .filter { case (name, first) =>
        slowRetimeNeeded(first, quiet.get(name)) }
      .map { case (name, first) => retimeOne(name, first, "slowest") }
    val alreadyRetimed = slowestPass.map(_._1).toSet
    // pass 2: board/quiet > 2 with a non-trivial ABSOLUTE excess (see
    // quietRetimeNeeded — the delta guard is what cut the r18 board's
    // epsilon retimes), excluding pass-1 names
    val quietPass = results.toSeq.collect {
      case (name, v) if v >= 0 && !alreadyRetimed(name) &&
          quiet.get(name).exists(qv => quietRetimeNeeded(v, qv)) =>
        retimeOne(name, v, "quiet_ratio")
    }
    val retimes = slowestPass ++ quietPass
    val retimed = retimes.collect {
      case (name, _, _, _, _, true, _) => name }
    // adopted-count summary (not just the per-query trail): downstream
    // analysis can threshold systematic retime optimism — a board where
    // most retimes adopt is a board whose first-look numbers were
    // conditions, and any cross-record comparison should discount it
    val retimedAdoptedN = retimes.count(_._6)
    val retimesJson = retimes.map {
      case (name, first, again, lf, lr, adopted, trigger) =>
        "\"" + name + "\":{\"first\":" + first + ",\"retime\":" + again +
          s""","load_first":${JsonNum.fmt(lf, 2)},"load_retime":${
            JsonNum.fmt(lr, 2)},"adopted":$adopted,"trigger":"$trigger"""" +
          quiet.get(name).map(v =>
            s""","quiet":${JsonNum.fmt(v, 3)}""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retimedJson = retimed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // quiet captures carry their gate in the record: a reader of the
    // standing baseline can verify the conditions it was taken under
    // instead of trusting the capture discipline
    val gateJson =
      if (quietCapture)
        s""","quiet_capture":true,"quiet_gate":$quietGate"""
      else ""
    // EVERY record stamps its entry load (pre-warmup — the box conditions
    // the gate actually enforced), not just quiet captures: a board
    // reader audits capture conditions the same way a quiet reader does
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"loadavg_entry":${JsonNum.fmt(loadEntry, 2)},"loadavg_start":$loadStart,"loadavg_end":$loadavg,"loadavg_wait_s":$loadWaitS$gateJson,"load_board_median":${JsonNum.fmt(boardMedianLoad, 2)},"quiet_baseline":${quietFile.filter(_ => quiet.nonEmpty)
        .map("\"" + _ + "\"").getOrElse("null")},"retimed_n":${retimes.size},"retimed_adopted_n":$retimedAdoptedN,"retimed_improved":$retimedJson,"retimed":$retimesJson,"sf":"$sfDir"}"""
    // stop BEFORE printing: Spark's shutdown chatter must not land after
    // the record — the JSON line is the LAST thing this main writes to
    // stdout (only sbt's own [success] trailer can follow it)
    spark.stop()
    // persist the FULL record (all queries, full precision) to a file —
    // the driver's stdout capture keeps only a 2000-char tail, so the full
    // line (>4 KB at 149 queries) can never survive on stdout
    val outFile = outArg.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n")
    catch { case t: Throwable =>
      System.err.println(s"BENCH: could not write $outFile: ${t.getMessage}")
    }
    // stdout gets a COMPACT record sized to the driver's tail window: same
    // shape, timings at ms precision, and only as many per-query entries
    // (slowest first — the ones plan audits care about) as fit the budget;
    // "omitted" + "full" say where the rest live
    def fmt(v: Double): String = JsonNum.fmt(v, 3)
    val budget = 1800
    val sortedEntries = results.toSeq.sortBy { case (_, v) =>
      if (v < 0) Double.MaxValue else -v } // failed (-1) last; failed[] names them
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    def compactLine(entries: Seq[String], omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${
        entries.mkString("{", ",", "}")},"failed":$failedJson,"n_queries":${
        results.size},"omitted":$omitted,"full":"$outFile","loadavg_start":${
        fmt(loadStart)},"loadavg_end":${fmt(loadavg)},"retimed_n":${
        retimes.size},"retimed_adopted_n":$retimedAdoptedN,"retimed_improved":$retimedJson,"sf":"$sfDir"}"""
    val keep = Iterator.range(sortedEntries.size, -1, -1).find(n =>
      compactLine(sortedEntries.take(n), sortedEntries.size - n).length <= budget)
      .getOrElse(0)
    val compact = compactLine(sortedEntries.take(keep), sortedEntries.size - keep)
    // sbt appends its own "[success] Total time..." trailer after our last
    // line, so a last-line parse of raw stdout misses the record. Emit it
    // twice: once behind a grep-able sentinel, once as our final line for
    // tail-window capture.
    println(s"GRAFT_BENCH_JSON: $compact")
    println(compact)
  }

  /** The soak face: the whole board, `repeat` times, ONE long-lived
    * session — the leak-drift detector. Iteration 1 is cold (artifact
    * builds, shuffle dirs, codegen caches); iteration 2 is the warm
    * baseline; later iterations must hold it. Any resource the per-query
    * hygiene step does NOT reclaim — pinned broadcasts, listener-bus or
    * UI-state accumulation, metastore growth, native/file-handle leaks —
    * shows up as monotone per-iteration drift in wall time or post-GC
    * heap, the class of defect a single-pass bench structurally cannot
    * see (the r10 storage-block leak surfaced only because the sf3 board
    * was long enough to hit eviction churn; a soak makes that length a
    * first-class axis). Per query, per iteration, timed exactly like the
    * serial face (same untimed unpersist hygiene, no best-of — drift IS
    * the signal). Flags: warm-vs-last drift per query (>2× on a ≥0.3 s
    * warm base) and board-level time/heap drift ratios for SCALING.md. */
  private def runSoak(spark: SparkSession, sfDir: String,
      selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      repeat: Int, outArg: Option[String], loadEntry: Double,
      loadStart: Double, loadWaitS: Int): Unit = {
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def heapMb: Long = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    val names = selected.keys.toSeq.sorted
    val times = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> Array.fill(repeat)(-1.0)): _*)
    val totals = Array.fill(repeat)(0.0)
    val heaps = Array.fill(repeat)(0L)
    val threadsLive = Array.fill(repeat)(0)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    for (it <- 0 until repeat) {
      names.foreach { name =>
        val t0 = System.nanoTime()
        try {
          selected(name)(spark, sfDir).count()
          times(name)(it) = (System.nanoTime() - t0) / 1e9
        } catch { case t: Throwable =>
          System.err.println(s"BENCH FAIL $name (iter ${it + 1}): " +
            t.getMessage)
          failed += name
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
      totals(it) = times.values.map(a => math.max(a(it), 0.0)).sum
      heaps(it) = heapMb
      threadsLive(it) = Thread.activeCount()
      System.err.println(f"SOAK iter ${it + 1}/$repeat: " +
        f"${totals(it)}%.1f s, heap ${heaps(it)} MB, " +
        s"threads ${threadsLive(it)}")
    }
    // drift: warm baseline = iteration 2 (index 1), compare the LAST
    val drift = names.filter { n =>
      val a = times(n)
      repeat >= 3 && a(1) >= 0.3 && a(repeat - 1) >= 0 &&
        a(repeat - 1) / a(1) > 2.0
    }
    val qs = times.map { case (k, a) =>
      "\"" + k + "\":[" + a.map(v => JsonNum.fmt(v, 3)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"soak","iters":$repeat,"unit":"sec","totals":[${
        totals.map(v => JsonNum.fmt(v, 1)).mkString(",")}],"heap_mb":[${
        heaps.mkString(",")}],"threads_live":[${
        threadsLive.mkString(",")}],"drift_flagged":[${
        drift.map("\"" + _ + "\"").mkString(",")}],"failed":[${
        failed.map("\"" + _ + "\"").mkString(",")}],"queries":$qs,"loadavg_entry":${JsonNum.fmt(loadEntry, 2)},"loadavg_start":$loadStart,"loadavg_end":$loadavg,"loadavg_wait_s":$loadWaitS,"sf":"$sfDir"}"""
    spark.stop()
    val outFile = outArg.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n")
    catch { case t: Throwable =>
      System.err.println(s"BENCH: could not write $outFile: ${t.getMessage}")
    }
    println(s"GRAFT_BENCH_JSON: " + line.take(1800))
    println(line.take(1800))
  }

  /** The service-contention face: N driver threads drain the query board
    * concurrently against ONE SparkSession (the deployment shape — many
    * sessions of one long-lived service, not one query at a time). Each
    * query runs once and records its wall time UNDER contention; a
    * per-query comparison against the serial record (tools/contention.py)
    * flags interference beyond the expected slot sharing — the class of
    * defect that is invisible to plan audits (JDK registry locks,
    * broadcast-cleanup stalls, storage churn were all this class at r10).
    *
    * Differences from the serial path, by design: no best-of-2 or retime
    * (contention IS the signal, a best-of would launder it) and no
    * inter-query cache clearing (a global clearCache would evict a
    * CONCURRENT query's working set mid-flight — the serial hygiene step
    * becomes cross-thread interference here; leaked blocks instead drain
    * once at the end). */
  private def runConcurrent(spark: SparkSession, sfDir: String,
      selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      threads: Int, outArg: Option[String], loadEntry: Double,
      loadStart: Double, loadWaitS: Int): Unit = {
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(q => queue.add(q))
    val results = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val t0 = System.nanoTime()
    graft.ops.Fs.inParallel(1 to threads, maxThreads = threads) { i =>
      // FAIR mode alone is NOT enough: without a pool assignment every
      // job lands in the single 'default' pool, whose internal scheduling
      // is FIFO — ordering identical to global FIFO. One pool PER WORKER
      // THREAD (pools materialize on demand, weight 1 each) is what makes
      // the scheduler actually interleave task slots across the
      // concurrent board threads.
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench-$i")
      var next = queue.poll()
      while (next != null) {
        val (name, fn) = next
        val q0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          results.put(name, (System.nanoTime() - q0) / 1e9)
        } catch {
          case t: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${t.getMessage}")
            failed.add(name); results.put(name, -1.0)
        }
        next = queue.poll()
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    import scala.jdk.CollectionConverters._
    val qs = results.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val sumS = results.asScala.values.filter(_ >= 0).sum
    val failedJson = failed.asScala.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"wall_concurrent","value":$wall,"unit":"sec","threads":$threads,"sum_query_s":$sumS,"queries":$qs,"failed":$failedJson,"loadavg_entry":${JsonNum.fmt(loadEntry, 2)},"loadavg_start":$loadStart,"loadavg_end":$loadavg,"loadavg_wait_s":$loadWaitS,"sf":"$sfDir"}"""
    spark.stop()
    val outFile = outArg.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n")
    catch { case t: Throwable =>
      System.err.println(s"BENCH: could not write $outFile: ${t.getMessage}")
    }
    println(s"GRAFT_BENCH_JSON: " + line.take(1800))
    println(line.take(1800))
  }
}
