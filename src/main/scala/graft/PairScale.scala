package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scale-evidence main for the shingle-pair dedup family (r17 verdict
  * ask #1 — measure, don't assert): per SF dir, candidate/verified pair
  * COUNTS beside the operator timings for `q_ngram_jaccard`,
  * `q_ngram_containment`, and `q_minhash_lsh`, so the per-3× timing
  * ratios decompose into candidates/doc growth (data structure of the
  * scaled corpus) × seconds/candidate (engine). Optionally a containment
  * THRESHOLD sweep (ask #6) showing the asymmetric prefix filter's
  * candidate volume scaling with (1−t).
  *
  * Usage: runMain graft.PairScale --out <file> <sfDir> [<sfDir>...]
  *          [--thresholds 0.5,0.8 --sweep <sfDir>]
  *
  * One JSON record: per-dir counts + timings, adjacent-dir ratio rows
  * (seconds, candidates, candidates/doc, seconds/candidate), and the
  * sweep block. Reference analog for publish-the-phase-stats:
  * compaction's two-phase scan stats
  * (pulsar-broker/.../compaction/TwoPhaseCompactor.java:62-152). */
object PairScale {

  private def takeOpt(as: Seq[String], flag: String): (Option[String], Seq[String]) =
    as.indexOf(flag) match {
      case -1 => (None, as)
      case i =>
        require(i + 1 < as.length, s"$flag needs an argument")
        (Some(as(i + 1)), as.patch(i, Nil, 2))
    }

  /** Best-of-2 wall seconds for an action — the single-query Bench
    * protocol the r17 containment scale record used. */
  private def bestOf2(run: () => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = run()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (t1, n1) = once(); val (t2, n2) = once()
    require(n1 == n2, s"non-deterministic count across timing legs: $n1 vs $n2")
    (math.min(t1, t2), n1)
  }

  private def statsMap(df: DataFrame): Map[String, Long] = {
    val row = df.head()
    row.schema.fieldNames.map(f =>
      f -> row.getAs[Any](f).asInstanceOf[Number].longValue()).toMap
  }

  private def jsonOf(m: Seq[(String, Any)]): String =
    m.map {
      case (k, v: String) => "\"" + k + "\":\"" + v + "\""
      case (k, v: Double) => "\"" + k + "\":" + JsonNum.fmt(v, 4)
      case (k, v) => "\"" + k + "\":" + v
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (outArg, rest1) = takeOpt(args.toSeq, "--out")
    val (thrArg, rest2) = takeOpt(rest1, "--thresholds")
    val (sweepArg, dirs) = takeOpt(rest2, "--sweep")
    require(dirs.nonEmpty, "pass at least one sf dir")
    val out = outArg.getOrElse("PAIR_SCALE_LOCAL.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def docsOf(d: String) = graft.core.Tables.documents(spark, d)

    // per-dir evidence: counts first (one cheap pass — no intersections),
    // then the operator itself timed exactly as the board runs it
    val points = dirs.map { d =>
      val docs = docsOf(d)
      docs.count() // warm the scan so timing legs measure the operator
      val jStats = statsMap(graft.ops.MinHashLsh.candidateStats(
        docs, "doc_id", "text", "source", containment = false,
        threshold = 0.12))
      val (jSec, jRows) = bestOf2(() => graft.ops.MinHashLsh.jaccardBlocked(
        docs, "doc_id", "text", "source", shingleK = 3,
        threshold = 0.12).count())
      val cStats = statsMap(graft.ops.MinHashLsh.candidateStats(
        docs, "doc_id", "text", "source", containment = true,
        threshold = 0.6))
      val (cSec, cRows) = bestOf2(() => graft.ops.MinHashLsh
        .containmentBlocked(docs, "doc_id", "text", "source", shingleK = 3,
          threshold = 0.6).count())
      val lStats = statsMap(graft.ops.MinHashLsh.candidatePairStats(
        docs, "doc_id", "text"))
      val (lSec, lRows) = bestOf2(() =>
        graft.ops.MinHashLsh.candidatePairs(docs, "doc_id", "text").count())
      System.err.println(s"PAIRSCALE $d: jaccard ${jStats("n_candidates")}" +
        s" cands/$jRows out/${JsonNum.fmt(jSec, 2)}s, containment " +
        s"${cStats("n_candidates")} cands/$cRows out/${JsonNum.fmt(cSec, 2)}s" +
        s", lsh ${lStats("n_bucket_pairs")} bucket-pairs/$lRows out/" +
        s"${JsonNum.fmt(lSec, 2)}s")
      d -> Map(
        "q_ngram_jaccard" -> (jStats ++ Map("n_verified" -> jRows),
          jSec),
        "q_ngram_containment" -> (cStats ++ Map("n_verified" -> cRows),
          cSec),
        // the LSH path emits DISTINCT candidate pairs with no threshold
        // verification (verification is the consumer's job) — named so,
        // not n_verified, or readers of BENCH_SCALE_PAIRS would take it
        // for a similarity-verified count like the jaccard/containment
        // faces'
        "q_minhash_lsh" -> (lStats ++ Map(
          "n_candidates" -> lStats("n_bucket_pairs"),
          "n_distinct_pairs" -> lRows), lSec))
    }

    // adjacent-dir decomposition: seconds ratio = (candidates ratio) ×
    // (sec/candidate ratio); candidates/doc isolates the data-structure
    // term the r17 prose note claimed
    val ratioRows = points.sliding(2).collect {
      case Seq((da, a), (db, b)) =>
        val per = a.keys.toSeq.sorted.map { q =>
          val (sa, ta) = a(q); val (sb, tb) = b(q)
          val candRatio = sb("n_candidates").toDouble /
            math.max(1L, sa("n_candidates"))
          val secRatio = tb / ta
          q -> jsonOf(Seq(
            "seconds_ratio" -> secRatio,
            "candidates_ratio" -> candRatio,
            "cand_per_doc_ratio" -> (candRatio /
              (sb("n_docs").toDouble / math.max(1L, sa("n_docs")))),
            "sec_per_cand_ratio" -> (secRatio / candRatio)))
        }
        s"""{"from":"$da","to":"$db",${per.map { case (q, j) =>
          "\"" + q + "\":" + j }.mkString(",")}}"""
    }.toSeq

    // containment threshold sweep: candidate volume vs (1−t) — the
    // asymmetric prefix filter's design claim as data
    val sweepJson = (thrArg, sweepArg) match {
      case (Some(ts), Some(sd)) =>
        val docs = docsOf(sd)
        val rows = ts.split(',').map(_.trim.toDouble).map { t =>
          val st = statsMap(graft.ops.MinHashLsh.candidateStats(
            docs, "doc_id", "text", "source", containment = true,
            threshold = t))
          val (sec, n) = bestOf2(() => graft.ops.MinHashLsh
            .containmentBlocked(docs, "doc_id", "text", "source",
              shingleK = 3, threshold = t).count())
          System.err.println(s"PAIRSCALE sweep t=$t: " +
            s"${st("n_candidates")} cands/$n out/${JsonNum.fmt(sec, 2)}s")
          "\"" + t + "\":" + jsonOf(st.toSeq.sortBy(_._1) ++ Seq(
            "n_verified" -> n, "seconds" -> sec))
        }
        s""","containment_sweep":{"dir":"$sd","points":{${rows.mkString(",")}}}"""
      case _ => ""
    }

    val pointsJson = points.map { case (d, m) =>
      "\"" + d + "\":" + m.toSeq.sortBy(_._1).map { case (q, (st, sec)) =>
        "\"" + q + "\":" + jsonOf(st.toSeq.sortBy(_._1) ++
          Seq("seconds" -> sec))
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"pair_scale","protocol":"counts via MinHashLsh.candidateStats/candidatePairStats (shared candidate builders with the operators), operator timings best-of-2 single-query, local[$cpus]","points":$pointsJson,"ratios":[${ratioRows.mkString(",")}]$sweepJson}"""
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    println(s"GRAFT_PAIRSCALE_JSON: " + line.take(1800))
  }
}
