package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The persisted-LSH-index incremental dedup: any batch split of a corpus
  * must land on exactly the one-shot candidate pair set, with per-call
  * outputs disjoint (old–old pairs are never re-emitted). */
class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  // near-dup clusters (same 5-token boilerplate with one token varied) plus
  // unique documents; ids interleave so every batch split crosses clusters
  private def corpus() = {
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val docs =
      (1L to 6L).map(i => (i, s"$boiler variant$i")) ++
        (7L to 12L).map(i => (i, s"totally different prose number $i with unique words w$i x$i y$i z$i")) ++
        (13L to 16L).map(i => (i, s"$boiler variant${i - 12}")) // dups of 1..4
    docs.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect().toSet

  test("incremental over any batch split equals the one-shot pair set; calls are disjoint") {
    val docs = corpus()
    val oneShot = pairSet(MinHashLsh.candidatePairs(docs, "doc_id", "text"))
    assert(oneShot.nonEmpty, "corpus must produce near-dup candidates")
    val dir = Files.createTempDirectory("lsh-idx").toFile.getAbsolutePath
    val idx = new MinHashIndex(spark, dir, "doc_id", "text")
    // three uneven batches
    val b1 = pairSet(idx.addAndFindPairs(docs.where(col("doc_id") <= 5)))
    val b2 = pairSet(idx.addAndFindPairs(
      docs.where(col("doc_id") > 5 && col("doc_id") <= 13)))
    val b3 = pairSet(idx.addAndFindPairs(docs.where(col("doc_id") > 13)))
    assert((b1 & b2).isEmpty && (b1 & b3).isEmpty && (b2 & b3).isEmpty,
      "calls must never re-emit a pair")
    assert((b1 ++ b2 ++ b3) == oneShot,
      s"incremental union diverged: missing ${oneShot -- b1 -- b2 -- b3}, " +
        s"extra ${(b1 ++ b2 ++ b3) -- oneShot}")
  }

  test("first call probes an empty index; a batch with no shingleable docs is a no-op") {
    val dir = Files.createTempDirectory("lsh-idx-empty").toFile.getAbsolutePath
    val idx = new MinHashIndex(spark, dir, "doc_id", "text")
    val docs = corpus()
    assert(pairSet(idx.addAndFindPairs(docs.where(col("doc_id") === 1))).isEmpty)
    // too short to shingle (k=3): contributes no postings, emits no pairs
    val short = Seq((99L, "tiny doc")).toDF("doc_id", "text")
    assert(pairSet(idx.addAndFindPairs(short)).isEmpty)
    // a duplicate of doc 1 arriving later still pairs against the index
    val dup = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta variant1"))
      .toDF("doc_id", "text")
    assert(pairSet(idx.addAndFindPairs(dup)) == Set((1L, 100L)))
    // crash-replay: the same batch again (its postings already landed) must
    // re-emit its pairs idempotently, never pair a doc with itself
    assert(pairSet(idx.addAndFindPairs(dup)) == Set((1L, 100L)))
  }

  // data files per (band, bp) partition directory of the LIVE generation
  private def filesPerPartition(idx: MinHashIndex): Map[String, Int] = {
    val gen = new java.io.File(idx.currentGenerationPath.get)
    (for {
      band <- Option(gen.listFiles()).getOrElse(Array.empty)
        if band.isDirectory && band.getName.startsWith("band=")
      bp <- Option(band.listFiles()).getOrElse(Array.empty)
        if bp.isDirectory && bp.getName.startsWith("bp=")
    } yield s"${band.getName}/${bp.getName}" ->
      bp.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  }

  test("compact collapses per-batch append files to one per partition, pair set unchanged") {
    val docs = corpus()
    val dirA = Files.createTempDirectory("lsh-idx-a").toFile.getAbsolutePath
    val dirB = Files.createTempDirectory("lsh-idx-b").toFile.getAbsolutePath
    val plain = new MinHashIndex(spark, dirA, "doc_id", "text")
    val compacted = new MinHashIndex(spark, dirB, "doc_id", "text")
    val splits = Seq(
      docs.where(col("doc_id") <= 5),
      docs.where(col("doc_id") > 5 && col("doc_id") <= 13))
    val last = docs.where(col("doc_id") > 13)
    splits.foreach { b => plain.addAndFindPairs(b); compacted.addAndFindPairs(b) }
    assert(filesPerPartition(compacted).values.exists(_ > 1),
      "appends should have accumulated multiple files in some partition")
    compacted.compact()
    val after = filesPerPartition(compacted)
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"compact must leave exactly one file per partition, got $after")
    // the replaced generation is retained ONE cycle (lazy-reader bound);
    // a second compact retires it
    def gens() = Option(new java.io.File(dirB).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("gen-"))
      .map(_.getName).toSet
    assert(gens().size == 2, s"prev generation must be retained, got ${gens()}")
    compacted.compact()
    assert(gens().size == 2, s"older generations must be reaped, got ${gens()}")
    // probes against the compacted index see exactly what the plain one sees
    assert(pairSet(compacted.addAndFindPairs(last)) ==
      pairSet(plain.addAndFindPairs(last)))
  }

  test("an append committed before the overlapped expansion scans keeps the pair set exact") {
    // the pair expansion and the postings append run concurrently; force the
    // append to COMMIT before the expansion's checkpoint scans, so the scan
    // runs over a directory that already holds this batch's own postings.
    // The probe's listing was taken before the append; were it refreshed,
    // the member dedup would still have to keep own-batch postings from
    // pairing as old or with themselves.
    val docs = corpus()
    val dir = Files.createTempDirectory("lsh-idx-pinned").toFile.getAbsolutePath
    val idx = new MinHashIndex(spark, dir, "doc_id", "text")
    idx.addAndFindPairs(docs.where(col("doc_id") <= 8))
    // the append's job commit rewrites the generation's _SUCCESS marker last
    val marker = new java.io.File(idx.currentGenerationPath.get, "_SUCCESS")
    assert(marker.delete(), "first append must have committed a _SUCCESS")
    @volatile var appendCommittedFirst = false
    idx.beforeExpansion = () => {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!marker.exists() && System.nanoTime() < deadline) Thread.sleep(20)
      appendCommittedFirst = marker.exists()
    }
    val batch = docs.where(col("doc_id") > 8)
    val got = pairSet(idx.addAndFindPairs(batch))
    assert(appendCommittedFirst, "the append did not commit before the scan")
    val fresh = batch.select(col("doc_id")).as[Long].collect().toSet
    val want = pairSet(MinHashLsh.candidatePairs(docs, "doc_id", "text"))
      .filter { case (a, b) => fresh(a) || fresh(b) }
    assert(want.exists { case (a, b) => fresh(a) && fresh(b) } &&
      want.exists { case (a, b) => !fresh(a) || !fresh(b) },
      "the corpus must pair the batch with itself and with the index")
    assert(got.forall { case (a, b) => a < b }, s"self or unordered pairs: $got")
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
  }

  test("compaction retention expires postings by batch ord") {
    val docs = corpus()
    val dir = Files.createTempDirectory("lsh-idx-ttl").toFile.getAbsolutePath
    val idx = new MinHashIndex(spark, dir, "doc_id", "text")
    idx.addAndFindPairs(docs.where(col("doc_id") === 1), batchOrd = 1000L)
    idx.addAndFindPairs(docs.where(col("doc_id") === 2), batchOrd = 3000L)
    idx.compact(retainOrdGe = Some(2000L))
    // doc 1's postings predate the horizon: a fresh duplicate pairs only
    // with the retained doc 2 (both are variants of the same boilerplate)
    import spark.implicits._
    val dup = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta variant9"))
      .toDF("doc_id", "text")
    assert(pairSet(idx.addAndFindPairs(dup, batchOrd = 5000L)) == Set((2L, 100L)))
  }

  test("a graft-topic stream drives the index via foreachBatch; epoch replay is idempotent") {
    // the production wiring the class doc describes: documents arrive on a
    // topic, each micro-batch probes + appends, pairs land in a result sink
    import org.apache.spark.sql.DataFrame
    val topic = Files.createTempDirectory("lsh-stream-topic").toFile.getAbsolutePath
    val outDir = new java.io.File(
      Files.createTempDirectory("lsh-stream-out").toFile, "pairs").getAbsolutePath
    val cp = Files.createTempDirectory("lsh-stream-cp").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("lsh-stream-idx").toFile.getAbsolutePath
    val idx = new MinHashIndex(spark, idxDir, "doc_id", "text")
    val docs = corpus()
    def writeDocs(pred: org.apache.spark.sql.Column): Unit =
      docs.where(pred)
        .select(col("doc_id").cast("string").as("key"), col("text").as("value"))
        .write.format("graft-topic").mode("append").option("path", topic).save()
    var lastEpoch = -1L
    val q = spark.readStream.format("graft-topic").option("path", topic).load()
      .select(col("key").cast("long").as("doc_id"), col("value").as("text"))
      .writeStream
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        lastEpoch = epochId
        idx.addAndFindPairs(b, batchOrd = epochId)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", cp)
      .start()
    writeDocs(col("doc_id") <= 5)
    q.processAllAvailable()
    writeDocs(col("doc_id") > 5)
    q.processAllAvailable()
    q.stop()
    val streamed = pairSet(spark.read.parquet(outDir))
    assert(streamed == pairSet(MinHashLsh.candidatePairs(docs, "doc_id", "text")),
      "streamed batches must accumulate to the one-shot pair set")
    // crash replay: the engine re-invokes foreachBatch with the same epoch
    // and data after its postings already landed — same pairs, no doc
    // paired with itself
    val lastBatch = docs.where(col("doc_id") > 5)
    val replayed = pairSet(idx.addAndFindPairs(lastBatch, batchOrd = lastEpoch))
    assert(replayed.forall { case (a, b) => a != b }, "replay produced self-pairs")
    assert(replayed == streamed.filter { case (a, b) => a > 5 || b > 5 },
      "replayed epoch must re-emit exactly its own pairs")
  }

  test("compact ignores crash-orphan generations") {
    val docs = corpus()
    val dir = Files.createTempDirectory("lsh-idx-orphan").toFile
    val idx = new MinHashIndex(spark, dir.getAbsolutePath, "doc_id", "text")
    idx.addAndFindPairs(docs.where(col("doc_id") <= 5))
    // orphan from a crash between write and pointer swap: never pointed at,
    // must be skipped by probes and reaped by compact (not re-pointed)
    new java.io.File(dir, "gen-7").mkdirs()
    idx.compact()
    assert(idx.currentGenerationPath.get.endsWith("gen-8"),
      "compact must allocate past the orphan, never reuse its directory")
    assert(!new java.io.File(dir, "gen-7").exists(), "orphan must be reaped")
    assert(pairSet(idx.addAndFindPairs(docs.where(col("doc_id") === 13))) ==
      (1L to 5L).map((_, 13L)).toSet)
  }

  test("the prefix width the index was created with wins over the constructor") {
    val docs = corpus()
    val dir = Files.createTempDirectory("lsh-idx-pfx").toFile.getAbsolutePath
    // created wide (2-char prefixes), reopened with the (narrower) default:
    // probes must still see the old postings — a width mismatch would
    // silently match nothing and drop every cross-batch pair
    val wide = new MinHashIndex(spark, dir, "doc_id", "text", prefixChars = 2)
    wide.addAndFindPairs(docs.where(col("doc_id") <= 5))
    val reopened = new MinHashIndex(spark, dir, "doc_id", "text")
    val pairs = pairSet(reopened.addAndFindPairs(docs.where(col("doc_id") === 13)))
    // 13 is a boilerplate variant: it buckets with ALL of 1..5, every one
    // parked by the wide index
    assert(pairs == (1L to 5L).map((_, 13L)).toSet,
      s"reopened index lost cross-batch pairs: $pairs")
  }
}
