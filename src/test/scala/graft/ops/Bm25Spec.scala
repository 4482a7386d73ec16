package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** BM25 search: relevance ordering, fixed-point exactness, and the
  * persisted-index contract (batch-split + compact + crashed-append replay
  * all reproduce the one-shot result byte-for-byte). */
class Bm25Spec extends SparkSuite {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark spark spark join"),   // tf-heavy on "spark"
    (2L, "spark join"),
    (3L, "join join join join"),
    (4L, "table scan filter"),
    (5L, "spark table join scan"),
    (6L, "filter filter scan")
  ).toDF("id", "text")

  private val qs = Seq("q1" -> "spark join", "q2" -> "filter")

  test("score ranks by relevance: tf raises, rare terms weigh more") {
    val out = Bm25.score(corpus, "id", "text", qs, 10)
      .as[(String, Long, Long, Long)].collect()
    val q1 = out.filter(_._1 == "q1").sortBy(_._3).map(_._2)
    // doc 1 (3× spark + join) outranks doc 2 (1× each) which shares terms
    assert(q1.indexOf(1L) < q1.indexOf(2L))
    // docs without any query term never appear
    assert(!q1.contains(4L) && !q1.contains(6L))
    val q2 = out.filter(_._1 == "q2").map(_._2).toSet
    assert(q2 == Set(4L, 6L))
    // ranks are 1..n dense per query
    assert(out.filter(_._1 == "q1").map(_._3).sorted
      .sameElements(1L to q1.length))
  }

  test("top-k truncates deterministically on (score desc, id)") {
    val out = Bm25.score(corpus, "id", "text", qs, 2)
    assert(out.where(col("qid") === "q1").count() == 2)
    val again = Bm25.score(corpus.repartition(7), "id", "text", qs, 2)
    assert(out.collect().toSet == again.collect().toSet)
  }

  test("persisted index: batch-split + compact equals one-shot; replay is idempotent") {
    val oneShot = Bm25.score(corpus, "id", "text", qs, 10).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toFile
    val idx = new Bm25Index(spark, dir.getAbsolutePath, "id", "text")
    idx.add(corpus.where(col("id") % 2 === 1), 1L)
    idx.add(corpus.where(col("id") % 2 === 0), 2L)
    assert(idx.search(qs, 10).collect().toSet == oneShot)
    // crashed-append replay: re-adding the SAME batch under the SAME ord
    // must not change any score (postings dedup by (t,id), stats by ord)
    idx.add(corpus.where(col("id") % 2 === 0), 2L)
    assert(idx.search(qs, 10).collect().toSet == oneShot)
    idx.compact()
    assert(idx.search(qs, 10).collect().toSet == oneShot)
    // compact rewrote to one postings file per tp partition
    val gen = new GenStore(dir.getAbsolutePath).currentGen().get
    val perPart = new java.io.File(gen, "postings").listFiles()
      .filter(_.getName.startsWith("tp="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perPart.nonEmpty && perPart.forall(_ == 1))
  }

  test("replaying the LAST batch after a compaction keeps stats exact") {
    // the compacted-stats collision: before per-ord stats survived
    // compaction, the aggregate row was labeled max(ord), so a sanctioned
    // replay of that same batch appended a second, conflicting row under
    // the same ord and search could keep either — collapsing n_docs /
    // n_toks (avgdl, IDF) to one batch's counts
    val oneShot = Bm25.score(corpus, "id", "text", qs, 10).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("bm25replay").toFile
    val idx = new Bm25Index(spark, dir.getAbsolutePath, "id", "text")
    idx.add(corpus.where(col("id") <= 3), 1L)
    idx.add(corpus.where(col("id") > 3), 2L)
    idx.compact()
    // crash window: the ord-2 append's checkpoint never committed, the
    // maintenance loop compacted, then the caller replays ord 2
    idx.add(corpus.where(col("id") > 3), 2L)
    assert(idx.search(qs, 10).collect().toSet == oneShot)
    // and the state stays convergent through the NEXT compaction too
    idx.compact()
    assert(idx.search(qs, 10).collect().toSet == oneShot)
  }

  test("streamed ingest (foreachBatch, epoch = ord) equals one-shot search") {
    val topic = java.nio.file.Files.createTempDirectory("bm25-topic")
      .toFile.getAbsolutePath
    val cp = java.nio.file.Files.createTempDirectory("bm25-cp")
      .toFile.getAbsolutePath
    val dir = java.nio.file.Files.createTempDirectory("bm25-sidx").toFile
    val idx = new Bm25Index(spark, dir.getAbsolutePath, "id", "text")
    def writeDocs(pred: org.apache.spark.sql.Column): Unit =
      corpus.where(pred)
        .select(col("id").cast("string").as("key"), col("text").as("value"))
        .write.format("graft-topic").mode("append").option("path", topic)
        .save()
    val q = spark.readStream.format("graft-topic").option("path", topic)
      .load()
      .select(col("key").cast("long").as("id"), col("value").as("text"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, epochId: Long) =>
        idx.add(b, ord = epochId)
      }
      .option("checkpointLocation", cp)
      .start()
    writeDocs(col("id") <= 3); q.processAllAvailable()
    writeDocs(col("id") > 3); q.processAllAvailable()
    q.stop()
    val oneShot = Bm25.score(corpus, "id", "text", qs, 10).collect().toSet
    assert(idx.search(qs, 10).collect().toSet == oneShot)
    idx.compact()
    assert(idx.search(qs, 10).collect().toSet == oneShot)
  }

  test("empty-index search fails loudly instead of returning nothing") {
    val dir = java.nio.file.Files.createTempDirectory("bm25empty").toFile
    val idx = new Bm25Index(spark, dir.getAbsolutePath, "id", "text")
    intercept[IllegalStateException](idx.search(qs, 5))
  }
}
