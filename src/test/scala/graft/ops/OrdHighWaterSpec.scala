package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The shared ord-discipline advisory ([[OrdHighWater]]) across every
  * ord-stamped store: a fresh-checkpoint restart (ords reset below the
  * stored max) fails loudly under strict mode on BM25 (where it would
  * silently double-count tf), MinHash-LSH and components (where it
  * would mis-age retention evidence), SimHash (where it would flip
  * exists-earlier verdicts) and the paragraph index (where it would flip
  * keep-first keepers) — ExactDedupIndex's cases live in
  * ExactDedupIndexSpec. Same-ord crash replay stays sanctioned, and a
  * torn/corrupt mark degrades to "no check" instead of bricking
  * appends. */
class OrdHighWaterSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
    .toDF("id", "text")

  private def tmp(p: String) =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  test("strict BM25 index rejects a below-high-water append (tf double-count footgun)") {
    val dir = tmp("bm25-hwm")
    val idx = new Bm25Index(spark, dir, "id", "text", strictOrd = true)
    idx.add(docs, 5L)
    idx.add(docs, 5L) // same-ord crash replay: sanctioned, deduped
    val e = intercept[IllegalStateException](idx.add(docs, 1L))
    assert(e.getMessage.contains("high-water"))
    idx.add(docs.withColumn("id", col("id") + 10), 6L) // above: fine
  }

  test("strict LSH index rejects a below-high-water append") {
    val dir = tmp("lsh-hwm")
    val idx = new MinHashIndex(spark, dir, "id", "text", strictOrd = true)
    idx.addAndFindPairs(docs, batchOrd = 5L).count()
    idx.addAndFindPairs(docs, batchOrd = 5L).count() // same-ord replay: sanctioned
    intercept[IllegalStateException](
      idx.addAndFindPairs(docs, batchOrd = 2L))
    // the wall-clock-defaulted overload on a STRICT store is refused up
    // front: stamping ~epoch-ms onto an epoch-id-fed store would wedge
    // every later append below the mark
    intercept[IllegalArgumentException](idx.addAndFindPairs(docs))
  }

  test("strict components index rejects a below-high-water append") {
    val dir = tmp("cc-hwm")
    val idx = new ComponentsIndex(spark, dir, strictOrd = true)
    idx.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), ord = 5L)
    idx.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), ord = 5L) // replay
    intercept[IllegalStateException](
      idx.addPairs(Seq((2L, 3L)).toDF("doc_a", "doc_b"), ord = 3L))
    // the wall-clock overload refused on a strict store (would wedge)
    intercept[IllegalArgumentException](
      idx.addPairs(Seq((2L, 3L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
    // ... but stays available on the default (advisory) store
    val lax = new ComponentsIndex(spark, tmp("cc-lax"))
    lax.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    assert(lax.resolveAll().count() > 0)
    // a NEGATIVE explicit ord is a legal monotone stamp, not a sentinel:
    // it must be honored verbatim (and advance the mark), never silently
    // remapped to wall-clock
    val neg = new ComponentsIndex(spark, tmp("cc-neg"), strictOrd = true)
    neg.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), ord = -5L)
    neg.addPairs(Seq((2L, 3L)).toDF("doc_a", "doc_b"), ord = -1L)
    intercept[IllegalStateException](
      neg.addPairs(Seq((3L, 4L)).toDF("doc_a", "doc_b"), ord = -4L))
    assert(neg.resolveAll().count() == 3)
  }

  test("strict simhash index rejects a below-high-water append (flipped exists-earlier verdicts)") {
    val dir = tmp("simhash-hwm")
    val idx = new SimHashIndex(spark, dir, "id", strictOrd = true)
    idx.addAndDedup(docs, "text", ord = 5L).count()
    // same-ord crash replay: sanctioned, verdicts unchanged, no residue
    val replay = idx.addAndDedup(docs, "text", ord = 5L)
    assert(replay.where(col("is_dup")).count() == 0,
      "a replayed batch must keep its original verdicts")
    intercept[IllegalStateException](
      idx.addAndDedup(docs, "text", ord = 2L))
    idx.addAndDedup(docs.withColumn("id", col("id") + 10), "text", 6L)
      .count() // above the mark: fine
  }

  test("strict paragraph index rejects a below-high-water append (flipped keepers)") {
    val dir = tmp("para-hwm")
    val idx = new ParagraphIndex(spark, dir, "id", "text", strictOrd = true)
    val d = Seq((1L, "shared unit\n\nown one")).toDF("id", "text")
    idx.addAndExcise(d, ord = 5L).count()
    idx.addAndExcise(d, ord = 5L).count() // same-ord replay: sanctioned
    assert(idx.keepers().where(col("keeper_id") === 1L).count() == 2)
    intercept[IllegalStateException](idx.addAndExcise(
      Seq((2L, "shared unit\n\nown two")).toDF("id", "text"), ord = 3L))
    idx.addAndExcise(
      Seq((3L, "shared unit\n\nown three")).toDF("id", "text"), ord = 6L)
      .count() // above the mark: fine
  }

  test("the mark itself: strict check, same-ord replay, never regresses, heals") {
    val dir = tmp("hwm-unit")
    val hwm = new OrdHighWater(new File(dir), "hwm-spec", true)
    assert(hwm.value().isEmpty)
    hwm.check(5L)
    hwm.advance(5L)
    assert(hwm.value().contains(5L))
    hwm.check(5L) // same-ord crash replay is the one sanctioned reuse
    intercept[IllegalStateException](hwm.check(3L)) // strict: below fails
    hwm.advance(3L) // the mark never regresses
    assert(hwm.value().contains(5L))
    // unreadable mark degrades to "no check" (advisory), next advance heals
    Files.write(new File(dir, "_ord_hwm").toPath, "not-a-long".getBytes)
    assert(hwm.value().isEmpty)
    hwm.check(1L)
    hwm.advance(9L)
    assert(hwm.value().contains(9L))
  }

  test("a torn/corrupt mark degrades to no-check and self-heals — never bricks appends") {
    val dir = tmp("hwm-torn")
    val idx = new Bm25Index(spark, dir, "id", "text", strictOrd = true)
    idx.add(docs, 5L)
    // simulate the non-atomic-fallback torn write: garbage in the mark
    Files.write(new File(dir, "_ord_hwm").toPath, "garbage".getBytes)
    // the advisory degrades (no check, warning logged) instead of a
    // NumberFormatException failing every append in both modes...
    idx.add(docs.withColumn("id", col("id") + 10), 6L)
    // ...and the next append rewrote the mark, restoring the check
    assert(new String(Files.readAllBytes(
      new File(dir, "_ord_hwm").toPath), "UTF-8").trim == "6")
    intercept[IllegalStateException](idx.add(docs, 1L))
  }
}
