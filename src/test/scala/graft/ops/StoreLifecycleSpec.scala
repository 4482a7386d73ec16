package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generation lifecycle every compactable store shares
  * ([[GenStore]]), one table row per store: compacting a store whose
  * appends so far held no rows is a no-op, `compactIfDue(k)` stays quiet
  * below the store's append depth and fires at it, and a compact swaps in
  * a new live generation while the one it replaced stays on disk until
  * the next compact. */
class StoreLifecycleSpec extends SparkSuite {
  import spark.implicits._

  /** One store under test. `add(dir, i)` appends batch i under ord i;
    * the batches in `emptyBatches` hold no indexable rows. `depth` is the
    * count the store's `compactIfDue` compares with its threshold. */
  private case class Store(name: String,
                           add: (String, Int) => Unit,
                           compact: String => Unit,
                           compactIfDue: (String, Int) => Boolean,
                           depth: String => Int =
                             dir => new GenStore(dir).appendDepth(),
                           emptyBatches: Seq[Int] = Seq(0))

  private def docs(i: Int): DataFrame = i match {
    case 0 => Seq.empty[(Long, String)].toDF("id", "text")
    case -1 => Seq((1L, "")).toDF("id", "text")
    case _ => Seq((i * 10L + 1, s"alpha beta gamma delta epsilon $i"),
        (i * 10L + 2, s"unique words for document number $i"))
      .toDF("id", "text")
  }

  private def pairs(i: Int): DataFrame =
    (if (i == 0) Seq.empty[(Long, Long)]
     else Seq((i * 10L + 1, i * 10L + 2))).toDF("doc_a", "doc_b")

  private def edges(i: Int): DataFrame =
    (if (i == 0) Seq.empty[(Long, Long)]
     else Seq((i.toLong, i + 1L), (i + 1L, i + 2L))).toDF("src", "dst")

  private def vecs(i: Int): DataFrame =
    (if (i == 0) Seq.empty[(Long, Seq[Float], Int)]
     else Seq((i * 10L + 1, Seq(1f, 0f, 0f, i.toFloat), 0),
       (i * 10L + 2, Seq(0f, 1f, i.toFloat, 0f), 1)))
      .toDF("id", "embedding", "c")

  private lazy val pqFixture = {
    val train = (1 to 3).map(vecs).reduce(_ unionByName _).drop("c")
    (Pq.train(train, "id", "embedding", m = 2, k = 2, iters = 1),
      KMeans.fit(train, "id", "embedding", 2, 1))
  }

  private def ivfPq(dir: String) = new IvfPqIndex(spark, dir, "id",
    "embedding", pqFixture._1, pqFixture._2)

  private val stores = Seq(
    Store("exact-dedup",
      (d, i) => { new ExactDedupIndex(spark, d, "id", "text")
        .addAndDedup(docs(i), i.toLong).count(); () },
      d => new ExactDedupIndex(spark, d, "id", "text").compact(),
      (d, k) => new ExactDedupIndex(spark, d, "id", "text").compactIfDue(k)),
    Store("simhash",
      (d, i) => { new SimHashIndex(spark, d, "id")
        .addAndDedup(docs(i), "text", i.toLong).count(); () },
      d => new SimHashIndex(spark, d, "id").compact(),
      (d, k) => new SimHashIndex(spark, d, "id").compactIfDue(k)),
    Store("paragraph",
      (d, i) => { new ParagraphIndex(spark, d, "id", "text")
        .addAndExcise(docs(i), i.toLong).count(); () },
      d => new ParagraphIndex(spark, d, "id", "text").compact(),
      (d, k) => new ParagraphIndex(spark, d, "id", "text").compactIfDue(k),
      emptyBatches = Seq(0, -1)),
    Store("bm25",
      (d, i) => new Bm25Index(spark, d, "id", "text").add(docs(i), i.toLong),
      d => new Bm25Index(spark, d, "id", "text").compact(),
      (d, k) => new Bm25Index(spark, d, "id", "text").compactIfDue(k)),
    Store("minhash-lsh",
      (d, i) => { new MinHashIndex(spark, d, "id", "text")
        .addAndFindPairs(docs(i), i.toLong).count(); () },
      d => new MinHashIndex(spark, d, "id", "text").compact(),
      (d, k) => new MinHashIndex(spark, d, "id", "text").compactIfDue(k)),
    Store("components",
      (d, i) => new ComponentsIndex(spark, d)
        .addPairs(pairs(i), "doc_a", "doc_b", i.toLong),
      d => new ComponentsIndex(spark, d).compact(),
      (d, k) => new ComponentsIndex(spark, d).compactIfDue(k),
      depth = d => new GenStore(d).currentGen().map { g =>
        Option(new java.io.File(g, "delta").listFiles())
          .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
      }.getOrElse(0)),
    Store("ivf",
      (d, i) => new IvfIndex(spark, d, "id", "embedding")
        .add(vecs(i), col("c")),
      d => { new IvfIndex(spark, d, "id", "embedding").compact(); () },
      (d, k) => new IvfIndex(spark, d, "id", "embedding").compactIfDue(k)),
    Store("ivf-pq",
      (d, i) => ivfPq(d).add(vecs(i).drop("c")),
      d => { ivfPq(d).compact(); () },
      (d, k) => ivfPq(d).compactIfDue(k)),
    Store("edges",
      (d, i) => new EdgeIndex(spark, d).addEdges(edges(i), i.toLong),
      d => new EdgeIndex(spark, d).compact(),
      (d, k) => new EdgeIndex(spark, d).compactIfDue(k),
      depth = d => new EdgeIndex(spark, d).uncompactedBatches))

  private def fresh(): String =
    Files.createTempDirectory("store-lifecycle").toFile.getAbsolutePath

  private def live(dir: String): Option[String] =
    new GenStore(dir).currentGen().map(_.getName)

  private def generations(dir: String): Seq[String] =
    new GenStore(dir).generations()

  test("components: an empty addPairs leaves no parquet file in delta/") {
    val dir = fresh()
    new ComponentsIndex(spark, dir)
      .addPairs(pairs(0), "doc_a", "doc_b", 0L)
    val left = new GenStore(dir).currentGen().toSeq.flatMap(g =>
      Option(new java.io.File(g, "delta").list()).getOrElse(Array.empty[String]))
      .filter(_.endsWith(".parquet"))
    assert(left.isEmpty, s"an empty append left $left")
  }

  stores.foreach { s =>
    test(s"${s.name}: compact after an empty append is a no-op") {
      s.emptyBatches.foreach { b =>
        val dir = fresh()
        s.add(dir, b)
        val (g, all) = (live(dir), generations(dir))
        s.compact(dir)
        assert(live(dir) == g && generations(dir) == all,
          s"batch $b: compact rewrote a store that holds no rows")
        assert(!s.compactIfDue(dir, 1), s"batch $b: an empty store is due")
      }
    }

    test(s"${s.name}: compactIfDue fires at k; the replaced generation " +
      "lasts one compact") {
      val dir = fresh()
      s.add(dir, 1)
      s.add(dir, 2)
      val k = s.depth(dir)
      assert(k >= 1, "two appends left no depth")
      val g0 = live(dir)
      assert(!s.compactIfDue(dir, k + 1), s"due at k + 1 = ${k + 1}")
      assert(live(dir) == g0)
      assert(s.compactIfDue(dir, k), s"not due at k = $k")
      val g1 = live(dir)
      assert(g1.isDefined && g1 != g0, "compact kept the live generation")
      assert(generations(dir).contains(g0.get),
        "the replaced generation must stay until the next compact")
      s.add(dir, 3)
      s.compact(dir)
      val g2 = live(dir)
      assert(g2 != g1)
      assert(generations(dir) == Seq(g1.get, g2.get),
        s"the next compact keeps exactly its own and the replaced one: " +
          generations(dir))
    }
  }
}
