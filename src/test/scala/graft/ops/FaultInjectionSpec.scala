package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

/** Crash-point fault-injection sweep over the shared [[GenStore]]
  * lifecycle: every persisted index claims "a crash between IO steps
  * replays to the same state" — this spec KILLS the workload at every
  * driver-side IO boundary ([[Fs.step]] crossings: generation alloc,
  * pointer-swap sub-steps, per-generation reap) and asserts that
  * reopening the store and replaying the same workload converges on the
  * uninjected answer. One parameterized sweep, run across all ten
  * GenStore-backed stores (KV, LSH pairs, components, exact-dedup,
  * paragraph, IVF, IVF-PQ, SimHash, BM25, link edges).
  *
  * Reference analog: the broker's ledger-recovery-on-open path —
  * managed-ledger/.../ManagedLedgerImpl.java initializes by replaying
  * whatever the last crash left behind, and correctness there is also
  * "recovery lands on the same ledger state regardless of where the
  * crash hit".
  */
class FaultInjectionSpec extends SparkSuite {
  import spark.implicits._

  private final class InjectedCrash(val label: String, val at: Int)
    extends RuntimeException(s"injected crash at IO step #$at ($label)")

  private def freshDir() = java.nio.file.Files
    .createTempDirectory("graft-fault").toFile.getAbsolutePath

  /** Run `workload` against a clean dir for the expected `face`, count
    * the IO-step crossings, then for every crossing i: fresh dir, crash
    * the workload at crossing i, reopen-and-replay the full workload,
    * and require the face to match. Deterministic workloads cross the
    * same labeled steps in the same order every run, so crossing i is a
    * stable crash point. */
  private def sweep(name: String)(workload: String => Unit)
                   (face: String => Seq[String]): Unit = {
    val clean = freshDir()
    val crossings = new AtomicInteger(0)
    val labels = Seq.newBuilder[String]
    Fs.stepTrap = l => { labels += l; crossings.incrementAndGet(); () }
    try workload(clean) finally Fs.stepTrap = null
    val want = face(clean)
    assert(want.nonEmpty, s"$name: the face is vacuous")
    val total = crossings.get()
    assert(total >= 5, s"$name: workload crossed only $total IO steps")
    val labelSeq = labels.result()
    for (i <- 0 until total) {
      val dir = freshDir()
      val n = new AtomicInteger(0)
      Fs.stepTrap = l =>
        if (n.getAndIncrement() == i) throw new InjectedCrash(l, i)
      val crashed =
        try { workload(dir); false }
        catch { case _: InjectedCrash => true }
        finally Fs.stepTrap = null
      assert(crashed, s"$name: crossing $i (${labelSeq(i)}) never fired")
      // the "process" died between IO steps — reopen and replay
      workload(dir)
      val got = face(dir)
      assert(got == want,
        s"$name: crash at step $i (${labelSeq(i)}) diverged on replay:\n" +
          s"  got  $got\n  want $want")
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .sorted.toSeq

  // ---- fixtures --------------------------------------------------------

  private def docs(ids: Seq[Long]) = ids.map { i =>
    val txt = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
              else s"unique document number $i with content token$i"
    (i, txt)
  }.toDF("doc_id", "text")

  private def kvRows(t: (String, Long, String)*) =
    t.toSeq.toDF("k", "ver", "v")

  // ---- the ten stores --------------------------------------------------

  test("KV store: crash anywhere in merge/swap/reap replays to LWW state") {
    sweep("kv") { dir =>
      val store = new ParquetKvStore(spark, dir, Seq("k"), col("ver"), "v",
        None)
      KvStore.upsertBatch(kvRows(("a", 1L, "a1"), ("b", 1L, "b1")),
        Seq("k"), col("ver"), store)
      KvStore.upsertBatch(kvRows(("a", 2L, "a2"), ("c", 2L, "c2")),
        Seq("k"), col("ver"), store)
      KvStore.upsertBatch(kvRows(("b", 3L, "b3")),
        Seq("k"), col("ver"), store)
    } { dir =>
      canon(new ParquetKvStore(spark, dir, Seq("k"), col("ver"), "v", None)
        .read().select("k", "v"))
    }
  }

  test("exact-dedup index: crash sweep converges on the keeper set") {
    sweep("exact") { dir =>
      val idx = new ExactDedupIndex(spark, dir, "doc_id", "text")
      idx.addAndDedup(docs(1L to 6L), ord = 0).count()
      idx.compact()
      idx.addAndDedup(docs(7L to 12L), ord = 1).count()
    } { dir =>
      canon(new ExactDedupIndex(spark, dir, "doc_id", "text").keepers())
    }
  }

  test("paragraph index: crash sweep converges on the paragraph keepers") {
    val sep = "\n\n"
    val b1 = Seq((1L, s"alpha beta${sep}BOILER"), (2L, s"two${sep}BOILER"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, s"alpha beta${sep}three"), (4L, "four only"))
      .toDF("doc_id", "text")
    sweep("paragraph") { dir =>
      val idx = new ParagraphIndex(spark, dir, "doc_id", "text")
      idx.addAndExcise(b1, 0).count()
      idx.compact()
      idx.addAndExcise(b2, 1).count()
    } { dir =>
      canon(new ParagraphIndex(spark, dir, "doc_id", "text").keepers())
    }
  }

  test("SimHash index: crash sweep preserves probe verdicts") {
    sweep("simhash") { dir =>
      val idx = new SimHashIndex(spark, dir, "doc_id")
      idx.addAndDedup(docs(1L to 6L), "text", ord = 0).count()
      idx.compact()
      idx.addAndDedup(docs(7L to 12L), "text", ord = 1).count()
    } { dir =>
      // a fresh probe of near-dup + novel docs against the store — the
      // store-state-dependent read face (verdict + elected keeper)
      canon(new SimHashIndex(spark, dir, "doc_id")
        .addAndDedup(docs(90L to 93L), "text", ord = 9)
        .select("doc_id", "is_dup", "keeper"))
    }
  }

  test("LSH pair index: crash sweep preserves probe pairs") {
    sweep("lsh") { dir =>
      val idx = new MinHashIndex(spark, dir, "doc_id", "text")
      idx.addAndFindPairs(docs(1L to 6L), batchOrd = 0).count()
      idx.compact()
      idx.addAndFindPairs(docs(7L to 12L), batchOrd = 1).count()
    } { dir =>
      canon(new MinHashIndex(spark, dir, "doc_id", "text")
        .addAndFindPairs(docs(90L to 93L), batchOrd = 9))
    }
  }

  test("components index: crash sweep converges on resolved clusters") {
    sweep("components") { dir =>
      val idx = new ComponentsIndex(spark, dir)
      idx.addPairs(Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), ord = 1)
      idx.compact()
      idx.addPairs(Seq((2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b"), ord = 2)
    } { dir =>
      canon(new ComponentsIndex(spark, dir).resolveAll())
    }
  }

  test("IVF index: crash sweep preserves search results") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < 40)
    sweep("ivf") { dir =>
      val idx = new IvfIndex(spark, dir, "vec_id", "embedding")
      idx.add(emb.where(col("vec_id") % 2 === 0), col("label"))
      idx.compact()
      idx.add(emb.where(col("vec_id") % 2 === 1), col("label"))
    } { dir =>
      canon(new IvfIndex(spark, dir, "vec_id", "embedding")
        .search(emb.where(col("vec_id") < 6), array(col("label")), k = 3)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 9)))
    }
  }

  test("IVF-PQ store: crash sweep preserves ADC search results") {
    val rnd = new scala.util.Random(5)
    val base = (0 until 40)
      .map(i => (i.toLong, Seq.fill(8)((rnd.nextInt(7) - 3).toFloat)))
      .filter(_._2.exists(_ != 0f))
      .toDF("vec_id", "embedding")
    val cents = KMeans.fit(base, "vec_id", "embedding", 4, 2)
    val model = Pq.train(base, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val q = base.where(col("vec_id") < 4)
    sweep("ivfpq") { dir =>
      val idx = new IvfPqIndex(spark, dir, "vec_id", "embedding", model, cents)
      idx.add(base.where(col("vec_id") % 2 === 0))
      idx.compact()
      idx.add(base.where(col("vec_id") % 2 === 1))
    } { dir =>
      canon(new IvfPqIndex(spark, dir, "vec_id", "embedding", model, cents)
        .search(q, base, nprobe = 2, k = 3, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 9)))
    }
  }

  test("edge index: crash sweep converges on the deduped edge set") {
    val b1 = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val b2 = Seq((2L, 3L), (3L, 4L), (5L, 1L)).toDF("src", "dst")
    sweep("edges") { dir =>
      val idx = new EdgeIndex(spark, dir)
      idx.addEdges(b1, ord = 0)
      idx.compact()
      idx.addEdges(b2, ord = 1)
    } { dir =>
      canon(new EdgeIndex(spark, dir).edges())
    }
  }

  test("BM25 postings index: crash sweep preserves ranked search") {
    val corpus = Seq(
      (1L, "spark spark spark join"), (2L, "spark join"),
      (3L, "join join join join"), (4L, "table scan filter"),
      (5L, "spark table join scan"), (6L, "filter filter scan")
    ).toDF("id", "text")
    val qs = Seq("q1" -> "spark join", "q2" -> "filter")
    sweep("bm25") { dir =>
      val idx = new Bm25Index(spark, dir, "id", "text")
      idx.add(corpus.where(col("id") <= 3), 1L)
      idx.compact()
      idx.add(corpus.where(col("id") > 3), 2L)
    } { dir =>
      canon(new Bm25Index(spark, dir, "id", "text").search(qs, 10))
    }
  }

  test("a materialized result survives loss of its cached blocks") {
    // an executor loss takes a result's persisted blocks with it; the
    // next read must recompute them from lineage, not fail the job
    def bm = SparkEnv.get.blockManager
    def blocks(df: DataFrame): Seq[RDDBlockId] =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
        .flatMap(r => r.partitions.indices.map(RDDBlockId(r.id, _)))
        .filter(bm.getStatus(_).isDefined)
    val path = Components.connected(
      (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b")
    val reranked = Mmr.rerank(Seq(
        (0L, 1L, 0.99, Seq(1.0, 0.0)), (0L, 2L, 0.98, Seq(1.0, 0.001)),
        (0L, 3L, 0.50, Seq(0.0, 1.0))).toDF("query_id", "cand_id", "rel",
        "vec"),
      "query_id", "cand_id", "rel", "vec", n = 2, lam = 0.7, lamComp = 0.3)
    Seq(path, reranked).foreach { df =>
      val rows = df.collect().toSet
      val held = blocks(df)
      assert(held.nonEmpty, "the result holds no cached blocks to lose")
      held.foreach(bm.removeBlock(_))
      assert(blocks(df).isEmpty)
      assert(df.collect().toSet == rows)
    }
    assert(path.as[(Long, Long)].collect().toMap ==
      (0L until 64L).map(_ -> 0L).toMap)
  }
}
