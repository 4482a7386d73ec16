package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** [[EdgeIndex]] — the appendable link-edge store: appending crawl
  * batches must land exactly on the full-rebuild edge set, replays must
  * be no-ops, and compaction must preserve the graph. */
class EdgeIndexSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = java.nio.file.Files
    .createTempDirectory("graft-edge-idx").toFile.getAbsolutePath

  private def b1 = Seq((1L, 2L), (2L, 3L), (1L, 2L)).toDF("src", "dst")
  private def b2 = Seq((2L, 3L), (3L, 4L), (5L, 1L)).toDF("src", "dst")

  private def edgeSet(df: DataFrame) =
    df.as[(Long, Long)].collect().toSet

  test("append twice equals the full rebuild") {
    val idx = new EdgeIndex(spark, freshDir())
    idx.addEdges(b1, ord = 0)
    idx.addEdges(b2, ord = 1)
    val rebuild = edgeSet(b1.unionAll(b2).distinct())
    assert(edgeSet(idx.edges()) == rebuild,
      "the appended union must equal a one-shot distinct rebuild")
    // the overlap edge (2,3) appears once despite landing in both batches
    assert(idx.edges().count() == rebuild.size)
  }

  test("crash-replayed append is a no-op on the edge set") {
    val idx = new EdgeIndex(spark, freshDir())
    idx.addEdges(b1, ord = 0)
    val before = edgeSet(idx.edges())
    idx.addEdges(b1, ord = 0) // replay after a crash
    assert(edgeSet(idx.edges()) == before)
  }

  test("concurrent appenders converge on the union edge set") {
    // the service shape: crawl workers land batches on the SAME store
    // concurrently. Appends write distinct task files into the live
    // generation, so racers never clobber; the union read collapses
    // whatever interleaving the race produced.
    val dir = freshDir()
    val idx = new EdgeIndex(spark, dir)
    val batches = (0 until 8).map(i =>
      (i, Seq((i.toLong, i + 1L), (i + 1L, i + 2L), (0L, 99L))
        .toDF("src", "dst")))
    Fs.inParallel(batches, maxThreads = 8) { case (i, df) =>
      idx.addEdges(df, ord = i.toLong)
    }
    val want = batches.map(_._2).reduce(_ unionAll _).distinct()
    assert(edgeSet(idx.edges()) == edgeSet(want))
    idx.compact()
    assert(edgeSet(new EdgeIndex(spark, dir).edges()) == edgeSet(want))
  }

  test("compact preserves the graph and collapses duplicate rows") {
    val dir = freshDir()
    val idx = new EdgeIndex(spark, dir)
    idx.addEdges(b1, ord = 0)
    idx.addEdges(b1, ord = 0) // duplicates in the live generation
    idx.addEdges(b2, ord = 1)
    val before = edgeSet(idx.edges())
    idx.compact()
    assert(edgeSet(idx.edges()) == before, "compaction changed the graph")
    // post-compact the live generation holds exactly one row per edge
    assert(idx.rawRows().count() == before.size)
    // reopen from a fresh handle — the store is the disk, not the object
    assert(edgeSet(new EdgeIndex(spark, dir).edges()) == before)
  }

  test("an append started mid-compact publishes into the new generation") {
    // from compact's generation alloc (the store lock held, the batch
    // listing not yet taken), a second thread appends: its staged write
    // runs alongside the compaction and its publish waits for the lock,
    // so the batch lands in the generation compact swapped in
    val dir = freshDir()
    val idx = new EdgeIndex(spark, dir)
    idx.addEdges(b1, ord = 0)
    val before = idx.currentGenerationPath
    @volatile var failure: Throwable = null
    val appender = new Thread(() =>
      try idx.addEdges(b2, ord = 1)
      catch { case t: Throwable => failure = t })
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Fs.stepTrap = label =>
      if (label == "gen.alloc" && fired.compareAndSet(false, true))
        appender.start()
    try idx.compact() finally Fs.stepTrap = null
    assert(fired.get(), "compact never allocated a generation")
    appender.join(120000)
    assert(!appender.isAlive, "the appender never published")
    assert(failure == null, s"the append failed: $failure")
    val live = idx.currentGenerationPath
    assert(live.isDefined && live != before, "compact kept the live generation")
    assert(new java.io.File(live.get).list().exists(_.startsWith("batch-1-")),
      "the batch did not land in the new live generation")
    val want = edgeSet(b1.unionAll(b2).distinct())
    assert(edgeSet(idx.edges()) == want,
      "batch appended during compaction was lost")
    // and it survives the next compaction, which reaps the replaced one
    idx.compact()
    assert(edgeSet(new EdgeIndex(spark, dir).edges()) == want)
  }
}
