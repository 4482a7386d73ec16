package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkSuite
import graft.tools.ForkAppend
import scala.jdk.CollectionConverters._

/** Cross-PROCESS store contention: EdgeIndexSpec proves concurrent
  * appenders safe inside one JVM, but committer `_temporary` roots, POSIX
  * renames, and file locks are per-process state — so this spec forks two
  * REAL JVMs (ProcessBuilder → graft.tools.ForkAppend) appending
  * overlapping batches to ONE EdgeIndex (staged writes, locked renames)
  * and ONE ExactDedupIndex (StoreLock-serialized probe-then-append)
  * concurrently, with a ready/go barrier so the append phases actually
  * overlap, and asserts both stores land on the serial baseline's state.
  * The stores start COLD (both workers race creation on an empty root —
  * the creation path serializes on StoreLock) and a maintenance thread
  * in THIS process compacts both stores on a tight loop throughout, so
  * generation swaps and reaps interleave the cross-process appends.
  *
  * Finding that motivated StoreLock (recorded in SCALING.md): without it,
  * two processes' append jobs into one directory share the committer's
  * `_temporary` root — each job DELETES that tree on commit, destroying
  * the other's in-flight task files; the probe-then-append stores are
  * also semantically single-writer. The edge store takes the lock only
  * for its publish: every batch stages in a private dir and publishes by
  * one atomic rename.
  *
  * Reference analog: exclusive-producer access vs shared topic appends
  * (pulsar-client-api/.../ProducerAccessMode.java) and ledger creation
  * preceding entry appends (managed-ledger/.../ManagedLedgerImpl.java).
  */
class CrossProcessStoreSpec extends SparkSuite {

  private val Workers = 2
  private val Batches = 3

  /** Fork one ForkAppend child with the parent's classpath and the same
    * --add-opens set sbt forked this test JVM with. */
  private def fork(root: String, worker: Int): Process = {
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java")
      .getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = jvmArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" => List(a, jvmArgs(i + 1))
    }.flatten
    val cmd = List(javaBin) ++ opens ++ List(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.tools.ForkAppend", root, worker.toString, Batches.toString)
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(new File(root, s"worker-$worker.log"))
      .start()
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("two JVMs appending concurrently converge to the serial result") {
    // ---- serial baseline: same batches, one writer, global ord order
    val ser = Files.createTempDirectory("xproc-serial").toFile.getAbsolutePath
    val serEdges = new EdgeIndex(spark, s"$ser/edges")
    val serExact = new ExactDedupIndex(spark, s"$ser/exact", "id", "text")
    val plan = (for {
      i <- 0 until Batches; w <- 1 to Workers
    } yield (w, i)).sortBy { case (w, i) => ForkAppend.ord(w, i) }
    plan.foreach { case (w, i) =>
      serEdges.addEdges(ForkAppend.edgeBatch(spark, w, i), ForkAppend.ord(w, i))
      serExact.addAndDedup(ForkAppend.docBatch(spark, w, i), ForkAppend.ord(w, i))
    }
    val wantEdges = canon(serEdges.edges())
    val wantKeepers = canon(serExact.keepers())
    assert(wantEdges.nonEmpty && wantKeepers.nonEmpty)

    // ---- concurrent run: two real JVMs, COLD start — no provisioning.
    // Store creation itself must be cross-process safe (both workers
    // race liveOrCreate on an empty root; without the creation lock the
    // racers allocate different generations and the later pointer swap
    // orphans the earlier one's data).
    val root = Files.createTempDirectory("xproc").toFile.getAbsolutePath
    val edges = new EdgeIndex(spark, s"$root/edges")
    val exact = new ExactDedupIndex(spark, s"$root/exact", "id", "text")

    val procs = (1 to Workers).map(w => w -> fork(root, w))
    // both children are warm before any append: release the barrier
    val deadline = System.currentTimeMillis() + 180000
    while ((1 to Workers).exists(w => !new File(root, s"ready-$w").exists())) {
      assert(System.currentTimeMillis() < deadline, {
        procs.map { case (w, _) => s"worker $w log:\n" +
          scala.util.Try(new String(Files.readAllBytes(
            new File(root, s"worker-$w.log").toPath))).getOrElse("<none>")
        }.mkString("children never became ready\n", "\n", "")
      })
      Thread.sleep(100)
    }
    Files.write(new File(root, "go").toPath, Array.empty[Byte])
    // maintenance churn DURING the fan-out: this process compacts both
    // stores on a tight loop while the children append — generation
    // swaps and reaps must stay safe across processes (StoreLock
    // serializes the exact store's faces and the edge store's publish
    // renames against both compactions)
    @volatile var compactions = 0
    @volatile var churnFailure: Throwable = null
    val compactor = new Thread(() => {
      try while (procs.exists(_._2.isAlive)) {
        edges.compact(); exact.compact()
        compactions += 1
        Thread.sleep(200)
      } catch { case t: Throwable => churnFailure = t }
    })
    compactor.setDaemon(true)
    compactor.start()
    procs.foreach { case (w, p) =>
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        s"worker $w timed out")
      assert(p.exitValue() == 0, s"worker $w failed:\n" + new String(
        Files.readAllBytes(new File(root, s"worker-$w.log").toPath)))
    }

    compactor.join(60000)
    assert(churnFailure == null, s"compaction churn failed: $churnFailure")
    assert(compactions > 0, "the churn loop never ran a compaction")

    // ---- the stores' read faces equal the serial baseline's
    assert(canon(edges.edges()) == wantEdges,
      "edge store diverged under cross-process appends")
    assert(canon(exact.keepers()) == wantKeepers,
      "exact-dedup keepers diverged under cross-process appends")

    // maintenance after the fan-out: compaction preserves both faces
    edges.compact(); exact.compact()
    assert(canon(edges.edges()) == wantEdges)
    assert(canon(exact.keepers()) == wantKeepers)
  }
}
