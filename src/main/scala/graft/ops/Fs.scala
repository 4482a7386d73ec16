package graft.ops

import java.io.File

/** Small filesystem/concurrency helpers shared by the store/offload/staging
  * code paths. */
object Fs {

  /** Fault-injection hook for the store lifecycle: [[GenStore]] calls
    * [[step]] at every driver-side IO boundary (generation alloc, data
    * write, pointer swap sub-steps, per-generation reap). Production
    * cost is one volatile read of a null; a test installs a trap that
    * throws at the Nth crossing to simulate a crash BETWEEN IO steps,
    * then asserts reopen-and-replay convergence (FaultInjectionSpec).
    * Driver-side only by design — executor-side parquet task writes are
    * already covered by Spark's job-level commit protocol. */
  @volatile private[graft] var stepTrap: String => Unit = null

  /** Cross an IO step boundary; no-op unless a trap is installed. */
  @inline def step(label: String): Unit = {
    val t = stepTrap
    if (t != null) t(label)
  }

  /** Full UTF-8 content of `f`, or None when absent. No exists-then-read:
    * a concurrent delete between the two calls would escape as an
    * exception instead of the absent ⇒ None answer. */
  def readString(f: File): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => None
    }

  /** Atomically replace `target` with `content` (UTF-8): write a tmp
    * sibling, ATOMIC_MOVE it over the target, and on filesystems without
    * atomic move fall back to a plain replacing copy — callers of this
    * helper hold small ADVISORY state (ownership epochs, high-water
    * marks) whose readers must treat a torn/unparseable read as "mark
    * unreadable", never as data loss. Shared by [[StoreFence]] and the
    * ord high-water mark so the subtle sequence lives once. */
  def atomicWriteString(target: File, content: String): Unit = {
    val tmp = new File(target.getParentFile, "." + target.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
    try java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.io.IOException =>
      java.nio.file.Files.copy(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.delete()
      ()
    }
  }

  /** Whether the tree under `dir` holds any actual data file (a
    * partitioned parquet write of ZERO rows leaves only `_SUCCESS` —
    * schema inference over such a dir fails, so stores check this before
    * publishing or reading). A missing `dir` holds none. */
  def hasDataFiles(dir: File): Boolean = {
    def walk(f: File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).exists(walk)
      else f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
    walk(dir)
  }

  /** Recursive delete (no symlink traversal protection — callers own the
    * trees they delete). Missing files are fine. */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Run independent work items on a bounded pool and wait for ALL of them
    * before returning or rethrowing the first failure. `invokeAll` + `get`
    * rather than scala Futures: a scala Future never completes on a fatal
    * throwable (OutOfMemoryError in one parquet encode would wedge an
    * `Await` forever and strand sibling tasks), while a java FutureTask
    * captures every Throwable and `get` rethrows it wrapped. */
  def inParallel[A](work: Seq[A], maxThreads: Int = 16)(f: A => Unit): Unit =
    if (work.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(maxThreads, work.size))
      try {
        val tasks = work.map { a =>
          new java.util.concurrent.Callable[Unit] { def call(): Unit = f(a) }
        }
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      } finally pool.shutdown()
    }
}
