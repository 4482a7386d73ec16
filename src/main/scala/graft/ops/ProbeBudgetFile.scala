package graft.ops

import java.io.File

/** The `_probe_budget` generation artifact shared by [[IvfIndex]] and
  * [[IvfPqIndex]]: one tiny record `v1|nprobe|recall|#` persisted beside
  * the quantizer whose layout (or codebook pair) the budget was priced
  * for. One reader/writer so the two stores can never drift on the
  * format.
  *
  * Fail direction: the budget is advisory PRICING state, not a safety
  * record — an unparseable/torn/absent file reads as None and the caller
  * re-tunes. (Contrast [[StoreFence]]'s owner records, where torn must
  * REJECT: admitting a writer corrupts, while re-tuning merely re-pays
  * one profile.) The terminator still makes a truncated record
  * detectable rather than mis-parsed. */
object ProbeBudgetFile {

  private val Name = "_probe_budget"

  /** The budget bound to generation `g`: (nprobe, the recall/agreement
    * it cleared when tuned), or None when never tuned or unreadable. */
  def read(g: File): Option[(Int, Double)] = {
    val f = new File(g, Name)
    if (!f.isFile) None
    else
      try {
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .trim.split('|') match {
            case Array("v1", np, rec, "#") => Some((np.toInt, rec.toDouble))
            case _ => None
          }
      } catch { case _: Exception => None }
  }

  /** Persist (atomic tmp+rename) into generation `g`. */
  def write(g: File, nprobe: Int, recall: Double): Unit =
    Fs.atomicWriteString(new File(g, Name), s"v1|$nprobe|$recall|#")

  /** Carry `from`'s budget into `to` verbatim (a layout-preserving
    * compact); absent stays absent. */
  def carry(from: File, to: File): Unit =
    read(from).foreach { case (np, rec) => write(to, np, rec) }
}

/** The budget accessor trio over a [[GenStore]]-backed index, held once
  * so [[IvfIndex]] and [[IvfPqIndex]] cannot drift on it; each store
  * keeps its OWN invalidation semantics in its compact (layout retrain
  * vs codebook retrain — the carry/drop decision lives there, not
  * here). */
trait ProbeBudgeted {
  /** The store's generations (the budget lives in the live generation,
    * beside the quantizer artifacts; the write serializes under the
    * root's [[StoreLock]]). */
  protected def probeBudgetGens: GenStore

  /** The live generation's tuned probe budget: (nprobe, the
    * recall/agreement it cleared when tuned), or None when never tuned
    * or invalidated by a retraining compact. */
  def probeBudget(): Option[(Int, Double)] =
    probeBudgetGens.currentGen().flatMap(ProbeBudgetFile.read)

  /** Persist a tuned probe budget into the LIVE generation, beside the
    * quantizer it was priced for.
    *
    * MUST NOT be called while already holding the store's [[StoreLock]]
    * (e.g. from inside a compact): the OS `FileChannel.lock` underneath
    * is not reentrant within a JVM, so a nested acquire throws
    * `OverlappingFileLockException`. No current caller nests — compacts
    * carry or drop the budget via [[ProbeBudgetFile]] directly, under
    * the lock they already hold. Same constraint for
    * [[tunedProbeBudget]], which calls this on the tune path. */
  def saveProbeBudget(nprobe: Int, recall: Double): Unit =
    StoreLock.exclusive(probeBudgetGens.root) {
      ProbeBudgetFile.write(probeBudgetGens.liveOrCreate(), nprobe, recall)
    }

  /** The tuned budget, pricing it at most once per layout: the
    * persisted artifact if present, else `tune` (the caller's
    * recall-targeted loop, returning the chosen nprobe and the metric
    * it cleared) whose result is saved for every later session. A new
    * JVM opening the store reads one tiny file instead of re-paying
    * the profile scans — the budget is auditable store state, not a
    * per-process cache. */
  def tunedProbeBudget(tune: => (Int, Double)): Int =
    probeBudget().map(_._1).getOrElse {
      val (np, rec) = tune
      saveProbeBudget(np, rec)
      np
    }
}
