package graft.ops

import java.io.File

/** The shared ord-discipline advisory for the persisted, ord-stamped
  * stores (exact dedup, BM25 postings, LSH postings, components
  * evidence): `ord` is a LOGICAL BATCH IDENTITY — callers must never
  * reuse one for different content, and new batches must carry ords at
  * or above everything stored; replaying a crashed batch under its OWN
  * ord is the one sanctioned reuse. The classic footgun is restarting a
  * pipeline from a FRESH checkpoint against an existing store: epoch
  * ids reset to 0, so every new ord lands BELOW the stored maximum and
  * the store corrupts silently, each in its own way — exact-dedup
  * keepers flip (min-(ord, id) arbitration), BM25 tf double-counts
  * (same doc re-added under a new ord), LSH/components evidence ages
  * wrongly (retention prunes on ord).
  *
  * This helper persists the max committed ord (`_ord_hwm` in the store
  * root, replaced atomically through [[Fs.atomicWriteString]] under the
  * caller's [[StoreLock]]) and [[check]]s every append: below the
  * mark logs a loud warning (legitimate only for a late CONCURRENT
  * appender whose batch genuinely predates the stored ones — the
  * cross-process fan-out shape), or fails when `strict` — the right
  * mode for single-appender topologies, where a below-mark ord can
  * ONLY be the footgun. Equality is never flagged (same-ord crash
  * replay). A torn or unparseable mark reads as absent with a warning —
  * the mark is ADVISORY, so an unreadable file degrades to "no check",
  * never bricks appends, and the next append rewrites it.
  *
  * Reference analog: the broker's message dedup rejects sequence ids at
  * or below the persisted highest-sequence map rather than silently
  * re-admitting them (pulsar-broker/.../persistent/MessageDeduplication
  * .java isDuplicate).
  */
private[ops] final class OrdHighWater(root: File, store: String,
                                      strict: Boolean) {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def hwmFile = new File(root, "_ord_hwm")

  /** The highest ord any append has committed, if readable. */
  def value(): Option[Long] =
    Fs.readString(hwmFile).flatMap { rawFull =>
      val raw = rawFull.trim
      raw.toLongOption.orElse {
        log.warn(s"unreadable ord high-water mark at $hwmFile ('$raw') — " +
          "treating as absent; the next append rewrites it")
        None
      }
    }

  /** The ord-discipline check — run BEFORE the append, under the
    * caller's store lock. */
  def check(ord: Long): Unit =
    value().filter(ord < _).foreach { hwm =>
      val msg = s"$store append ord=$ord is BELOW the store's high-water " +
        s"ord=$hwm at $root. Legitimate only for a late concurrent " +
        "appender whose batch genuinely predates the stored ones; a " +
        "pipeline restarted from a FRESH checkpoint against an existing " +
        "store must offset its epoch ids past the stored max, or the " +
        "store corrupts silently (flipped keepers / double-counted tf / " +
        "mis-aged evidence)."
      if (strict) throw new IllegalStateException(msg)
      log.warn(msg)
    }

  /** Advance the mark — run AFTER the append, under the same lock. A
    * crash between append and advance leaves the mark stale-low, which
    * only weakens the advisory; never blocks the sanctioned replay. */
  def advance(ord: Long): Unit =
    if (value().forall(_ < ord)) Fs.atomicWriteString(hwmFile, ord.toString)
}
