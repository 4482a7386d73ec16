package perfbench

import scala.collection.mutable

/** The closed-loop driver: one client runs its next step only after the
  * previous one completed, until the measured time is up. */
object ClosedLoop {
  final case class Result(attempted: Long, failed: Long, elapsedS: Double,
                          errors: Seq[String])

  /** Runs `step(traced)` (which returns the ops it ran) until `seconds`
    * have passed and at least `minSteps` steps ran. A traced run alternates
    * untraced controls with traced steps, control first, and runs at least
    * one of each. */
  def run(seconds: Double, tr: Tracer, minSteps: Int = 1)
         (step: Boolean => Int): Result = {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var last = t0
    var i = 0
    val least = if (tr.enabled) math.max(2, minSteps) else minSteps
    while (System.nanoTime() < deadline || i < least) {
      i += 1
      try attempted += step(tr.enabled && i % 2 == 0)
      catch {
        case e: Exception =>
          attempted += 1
          failed += 1
          if (errors.size < 20) errors += s"op failed: $e"
      }
      last = System.nanoTime()
    }
    Result(attempted, failed, (last - t0) / 1e9, errors.toSeq)
  }

  /** Median traced over median untraced sample; 1.0 without both. */
  def overhead(xs: Seq[(Double, Boolean)]): Double = {
    val on = xs.filter(_._2).map(_._1)
    val off = xs.filterNot(_._2).map(_._1)
    if (on.isEmpty || off.isEmpty) 1.0 else Stats.median(on) / Stats.median(off)
  }
}
