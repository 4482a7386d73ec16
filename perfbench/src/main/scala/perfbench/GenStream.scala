package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** One user event; `dueUs` is its creation stamp (epoch µs). */
final case class Event(offset: Long, user: Long, kind: String, dueUs: Long)

/** Stream traffic: Zipf-keyed user events in cohorts. Users of one cohort
  * only act during that cohort's `cohortMs` of event time, so a user the
  * eviction horizon has dropped never returns, and the final funnel state
  * is a plain fold of the events. Events go out as topic segments of
  * `eventsPerSegment` each, written by the generator itself (no Spark). */
final class GenStream(seed: Long,
                      val ratePerS: Double = 2000.0,
                      val eventsPerSegment: Int = 200,
                      val usersPerCohort: Int = 400,
                      val userSkew: Double = 1.1,
                      val cohortEvents: Int = 2000,
                      val backlogSegments: Int = 50,
                      val backlogEventsPerSegment: Int = 400) {
  private val live = Gen.rng(seed, "stream-live")
  private val backlogRng = Gen.rng(seed, "stream-backlog")
  private val zipf = new Gen.Zipf(usersPerCohort, userSkew)
  private var nextIndex = 0L
  private var cohortBase = 0L
  private var phaseStart = 0L

  private def kind(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.6) "view" else if (u < 0.9) "click" else "purchase"
  }

  /** The next `n` live events; event i is due `i / ratePerS` seconds after
    * `startUs`. */
  def liveEvents(n: Int, startUs: Long): Vector[Event] = Vector.fill(n) {
    val i = nextIndex
    nextIndex += 1
    val user = (cohortBase + (i - phaseStart) / cohortEvents) *
      usersPerCohort + zipf.draw(live)
    Event(i, user, kind(live), startUs + (i * 1e6 / ratePerS).toLong)
  }

  /** Later live events start a fresh cohort, so no user spans the pause
    * between two phases (which would let eviction drop it mid-life). */
  def newPhase(): Unit = {
    cohortBase += (nextIndex - phaseStart + cohortEvents - 1) / cohortEvents
    phaseStart = nextIndex
  }

  /** The pre-staged backlog: its own users and offsets, stamped an hour of
    * event time after `baseUs` so it lands after every live event. */
  def backlog(baseUs: Long): Vector[Vector[Event]] = {
    val n = backlogSegments * backlogEventsPerSegment
    val t0 = baseUs + 3600L * 1000000L
    Vector.tabulate(n) { i =>
      val user = GenStream.BacklogUserBase +
        (i / cohortEvents) * usersPerCohort + zipf.draw(backlogRng)
      Event(GenStream.BacklogUserBase + i, user, kind(backlogRng), t0 + i * 10L)
    }.grouped(backlogEventsPerSegment).toVector
  }
}

object GenStream {
  val BacklogUserBase = 1000000000L

  def line(e: Event): String = {
    val ms = e.dueUs / 1000L
    s"""{"topic":"events","partition":0,"offset":${e.offset},""" +
      s""""key":"${e.user}","value":"${e.kind}|${e.dueUs}",""" +
      s""""event_time_ms":$ms,"publish_time_ms":$ms,""" +
      s""""producer_name":"perfbench","sequence_id":${e.offset}}"""
  }

  /** Writes one sealed segment (sidecar first, then an atomic rename) so a
    * listing never sees a partial file. */
  def writeSegment(partDir: File, name: String, evs: Seq[Event]): File = {
    partDir.mkdirs()
    val seg = new File(partDir, name)
    val ms = evs.map(_.dueUs / 1000L)
    graft.sources.v2.SegmentStats.writeSidecar(seg,
      graft.sources.v2.SegmentStats.Stats(evs.map(_.offset).min,
        evs.map(_.offset).max, ms.min, ms.max, 0L))
    val tmp = new File(partDir, s".perfbench-$name.tmp")
    Files.write(tmp.toPath,
      evs.map(line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, seg.toPath, StandardCopyOption.ATOMIC_MOVE)
    seg
  }

  def liveName(k: Long): String = f"segment-g$k%013d-perfbench.jsonl"
  def backlogName(k: Long): String = f"segment-h$k%013d-perfbench.jsonl"

  /** Final funnel state per user: first view, first click after it, first
    * purchase after that — users with no view are absent (the operator
    * never emits them). */
  def fold(evs: Iterable[Event])
  : Map[Long, (Option[Long], Option[Long], Option[Long])] =
    evs.groupBy(_.user).flatMap { case (u, es) =>
      var t1, t2, t3: Option[Long] = None
      es.toSeq.sortBy(_.dueUs).foreach { e =>
        e.kind match {
          case "view" if t1.isEmpty => t1 = Some(e.dueUs)
          case "click" if t1.exists(e.dueUs > _) && t2.isEmpty =>
            t2 = Some(e.dueUs)
          case "purchase" if t2.exists(e.dueUs > _) && t3.isEmpty =>
            t3 = Some(e.dueUs)
          case _ => ()
        }
      }
      t1.map(_ => u -> (t1, t2, t3))
    }
}
