package perfbench

import java.util.SplittableRandom

/** One message as the generator made it; `publishMs` rises with `offset`. */
final case class Msg(offset: Long, partition: Int, key: String, value: String,
                     publishMs: Long)

/** Pubsub traffic: Zipf-keyed messages for one partitioned topic, and the
  * closed-loop op sequence over it. Op parameters are drawn from the same
  * random stream, so a run's ops are fixed by the seed up to the number of
  * ops the run completes. */
final class GenPubsub(seed: Long,
                      val keys: Int = 200,
                      val keySkew: Double = 1.1,
                      val partitions: Int = 2,
                      val batch: Int = 50,
                      val producesPerCycle: Int = 2,
                      val compactEvery: Int = 3) {
  import GenPubsub._

  private val r: SplittableRandom = Gen.rng(seed, "pubsub")
  private val zipf = new Gen.Zipf(keys, keySkew)
  private var nextOffset = 0L

  def messages(n: Int): Vector[Msg] = Vector.fill(n) {
    val off = nextOffset
    nextOffset += 1
    val key = s"k${zipf.draw(r)}"
    val pad = Array.fill(24)(('a' + r.nextInt(26)).toChar).mkString
    Msg(off, Math.floorMod(key.hashCode, partitions), key,
      s"$key:$off:$pad", BaseMs + off * 10L)
  }

  private val queue = scala.collection.mutable.Queue.empty[Op]
  private var cycles = 0

  /** The next op. Ops come in cycles of `producesPerCycle` produces and
    * one read of each kind in a seeded order, so every run sees the same
    * mix; every `compactEvery`-th cycle ends with a topic compaction. */
  def nextOp(): Op = {
    if (queue.isEmpty) {
      queue ++= Gen.shuffle(r,
        Array.fill[Op](producesPerCycle)(Produce) ++ Reads)
      cycles += 1
      if (cycles % compactEvery == 0) queue += Compact
    }
    queue.dequeue()
  }

  def pick(n: Int): Int = r.nextInt(math.max(1, n))
}

object GenPubsub {
  val BaseMs = 1700000000000L

  sealed trait Op { def name: String }
  case object Produce extends Op { val name = "produce" }
  case object Compact extends Op { val name = "compact" }
  final case class Read(name: String) extends Op
  val Reads: Vector[Read] = Vector("peek", "by_id", "by_timestamp", "backlog",
    "tableview", "seek_scan").map(Read)
}
