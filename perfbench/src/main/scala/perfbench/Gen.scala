package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Shared pieces of the seeded input generators: every generator draws
  * from its own stream of the run seed, so the same seed gives
  * byte-identical inputs and the workloads never share draws. */
object Gen {
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A fixed synthetic vocabulary: pronounceable words, distinct. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "vocab")
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString
    }
    seen.toArray
  }

  /** Fisher–Yates, in place. */
  def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def words(r: SplittableRandom, vocab: Array[String], z: Zipf,
            n: Int): Array[String] = Array.fill(n)(vocab(z.draw(r)))

  /** `text` with `edits` words replaced, at distinct positions, by other
    * words. */
  def nearCopy(r: SplittableRandom, text: Array[String], vocab: Array[String],
               edits: Int): Array[String] = {
    val out = text.clone()
    val pos = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (pos.size < math.min(edits, out.length)) pos += r.nextInt(out.length)
    pos.foreach { p =>
      var w = vocab(r.nextInt(vocab.length))
      while (w == out(p)) w = vocab(r.nextInt(vocab.length))
      out(p) = w
    }
    out
  }

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Share of draws that landed on the most frequent value. */
  def topShare[T](xs: Iterable[T]): Double =
    if (xs.isEmpty) 0.0
    else xs.groupBy(identity).values.map(_.size).max.toDouble / xs.size

  /** Discrete power-law exponent by maximum likelihood over degrees ≥ 1
    * (Clauset et al.'s continuous approximation with d_min = 1). */
  def powerLawExponent(degrees: Iterable[Int]): Double = {
    val ds = degrees.filter(_ >= 1).map(_.toDouble)
    if (ds.isEmpty) 0.0 else 1.0 + ds.size / ds.map(d => math.log(d / 0.5)).sum
  }
}
