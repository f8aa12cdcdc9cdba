package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Every input is drawn on the driver from a
  * `SplittableRandom` seeded by the run seed only, so the same seed
  * gives byte-identical inputs; [[Digest]] hashes the canonical bytes
  * of everything generated. */
object Gen {

  private val syllables = IndexedSeq("ka", "lo", "mi", "ra", "ten", "su",
    "vo", "ne", "pha", "dri", "col", "yu", "bes", "gar", "tin", "ox",
    "qua", "zel", "mor", "fi", "den", "lu", "sar", "pe")

  /** Stopwords the Gopher rule counts; mixed into every text. */
  val Stops: IndexedSeq[String] = IndexedSeq("the", "a", "of", "and", "to")

  /** `size` distinct lowercase words of 2–4 syllables. */
  def vocabulary(rng: SplittableRandom, size: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val n = 2 + rng.nextInt(3)
      seen += (0 until n).map(_ => syllables(rng.nextInt(syllables.size)))
        .mkString
    }
    seen.toIndexedSeq
  }

  /** A single-spaced text of `n` words: vocabulary words with a
    * stopword every fourth position. */
  def text(rng: SplittableRandom, vocab: IndexedSeq[String], n: Int): String =
    (0 until n).map { i =>
      if (i % 4 == 3) Stops(rng.nextInt(Stops.size))
      else vocab(rng.nextInt(vocab.size))
    }.mkString(" ")

  /** `text` with `k` distinct word positions replaced. */
  def perturb(rng: SplittableRandom, vocab: IndexedSeq[String], t: String,
      k: Int): String = {
    val ws = t.split(" ")
    val picked = new scala.util.Random(rng.nextLong())
      .shuffle(ws.indices.toList).take(k)
    picked.foreach(i => ws(i) = vocab(rng.nextInt(vocab.size)))
    ws.mkString(" ")
  }

  def gaussian(rng: SplittableRandom): Double = {
    val u1 = math.max(rng.nextDouble(), 1e-12)
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Unit-norm vector near a cluster centre (noise `sigma` per axis). */
  def nearVector(rng: SplittableRandom, centre: Array[Float],
      sigma: Double): Array[Float] = {
    val v = centre.map(c => (c + sigma * gaussian(rng)).toFloat)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def centres(rng: SplittableRandom, k: Int, dim: Int): Array[Array[Float]] =
    Array.fill(k)(nearVector(rng, Array.fill(dim)(0f), 1.0))
}

/** SHA-256 over the canonical bytes of generated rows. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)

  def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
  def double(x: Double): Unit = long(java.lang.Double.doubleToLongBits(x))
  def string(s: String): Unit = {
    val b = s.getBytes("UTF-8"); long(b.length.toLong); md.update(b)
  }
  def floats(xs: Array[Float]): Unit = {
    long(xs.length.toLong); xs.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}
