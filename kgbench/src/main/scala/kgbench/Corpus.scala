package kgbench

import graft.pipeline.Transcripts.splitmix64

/** The `dedup` workload's document corpus. Words follow a Zipf law (exponent
  * 1) over a seeded vocabulary of `Vocab` words. Documents come in blocks of
  * ten: eight originals of 30 to 60 words, then two planted copies of
  * originals from the same block. A copy is exact with a changed case (the
  * first word capitalised), or near: one or two word positions replaced.
  *
  * Every value is a pure function of (seed, doc id).
  */
final case class Corpus(seed: Long) {
  import Corpus._

  private def h(a: Long, b: Long): Long = splitmix64(splitmix64(seed ^ 0x3c6ef372fe94f82bL ^ a) ^ b * 0x9e3779b97f4a7c15L)

  /** Vocabulary word of rank j: a seeded bijection of j spelled as
    * consonant-vowel syllables, so distinct ranks give distinct words.
    */
  private val words: Array[String] = Array.tabulate(Vocab) { j =>
    val mask = (1L << 18) - 1
    var x = (j.toLong * ((splitmix64(seed) | 1L) & mask) + (splitmix64(seed + 1) & mask)) & mask
    x ^= x >>> 9
    val sb = new StringBuilder
    for (k <- 0 until 3) {
      val syl = ((x >>> (6 * k)) & 63).toInt
      sb.append(Consonants(syl >>> 2)).append(Vowels(syl & 3))
    }
    sb.toString
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(j => 1.0 / (j + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfWord(r: Long): String = {
    val u = (r >>> 11).toDouble / (1L << 53)
    val i = java.util.Arrays.binarySearch(cdf, u)
    words(math.min(if (i >= 0) i else -i - 1, Vocab - 1))
  }

  private def original(i: Long): Array[String] = {
    val n = 30 + (h(i, -1) >>> 40).toInt % 31
    Array.tabulate(n)(k => zipfWord(h(i, k)))
  }

  /** The original a copy was made from, or None for an original. */
  def baseOf(i: Long): Option[Long] =
    if (i % 10 < 8) None else Some(i / 10 * 10 + (h(i, -2) >>> 40) % 8)

  /** True for a copy that differs from its base only in letter case. */
  def isExactCopy(i: Long): Boolean = baseOf(i).isDefined && (h(i, -3) & 1) == 0

  def text(i: Long): String = baseOf(i) match {
    case None => original(i).mkString(" ")
    case Some(b) =>
      val ws = original(b)
      if (isExactCopy(i)) ws(0) = ws(0).capitalize
      else {
        val edits = 1 + (h(i, -4) & 1).toInt
        for (e <- 0 until edits) {
          val r = h(i, -10 - e)
          ws(((r >>> 33) % ws.length).toInt) = zipfWord(splitmix64(r))
        }
      }
      ws.mkString(" ")
  }

  /** Planted (base, copy) pairs among doc ids [from, until). */
  def planted(from: Long, until: Long): Seq[(Long, Long)] =
    (from until until).flatMap(i => baseOf(i).filter(_ >= from).map(b => (b, i)))
}

object Corpus {
  val Vocab = 5000
  private val Consonants = "bdfghjklmnprstvz"
  private val Vowels = "aeio"
}
