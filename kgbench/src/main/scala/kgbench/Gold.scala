package kgbench

import graft.pipeline.Triple
import scala.collection.mutable

/** Gold triples derived from a generator's own token labels, with the
  * benchmark's own span fold and trigger scan. The only engine table read is
  * `TripleRules.triggers`, the rule set the engine is specified to apply.
  */
object Gold {

  private val rendered = Map("-LRB-" -> "(", "-RRB-" -> ")", "-LSB-" -> "[", "-RSB-" -> "]",
    "``" -> "\"", "''" -> "\"")

  /** Character offsets of each word in `text`, found left to right. */
  def offsets(words: Seq[String], text: String): IndexedSeq[(Int, Int)] = {
    var cursor = 0
    words.map { w =>
      val r = rendered.getOrElse(w, w)
      val b = text.indexOf(r, cursor)
      require(b >= 0, s"word '$w' not found in '$text' after $cursor")
      cursor = b + r.length
      (b, cursor)
    }.toIndexedSeq
  }

  /** Triples of one single-sentence turn: maximal runs of one non-O label are
    * mentions; each adjacent mention pair takes the predicate of the first
    * trigger word between them, else CO_OCCURS.
    */
  def triples(convId: String, turnIdx: Int, words: IndexedSeq[String],
      labels: IndexedSeq[String], text: String,
      triggers: Map[(String, String, String), String]): Seq[Triple] = {
    val off = offsets(words, text)
    val spans = mutable.ArrayBuffer.empty[(Int, Int, String)] // first word, last word, label
    var i = 0
    while (i < words.length) {
      if (labels(i) == "O") i += 1
      else {
        var j = i
        while (j + 1 < words.length && labels(j + 1) == labels(i)) j += 1
        spans += ((i, j, labels(i)))
        i = j + 1
      }
    }
    def surface(s: (Int, Int, String)) = text.substring(off(s._1)._1, off(s._2)._2)
    spans.iterator.zip(spans.iterator.drop(1)).map { case (a, b) =>
      val pred = (a._2 + 1 until b._1).iterator
        .flatMap(k => triggers.get((words(k).toLowerCase, a._3, b._3)))
        .nextOption().getOrElse("CO_OCCURS")
      Triple(convId, turnIdx, surface(a), a._3, pred, surface(b), b._3)
    }.toSeq
  }

  /** Multiset precision and recall of `got` against `gold`. */
  def precisionRecall(got: Seq[Triple], gold: Seq[Triple]): (Double, Double) = {
    val want = mutable.HashMap.empty[Triple, Int]
    gold.foreach(t => want(t) = want.getOrElse(t, 0) + 1)
    var hit = 0
    got.foreach { t =>
      val n = want.getOrElse(t, 0)
      if (n > 0) { hit += 1; want(t) = n - 1 }
    }
    val p = if (got.isEmpty) (if (gold.isEmpty) 1.0 else 0.0) else hit.toDouble / got.length
    val r = if (gold.isEmpty) 1.0 else hit.toDouble / gold.length
    (p, r)
  }

  /** The paper's triple-quality bar for precision and recall. */
  val Bar = 0.95

  /** Failures of the paper's triple-quality bar, with one missed and one
    * spurious triple as examples.
    */
  def check(what: String, got: Seq[Triple], gold: Seq[Triple]): (Seq[String], Double, Double) = {
    val (p, r) = precisionRecall(got, gold)
    if (p >= Bar && r >= Bar) (Nil, p, r)
    else {
      val missed = gold.diff(got).headOption.fold("")(t => s"; missed $t")
      val spurious = got.diff(gold).headOption.fold("")(t => s"; spurious $t")
      (Seq(f"$what: triple P/R $p%.4f/$r%.4f below $Bar$missed$spurious"), p, r)
    }
  }
}
