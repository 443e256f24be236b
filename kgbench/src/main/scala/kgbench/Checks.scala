package kgbench

import graft.kg.EntityLink
import graft.pipeline.Transcripts.splitmix64
import scala.collection.mutable

/** Output checks. Each compares an engine output with a computation the
  * benchmark makes itself, or with a property the method must have, and
  * returns one message per violation (empty when the output passes).
  */
object Checks {

  // ---- entity linking and the materialised graph ----

  /** One row of `EntityLink.link`'s output. */
  final case class Linked(etype: String, surface: String, surfaceId: Long, nMentions: Long,
      entityId: Long, canonical: String)

  private val titles = Set("dr.", "mr.", "ms.", "mrs.", "prof.", "sen.", "miss", "sir")

  /** Lower case; for persons a leading title word is dropped. */
  def normalize(etype: String, surface: String): String = {
    val lower = surface.toLowerCase
    val sp = lower.indexOf(' ')
    if (etype == "PERSON" && sp > 0 && titles.contains(lower.substring(0, sp))) lower.substring(sp + 1)
    else lower
  }

  /** The graph tables account for every mention and every triple. */
  def totals(mentions: Long, triples: Long, nodeMentions: Long, edgeWeight: Long): Seq[String] =
    (if (nodeMentions == mentions) Nil else Seq(s"graph: node n_mentions sum $nodeMentions != $mentions mentions")) ++
      (if (edgeWeight == triples) Nil else Seq(s"graph: edge weight sum $edgeWeight != $triples triples"))

  /** Linked surfaces account for every mention; each entity's canonical
    * surface is one of its members with the top mention count; planted
    * variants that normalise alike share an entity.
    */
  def entities(linked: Seq[Linked], mentions: Long, planted: Seq[(String, String, String)]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val linkedMentions = linked.map(_.nMentions).sum
    if (linkedMentions != mentions) out += s"graph: linked n_mentions sum $linkedMentions != $mentions mentions"
    linked.groupBy(_.entityId).foreach { case (id, members) =>
      val canon = members.map(_.canonical).distinct
      val top = members.map(_.nMentions).max
      if (canon.length != 1) out += s"graph: entity $id has ${canon.length} canonical surfaces"
      else members.find(_.surface == canon.head) match {
        case None => out += s"graph: entity $id canonical '${canon.head}' is not one of its surfaces"
        case Some(m) if m.nMentions != top =>
          out += s"graph: entity $id canonical '${canon.head}' has ${m.nMentions} mentions, top is $top"
        case _ =>
      }
    }
    val entityOf = linked.map(l => (l.etype, l.surface) -> l.entityId).toMap
    planted.distinct.foreach { case (variant, original, etype) =>
      if (normalize(etype, variant) == normalize(etype, original))
        (entityOf.get((etype, variant)), entityOf.get((etype, original))) match {
          case (Some(a), Some(b)) if a != b =>
            out += s"graph: planted variant '$variant' ($a) and '$original' ($b) are different entities"
          case _ =>
        }
    }
    out.toSeq
  }

  /** The entity linker's own thresholds, so the check cannot drift from the engine. */
  private val Tau = EntityLink.Config().minJaccard
  private val Shingle = EntityLink.Config().shingleSize

  /** Distinct character shingles (the whole string when it is shorter). */
  def charGrams(s: String): Set[String] =
    if (s.length < Shingle) Set(s) else (0 to s.length - Shingle).map(i => s.substring(i, i + Shingle)).toSet

  def jaccard[T](a: Set[T], b: Set[T]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else { val i = (a & b).size; i.toDouble / (a.size + b.size - i) }

  /** Similarity edges must join surfaces whose normalised forms are equal or
    * have a character-shingle Jaccard of at least the linker's threshold;
    * components must be the minimum ids of a union-find over the edges.
    */
  def linking(norms: Map[Long, String], edges: Seq[(Long, Long)], components: Seq[(Long, Long)]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    edges.foreach { case (a, b) =>
      (norms.get(a), norms.get(b)) match {
        case (Some(x), Some(y)) =>
          val j = jaccard(charGrams(x), charGrams(y))
          if (x != y && j < Tau - 1e-9) out += f"pairs: edge '$x'/'$y' has Jaccard $j%.4f < $Tau"
        case _ => out += s"pairs: edge ($a, $b) joins an unknown surface id"
      }
    }
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val got = components.toMap
    if (got.size != components.length) out += "cc: duplicate ids in the component table"
    parent.keys.foreach { id =>
      val want = find(id)
      got.get(id) match {
        case Some(c) if c == want =>
        case other => out += s"cc: id $id has component $other, union-find gives $want"
      }
    }
    got.keys.filterNot(parent.contains).take(3).foreach(id => out += s"cc: id $id is on no edge")
    out.take(20).toSeq
  }

  // ---- dedup operators ----

  /** The dedup operators' defaults: word-trigram Jaccard threshold and the
    * largest SimHash Hamming distance of a pair.
    */
  private val DedupTau = 0.5
  private val DedupGram = 3
  private val MaxHamming = 3

  def wordGrams(text: String, n: Int): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  /** `exact`: keep flags and group sizes against grouping by lower-cased text. */
  def exact(texts: Map[Long, String], rows: Seq[(Long, Long, Long, Boolean)]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val groups = texts.groupBy(_._2.toLowerCase).values.map(_.keys.toSeq)
    val want = groups.flatMap(g => g.map(id => id -> (g.min, g.length.toLong))).toMap
    if (rows.length != texts.size) out += s"exact: ${rows.length} rows for ${texts.size} documents"
    rows.foreach { case (id, keepId, size, keep) =>
      want.get(id) match {
        case Some((k, s)) if k == keepId && s == size && keep == (id == k) =>
        case w => out += s"exact: doc $id got (keep_doc_id $keepId, group_size $size, keep $keep), want $w"
      }
    }
    out.take(20).toSeq
  }

  /** Word-trigram pairs: ordered ids, true Jaccard at least the operators'
    * threshold, and a reported score not above the true one.
    */
  def jaccardPairs(texts: Map[Long, String], pairs: Seq[(Long, Long, Double)], what: String): Seq[String] = {
    val grams = mutable.HashMap.empty[Long, Set[String]]
    def g(id: Long) = grams.getOrElseUpdate(id, wordGrams(texts(id), DedupGram))
    pairs.flatMap { case (a, b, reported) =>
      if (!texts.contains(a) || !texts.contains(b)) Some(s"$what: pair ($a, $b) names an unknown document")
      else if (a >= b) Some(s"$what: pair ($a, $b) is not ordered")
      else {
        val j = jaccard(g(a), g(b))
        if (j < DedupTau - 5e-5) Some(f"$what: pair ($a, $b) has Jaccard $j%.4f < $DedupTau")
        else if (reported > j + 5e-5) Some(f"$what: pair ($a, $b) reports $reported%.4f above the true $j%.4f")
        else None
      }
    }.take(20)
  }

  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h
  }

  /** 64-bit SimHash of the FNV-1a hashes of a text's distinct word bigrams. */
  def simHash(text: String): Long = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val grams = if (t.length < 2) Set(t.mkString(" ")) else t.sliding(2).map(_.mkString(" ")).toSet
    val votes = new Array[Int](64)
    grams.foreach { g =>
      val h = splitmix64(fnv(g))
      for (b <- 0 until 64) votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
  }

  /** SimHash pairs: ordered ids, and the reported Hamming distance equals the
    * recomputed one and is at most the operator's limit.
    */
  def simHashPairs(texts: Map[Long, String], pairs: Seq[(Long, Long, Int)]): Seq[String] =
    pairs.flatMap { case (a, b, reported) =>
      if (!texts.contains(a) || !texts.contains(b)) Some(s"simhash: pair ($a, $b) names an unknown document")
      else {
        val d = java.lang.Long.bitCount(simHash(texts(a)) ^ simHash(texts(b)))
        if (a >= b) Some(s"simhash: pair ($a, $b) is not ordered")
        else if (d != reported || d > MaxHamming) Some(s"simhash: pair ($a, $b) reports Hamming $reported, recomputed $d")
        else None
      }
    }.take(20)

  /** Share of planted pairs present among the found pairs. */
  def recall(planted: Seq[(Long, Long)], found: Seq[(Long, Long)]): Double = {
    val f = found.toSet
    if (planted.isEmpty) 1.0 else planted.count(f.contains).toDouble / planted.length
  }
}
