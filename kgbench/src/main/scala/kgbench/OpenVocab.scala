package kgbench

import graft.pipeline.{Transcripts, Turn}

/** Open-vocabulary transcripts for the `kg_open` workload. The sentence
  * templates are those of the engine's closed-vocabulary generator, but
  * entity words come from a seeded name pool that is private to each slice
  * of the table, so every slice brings names no earlier slice used. A share
  * of entity mentions are planted variants of a pool name (see `variant`).
  *
  * Every value is a pure function of (seed, slice, conversation, turn).
  */
final case class OpenVocab(seed: Long, convsPerSlice: Int) {
  import OpenVocab._

  /** Pool sizes per slice, relative to the slice's expected mention count. */
  val persons: Int = math.max(8, convsPerSlice)
  val orgs: Int = math.max(8, convsPerSlice / 2)
  val locations: Int = math.max(8, convsPerSlice / 4)

  private def h(a: Long, b: Long, c: Long, d: Long): Long =
    mix(mix(mix(mix(seed ^ 0x6b43a9b5e1f37c1dL) ^ a) ^ b * 0x9e3779b97f4a7c15L) ^ c * 31L + d)

  /** The name word for (slice, field, i): a seeded bijection of the 24-bit
    * id spelled as four consonant-vowel syllables, so no two (slice, field,
    * i) share a word and each slice's words are new to the session.
    */
  private def word(slice: Int, field: Int, i: Int): String = {
    require(slice < 1024 && i < 4096, s"name id out of range: slice $slice, i $i")
    val mask = (1L << 24) - 1
    var x = (slice.toLong << 14) | (field.toLong << 12) | i
    val a = (mix(seed) | 1L) & mask
    x = (x * a + (mix(seed + 1) & mask)) & mask
    x ^= x >>> 12
    x = (x * ((mix(seed + 2) | 1L) & mask)) & mask
    val sb = new StringBuilder
    for (k <- 0 until 4) {
      val syl = ((x >>> (6 * k)) & 63).toInt
      sb.append(Consonants(syl >>> 2)).append(Vowels(syl & 3))
    }
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  /** Pool entries: the words of person / organisation / location `i` of a slice. */
  def person(slice: Int, i: Int): Seq[String] = Seq(word(slice, 0, i), word(slice, 1, i))
  def org(slice: Int, i: Int): Seq[String] =
    Seq(word(slice, 2, i), Transcripts.orgSuffixes((mix(h(slice, 2, i, 0)) >>> 7).toInt.abs % Transcripts.orgSuffixes.length))
  def location(slice: Int, i: Int): Seq[String] = Seq(word(slice, 3, i))

  /** A planted variant of `words`: a title added (persons), a case change
    * (the second letter of the surname or name upper-cased, as in "McKay"),
    * or one inner letter of the first word replaced.
    */
  def variant(words: Seq[String], label: String, r: Long): Seq[String] =
    ((r >>> 3) % (if (label == "PERSON") 3 else 2)).toInt match {
      case 2 => Transcripts.titles(((r >>> 9) % Transcripts.titles.length).toInt) +: words
      case 1 =>
        val i = if (label == "PERSON") words.length - 1 else 0
        val w = words(i)
        words.updated(i, w.substring(0, 1) + w.charAt(1).toUpper + w.substring(2))
      case _ =>
        val w = words.head
        val pos = 1 + ((r >>> 13) % (w.length - 1)).toInt
        val orig = w.charAt(pos)
        val alt = ('a' + ((r >>> 21) % 26)).toChar
        val c = if (alt != orig) alt else if (orig == 'z') 'a' else (orig + 1).toChar
        (w.substring(0, pos) + c + w.substring(pos + 1)) +: words.tail
    }

  /** The probe's case change: every word in capitals or every word in lower case. */
  def flatCase(words: Seq[String], r: Long): Seq[String] =
    words.map(w => if (((r >>> 17) & 1) == 0) w.toUpperCase else w.toLowerCase)

  /** Words, labels and, for a planted variant, (variant, original, label).
    * With `flatLocations` every location mention is planted as its `flatCase` variant.
    */
  def turnTokens(slice: Int, conv: Int, turnIdx: Int, flatLocations: Boolean = false)
      : (Vector[String], Vector[String], Seq[(String, String, String)]) = {
    val r0 = h(slice, conv, turnIdx, 0)
    val tpl = Templates(((r0 >>> 8) % Templates.length).toInt)
    val words = Vector.newBuilder[String]
    val labels = Vector.newBuilder[String]
    val planted = Seq.newBuilder[(String, String, String)]
    var slot = 0
    for (t <- tpl) {
      val r = h(slice, conv, turnIdx, 100L + slot)
      val filled: Option[(Seq[String], String)] = t match {
        case "P" => Some((person(slice, ((r >>> 8) % persons).toInt), "PERSON"))
        case "G" => Some((org(slice, ((r >>> 8) % orgs).toInt), "ORGANIZATION"))
        case "L" => Some((location(slice, ((r >>> 8) % locations).toInt), "LOCATION"))
        case "D" => Some((Seq(Transcripts.weekdays(((r >>> 8) % Transcripts.weekdays.length).toInt)), "O"))
        case _ => None
      }
      filled match {
        case Some((ws0, label)) =>
          slot += 1
          val flat = flatLocations && label == "LOCATION"
          val plant = label != "O" && (flat || (mix(r) >>> 11).toDouble / (1L << 53) < VariantShare)
          val ws = if (!plant) ws0 else if (flat) flatCase(ws0, mix(mix(r))) else variant(ws0, label, mix(mix(r)))
          if (plant) planted += ((ws.mkString(" "), ws0.mkString(" "), label))
          ws.foreach { w => words += w; labels += label }
        case None => words += t; labels += "O"
      }
    }
    (words.result(), labels.result(), planted.result())
  }

  def numTurns(slice: Int, conv: Int): Int = 2 + ((h(slice, conv, -1, 0) >>> 16) % 6).toInt

  def isToolTurn(slice: Int, conv: Int, turnIdx: Int): Boolean = (h(slice, conv, turnIdx, 777L) & 15) == 0

  def convId(slice: Int, conv: Int): String = f"s$slice%05d-c$conv%06d"

  private def timestamp(slice: Int, conv: Int, turnIdx: Int) =
    new java.sql.Timestamp(1700000000000L + (slice.toLong * convsPerSlice + conv) * 3600000L + turnIdx * 60000L)

  private def textTurn(slice: Int, conv: Int, turnIdx: Int, words: Vector[String]): Turn =
    Turn(convId(slice, conv), turnIdx, if (turnIdx % 2 == 0) "user" else "assistant",
      Transcripts.detokenize(words), null, timestamp(slice, conv, turnIdx))

  def turn(slice: Int, conv: Int, turnIdx: Int): Turn =
    if (isToolTurn(slice, conv, turnIdx)) Turn(convId(slice, conv), turnIdx, "tool", "", "search", timestamp(slice, conv, turnIdx))
    else textTurn(slice, conv, turnIdx, turnTokens(slice, conv, turnIdx)._1)

  def sliceTurns(slice: Int): Iterator[Turn] =
    Iterator.range(0, convsPerSlice).flatMap(c => Iterator.range(0, numTurns(slice, c)).map(t => turn(slice, c, t)))

  /** Non-tool turns of a slice with their gold words and labels. */
  def sliceGold(slice: Int): Iterator[(String, Int, Vector[String], Vector[String], Seq[(String, String, String)])] =
    Iterator.range(0, convsPerSlice).flatMap { c =>
      Iterator.range(0, numTurns(slice, c)).filterNot(isToolTurn(slice, c, _)).map { t =>
        val (w, l, p) = turnTokens(slice, c, t)
        (convId(slice, c), t, w, l, p)
      }
    }

  /** The location case probe: the non-tool turns of `slice` that mention a
    * location, every location mention planted in capitals or in lower case,
    * with their gold words, labels and planted variants.
    */
  def locationCaseProbe(slice: Int): Seq[(Turn, Vector[String], Vector[String], Seq[(String, String, String)])] =
    for {
      c <- 0 until convsPerSlice
      t <- 0 until numTurns(slice, c) if !isToolTurn(slice, c, t)
      (w, l, p) = turnTokens(slice, c, t, flatLocations = true)
      if l.contains("LOCATION")
    } yield (textTurn(slice, c, t, w), w, l, p)
}

object OpenVocab {
  def mix(z: Long): Long = Transcripts.splitmix64(z)

  /** Share of entity mentions that are planted variants. */
  val VariantShare = 0.2

  private val Consonants = "bdfghjklmnprstvz"
  private val Vowels = "aeio"

  /** The engine generator's sentence templates (P person, G organisation,
    * L location, D weekday; other tokens are literal filler words).
    */
  val Templates: IndexedSeq[Seq[String]] = Vector(
    Seq("P", "works", "at", "G", "in", "L", "."),
    Seq("P", "visited", "L", "on", "D", "."),
    Seq("G", "opened", "an", "office", "in", "L", "."),
    Seq("P", "met", "P", "at", "L", "yesterday", "."),
    Seq("P", "joined", "G", "last", "year", "."),
    Seq("G", "acquired", "G", "for", "5", "billion", "dollars", "."),
    Seq("P", "from", "G", "called", "about", "the", "contract", "."),
    Seq("the", "team", "at", "G", "shipped", "a", "new", "release", "."),
    Seq("P", "traveled", "to", "L", "via", "L", "."),
    Seq("did", "P", "leave", "G", "?"),
    Seq("P", "-LRB-", "of", "G", "-RRB-", "spoke", "in", "L", "."),
    Seq("the", "report", "mentions", "G", "and", "L", "twice", "."),
    Seq("the", "deployment", "failed", "twice", "before", "lunch", "."),
    Seq("can", "you", "check", "the", "logs", "?"),
    Seq("ok", ",", "rerun", "the", "pipeline", "with", "more", "memory", "."),
    Seq("P", "said", "``", "ship", "it", "''", "on", "D", "."))
}
