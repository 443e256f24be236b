package kgbench

import graft.core.Crf
import graft.kg.TripleRules
import graft.ner.{NerModel, Tagger}
import graft.pipeline.{Triple, Turn}
import graft.text.{SentenceSplitter, Tokenizer}

/** The tagging stack run turn by turn on the calling thread, with a span
  * around each layer's public call: the same calls, in the same order, that
  * `KgPipeline.triples` makes per turn. With a disabled tracer the spans cost
  * one branch each, which is the untraced side of the overhead ratio.
  */
object TagStack {

  val Layers: Seq[(String, String)] = Seq(
    "text" -> "text.us_per_token",
    "ner.featurize" -> "ner.featurize_us_per_token",
    "core.potentials" -> "core.potentials_us_per_token",
    "core.viterbi" -> "core.viterbi_us_per_token",
    "kg.triples" -> "kg.triples_us_per_token")

  /** Runs the stack over `turns` under the root span "stack"; returns the
    * triples and records text.tokens, kg.mentions and kg.triples counts.
    */
  def run(turns: Seq[Turn], m: NerModel, t: Tracer): Seq[Triple] = {
    require(!m.useReverse, "the traced stack mirrors NerModel.tag for forward models only")
    val bg = m.classIndex(m.backgroundIndex)
    val out = Vector.newBuilder[Triple]
    var tokens, mentions, triples = 0L
    t.span("stack") {
      turns.foreach { turn =>
        if (turn.text != null && turn.text.nonEmpty) {
          val sentences = t.span("text")(SentenceSplitter.split(Tokenizer.tokenize(turn.text)))
          var sentIdx = 0
          while (sentIdx < sentences.length) {
            val sent = sentences(sentIdx)
            val words = sent.map(_.word)
            tokens += words.length
            val enc = t.span("ner.featurize")(m.encodeFast(words))
            val pots = t.span("core.potentials")(Crf.logPotentials(enc, m.params))
            val answers = t.span("core.viterbi")(Crf.viterbi(pots, m.params).map(m.classIndex).toIndexedSeq)
            val ts = t.span("kg.triples") {
              val ms = Tagger.spansOfSentence(turn.conv_id, turn.turn_idx, sentIdx, sent, answers, turn.text, bg)
              mentions += ms.length
              TripleRules.fromSentence(ms, sent.map(x => (x.word, x.begin)))
            }
            triples += ts.length
            out ++= ts
            sentIdx += 1
          }
        }
      }
    }
    t.count("text.tokens", tokens); t.count("kg.mentions", mentions); t.count("kg.triples", triples)
    out.result()
  }
}
