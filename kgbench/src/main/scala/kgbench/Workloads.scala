package kgbench

import graft.kg.{ConnectedComponents, EntityLink, GraphMaterializer, KgPipeline, TripleRules}
import graft.ner.NerModel
import graft.ops.Dedup
import graft.pipeline.{Transcripts, Triple, Turn}
import java.nio.file.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import scala.collection.mutable

/** One pass: its wall seconds, the input rows it consumed, and the checks it
  * failed.
  */
final case class PassResult(seconds: Double, rows: Long, failures: Seq[String])

/** What the traced run of a workload found: check failures and per-layer metrics. */
final case class TraceResult(failures: Seq[String], metrics: Map[String, Double])

trait Workload {
  def name: String
  def usesModel: Boolean
  def warmupPasses: Int
  /** Upper bound on timed passes (inputs are generated for this many). */
  def maxTimedPasses: Int = 40
  /** Writes the input tables (not timed as set-up), with `single`-thread ones when asked. */
  def prepare(spark: SparkSession, single: Boolean): Unit
  /** One pass over `single`-thread or full-width input; `model` is null when unused. */
  def pass(spark: SparkSession, model: Broadcast[NerModel], single: Boolean): PassResult
  /** A full-width pass whose outputs are collected and checked in full; it is
    * the last warm-up pass. Returns the pass and quality metrics.
    */
  def verify(spark: SparkSession, model: Broadcast[NerModel]): (PassResult, Map[String, Double])
  /** The traced run; `untracedSecondsPerRow` is the timed passes' median cost per row. */
  def trace(spark: SparkSession, model: Broadcast[NerModel], untracedSecondsPerRow: Double): TraceResult
  /** A check of a known engine fault on a fixed input that does not depend
    * on the seed, run once per pass outside the timed window: its failures
    * and quality metrics, or None for a workload without one.
    */
  def probe(spark: SparkSession, model: Broadcast[NerModel]): Option[(Seq[String], Map[String, Double])] = None
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs the tagging stack untraced and traced on alternate samples and
    * reports the per-layer figures of the traced runs (medians of three).
    */
  def traceStack(m: NerModel, samples: Int => Seq[Turn]): Map[String, Double] = {
    val rounds = (0 until 3).map { r =>
      val plain = samples(2 * r)
      val (_, u) = seconds(TagStack.run(plain, m, new Tracer(enabled = false)))
      val t = new Tracer()
      val sample = samples(2 * r + 1)
      val memoBefore = m.tokCache.size()
      TagStack.run(sample, m, t)
      val tokens = t.counts("text.tokens")
      val self = t.selfSeconds
      TagStack.Layers.map { case (span, metric) => metric -> self.getOrElse(span, 0.0) * 1e6 / tokens }.toMap ++
        t.counts ++ Map(
          "ner.memo_hit_ratio" -> (1.0 - (m.tokCache.size() - memoBefore) / tokens),
          "ner.memo_words" -> m.tokCache.size().toDouble,
          "trace.stack_coverage" -> t.coverage("stack"),
          "trace.stack_overhead" -> (t.totalSeconds("stack") / sample.length) / (u / plain.length))
    }
    rounds.head.keys.map(k => k -> Stats.median(rounds.map(_(k)))).toMap
  }

}

/** `tag`: closed-vocabulary transcripts, tagged into triples. */
final class TagWorkload(seed: Long, nproc: Int, dir: Path) extends Workload {
  import Workload._
  import TagWorkload.convs
  val name = "tag"
  val usesModel = true
  val warmupPasses = 4
  private val convs1 = math.max(1, convs / nproc)
  private def path(single: Boolean) = dir.resolve(if (single) "tag-turns-1t" else "tag-turns").toString
  private val rows = mutable.Map.empty[Boolean, Long]
  private val outRows = mutable.Map.empty[Boolean, Long]

  def prepare(spark: SparkSession, withSingle: Boolean): Unit =
    for ((single, n) <- Seq(false -> convs, true -> convs1) if withSingle || !single) {
      Transcripts.synth(spark, n, seed).repartition(4 * nproc).write.parquet(path(single))
      rows(single) = (0 until n).map(Transcripts.numTurns(seed, _).toLong).sum
    }

  private def turns(spark: SparkSession, single: Boolean) = {
    import spark.implicits._
    spark.read.parquet(path(single)).as[Turn]
  }

  def pass(spark: SparkSession, model: Broadcast[NerModel], single: Boolean): PassResult = {
    val (n, s) = seconds(SparkRun.sinkCount(KgPipeline.triples(turns(spark, single), model)))
    val want = outRows.getOrElseUpdate(single, n)
    PassResult(s, rows(single), if (n == want) Nil else Seq(s"tag: pass emitted $n triples, earlier passes $want"))
  }

  private def gold(n: Int): Seq[Triple] =
    (0 until n).flatMap { c =>
      (0 until Transcripts.numTurns(seed, c)).filterNot(Transcripts.isToolTurn(seed, c, _)).flatMap { t =>
        val (w, l) = Transcripts.turnTokens(seed, c, t)
        Gold.triples(f"conv$c%08d", t, w, l, Transcripts.turn(seed, c, t).text, TripleRules.triggers)
      }
    }

  def verify(spark: SparkSession, model: Broadcast[NerModel]): (PassResult, Map[String, Double]) = {
    val (got, s) = seconds(KgPipeline.triples(turns(spark, false), model).collect().toSeq)
    val (f, p, r) = Gold.check("tag", got, gold(convs))
    val count = outRows.get(false).filter(_ != got.length).map(w => s"tag: collected ${got.length} triples, passes $w")
    (PassResult(s, rows(false), f ++ count), Map("kg.triple_precision" -> p, "kg.triple_recall" -> r))
  }

  def trace(spark: SparkSession, model: Broadcast[NerModel], untraced: Double): TraceResult = {
    val sample = Iterator.from(0).flatMap(c => (0 until Transcripts.numTurns(seed, c)).map(Transcripts.turn(seed, c, _)))
      .take(15000).toVector
    val m = traceStack(model.value, _ => sample)
    TraceResult(Nil, m ++ Map("trace.coverage" -> m("trace.stack_coverage"), "trace.overhead" -> m("trace.stack_overhead")))
  }
}

object TagWorkload {
  /** Input size: a full-width pass takes about 1 s on a 4-core host. */
  val convs = 12000
}

/** `kg_open`: open-vocabulary transcripts through the whole chain, each pass
  * on slices of the table whose names the session has not seen.
  */
final class KgOpenWorkload(seed: Long, nproc: Int, dir: Path) extends Workload {
  import Workload._
  import KgOpenWorkload._
  val name = "kg_open"
  val usesModel = true
  val warmupPasses = 4
  override val maxTimedPasses = 6
  private val gen = OpenVocab(seed, convsPerSlice)
  private var slices = 0
  private var nextSlice = 0
  private val table = dir.resolve("kg-turns")
  private val outRoot = dir.resolve("kg-out")
  private var outSeq = 0
  private val probeGold = OpenVocab(ProbeSeed, ProbeConvs).locationCaseProbe(0)
  private val probeTable = dir.resolve("kg-probe")

  def prepare(spark: SparkSession, withSingle: Boolean): Unit = {
    import spark.implicits._
    probeGold.map(_._1).toDS().write.parquet(probeTable.toString)
    // warm-up (the verified pass among them) and timed passes at full width;
    // the traced pass and the single-thread passes when traced
    slices = (warmupPasses + maxTimedPasses) * nproc + (if (withSingle) nproc + maxTimedPasses else 0)
    val g = gen
    spark.range(0, slices, 1, nproc).as[Long].flatMap(s => g.sliceTurns(s.toInt))
      .withColumn("slice", col("conv_id").substr(2, 5).cast("int"))
      .write.partitionBy("slice").parquet(table.toString)
  }

  private def take(k: Int): Seq[Int] = {
    require(nextSlice + k <= slices, s"kg_open: only $slices input slices were generated")
    val s = nextSlice until nextSlice + k
    nextSlice += k
    s
  }

  private def turns(spark: SparkSession, ss: Seq[Int]) = {
    import spark.implicits._
    spark.read.parquet(ss.map(s => table.resolve(s"slice=$s").toString): _*).as[Turn]
  }

  private def rows(ss: Seq[Int]): Long =
    ss.map(s => (0 until convsPerSlice).map(gen.numTurns(s, _).toLong).sum).sum

  private def gold(ss: Seq[Int]) = ss.flatMap(s => gen.sliceGold(s).toSeq)
  private def probeTriples =
    goldTriples(probeGold.map { case (turn, w, l, p) => (turn.conv_id, turn.turn_idx, w, l, p) })
  private def goldTriples(g: Seq[(String, Int, Vector[String], Vector[String], Seq[(String, String, String)])]) =
    g.flatMap { case (c, t, w, l, _) => Gold.triples(c, t, w, l, Transcripts.detokenize(w), TripleRules.triggers) }

  private def freshOut(): Path = { outSeq += 1; outRoot.resolve(s"pass-$outSeq") }

  private def sums(spark: SparkSession, out: Path): (Long, Long) = {
    def total(t: String, c: String) =
      Option(spark.read.parquet(out.resolve(t).toString).agg(sum(col(c))).head().get(0)).fold(0L)(_.toString.toLong)
    (total("nodes", "n_mentions"), total("edges", "weight"))
  }

  def pass(spark: SparkSession, model: Broadcast[NerModel], single: Boolean): PassResult = {
    val ss = take(if (single) 1 else nproc)
    val in = turns(spark, ss)
    val out = freshOut()
    val ((tr, me), s) = seconds {
      val (tr, me) = KgPipeline.triplesAndMentions(in, model)
      GraphMaterializer.materialize(tr, EntityLink.link(me), out.toString, s"$seed-${ss.head}")
      (tr, me)
    }
    // triple P/R is checked on the verified pass; every pass checks the totals
    val (nodeMentions, edgeWeight) = sums(spark, out)
    val g = Checks.totals(me.count(), tr.count(), nodeMentions, edgeWeight)
    SparkRun.deleteTree(out)
    PassResult(s, rows(ss), g)
  }

  def verify(spark: SparkSession, model: Broadcast[NerModel]): (PassResult, Map[String, Double]) = {
    import spark.implicits._
    val ss = take(nproc)
    val in = turns(spark, ss)
    val out = freshOut()
    val ((tr, me, linked), s) = seconds {
      val (tr, me) = KgPipeline.triplesAndMentions(in, model)
      val linked = EntityLink.link(me).localCheckpoint()
      GraphMaterializer.materialize(tr, linked, out.toString, s"$seed-verify")
      (tr, me, linked)
    }
    val linkedRows = linked.as[(String, String, Long, Long, Long, String)].collect().toSeq
      .map { case (e, s, id, n, ent, c) => Checks.Linked(e, s, id, n, ent, c) }
    val g = gold(ss)
    val got = tr.collect().toSeq
    val (f, p, r) = Gold.check("kg_open", got, goldTriples(g))
    val (nodeMentions, edgeWeight) = sums(spark, out)
    val mentions = me.count()
    val graph = Checks.totals(mentions, got.length, nodeMentions, edgeWeight) ++
      Checks.entities(linkedRows, mentions, g.flatMap(_._5))
    SparkRun.deleteTree(out)
    (PassResult(s, rows(ss), f ++ graph), Map("kg.triple_precision" -> p, "kg.triple_recall" -> r))
  }

  /** The location case probe: turns whose every location mention is in
    * capitals or in lower case, through the tagging pass, checked against
    * gold triples. `kg.location_case_recall` is the share of those location
    * mentions tagged as locations with their exact surface.
    */
  override def probe(spark: SparkSession, model: Broadcast[NerModel]): Option[(Seq[String], Map[String, Double])] = {
    import spark.implicits._
    val (tr, me) = KgPipeline.triplesAndMentions(spark.read.parquet(probeTable.toString).as[Turn], model)
    val (f, _, _) = Gold.check("location case probe", tr.collect().toSeq, probeTriples)
    val found = me.filter($"etype" === "LOCATION").select($"conv_id", $"turn_idx", $"surface")
      .as[(String, Int, String)].collect().groupBy(identity).view.mapValues(_.length).toMap
    val planted = probeGold.flatMap { case (turn, _, _, p) =>
      p.collect { case (v, _, "LOCATION") => (turn.conv_id, turn.turn_idx, v) }
    }
    val hit = planted.groupBy(identity).map { case (k, v) => math.min(v.length, found.getOrElse(k, 0)) }.sum
    Some((f, Map("kg.location_case_recall" -> hit.toDouble / planted.length)))
  }

  def trace(spark: SparkSession, model: Broadcast[NerModel], untraced: Double): TraceResult = {
    import spark.implicits._
    val t = new Tracer()
    val ss = take(nproc)
    val out = freshOut()
    var rows = 0L
    val (surf, edges, cc) = t.span("chain") {
      val in = t.span("scan") { val d = turns(spark, ss).localCheckpoint(); rows = d.count(); d }
      val (tr, me) = t.span("tag") {
        val (tr, me) = KgPipeline.triplesAndMentions(in, model)
        t.count("chain.triples", tr.count().toDouble); t.count("chain.mentions", me.count().toDouble)
        (tr, me)
      }
      val surf = t.span("kg.surfaces") { val d = EntityLink.surfaces(me).localCheckpoint(); t.count("kg.surfaces", d.count().toDouble); d }
      val edges = t.span("kg.pairs") { val d = EntityLink.similarityEdges(surf).localCheckpoint(); t.count("kg.edges", d.count().toDouble); d }
      val cc = t.span("kg.cc") {
        val d = ConnectedComponents.run(edges).localCheckpoint()
        t.count("kg.components", d.select("component").distinct().count().toDouble); d
      }
      val linked = t.span("kg.link")(EntityLink.link(me).localCheckpoint())
      t.span("kg.write") {
        val (nodes, gedges) = GraphMaterializer.materialize(tr, linked, out.toString, s"$seed-trace")
        t.count("kg.nodes", nodes.count().toDouble); t.count("kg.graph_edges", gedges.count().toDouble)
      }
      (surf, edges, cc)
    }
    val norms = surf.select($"surface_id", $"norm").as[(Long, String)].collect().toMap
    val failures = Checks.linking(norms, edges.collect().toSeq, cc.as[(Long, Long)].collect().toSeq)
    val (mb, files) = SparkRun.treeSize(out)
    SparkRun.deleteTree(out)
    val self = t.selfSeconds
    val stack = traceStack(model.value, i => gen.sliceTurns(slices + i).toVector)
    TraceResult(failures, stack ++ t.counts ++ Map(
      "kg.write_mb" -> mb,
      "kg.write_files" -> files.toDouble,
      "scan.s" -> self.getOrElse("scan", 0.0),
      "tag.s" -> self.getOrElse("tag", 0.0),
      "kg.surfaces_s" -> self.getOrElse("kg.surfaces", 0.0),
      "kg.pairs_s" -> self.getOrElse("kg.pairs", 0.0),
      "kg.cc_s" -> self.getOrElse("kg.cc", 0.0),
      "kg.link_s" -> self.getOrElse("kg.link", 0.0),
      "kg.write_s" -> self.getOrElse("kg.write", 0.0),
      "trace.coverage" -> t.coverage("chain"),
      "trace.overhead" -> (t.totalSeconds("chain") / rows) / untraced))
  }
}

object KgOpenWorkload {
  /** Input size: a full-width pass over nproc slices takes about 4 s on a 4-core host. */
  val convsPerSlice = 300
  /** The probe's input, one slice of this many conversations, is the same for every seed. */
  val ProbeSeed = 0L
  val ProbeConvs = 60
}

/** `dedup`: a Zipf-vocabulary corpus with planted exact and near-duplicate
  * copies through the four dedup operators.
  */
final class DedupWorkload(seed: Long, nproc: Int, dir: Path) extends Workload {
  import Workload._
  import DedupWorkload.docs
  val name = "dedup"
  val usesModel = false
  val warmupPasses = 4
  private val corpus = Corpus(seed)
  private val n = docs
  private val n1 = math.max(10, docs / nproc / 10 * 10)
  private def range(single: Boolean) = if (single) (n.toLong, (n + n1).toLong) else (0L, n.toLong)
  private def path(single: Boolean) = dir.resolve(if (single) "docs-1t" else "docs").toString
  private val outRows = mutable.Map.empty[Boolean, Seq[Long]]

  def prepare(spark: SparkSession, withSingle: Boolean): Unit = {
    import spark.implicits._
    val c = corpus
    for (single <- Seq(false, true) if withSingle || !single) {
      val (a, b) = range(single)
      spark.range(a, b, 1, nproc).as[Long].map(i => (i, c.text(i))).toDF("doc_id", "text")
        .write.parquet(path(single))
    }
  }

  private def ops(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "ops.exact" -> (() => Dedup.exact(docs)),
    "ops.jaccard" -> (() => Dedup.ngramJaccardPairs(docs)),
    "ops.minhash" -> (() => Dedup.minHashPairs(docs)),
    "ops.simhash" -> (() => Dedup.simHashPairs(docs)))

  def pass(spark: SparkSession, model: Broadcast[NerModel], single: Boolean): PassResult = {
    val (counts, s) = seconds(ops(spark.read.parquet(path(single))).map(o => SparkRun.sinkCount(o._2())))
    val want = outRows.getOrElseUpdate(single, counts)
    val (a, b) = range(single)
    PassResult(s, b - a, if (counts == want) Nil else Seq(s"dedup: pass output rows $counts, earlier passes $want"))
  }

  def verify(spark: SparkSession, model: Broadcast[NerModel]): (PassResult, Map[String, Double]) = {
    import spark.implicits._
    val docs = spark.read.parquet(path(false))
    val ((exact, jac, mh, sh), s) = seconds((
      Dedup.exact(docs).select($"doc_id", $"keep_doc_id", $"group_size", $"keep")
        .as[(Long, Long, Long, Boolean)].collect().toSeq,
      Dedup.ngramJaccardPairs(docs).as[(Long, Long, Double)].collect().toSeq,
      Dedup.minHashPairs(docs).as[(Long, Long, Double)].collect().toSeq,
      Dedup.simHashPairs(docs).as[(Long, Long, Int)].collect().toSeq))
    val texts = (0L until n).map(i => i -> corpus.text(i)).toMap
    val planted = corpus.planted(0, n)
    val jr = Checks.recall(planted, jac.map(p => (p._1, p._2)))
    val failures = Checks.exact(texts, exact) ++ Checks.jaccardPairs(texts, jac, "jaccard") ++
      Checks.jaccardPairs(texts, mh, "minhash") ++ Checks.simHashPairs(texts, sh) ++
      (if (jr == 1.0) Nil else Seq(f"jaccard: found $jr%.4f of the planted pairs, not all")) ++
      outRows.get(false).filter(_ != Seq(exact.length, jac.length, mh.length, sh.length).map(_.toLong))
        .map(w => s"dedup: collected rows differ from the passes' $w")
    (PassResult(s, n, failures), Map(
      "ops.jaccard_recall" -> jr,
      "ops.minhash_recall" -> Checks.recall(planted, mh.map(p => (p._1, p._2))),
      "ops.simhash_recall" -> Checks.recall(planted, sh.map(p => (p._1, p._2)))))
  }

  def trace(spark: SparkSession, model: Broadcast[NerModel], untraced: Double): TraceResult = {
    val t = new Tracer()
    t.span("ops") {
      val docs = spark.read.parquet(path(false))
      ops(docs).foreach { case (op, df) =>
        val rows = t.span(op)(SparkRun.sinkCount(df()))
        if (op != "ops.exact") t.count(s"${op}_pairs", rows.toDouble)
      }
    }
    val self = t.selfSeconds
    TraceResult(Nil, t.counts.toMap ++ ops(null).map { case (op, _) => s"${op}_s" -> self.getOrElse(op, 0.0) } ++ Map(
      "trace.coverage" -> t.coverage("ops"),
      "trace.overhead" -> (t.totalSeconds("ops") / n) / untraced))
  }
}

object DedupWorkload {
  /** Input size (a multiple of ten): a full-width pass takes about 4 s on a 4-core host. */
  val docs = 24000
}
