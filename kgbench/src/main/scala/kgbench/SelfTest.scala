package kgbench

import graft.kg.{ConnectedComponents, EntityLink, GraphMaterializer, KgPipeline, TripleRules}
import graft.ops.Dedup
import graft.pipeline.{Transcripts, Turn}
import java.nio.file.Path
import org.apache.spark.sql.functions.{col, sum}

/** Runs each workload's checks on small real outputs, which must pass, and on
  * deliberately corrupted copies, which must be rejected: one triple dropped,
  * one entity split, one pair below the similarity threshold.
  */
object SelfTest {

  def run(nproc: Int, dir: Path): Int = {
    val r = new SparkRun(nproc, dir)
    val spark = r.spark
    import spark.implicits._
    val model = Main.loadModel(r)
    var bad = 0
    def expect(what: String, failures: Seq[String], reject: Boolean): Unit = {
      val ok = failures.nonEmpty == reject
      if (!ok) bad += 1
      println(f"self-test ${if (ok) "ok  " else "FAIL"} ${if (reject) "rejects" else "accepts"} $what" +
        failures.headOption.fold("")(f => s"  [$f]"))
    }

    // triples: a ten-triple sample of the closed-vocabulary workload
    val seed = 7L
    val turns = (0 until 40).flatMap(c => (0 until Transcripts.numTurns(seed, c)).map(t => (c, t)))
    val gold = turns.filterNot { case (c, t) => Transcripts.isToolTurn(seed, c, t) }.flatMap { case (c, t) =>
      val (w, l) = Transcripts.turnTokens(seed, c, t)
      Gold.triples(f"conv$c%08d", t, w, l, Transcripts.turn(seed, c, t).text, TripleRules.triggers)
    }.take(10)
    val keys = gold.map(g => (g.conv_id, g.turn_idx)).toSet
    val got = KgPipeline.triples(Transcripts.synth(spark, 40, seed), model).collect().toSeq
      .filter(g => keys.contains((g.conv_id, g.turn_idx)))
    def pr(x: Seq[graft.pipeline.Triple]) = Gold.check("sample", x, gold)._1
    expect("the tagged triples", pr(got), reject = false)
    expect("the tagged triples with one triple dropped", pr(got.drop(1)), reject = true)

    // graph and linking: one open-vocabulary slice through the chain
    val gen = OpenVocab(seed, KgOpenWorkload.convsPerSlice)
    val in = gen.sliceTurns(0).toSeq.toDS()
    val (tr, me) = KgPipeline.triplesAndMentions(in, model)
    val linked = EntityLink.link(me).localCheckpoint()
    val out = dir.resolve("self-test-graph")
    GraphMaterializer.materialize(tr, linked, out.toString, "self-test")
    def total(t: String, c: String) = spark.read.parquet(out.resolve(t).toString).agg(sum(col(c))).head().getLong(0)
    val (mentions, triples) = (me.count(), tr.count())
    val (nodeMentions, edgeWeight) = (total("nodes", "n_mentions"), total("edges", "weight"))
    expect("the graph totals", Checks.totals(mentions, triples, nodeMentions, edgeWeight), reject = false)
    expect("the graph totals with one triple dropped", Checks.totals(mentions, triples, nodeMentions, edgeWeight - 1), reject = true)
    val rows = linked.as[(String, String, Long, Long, Long, String)].collect().toSeq
      .map { case (e, s, id, n, ent, c) => Checks.Linked(e, s, id, n, ent, c) }
    val planted = gen.sliceGold(0).flatMap(_._5).toSeq
    expect("the linked entities", Checks.entities(rows, mentions, planted), reject = false)
    val shared = rows.groupBy(_.entityId).values.find(_.length >= 2)
      .getOrElse(sys.error("self-test input has no entity with two surfaces"))
    val moved = shared.find(_.surface != shared.head.canonical).get
    val split = rows.map(l => if (l == moved) l.copy(entityId = -1L) else l)
    expect("the linked entities with one entity split", Checks.entities(split, mentions, planted), reject = true)

    val surf = EntityLink.surfaces(me).localCheckpoint()
    val edges = EntityLink.similarityEdges(surf).collect().toSeq
    val cc = ConnectedComponents.run(edges.toDS()).as[(Long, Long)].collect().toSeq
    val norms = surf.select($"surface_id", $"norm").as[(Long, String)].collect().toMap
    expect("the similarity edges and components", Checks.linking(norms, edges, cc), reject = false)
    val ids = norms.toSeq.sortBy(_._1)
    val far = ids.iterator.flatMap(a => ids.iterator.map(b => (a, b)))
      .find { case (a, b) => a._1 < b._1 && Checks.jaccard(Checks.charGrams(a._2), Checks.charGrams(b._2)) < 0.2 }.get
    val farEdge = (far._1._1, far._2._1)
    val ccWithFar = Checks.linking(norms, edges :+ farEdge, cc)
    expect("the similarity edges with one pair below the threshold", ccWithFar.filter(_.startsWith("pairs")), reject = true)
    val ccSplit = cc.map { case (id, c) => if (id == cc.find(x => x._1 != x._2).get._1) (id, id) else (id, c) }
    expect("the components with one entity split", Checks.linking(norms, edges, ccSplit), reject = true)

    // dedup: a 400-document corpus
    val corpus = Corpus(seed)
    val texts = (0L until 400L).map(i => i -> corpus.text(i)).toMap
    val docs = texts.toSeq.toDF("doc_id", "text")
    val exact = Dedup.exact(docs).select($"doc_id", $"keep_doc_id", $"group_size", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    expect("the exact dedup", Checks.exact(texts, exact), reject = false)
    val dupe = exact.find(_._3 > 1).get
    expect("the exact dedup with one group split",
      Checks.exact(texts, exact.map(e => if (e == dupe) (e._1, e._1, 1L, true) else e)), reject = true)
    val jac = Dedup.ngramJaccardPairs(docs).as[(Long, Long, Double)].collect().toSeq
    expect("the Jaccard pairs", Checks.jaccardPairs(texts, jac, "jaccard"), reject = false)
    expect("the Jaccard pairs with one pair below the threshold",
      Checks.jaccardPairs(texts, jac :+ ((0L, 1L, 0.9)), "jaccard"), reject = true)
    expect("all planted pairs among the Jaccard pairs",
      if (Checks.recall(corpus.planted(0, 400), jac.map(p => (p._1, p._2))) == 1.0) Nil else Seq("recall below 1"), reject = false)
    val mh = Dedup.minHashPairs(docs).as[(Long, Long, Double)].collect().toSeq
    expect("the MinHash pairs", Checks.jaccardPairs(texts, mh, "minhash"), reject = false)
    val sh = Dedup.simHashPairs(docs).as[(Long, Long, Int)].collect().toSeq
    expect("the SimHash pairs", Checks.simHashPairs(texts, sh), reject = false)
    expect("the SimHash pairs with one distant pair", Checks.simHashPairs(texts, sh :+ ((0L, 1L, 2))), reject = true)

    r.stop()
    println(s"self-test: ${if (bad == 0) "all checks behave" else s"$bad checks misbehave"}")
    if (bad == 0) 0 else 1
  }
}
