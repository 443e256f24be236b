package kgbench

import graft.ner.{NerModel, NerModels}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.broadcast.Broadcast
import scala.collection.mutable
import scala.util.chaining._
import scala.util.control.NonFatal

/** Benchmark entry point: one workload in this JVM at `local[nproc]` (the
  * traced run then also with one worker thread), printing a detail line and,
  * last, the result line.
  *
  *   --workload tag|kg_open|dedup --seed N --seconds S --trace 0|1
  *   --nproc N --work-dir DIR      (passed by run.py)
  *   --self-test                   (check that every output check rejects a corrupted output)
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "text.us_per_token" -> "us", "ner.featurize_us_per_token" -> "us", "core.potentials_us_per_token" -> "us",
    "core.viterbi_us_per_token" -> "us", "kg.triples_us_per_token" -> "us",
    "ner.memo_hit_ratio" -> "ratio", "ner.memo_words" -> "count",
    "text.tokens" -> "count", "kg.mentions" -> "count", "kg.triples" -> "count",
    "scan.s" -> "s", "tag.s" -> "s", "chain.triples" -> "count", "chain.mentions" -> "count",
    "kg.surfaces_s" -> "s", "kg.surfaces" -> "count", "kg.pairs_s" -> "s", "kg.edges" -> "count",
    "kg.cc_s" -> "s", "kg.components" -> "count", "kg.link_s" -> "s",
    "kg.write_s" -> "s", "kg.write_mb" -> "MB", "kg.write_files" -> "count",
    "kg.nodes" -> "count", "kg.graph_edges" -> "count",
    "kg.triple_precision" -> "ratio", "kg.triple_recall" -> "ratio", "kg.location_case_recall" -> "ratio",
    "ops.exact_s" -> "s", "ops.jaccard_s" -> "s", "ops.jaccard_pairs" -> "count", "ops.jaccard_recall" -> "ratio",
    "ops.minhash_s" -> "s", "ops.minhash_pairs" -> "count", "ops.minhash_recall" -> "ratio",
    "ops.simhash_s" -> "s", "ops.simhash_pairs" -> "count", "ops.simhash_recall" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.tasks" -> "count", "spark.task_skew" -> "ratio", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "setup.session_s" -> "s", "setup.model_load_s" -> "s", "setup.warmup_s" -> "s",
    "rows_per_s_1t" -> "rows/s", "scaling_eff" -> "ratio",
    "trace.coverage" -> "ratio", "trace.overhead" -> "ratio",
    "trace.stack_coverage" -> "ratio", "trace.stack_overhead" -> "ratio")

  def workload(name: String, seed: Long, nproc: Int, dir: Path): Workload = name match {
    case "tag" => new TagWorkload(seed, nproc, dir)
    case "kg_open" => new KgOpenWorkload(seed, nproc, dir)
    case "dedup" => new DedupWorkload(seed, nproc, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (tag, kg_open, dedup)")
  }

  /** Loads and broadcasts the model, and builds its lazy tables on the executors. */
  def loadModel(run: SparkRun): Broadcast[NerModel] = {
    val bc = NerModels.default(run.spark)
    run.spark.sparkContext.parallelize(0 until run.threads, run.threads)
      .foreach { _ => val m = bc.value; m.hashIndex; m.params; () }
    bc
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val nproc = a.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val dir = Paths.get(a.getOrElse("work-dir", "kgbench-work")).toAbsolutePath
    Files.createDirectories(dir)
    val code =
      try {
        if (argv.contains("--self-test")) SelfTest.run(nproc, dir)
        else {
          val (detail, result) = run(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1", nproc, dir)
          println(Json.render(Map("kgbench" -> detail)))
          println(result)
          0
        }
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      } finally SparkRun.deleteTree(dir)
    System.exit(code)
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, nproc: Int, dir: Path)
      : (scala.collection.Map[String, Any], String) = {
    val w = workload(name, seed, nproc, dir)
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val knownFaults = mutable.LinkedHashSet.empty[String]
    var quality = Map.empty[String, Double]
    var pendingProbes = 0
    val start = System.nanoTime()
    def log(msg: String): Unit = System.err.println(f"[kgbench] ${(System.nanoTime() - start) / 1e9}%7.2f s  $msg")
    def attempt(label: String)(body: => PassResult): Option[PassResult] = {
      attempted += 1
      pendingProbes += 1
      try {
        val r = body
        log(f"$label pass: ${r.seconds}%.3f s, ${r.rows} rows")
        if (r.failures.nonEmpty) { failed += 1; failures ++= r.failures.map(f => s"$label: $f") }
        Some(r)
      } catch {
        case NonFatal(e) => failed += 1; System.err.println(s"[kgbench] $label pass failed: $e"); None
      }
    }
    // the workload's probe runs once per pass attempted since the last call,
    // outside every timed window; its failures are counted, not checks failed
    def probes(run: SparkRun, model: Broadcast[NerModel]): Unit =
      while (pendingProbes > 0) {
        pendingProbes -= 1
        try w.probe(run.spark, model).foreach { case (f, q) =>
          attempted += 1
          quality ++= q
          if (f.nonEmpty) { failed += 1; knownFaults ++= f }
        } catch {
          case NonFatal(e) =>
            attempted += 1; failed += 1; System.err.println(s"[kgbench] probe failed: $e")
        }
      }
    def timedPasses(run: SparkRun, model: Broadcast[NerModel], single: Boolean, budget: Double): Seq[PassResult] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[PassResult]
      var tries = 0
      while (tries < w.maxTimedPasses && (out.length < 3 || (System.nanoTime() - t0) / 1e9 < budget)) {
        tries += 1
        attempt(if (single) "timed-1t" else "timed")(w.pass(run.spark, model, single)).foreach(out += _)
      }
      out.toSeq
    }

    // set-up, three times: session start, then model load and broadcast
    var run: SparkRun = null
    var model: Broadcast[NerModel] = null
    val setups = (0 until 3).map { k =>
      if (run != null) run.stop()
      val (r, sessionS) = Workload.seconds(new SparkRun(nproc, dir))
      run = r
      val (m, modelS) = if (w.usesModel) Workload.seconds(loadModel(run)) else (null, 0.0)
      model = m
      (sessionS, modelS)
    }
    log(s"set-up: ${setups.map(s => f"${s._1}%.2f+${s._2}%.2f s").mkString(", ")}")
    w.prepare(run.spark, single = trace)
    log("inputs written")
    // warm-up: the last warm-up pass is the verified one
    var verified = false
    val warm = (1 until w.warmupPasses).flatMap(_ => attempt("warm-up")(w.pass(run.spark, model, single = false))) ++
      attempt("verify") { val (r, q) = w.verify(run.spark, model); quality ++= q; verified = true; r }
    if (!verified) failures += "verify: the verified pass did not complete, so its output checks did not run"
    val warmS = warm.map(_.seconds).sum
    probes(run, model)
    val setupS = Stats.median(setups.map(s => s._1 + s._2)) + warmS

    run.stats.reset()
    val timed = timedPasses(run, model, single = false, seconds)
    run.drain()
    val sparkMetrics = run.stats.metrics
    require(timed.nonEmpty, s"$name: no timed pass completed")

    val heapMb = SparkRun.retainedHeapMb()
    log("heap measured")

    val perRow = Stats.median(timed.map(p => p.seconds / p.rows))
    val traced =
      if (!trace) TraceResult(Nil, Map.empty)
      else {
        attempted += 1
        pendingProbes += 1
        val r = w.trace(run.spark, model, perRow)
        if (r.failures.nonEmpty) { failed += 1; failures ++= r.failures.map(x => s"trace: $x") }
        r
      }
    probes(run, model)
    run.stop()
    log("full-width session stopped")

    // the traced run also measures the same pass with one worker thread
    val timed1 =
      if (!trace) Nil
      else {
        val run1 = new SparkRun(1, dir)
        val model1 = if (w.usesModel) loadModel(run1) else null
        val t = timedPasses(run1, model1, single = true, seconds / 2.0)
        probes(run1, model1)
        run1.stop()
        log("single-thread session stopped")
        require(t.nonEmpty, s"$name: no single-thread timed pass completed")
        t
      }

    val rate = Stats.median(timed.map(p => p.rows / p.seconds))
    val (q1, med, q3) = Stats.quartiles(timed.map(_.seconds))
    failures.foreach(f => System.err.println(s"[kgbench] check failed: $f"))
    val correct = failures.isEmpty

    val metrics: Seq[(String, (Double, String))] =
      if (!trace) Seq(
        "setup_s" -> setupS, "rows_per_s" -> rate, "retained_heap_mb" -> heapMb)
        .map { case (k, v) => k -> (v, EndToEnd.toMap.apply(k)) }
      else {
        val values = PerLayer.map(_._1 -> 0.0).toMap ++ sparkMetrics ++ quality ++ traced.metrics ++ Map(
          "setup.session_s" -> Stats.median(setups.map(_._1)),
          "setup.model_load_s" -> Stats.median(setups.map(_._2)),
          "setup.warmup_s" -> warmS,
          "rows_per_s_1t" -> Stats.median(timed1.map(p => p.rows / p.seconds)))
          .pipe(v => v + ("scaling_eff" -> rate / (nproc * v("rows_per_s_1t"))))
        val unknown = values.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
        PerLayer.map { case (k, u) => k -> (values(k), u) }
      }
    val result = Json.render(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*)))
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "nproc" -> nproc, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed, "warmup_passes" -> w.warmupPasses,
      "timed" -> Map("passes" -> timed.length, "q1_s" -> q1, "median_s" -> med, "q3_s" -> q3,
        "rows_per_pass" -> Stats.median(timed.map(_.rows.toDouble))),
      "timed_1t" -> (if (timed1.isEmpty) Map.empty else {
        val (a, b, c) = Stats.quartiles(timed1.map(_.seconds))
        Map("passes" -> timed1.length, "q1_s" -> a, "median_s" -> b, "q3_s" -> c,
          "rows_per_pass" -> Stats.median(timed1.map(_.rows.toDouble)))
      }),
      "quality" -> quality, "failures" -> failures.take(20).toSeq, "known_faults" -> knownFaults.take(3).toSeq)
    (detail, result)
  }
}
