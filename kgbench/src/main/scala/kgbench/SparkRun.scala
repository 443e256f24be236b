package kgbench

import org.apache.spark.KgbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable

/** Task metrics of every task that ended since the last `reset`. */
final class TaskStats extends SparkListener {
  private val byStage = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var shuffleWrite, shuffleRead, spill, cpuNs, gcMs, tasks = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    byStage.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
  }

  def reset(): Unit = synchronized {
    byStage.clear(); shuffleWrite = 0; shuffleRead = 0; spill = 0; cpuNs = 0; gcMs = 0; tasks = 0
  }

  /** Per-layer Spark metrics. Task skew is the median, over stages that ran
    * at least two tasks, of (longest task ÷ median task); 1 when no stage did.
    */
  def metrics: Map[String, Double] = synchronized {
    val skews = byStage.values.filter(_.length >= 2).map { d =>
      val med = Stats.median(d.map(_.toDouble).toSeq)
      d.max / math.max(med, 1.0)
    }.toSeq
    Map(
      "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
      "spark.shuffle_read_mb" -> shuffleRead / 1e6,
      "spark.spill_mb" -> spill / 1e6,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "spark.cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3)
  }
}

/** The Spark session the workloads run in: `local[threads]`, shuffle width
  * equal to the thread count, scratch space inside the benchmark's own build
  * directory, and a listener for task metrics.
  */
final class SparkRun(val threads: Int, val workDir: java.nio.file.Path) {
  val stats = new TaskStats
  val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"kgbench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(stats)
    s
  }

  /** Waits until the listener has seen every task of finished jobs. */
  def drain(): Unit = KgbenchBus.drain(spark.sparkContext)

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object SparkRun {
  /** Runs `ds` into the no-op sink and returns its row count, counted on the
    * way through so the output is produced exactly once.
    */
  def sinkCount(ds: Dataset[_]): Long = {
    val obs = Observation(s"rows-${System.nanoTime()}")
    ds.toDF().observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Heap in use after a full collection, in MB: the lesser of two
    * collections 300 ms apart, so blocks the context cleaner frees after the
    * first collection are not counted.
    */
  def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect() = { System.gc(); bean.getHeapMemoryUsage.getUsed / 1e6 }
    val first = collect()
    Thread.sleep(300)
    math.min(first, collect())
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** (megabytes, file count) of the regular files under `p`. */
  def treeSize(p: java.nio.file.Path): (Double, Int) = {
    val s = java.nio.file.Files.walk(p)
    try {
      val files = s.filter(f => java.nio.file.Files.isRegularFile(f)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(f => java.nio.file.Files.size(f)).sum / 1e6, files.length)
    } finally s.close()
  }
}
