package kgbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans are kept until the run
  * ends: (name, start, end, parent), with the parent being the span open on
  * the calling thread when the child started. Counts are recorded at the
  * same boundaries. Used from one thread (the benchmark's own code around
  * calls into the engine), so there is no synchronisation.
  */
final class Tracer(val enabled: Boolean = true) {
  private val names = mutable.ArrayBuffer.empty[String]
  private val starts = mutable.ArrayBuffer.empty[Long]
  private val ends = mutable.ArrayBuffer.empty[Long]
  private val parents = mutable.ArrayBuffer.empty[Int]
  private var open = -1
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = names.length
    names += name; starts += System.nanoTime(); ends += -1L; parents += open
    val saved = open
    open = id
    try body
    finally {
      ends(id) = System.nanoTime()
      open = saved
    }
  }

  def count(name: String, n: Double): Unit = if (enabled) counts(name) = counts.getOrElse(name, 0.0) + n

  /** Seconds of each span name, minus the time its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](names.length)
    var i = 0
    while (i < names.length) {
      if (parents(i) >= 0) childNs(parents(i)) += ends(i) - starts(i)
      i += 1
    }
    names.indices.groupBy(names).map { case (n, ids) =>
      n -> ids.map(j => ends(j) - starts(j) - childNs(j)).sum / 1e9
    }
  }

  /** Total seconds of every span with this name. */
  def totalSeconds(name: String): Double =
    names.indices.filter(names(_) == name).map(j => ends(j) - starts(j)).sum / 1e9

  /** Share of the root spans' wall time that their descendants cover. */
  def coverage(root: String): Double = {
    val self = selfSeconds.getOrElse(root, 0.0)
    val total = totalSeconds(root)
    if (total <= 0) 0.0 else 1.0 - self / total
  }
}
