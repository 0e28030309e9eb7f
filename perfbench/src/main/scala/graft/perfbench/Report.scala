package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One run's outcome: operations attempted and failed, the named
  * output checks that failed, metrics, and human-readable notes. The
  * last line printed is the JSON object the harness contract asks
  * for; the notes go before it.
  */
final class Report {
  private val attemptedN = new AtomicLong(0L)
  private val failedN = new AtomicLong(0L)
  private val failedChecks = new ConcurrentLinkedQueue[String]()
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]

  def attempt(n: Long = 1L): Unit = attemptedN.addAndGet(n)
  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()

  /** Count `n` failed operations under check `name`. */
  def fail(name: String, n: Long = 1L): Unit = {
    failedN.addAndGet(n)
    if (failedChecks.size < 200) failedChecks.add(s"$name x$n")
  }

  /** An output check: a false condition is one failed operation. */
  def check(ok: Boolean, name: => String): Boolean = {
    if (!ok) fail(name)
    ok
  }

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  def note(line: String): Unit = synchronized { notes += line }

  def failures: Seq[String] = failedChecks.asScala.toSeq

  /** Operations timed in the traced phase: the denominator of the
    * per-layer self times. */
  @volatile var tracedOps: Long = 0L

  /** Notes, failed checks, then the result line with exactly the
    * metrics `names`. A metric the workload has no work for (a serving
    * layer on the catalog workload) reads 0. */
  def render(names: Seq[(String, String)]): String = synchronized {
    val sb = new StringBuilder
    notes.foreach(n => sb.append("# ").append(n).append('\n'))
    metrics.foreach { case (k, (v, u)) => sb.append(f"# metric $k = $v%.6g $u\n") }
    failures.foreach(f => sb.append("# FAILED ").append(f).append('\n'))
    val ms = names.map { case (k, unit) =>
      val v = metrics.get(k).map(_._1).getOrElse(0.0)
      val num = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$unit"}"""
    }.mkString(", ")
    val attemptedOut = math.max(1L, attempted)
    sb.append(s"""{"correct": ${failed == 0}, "attempted": $attemptedOut, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
    sb.toString
  }
}

/** Spans recorded around calls into each layer, kept in memory and
  * written out when the run ends. A span's layer is its name up to the
  * first dot; its self time is its duration minus the part of it that
  * its child spans cover.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, reqId: Long,
      start: Long, end: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Record a finished span (nanoTime bounds); returns its id, or 0
    * when tracing is off. */
  def span(name: String, start: Long, end: Long, parent: Long = 0L,
      reqId: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, reqId, start, end))
      id
    }

  def count: Int = spans.size

  /** Self time per layer in ms, summed over all spans. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toArray
    val children = all.filter(_.parent != 0L).groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Array.empty[Span])
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      val layer = s.name.takeWhile(_ != '.')
      self(layer) += math.max(0L, s.end - s.start - covered) / 1e6
    }
    self.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":${s.reqId},"start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** JVM-level measurements shared by every workload. */
object Jvm {
  /** Epoch ms at which this JVM started. */
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after explicit full collections, in MB: the lowest of
    * three rounds, with a pause between them so that Spark's context
    * cleaner can drop what the previous collection released. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Park until `deadline` (nanoTime); spins for the last 100 µs. */
  def sleepUntil(deadline: Long): Unit = {
    var left = deadline - System.nanoTime()
    while (left > 100000L) {
      java.util.concurrent.locks.LockSupport.parkNanos(left - 100000L)
      left = deadline - System.nanoTime()
    }
    while (System.nanoTime() < deadline) Thread.onSpinWait()
  }
}

/** First-error latch for worker threads: the first exception wins and
  * is rethrown by the coordinating thread. */
final class ErrorLatch {
  private val first = new AtomicReference[Throwable](null)
  def record(t: Throwable): Unit = first.compareAndSet(null, t)
  def rethrow(): Unit = Option(first.get()).foreach(t => throw t)
}
