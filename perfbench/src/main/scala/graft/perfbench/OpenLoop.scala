package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

/** Open-loop request generator: request `k` is due at
  * `t0 + k * interval` and is sent by whichever worker is free. Its
  * latency counts from the due time, so a stall also delays every
  * request queued behind it — the wait a closed loop would hide — and
  * how late each send started is recorded beside it.
  */
object OpenLoop {
  final case class Result(latencyMs: Array[Double], lateMs: Array[Double],
      serviceMs: Array[Double], failed: Int)

  /** `send(worker, k, due)` issues request `k` and returns whether it
    * succeeded; `after(worker, k, due, start, end)` runs on the same
    * worker once the request is timed (not part of its latency). */
  def run(n: Int, intervalNs: Double, workers: Int, t0: Long = System.nanoTime() + 20000000L)(
      send: (Int, Int, Long) => Boolean,
      after: (Int, Int, Long, Long, Long) => Unit = (_, _, _, _, _) => ()): Result = {
    val latency, late, service = new Array[Double](n)
    val failed = new AtomicInteger(0)
    val next = new AtomicInteger(0)
    val errors = new ErrorLatch
    val threads = (0 until workers).map { w =>
      new Thread(() => try {
        var k = next.getAndIncrement()
        while (k < n) {
          val due = t0 + (k * intervalNs).toLong
          Jvm.sleepUntil(due)
          val start = System.nanoTime()
          val ok = try send(w, k, due) catch { case _: java.io.IOException => false }
          val end = System.nanoTime()
          if (!ok) failed.incrementAndGet()
          latency(k) = (end - due) / 1e6
          late(k) = (start - due) / 1e6
          service(k) = (end - start) / 1e6
          after(w, k, due, start, end)
          k = next.getAndIncrement()
        }
      } catch { case t: Throwable => errors.record(t) }, "perfbench-sender")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.rethrow()
    Result(latency, late, service, failed.get())
  }
}
