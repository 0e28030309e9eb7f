package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper

import graft.streaming.ChannelRuntime

/** `ingest`: open-loop HTTP sends into channel `ticks` (1,000 symbols,
  * 50 rows per request, every row stamped with its due time) with one
  * WebSocket subscriber. A reference step at 500 rows/s is followed
  * by a fixed rising ladder that stops at the first step missing the
  * limit, then by closed-loop bursts of a fixed number of rows; the
  * runtime is drained between steps.
  */
object Ingest {
  val Channel = "ticks"
  val Twin = "ticks_twin"
  val Symbols = 1000
  val RowsPerRequest = 50
  /** A micro-batch of more than 1,024 rows evicts the subscriber, so
    * at this rate only a stall of about two seconds fails the step. */
  val RefRate = 500
  /** Reference step first, then the ladder. */
  val Steps: Seq[Int] = Seq(RefRate, 1000, 2000, 4000, 8000)
  /** Closed-loop bursts of [[BurstRows]] rows each; the median of
    * their completion rates is the workload's throughput. */
  val Bursts = 3
  val BurstRows = 10000
  /** The reference step's tail is the median of this many windows'
    * tails: one slow micro-batch holds hundreds of rows, so a single
    * percentile over the step would follow the slowest batch. */
  val TailWindows = 3
  val LimitP99Ms = 1000.0
  val DrainLimitNs = 1000000000L
  val Senders = 2
  /** Warm-up: micro-batches of [[CycleRows]] rows, each drained before
    * the next — at least [[MinCycles]] of them and for at least
    * [[CycleSec]] (the cold runtime takes seconds per batch, and an open
    * loop against it would pile one batch past the subscriber's
    * 1,024-frame outbox); then [[WarmupSec]] open loop at the reference
    * rate. */
  val CycleRows = 250
  val CycleSec = 1.5
  val MinCycles = 6
  val MaxCycles = 60
  val WarmupSec = 4.0

  def channelJson(name: String): String =
    s"""{"name":"$name","stateKeyby":["sym"],"fields":[""" +
      """{"name":"id","type":"string"},{"name":"timestamp","type":"timestamp"},""" +
      """{"name":"sym","type":"string"},{"name":"px","type":"double"},""" +
      """{"name":"qty","type":"long"},{"name":"due","type":"long"}]}"""

  def run(ctx: Ctx): Unit = new Ingest(ctx).run()
}

private final class Ingest(ctx: Ctx) {
  import Ingest._

  private val trace = ctx.args.trace
  private val report = ctx.report
  private val refSec = ctx.args.seconds * 0.8
  private val ladderSec = ctx.args.seconds * 0.05

  private final case class Step(name: String, rate: Int, seconds: Double, timed: Boolean,
      traced: Boolean) {
    val rows: Int = math.max(1, (rate * seconds / RowsPerRequest).toInt) * RowsPerRequest
  }

  private val plan: Seq[Step] =
    Seq(Step("warmup", RefRate, WarmupSec, timed = false, traced = false)) ++
      (if (trace) Seq(Step("ref_untraced", RefRate, refSec / 2, timed = true, traced = false),
        Step("ref", RefRate, refSec / 2, timed = true, traced = true))
      else Seq(Step("ref", RefRate, refSec, timed = true, traced = false))) ++
      Steps.tail.map(r => Step(s"r$r", r, ladderSec, timed = true, traced = trace))

  private val total = MaxCycles * CycleRows + plan.map(_.rows).sum + Bursts * BurstRows

  // ---- inputs, generated from the seed before anything is timed ----
  private val rnd = new java.util.SplittableRandom(ctx.args.seed)
  private val sym: Array[Int] = {
    val perm = Array.range(0, Symbols)
    var i = Symbols - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    // every symbol appears in the warm-up, so the final state has all keys
    Array.tabulate(total)(k => if (k < Symbols) perm(k) else rnd.nextInt(Symbols))
  }
  private val px: Array[Double] = Array.fill(total)(math.rint((100.0 + rnd.nextDouble() * 50.0) * 100) / 100)
  private val qty: Array[Long] = Array.fill(total)(1L + rnd.nextInt(1000))
  private val symNames = Array.tabulate(Symbols)(i => f"S$i%03d")

  // ---- observations ----
  private val arrival = new Array[Long](total)
  private val dueOf = new Array[Long](total)
  private val cbAt = new Array[Long](total)
  private val batchOf = Array.fill(total)(-1L)
  private val maxSeqSeen = Array.fill(Symbols)(-1L)
  private val arrived = new AtomicLong(0L)
  private val duplicates = new AtomicLong(0L)
  @volatile private var evicted = false
  @volatile private var closing = false

  private def body(first: Int, due: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(RowsPerRequest * 80)
    sb.append('[')
    var i = first
    while (i < first + RowsPerRequest) {
      if (i > first) sb.append(',')
      sb.append("{\"id\":\"r").append(i).append("\",\"sym\":\"").append(symNames(sym(i)))
        .append("\",\"px\":").append(px(i)).append(",\"qty\":").append(qty(i))
        .append(",\"due\":").append(due).append('}')
      i += 1
    }
    sb.append(']').toString.getBytes(UTF_8)
  }

  /** Send the request of rows `row0 until row0 + RowsPerRequest`, each
    * stamped with `due`; true on HTTP 200, false on another status or
    * an I/O error. */
  private def post(conn: HttpConn, row0: Int, due: Long): Boolean = {
    var i = row0
    while (i < row0 + RowsPerRequest) { dueOf(i) = due; i += 1 }
    try conn.request("POST", s"/api/v1/send/$Channel", body(row0, due))._1 == 200
    catch { case _: java.io.IOException => false }
  }

  private def maps(first: Int, due: Long): Seq[Map[String, Any]] =
    (first until first + RowsPerRequest).map(i => Map[String, Any](
      "id" -> s"r$i", "sym" -> symNames(sym(i)), "px" -> px(i), "qty" -> qty(i), "due" -> due))

  private def subscriber(ws: WsClient): Thread = {
    val t = new Thread(() => {
      val mapper = new ObjectMapper()
      var open = true
      while (open) ws.readText() match {
        case None =>
          if (!closing) evicted = true
          open = false
        case Some(bytes) =>
          val now = System.nanoTime()
          val node = mapper.readTree(bytes)
          if (node.path("channel").asText() == Channel) {
            val d = node.get("data")
            val i = d.get("id").asText().substring(1).toInt
            if (arrival(i) != 0L) duplicates.incrementAndGet() else arrival(i) = now
            val s = d.get("sym").asText().substring(1).toInt
            val seq = d.get(ChannelRuntime.SeqCol).asLong()
            if (seq > maxSeqSeen(s)) maxSeqSeen(s) = seq
            arrived.incrementAndGet() // volatile write publishes the arrays
          }
      }
    }, "perfbench-ws-reader")
    t.setDaemon(true)
    t
  }

  private final case class Outcome(step: Step, sendFailed: Int, lost: Int, dups: Long,
      drained: Boolean, backlog: Long, visible: Stats.Dist, send: Stats.Dist,
      late: Stats.Dist, service: Stats.Dist, direct: Stats.Dist, evictedDuring: Boolean,
      tickDelta: Long, sentOk: Long, windowedTail: Double) {
    def passes: Boolean = sendFailed == 0 && lost == 0 && dups == 0 && drained &&
      !evictedDuring && visible.n > 0 && visible.tail <= LimitP99Ms
  }

  private def runStep(step: Step, first: Int, rt: ChannelRuntime, conns: Seq[HttpConn]): Outcome = {
    val nReq = step.rows / RowsPerRequest
    val intervalNs = 1e9 * RowsPerRequest / step.rate
    val directMs = new DoubleBuf(nReq)
    val ticksBefore = rt.tickCount(Channel)
    val dupsBefore = duplicates.get()
    val res = OpenLoop.run(nReq, intervalNs, conns.size)(
      send = (w, k, due) => post(conns(w), first + k * RowsPerRequest, due),
      after = (_, k, due, start, end) => if (step.traced) {
        val root = ctx.tracer.span("gen.request", due, end, reqId = due)
        ctx.tracer.span("gen.late", due, start, root, due)
        ctx.tracer.span("server.http_send", start, end, root, due)
        val rows = maps(first + k * RowsPerRequest, due)
        val d0 = System.nanoTime()
        rt.send(Twin, rows)
        val d1 = System.nanoTime()
        directMs.add((d1 - d0) / 1e6)
        ctx.tracer.span("streaming.send_call", d0, d1, reqId = due)
      })
    val stepEnd = System.nanoTime()
    val sentOk = (nReq - res.failed).toLong * RowsPerRequest
    val expected = ticksBefore + sentOk
    val backlog = math.max(0L, expected - rt.tickCount(Channel))
    while (rt.tickCount(Channel) < expected && System.nanoTime() - stepEnd < DrainLimitNs)
      Thread.sleep(2)
    val drained = rt.tickCount(Channel) >= expected
    rt.processAllAvailable()
    val tickDelta = rt.tickCount(Channel) - ticksBefore
    // all frames of the step, unless the subscriber is gone
    val rowsEnd = first + step.rows
    def missing: Int = (first until rowsEnd).count(arrival(_) == 0L)
    val waitUntil = System.nanoTime() + 5000000000L
    while (!evicted && missing > 0 && System.nanoTime() < waitUntil)
      Thread.sleep(5)
    arrived.get() // acquire the reader's writes
    def visibleOf(rows: Range): Stats.Dist =
      Stats.distAt(rows.filter(arrival(_) != 0L).map(i => (arrival(i) - dueOf(i)) / 1e6), 99.0)
    val window = math.max(1, step.rows / TailWindows)
    val windows = (0 until TailWindows).map(w =>
      visibleOf(first + w * window until math.min(rowsEnd, first + (w + 1) * window)))
    val windowedTail = Stats.median(windows.map(_.tail))
    report.note(s"${step.name} windows: p50 " + windows.map(w => f"${w.p50}%.0f").mkString("/") +
      " tail " + windows.map(w => f"${w.tail}%.0f").mkString("/") + " ms")
    Outcome(step, res.failed, missing, duplicates.get() - dupsBefore, drained,
      backlog, visibleOf(first until rowsEnd), Stats.dist(res.latencyMs), Stats.dist(res.lateMs),
      Stats.dist(res.serviceMs), directMs.dist, evicted, tickDelta, sentOk, windowedTail)
  }

  /** Warm-up cycles from row `first`: send [[CycleRows]] rows, drain
    * the runtime, repeat until [[CycleSec]] have passed. Every row sent
    * must reach the subscriber once. */
  private def warmCycles(first: Int, rt: ChannelRuntime, conn: HttpConn): Unit = {
    val deadline = System.nanoTime() + (CycleSec * 1e9).toLong
    var row = first
    var cycles = 0
    while (cycles < MaxCycles && (cycles < MinCycles || System.nanoTime() < deadline)) {
      val end = row + CycleRows
      while (row < end) {
        report.check(post(conn, row, System.nanoTime()), "warm-up send: not HTTP 200")
        row += RowsPerRequest
      }
      rt.processAllAvailable()
      cycles += 1
    }
    val waitUntil = System.nanoTime() + 5000000000L
    def missing: Int = (first until row).count(arrival(_) == 0L)
    while (missing > 0 && !evicted && System.nanoTime() < waitUntil) Thread.sleep(5)
    report.check(missing == 0, s"warm-up: $missing frames lost")
    report.check(rt.tickCount(Channel) == row - first,
      s"warm-up: tickCount ${rt.tickCount(Channel)} != rows sent ${row - first}")
    report.note(s"warm-up: $cycles drained micro-batches of $CycleRows rows")
  }

  /** Closed-loop burst of [[BurstRows]] rows over both connections,
    * with no subscriber attached; returns rows per second from the
    * first send until the runtime has processed every row. */
  private def burst(first: Int, rt: ChannelRuntime, conns: Seq[HttpConn]): Double = {
    val nReq = BurstRows / RowsPerRequest
    val ticksBefore = rt.tickCount(Channel)
    val t0 = System.nanoTime()
    // every request is due at once: each worker sends back to back
    val res = OpenLoop.run(nReq, 0.0, conns.size, t0) { (w, k, due) =>
      post(conns(w), first + k * RowsPerRequest, due)
    }
    val sent = (nReq - res.failed).toLong * RowsPerRequest
    if (res.failed > 0) report.fail("burst: failed sends", res.failed.toLong * RowsPerRequest)
    val deadline = System.nanoTime() + 60000000000L
    while (rt.tickCount(Channel) < ticksBefore + sent && System.nanoTime() < deadline) Thread.sleep(1)
    val t1 = System.nanoTime()
    rt.processAllAvailable()
    report.check(rt.tickCount(Channel) - ticksBefore == sent,
      s"burst: tickCount delta ${rt.tickCount(Channel) - ticksBefore} != rows sent $sent")
    sent / ((t1 - t0) / 1e9)
  }

  /** Final state holds every symbol, each at the max `_seq` seen on WS. */
  private def checkState(rt: ChannelRuntime, label: String): Unit = {
    arrived.get()
    val rows = rt.state(Channel)
    report.check(rows.size == Symbols, s"$label: state has ${rows.size} keys, expected $Symbols")
    val schema = rt.runtimeSchema(rt.specs(Channel))
    val si = schema.fieldNames.indexOf("sym")
    val qi = schema.fieldNames.indexOf(ChannelRuntime.SeqCol)
    val stale = rows.count(r => r.getLong(qi) != maxSeqSeen(r.getString(si).substring(1).toInt))
    report.check(stale == 0, s"$label: $stale keys not at the max _seq seen on WS")
  }

  def run(): Unit = {
    val channels = (Seq(Channel) ++ (if (trace) Seq(Twin) else Nil)).map(channelJson)
    val config = s"""{"port":0,"channels":[${channels.mkString(",")}]}"""
    // set-up, measured several times: a stack of the run's channels is
    // started, fed one micro-batch over HTTP, drained and stopped
    (0 until Ctx.SetupReps).foreach { _ =>
      ctx.setupRep {
        val l = ctx.startGateway(config)
        try {
          val conn = new HttpConn(l.gateway.boundPort)
          try (0 until CycleRows by RowsPerRequest).foreach { row =>
            report.check(post(conn, row, System.nanoTime()), "set-up send: not HTTP 200")
          } finally conn.close()
          l.runtime.processAllAvailable()
          report.check(l.runtime.tickCount(Channel) == CycleRows,
            s"set-up: tickCount ${l.runtime.tickCount(Channel)} != rows sent $CycleRows")
        } finally { l.gateway.stop(); l.runtime.stop() }
      }
    }
    val loaded = ctx.startGateway(config)
    val rt = loaded.runtime
    val gw = loaded.gateway
    val probes = if (trace) Some(new Probes(ctx.spark)) else None
    if (trace) rt.addListener { (ch, rows) =>
      if (ch == Channel) {
        val now = System.nanoTime()
        val b = Option(ctx.spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
          .map(_.toLong).getOrElse(-1L)
        rows.foreach { r =>
          val i = r.getString(0).substring(1).toInt
          cbAt(i) = now
          batchOf(i) = b
        }
      }
    }
    val ws = new WsClient(gw.wsPort)
    val reader = subscriber(ws)
    reader.start()
    ws.sendText(s"""{"action":"subscribe","channel":"$Channel"}""")
    Thread.sleep(500)
    val conns = (1 to Senders).map(_ => new HttpConn(gw.boundPort))
    val outcomes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    warmCycles(0, rt, conns.head)
    var first = MaxCycles * CycleRows
    var stopped = false
    var maxRate = 0
    var tracedFrom = 0
    var tracedRows = 0
    var engine = EngineProbe.Totals(0, 0, 0, 0, 0, 0)
    plan.foreach { step =>
      val isRef = step.name.startsWith("ref") || step.name == "warmup"
      // the warm-up and reference steps always run; the ladder stops at
      // the first step over the limit
      if (isRef || !stopped) {
        if (step.timed) ctx.startTimed()
        val tracedRef = step.traced && step.name == "ref"
        def engineNow = probes.map(p => p.engine.totals("q:" + p.queryId(s"graft_$Channel")))
        val engineBefore = if (tracedRef) engineNow else None
        val o = runStep(step, first, rt, conns)
        if (tracedRef) {
          tracedFrom = first; tracedRows = step.rows
          Thread.sleep(200) // the listener bus delivers the last task ends
          engine = engineNow.get - engineBefore.get
        }
        outcomes += o
        if (step.timed) report.attempt(step.rows)
        if (isRef) {
          // these steps must deliver every row exactly once whatever their
          // latency: every miss is a failed operation
          if (o.sendFailed > 0) report.fail(s"${step.name}: failed sends", o.sendFailed.toLong * RowsPerRequest)
          if (o.lost > 0) report.fail(s"${step.name}: frames lost", o.lost)
          if (o.dups > 0) report.fail(s"${step.name}: duplicate frames", o.dups)
          if (o.evictedDuring) report.fail(s"${step.name}: subscriber evicted")
        }
        if (isRef || o.passes) {
          report.check(o.tickDelta == o.sentOk,
            s"${step.name}: tickCount delta ${o.tickDelta} != rows sent ${o.sentOk}")
          if (!o.evictedDuring) checkState(rt, step.name)
        }
        if (o.passes) {
          if (step.timed) maxRate = math.max(maxRate, step.rate)
        } else if (step.timed) stopped = true
        report.note(f"${step.name}: ${step.rate} rows/s x ${step.seconds}%.2f s: visible " +
          o.visible.describe("ms") + " send " + o.send.describe("ms") +
          f" | late p99 ${o.late.tail}%.2f max ${o.late.max}%.2f ms, failed sends ${o.sendFailed}, " +
          s"lost ${o.lost}, dups ${o.dups}, drained ${o.drained}, backlog ${o.backlog}, " +
          s"evicted ${o.evictedDuring} => ${if (o.passes) "within limit" else "over limit"}")
      }
      first += step.rows
    }
    // the burst measures ingest without egress: the subscriber (if the
    // ladder has not evicted it) leaves first
    closing = true
    ws.close()
    reader.join(5000)
    val rates = (0 until Bursts).map { b =>
      report.attempt(BurstRows)
      burst(first + b * BurstRows, rt, conns)
    }
    val burstRate = Stats.median(rates)
    report.note(s"bursts: $Bursts x $BurstRows rows in closed loop, rows/s until processed " +
      rates.map(r => f"$r%.0f").mkString("/"))
    val ref = outcomes.find(_.step.name == "ref").get
    report.metric("op_p50_ms", ref.visible.p50, "ms")
    report.metric("op_tail_ms", ref.windowedTail, "ms")
    report.metric("ops_per_s", burstRate, "1/s")
    report.metric("server.max_rate_rows_s", maxRate.toDouble, "1/s")
    report.metric("server.send_p50_ms", ref.send.p50, "ms")
    report.metric("jvm.gc_ms", ctx.gcSinceStart().toDouble, "ms")
    report.metric("server.ws_frames", arrived.get().toDouble, "count")
    report.metric("server.ws_evictions", if (evicted) 1.0 else 0.0, "count")
    report.metric("streaming.backlog_rows", outcomes.map(_.backlog).max.toDouble, "rows")
    outcomes.filter(_.step.timed).foreach { o =>
      if (o.step.name.startsWith("r")) {
        val key = if (o.step.name.startsWith("ref")) s"r$RefRate" else o.step.name
        report.metric(s"gen.late_p99_ms.$key", o.late.tail, "ms")
        report.metric(s"gen.late_max_ms.$key", o.late.max, "ms")
      }
    }
    report.note(s"visible_p50_ms=${ref.visible.p50} visible_p99_ms=${ref.visible.tail} " +
      s"(median of $TailWindows window tails ${ref.windowedTail}) send_p50_ms=${ref.send.p50} " +
      s"max_rate_rows_s=$maxRate burst_rows_s=$burstRate (ref n=${ref.visible.n})")
    probes.foreach(p => traced(p, outcomes.toSeq, tracedFrom, tracedRows, engine))
    conns.foreach(_.close())
    gw.stop()
    rt.stop()
  }

  /** Per-layer metrics of the traced reference step: rows
    * `from until from + n`, engine work `e` of its micro-batches. */
  private def traced(p: Probes, outcomes: Seq[Outcome], from: Int, n: Int,
      e: EngineProbe.Totals): Unit = {
    val ref = outcomes.find(_.step.name == "ref").get
    val untraced = outcomes.find(_.step.name == "ref_untraced").get
    report.tracedOps = n
    report.metric("server.send_overhead_ms", ref.service.p50 - ref.direct.p50, "ms")
    report.metric("streaming.send_call_ms", ref.direct.p50, "ms")
    report.metric("trace.untraced_p50_ms", untraced.visible.p50, "ms")
    report.metric("trace.traced_p50_ms", ref.visible.p50, "ms")
    report.metric("trace.overhead_ms", ref.visible.p50 - untraced.visible.p50, "ms")
    val starts = p.stream.startMillis(s"graft_$Channel")
    val tw, b2l, egress = new DoubleBuf(n)
    (from until from + n).foreach { i =>
      val bs = starts.get(batchOf(i)).map(_ * 1000000L + p.epochToNanos)
      if (arrival(i) != 0L && cbAt(i) != 0L && bs.isDefined) {
        val start = bs.get
        tw.add((start - dueOf(i)) / 1e6)
        b2l.add((cbAt(i) - start) / 1e6)
        egress.add((arrival(i) - cbAt(i)) / 1e6)
        val root = ctx.tracer.span("e2e.visible", dueOf(i), arrival(i), reqId = dueOf(i))
        ctx.tracer.span("streaming.trigger_wait", dueOf(i), start, root, dueOf(i))
        ctx.tracer.span("streaming.batch", start, cbAt(i), root, dueOf(i))
        ctx.tracer.span("server.ws_egress", cbAt(i), arrival(i), root, dueOf(i))
      }
    }
    val twd = tw.dist; val b2ld = b2l.dist; val egd = egress.dist
    report.metric("streaming.trigger_wait_ms", twd.p50, "ms")
    report.metric("streaming.batch_to_listener_ms", b2ld.p50, "ms")
    report.metric("server.ws_egress_ms", egd.p50, "ms")
    val ids = (from until from + n).map(batchOf).toSet
    val batches = p.stream.batchesOf(s"graft_$Channel").filter(b => ids.contains(b.batchId))
    val bd = Stats.dist(batches.map(_.triggerMs.toDouble))
    report.metric("streaming.batch_ms", bd.p50, "ms")
    report.metric("streaming.add_batch_ms", Stats.median(batches.map(_.addBatchMs.toDouble)), "ms")
    report.metric("streaming.planning_ms", Stats.median(batches.map(_.planningMs.toDouble)), "ms")
    report.metric("streaming.commit_ms", Stats.median(batches.map(_.commitMs.toDouble)), "ms")
    report.metric("streaming.batches", batches.size.toDouble, "count")
    report.metric("streaming.batch_rows",
      if (batches.isEmpty) 0.0 else batches.map(_.inputRows).sum.toDouble / batches.size, "rows")
    report.metric("trace.visible_accounted_ratio",
      if (ref.visible.p50 > 0) (twd.p50 + b2ld.p50 + egd.p50) / ref.visible.p50 else 0.0, "ratio")
    val nb = math.max(1, batches.size).toDouble
    report.metric("spark.jobs_per_batch", e.jobs / nb, "count")
    report.metric("spark.tasks_per_batch", e.tasks / nb, "count")
    report.metric("spark.shuffle_bytes_per_batch", (e.shuffleRead + e.shuffleWrite) / nb, "bytes")
    report.note("traced ref: trigger_wait " + twd.describe("ms") + "; batch_to_listener " +
      b2ld.describe("ms") + "; ws_egress " + egd.describe("ms") + "; batch " + bd.describe("ms"))
  }
}
