package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import graft.server.GatewayConfig
import graft.state.{FilterBy, StateFastPath, StateFilter, StateQuery}
import graft.streaming.ChannelRuntime

/** `state_read`: two closed-loop reader connections against channel
  * `book` (20,000 keys in 100 groups) — 70 % filtered `state`, 10 %
  * full `state`, 10 % `last`, 10 % `lookup` of a known id — while a
  * third thread updates existing keys at 2,000 rows/s through
  * `ChannelRuntime.send`.
  */
object StateRead {
  val Channel = "book"
  val Twin = "book_twin"
  val Keys = 20000
  val Groups = 100
  /** Two, not three: each read keeps a server thread and its reader
    * busy, and with three readers the four cores saturated and runs
    * spread 0.31–0.34 around their median (0.13–0.22 with two). */
  val Readers = 2
  val WriteRate = 2000
  val WriteBatch = 50
  val WarmupSec = 2.0
  val Routes: Seq[String] = Seq("state_filtered", "state_full", "last", "lookup")
  /** Fixed tail percentile: a run completes 500–1,000 reads, which
    * leaves p99 with fewer than ten samples beyond it. */
  val TailPercentile = 95.0

  def channelJson(name: String): String =
    s"""{"name":"$name","stateKeyby":["key"],"fields":[""" +
      """{"name":"id","type":"string"},{"name":"timestamp","type":"timestamp"},""" +
      """{"name":"key","type":"long"},{"name":"grp","type":"long"},""" +
      """{"name":"px","type":"double"},{"name":"qty","type":"long"}]}"""

  def run(ctx: Ctx): Unit = new StateRead(ctx).run()
}

private final class StateRead(ctx: Ctx) {
  import StateRead._

  private val report = ctx.report
  private val trace = ctx.args.trace
  private val seconds = ctx.args.seconds.toDouble
  private val json = new JsonFactory()

  // ---- inputs, generated from the seed ----
  private val rnd = new java.util.SplittableRandom(ctx.args.seed)
  private val preload: Seq[Map[String, Any]] = (0 until Keys).map { k =>
    Map[String, Any]("id" -> s"b$k", "key" -> k.toLong, "grp" -> (k % Groups).toLong,
      "px" -> math.rint(rnd.nextDouble() * 1e6) / 100, "qty" -> (1L + rnd.nextInt(1000)))
  }
  /** Operation mix per reader: (route index, argument). Every block of
    * ten operations holds the exact mix in seeded order, so the share
    * of expensive full reads does not drift between seeds. */
  private val opsPerReader = 200000
  private val block = Array(0, 0, 0, 0, 0, 0, 0, 1, 2, 3)
  private val ops: Array[Array[Long]] = Array.fill(Readers) {
    Array.range(0, opsPerReader / block.length).flatMap { _ =>
      val b = block.clone()
      var i = b.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1 }
      b.map { route =>
        val arg = route match {
          case 0 => rnd.nextInt(Groups).toLong
          case 3 => rnd.nextInt(Keys).toLong
          case _ => 0L
        }
        (route.toLong << 32) | arg
      }
    }
  }
  private val writeKeys: Array[Int] = Array.fill(WriteRate * 120)(rnd.nextInt(Keys))
  private val writePx: Array[Double] = Array.fill(writeKeys.length)(math.rint(rnd.nextDouble() * 1e6) / 100)

  private def query(g: Long): StateQuery =
    StateQuery(Seq(StateFilter("grp", FilterBy.Value(g), "==")))

  private def path(route: Int, arg: Long): String = route match {
    case 0 =>
      val q = s"""{"filters":[{"attr":"grp","by":{"value":$arg},"where":"=="}]}"""
      s"/api/v1/state/$Channel?query=" + java.net.URLEncoder.encode(q, "UTF-8")
    case 1 => s"/api/v1/state/$Channel"
    case 2 => s"/api/v1/last/$Channel"
    case _ => s"/api/v1/lookup/$Channel/b$arg"
  }

  /** Output check of one response body; returns the failed check's
    * name, or null when the body is right. */
  private def verify(route: Int, arg: Long, body: Array[Byte]): String = {
    val p = json.createParser(body)
    try route match {
      case 0 | 1 =>
        if (p.nextToken() != JsonToken.START_ARRAY) return "state: not an array"
        var n = 0
        var lastKey = -1L
        var bad: String = null
        while (p.nextToken() == JsonToken.START_OBJECT) {
          var key = -1L
          var grp = -1L
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val f = p.getCurrentName
            p.nextToken()
            if (f == "key") key = p.getLongValue
            else if (f == "grp") grp = p.getLongValue
            else p.skipChildren()
          }
          if (bad == null && key <= lastKey) bad = "state: rows not in key order"
          if (bad == null && route == 0 && grp != arg) bad = "state_filtered: row outside the group"
          if (bad == null && route == 1 && key != n) bad = "state_full: key set differs"
          lastKey = key
          n += 1
        }
        if (bad != null) bad
        else if (route == 0 && n != Keys / Groups) s"state_filtered: $n rows, expected ${Keys / Groups}"
        else if (route == 1 && n != Keys) s"state_full: $n rows, expected $Keys"
        else null
      case 2 =>
        if (p.nextToken() != JsonToken.START_ARRAY) return "last: not an array"
        var n = 0
        while (p.nextToken() == JsonToken.START_OBJECT) { p.skipChildren(); n += 1 }
        if (n == 1) null else s"last: $n rows, expected 1"
      case _ =>
        if (p.nextToken() != JsonToken.START_OBJECT) return "lookup: not an object"
        var id: String = null
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val f = p.getCurrentName
          p.nextToken()
          if (f == "id") id = p.getText else p.skipChildren()
        }
        if (id == s"b$arg") null else s"lookup: returned id $id"
    } finally p.close()
  }

  /** Per-route recorders. */
  private final class Recorders {
    val http: Array[DoubleBuf] = Array.fill(4)(new DoubleBuf(1 << 14))
    val direct: Array[DoubleBuf] = Array.fill(4)(new DoubleBuf(1 << 12))
    val all = new DoubleBuf(1 << 15)
    val bytes = new AtomicLong(0L)
    val fastHits, fastCalls, scanned, returned = new AtomicLong(0L)
  }

  /** Readers run until `deadline`; in the traced phase each HTTP read
    * is followed by the same read made directly on the twin channel. */
  private def readPhase(rt: ChannelRuntime, conns: Seq[HttpConn], deadline: Long,
      counted: Boolean, traced: Boolean, rec: Recorders, cursor: Array[Int]): Unit = {
    val errors = new ErrorLatch
    lazy val schema = rt.runtimeSchema(rt.specs(Twin))
    val threads = conns.indices.map { t =>
      new Thread(() => try {
        val conn = conns(t)
        var frontier: Seq[org.apache.spark.sql.Row] = Nil
        var frontierAt = 0L
        while (System.nanoTime() < deadline) {
          val op = ops(t)(cursor(t) % opsPerReader)
          cursor(t) += 1
          val route = (op >>> 32).toInt
          val arg = op & 0xffffffffL
          val start = System.nanoTime()
          val (status, body) =
            try conn.request("GET", path(route, arg))
            catch { case _: java.io.IOException => (-1, Array.emptyByteArray) }
          val end = System.nanoTime()
          val problem = if (status != 200) s"${Routes(route)}: HTTP $status" else verify(route, arg, body)
          if (counted) {
            report.attempt()
            if (problem != null) report.fail(problem)
            else {
              rec.http(route).add((end - start) / 1e6)
              rec.all.add((end - start) / 1e6)
              rec.bytes.addAndGet(body.length)
            }
          } else if (problem != null) report.fail(s"warm-up ${problem}")
          if (traced) {
            ctx.tracer.span(s"server.${Routes(route)}", start, end, reqId = start)
            val d0 = System.nanoTime()
            route match {
              case 0 => rt.state(Twin, query(arg))
              case 1 => rt.state(Twin)
              case 2 => rt.last(Twin)
              case _ => rt.lookup(Twin, s"b$arg")
            }
            val d1 = System.nanoTime()
            rec.direct(route).add((d1 - d0) / 1e6)
            ctx.tracer.span(s"state.${Routes(route)}", d0, d1, reqId = start)
            if (route <= 1) {
              if (d1 - frontierAt > 1000000000L) {
                frontier = rt.state(Twin); frontierAt = System.nanoTime()
              }
              val q = if (route == 0) query(arg) else StateQuery()
              val f0 = System.nanoTime()
              val res = StateFastPath.tryEval(frontier, schema, Seq("key"), q,
                tieBreak = Seq(ChannelRuntime.SeqCol))
              ctx.tracer.span("state.fastpath", f0, System.nanoTime(), reqId = start)
              rec.fastCalls.incrementAndGet()
              rec.scanned.addAndGet(frontier.size)
              res.foreach { rows => rec.fastHits.incrementAndGet(); rec.returned.addAndGet(rows.size) }
            }
          }
        }
      } catch { case e: Throwable => errors.record(e) }, "perfbench-reader")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.rethrow()
  }

  /** Starts a stack of the run's channels and preloads every key. */
  private def preloaded(config: String): GatewayConfig.Loaded = {
    val l = ctx.startGateway(config)
    (Seq(Channel) ++ (if (trace) Seq(Twin) else Nil)).foreach { ch =>
      preload.grouped(1000).foreach(l.runtime.send(ch, _))
    }
    l.runtime.processAllAvailable()
    val n = l.runtime.state(Channel).size
    report.check(n == Keys, s"preload: state holds $n keys")
    l
  }

  def run(): Unit = {
    val channels = (Seq(Channel) ++ (if (trace) Seq(Twin) else Nil)).map(channelJson)
    val config = s"""{"port":0,"channels":[${channels.mkString(",")}]}"""
    // set-up, measured several times: a stack is started, preloaded
    // and stopped
    (0 until Ctx.SetupReps).foreach { _ =>
      ctx.setupRep {
        val l = preloaded(config)
        l.gateway.stop()
        l.runtime.stop()
      }
    }
    val loaded = preloaded(config)
    val rt = loaded.runtime
    val gw = loaded.gateway
    val probes = if (trace) Some(new Probes(ctx.spark)) else None

    // background writer: open loop, updates of existing keys
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val writeErrors = new ErrorLatch
    val writer = new Thread(() => try {
      val interval = 1e9 * WriteBatch / WriteRate
      val t0 = System.nanoTime()
      var k = 0
      while (writing.get()) {
        Jvm.sleepUntil(t0 + (k * interval).toLong)
        val base = (k * WriteBatch) % (writeKeys.length - WriteBatch)
        val rows = (base until base + WriteBatch).map { i =>
          val key = writeKeys(i)
          Map[String, Any]("key" -> key.toLong, "grp" -> (key % Groups).toLong,
            "px" -> writePx(i), "qty" -> (1L + i % 1000))
        }
        rt.send(Channel, rows)
        k += 1
      }
    } catch { case e: Throwable => writeErrors.record(e) }, "perfbench-writer")
    writer.setDaemon(true)
    writer.start()

    val conns = (1 to Readers).map(_ => new HttpConn(gw.boundPort))
    val cursor = new Array[Int](Readers)
    val warm = new Recorders
    readPhase(rt, conns, System.nanoTime() + (WarmupSec * 1e9).toLong, counted = false,
      traced = false, warm, cursor)
    ctx.startTimed()
    val untraced = new Recorders
    val tracedRec = new Recorders
    val untracedSec = if (trace) seconds / 2 else seconds
    val u0 = System.nanoTime()
    readPhase(rt, conns, u0 + (untracedSec * 1e9).toLong, counted = true, traced = false,
      untraced, cursor)
    val u1 = System.nanoTime()
    def engineNow = probes.map(p => p.engine.totals("q:" + p.queryId(s"graft_$Channel")))
    val engineBefore = engineNow
    if (trace)
      readPhase(rt, conns, u1 + ((seconds - untracedSec) * 1e9).toLong, counted = true,
        traced = true, tracedRec, cursor)
    val until = System.nanoTime()
    Thread.sleep(200) // the listener bus delivers the last task ends
    val engineWork = engineNow.zip(engineBefore).map { case (a, b) => a - b }
    writing.set(false)
    writer.join()
    writeErrors.rethrow()
    report.check(rt.state(Channel).size == Keys, s"end: state holds ${rt.state(Channel).size} keys")

    val d = Stats.distAt(untraced.all.values, TailPercentile)
    report.metric("op_p50_ms", d.p50, "ms")
    report.metric("op_tail_ms", d.tail, "ms")
    report.metric("ops_per_s", d.n / ((u1 - u0) / 1e9), "1/s")
    report.metric("jvm.gc_ms", ctx.gcSinceStart().toDouble, "ms")
    report.note(s"read_rps=${d.n / ((u1 - u0) / 1e9)} read " + d.describe("ms"))
    Routes.indices.foreach(r => report.note(s"${Routes(r)}: " + untraced.http(r).dist.describe("ms")))
    probes.foreach { p =>
      val t = tracedRec
      val td = t.all.dist
      report.tracedOps = td.n
      report.metric("trace.untraced_p50_ms", d.p50, "ms")
      report.metric("trace.traced_p50_ms", td.p50, "ms")
      report.metric("trace.overhead_ms", td.p50 - d.p50, "ms")
      Routes.indices.foreach { r =>
        val direct = t.direct(r).dist
        report.metric(s"state.query_ms.${Routes(r)}", direct.p50, "ms")
        report.metric(s"server.read_overhead_ms.${Routes(r)}", t.http(r).dist.p50 - direct.p50, "ms")
        report.note(s"traced ${Routes(r)}: http " + t.http(r).dist.describe("ms") +
          "; direct " + direct.describe("ms"))
      }
      report.metric("server.response_bytes", t.bytes.get().toDouble / math.max(1, td.n), "bytes")
      val calls = t.fastCalls.get().toDouble
      report.metric("state.fastpath_calls", calls, "count")
      report.metric("state.fastpath_hit_ratio", if (calls > 0) t.fastHits.get() / calls else 0.0, "ratio")
      report.metric("state.rows_scanned", if (calls > 0) t.scanned.get() / calls else 0.0, "rows")
      report.metric("state.rows_returned",
        if (t.fastHits.get() > 0) t.returned.get().toDouble / t.fastHits.get() else 0.0, "rows")
      val batches = p.stream.batches(u1, until).filter(_.query == s"graft_$Channel")
      report.metric("streaming.batch_ms", Stats.median(batches.map(_.triggerMs.toDouble)), "ms")
      report.metric("streaming.add_batch_ms", Stats.median(batches.map(_.addBatchMs.toDouble)), "ms")
      report.metric("streaming.planning_ms", Stats.median(batches.map(_.planningMs.toDouble)), "ms")
      report.metric("streaming.commit_ms", Stats.median(batches.map(_.commitMs.toDouble)), "ms")
      report.metric("streaming.batches", batches.size.toDouble, "count")
      report.metric("streaming.batch_rows",
        if (batches.isEmpty) 0.0 else batches.map(_.inputRows).sum.toDouble / batches.size, "rows")
      val e = engineWork.get
      val nb = math.max(1, batches.size).toDouble
      report.metric("spark.jobs_per_batch", e.jobs / nb, "count")
      report.metric("spark.tasks_per_batch", e.tasks / nb, "count")
      report.metric("spark.shuffle_bytes_per_batch", (e.shuffleRead + e.shuffleWrite) / nb, "bytes")
    }
    conns.foreach(_.close())
    gw.stop()
    rt.stop()
  }
}
