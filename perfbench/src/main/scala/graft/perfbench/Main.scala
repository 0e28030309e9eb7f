package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.server.GatewayConfig

/** Command-line arguments of one benchmark run. */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    /** Scratch root inside the checkout (checkpoints, data, spans). */
    work: Path,
    /** Catalog only: write the expected-output file instead of checking. */
    recordExpected: Option[Path],
    expected: Path,
    /** Where a traced run writes its spans. */
    spans: Path)

/** Everything a workload needs: session, arguments, report, tracer.
  * `sessionSeconds` is the time from process start until the session
  * was built. */
final class Ctx(val spark: SparkSession, val args: RunArgs, sessionSeconds: Double) {
  val report = new Report
  val tracer = new Tracer(args.trace)
  private var timed = false
  private var gcAtStart = 0L
  private val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var gateways = 0

  /** Runs one repetition of the workload's set-up and records its
    * seconds; a workload runs [[Ctx.SetupReps]] of them. */
  def setupRep(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setups += (System.nanoTime() - t0) / 1e9
  }

  /** Marks the first timed operation. `setup_s` is the session's build
    * time plus the median of the recorded set-up repetitions. */
  def startTimed(): Unit = if (!timed) {
    timed = true
    gcAtStart = Jvm.gcMillis()
    val rep = Stats.median(setups)
    report.metric("setup_s", sessionSeconds + rep, "s")
    report.note(f"set-up: session $sessionSeconds%.3f s + median $rep%.3f s of ${setups.size} set-ups (" +
      setups.map(x => f"$x%.3f").mkString("/") + " s)")
  }

  /** GC time since the first timed operation. */
  def gcSinceStart(): Long = Jvm.gcMillis() - gcAtStart

  /** Scratch directory for this run under the work root, deleted when
    * the run ends. */
  def scratch(name: String): Path = {
    val p = args.work.resolve(s"$name-${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    Files.createDirectories(p)
    graft.core.Scratch.track(p.toString)
    p
  }

  /** Runtime + gateway started the way the launcher starts them: a
    * JSON gateway config through [[GatewayConfig.load]], checkpoints
    * kept inside the run's scratch directory. */
  def startGateway(configJson: String): GatewayConfig.Loaded = {
    gateways += 1
    val loaded = GatewayConfig.load(spark, configJson,
      checkpointDir = Some(scratch(s"ckpt$gateways").toString))
    loaded.runtime.start()
    loaded.gateway.start()
    loaded
  }
}

object Ctx {
  /** Repetitions of a workload's set-up whose median is `setup_s`. */
  val SetupReps = 3
}

/** Metric names the harness contract expects, in print order. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "live_heap_mb" -> "MB",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s")

  private val routes = Seq("state_filtered", "state_full", "last", "lookup")

  val PerLayer: Seq[(String, String)] =
    Seq("server.send_p50_ms" -> "ms", "server.send_overhead_ms" -> "ms") ++
      routes.map(r => s"server.read_overhead_ms.$r" -> "ms") ++
      Seq("server.ws_egress_ms" -> "ms", "server.ws_frames" -> "count",
        "server.ws_evictions" -> "count", "server.response_bytes" -> "bytes",
        "server.max_rate_rows_s" -> "1/s",
        "streaming.send_call_ms" -> "ms", "streaming.trigger_wait_ms" -> "ms",
        "streaming.batch_to_listener_ms" -> "ms", "streaming.batch_ms" -> "ms",
        "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
        "streaming.commit_ms" -> "ms", "streaming.batch_rows" -> "rows",
        "streaming.batches" -> "count", "streaming.backlog_rows" -> "rows") ++
      routes.map(r => s"state.query_ms.$r" -> "ms") ++
      Seq("state.fastpath_hit_ratio" -> "ratio", "state.fastpath_calls" -> "count",
        "state.rows_scanned" -> "rows", "state.rows_returned" -> "rows",
        "spark.jobs_per_batch" -> "count", "spark.tasks_per_batch" -> "count",
        "spark.shuffle_bytes_per_batch" -> "bytes") ++
      Catalog.Entries.flatMap { e =>
        Seq(s"catalog.$e.build_s" -> "s", s"catalog.$e.plan_s" -> "s",
          s"catalog.$e.exec_s" -> "s", s"catalog.$e.shuffle_read_bytes" -> "bytes",
          s"catalog.$e.shuffle_write_bytes" -> "bytes", s"catalog.$e.spill_bytes" -> "bytes",
          s"catalog.$e.tasks" -> "count", s"catalog.$e.gc_s" -> "s")
      } ++
      Catalog.Twins.map(e => s"catalog.$e.batch_ms" -> "ms") ++
      Seq("catalog.twin_floor_s" -> "s", "jvm.gc_ms" -> "ms") ++
      Ingest.Steps.flatMap(r => Seq(s"gen.late_p99_ms.r$r" -> "ms", s"gen.late_max_ms.r$r" -> "ms")) ++
      Seq("gen", "server", "streaming", "state", "catalog", "spark", "e2e").map(l => s"self_ms.$l" -> "ms") ++
      Seq("trace.untraced_p50_ms" -> "ms", "trace.traced_p50_ms" -> "ms",
        "trace.overhead_ms" -> "ms", "trace.visible_accounted_ratio" -> "ratio",
        "trace.spans" -> "count")
}

object Main {
  private def parse(argv: Array[String]): RunArgs = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Set("ingest", "state_read", "catalog").contains(workload), s"unknown workload '$workload'")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    RunArgs(workload, need("seed").toLong, seconds, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, kv.get("record-expected").map(Paths.get(_)),
      Paths.get(kv.getOrElse("expected", "perfbench/expected/catalog.json")),
      Paths.get(kv.getOrElse("spans", "spans.jsonl")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-perfbench", cpus)
    val sessionSeconds = (System.currentTimeMillis() - Jvm.startMillis) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, sessionSeconds)
    val code =
      try {
        args.workload match {
          case "ingest"     => Ingest.run(ctx)
          case "state_read" => StateRead.run(ctx)
          case "catalog"    => Catalog.run(ctx)
        }
        ctx.report.metric("live_heap_mb", Jvm.liveHeapMb(), "MB")
        if (args.trace) {
          val self = ctx.tracer.selfTimes()
          ctx.report.metric("trace.spans", ctx.tracer.count.toDouble, "count")
          val ops = math.max(1.0, ctx.report.tracedOps.toDouble)
          self.foreach { case (layer, ms) => ctx.report.metric(s"self_ms.$layer", ms / ops, "ms") }
          ctx.tracer.write(args.spans)
        }
        println(ctx.report.render(if (args.trace) Metrics.PerLayer else Metrics.EndToEnd))
        0
      } catch {
        case t: Throwable =>
          Console.err.println(ctx.report.render(Nil))
          t.printStackTrace()
          1
      } finally graft.core.Scratch.sweep()
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    // the gateway's HTTP executor and the ws threads are non-daemon:
    // exit explicitly once the result line is out
    Runtime.getRuntime.halt(code)
  }
}
