package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingState

/** Streaming-parity query catalog: the [[StreamingState]] operators —
  * the re-expression of the reference's state-accumulation core
  * (csp_gateway/server/gateway/csp/state.py:649-660) on Spark's
  * sharded, checkpointed state store — fed through `MemoryStream`
  * micro-batches and gate-checked against the SAME DuckDB oracles as
  * their batch counterparts.
  *
  * Each entry splits a driver-provided table into several ascending
  * ticks (deterministic arrival order), runs the streaming operator
  * across those micro-batches — so cross-batch state carry is what is
  * actually under test — and returns the finished result as a batch
  * frame for the hash gate. The driver-side `collect()` feeding the
  * stream is the TEST HARNESS (MemoryStream's contract, same as
  * `StreamingStateSpec`), not the operator: the operators themselves
  * run distributed (`flatMapGroupsWithState` on the keyed state store,
  * watermarked stream-stream join), exactly as they would against a
  * Kafka source on a cluster.
  */
/** Fixed deterministic quantizer for gate entries: 4 centroids over
  * 64 dims from an integer formula, rendered identically into the
  * oracle SQL (the dsirStubWeights pattern) — so cluster-family gates
  * cover assignment + accumulation with no data-fitted model in the
  * loop. Lives OUTSIDE both query catalogs: each references it during
  * its own object init, and a catalog-to-catalog reference at init
  * time is a class-initialization cycle (NPE).
  */
object StubQuantizer {
  val cents: Array[(Long, Seq[Double])] =
    Array.tabulate(4)(c =>
      (c.toLong, (0 until 64).map(d => (((c * 31 + d * 7) % 11) - 5).toDouble)))

  /** The same formula as a DuckDB `cents(c, ce)` CTE body. */
  def sql: String =
    """cents AS (SELECT c, [CAST((c*31 + d*7) % 11 - 5 AS DOUBLE) for d in generate_series(0, 63)] AS ce
      |          FROM (SELECT unnest(generate_series(0, 3)) AS c))""".stripMargin

  /** NORMALIZED-then-quantized integer centroids (trunc(ĉ·2^10)) for
    * the all-integer margin audit (c7): computed once here and
    * rendered as literals into BOTH the Spark plan and the oracle
    * SQL, so no engine ever divides or truncs a float at gate time. */
  lazy val qcents: Seq[(Long, Seq[Long])] = cents.toSeq.map { case (c, v) =>
    val norm = math.sqrt(v.map(x => x * x).sum)
    (c, v.map(x => ((x / norm) * 1024.0).toLong))
  }

  /** [[qcents]] as a DuckDB `qcents(c, qce)` VALUES CTE body. */
  def qsql: String = {
    val rows = qcents.map { case (c, v) =>
      s"($c, [${v.mkString(", ")}]::BIGINT[])"
    }.mkString(",\n      ")
    s"qcents AS (SELECT * FROM (VALUES\n      $rows) t(c, qce))"
  }
}

object StreamingQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables.load(s, dir, name)

  private val runSeq = new AtomicLong(0L)

  /** Ordered-feed cache for the gate harness: many entries stream the
    * SAME frame (events by ts, documents by doc_id, …), and the
    * per-entry `orderBy(col).collect()` was ~0.5–1 s of pure harness
    * repeat inside a Verify/Bench JVM. Keyed by the canonicalized
    * logical plan + order column (verified with `sameResult`, not just
    * the hash), values held softly so a tight driver heap can reclaim
    * them. Harness-only: the production path (ChannelRuntime) never
    * collects feeds.
    */
  private val feedCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      java.lang.ref.SoftReference[Array[Row]])]()

  /** Test hook: force the gate's state-partition count (the
    * 32-partition canary proving results are partition-count
    * independent — `StreamingStateSpec`). */
  @volatile private[graft] var gatePartitionsOverride: Option[Int] = None

  /** Default gate tick count (r11 verdict task 2). Results are
    * tick-count independent by the streaming-parity contract — every
    * twin's final state equals its batch oracle however the feed is
    * sliced — so ticks buy OVERHEAD COVERAGE, not correctness: each
    * micro-batch pays the incremental-planner + state-store-commit
    * floor that dominates gate-sized feeds. Measured (twins-only Bench
    * A/B at sf0.1, min of 2 passes): 3 ticks 94.7 s subtotal, 2 ticks
    * 64.7 s (0.68×) — per-batch floor, not data. Two ticks still
    * exercise one real cross-batch carry on every twin; FIVE
    * representatives spanning the state classes (t1s keyed-store fold,
    * d1s first-arrival dedup, a9s windowed agg, a11s session merge +
    * watermark flush, st7s incremental profile merge) stay at 3 so a
    * merge bug that only shows past the second boundary still has
    * gate coverage.
    */
  private[graft] val GateTicks = 2

  /** Gate state partitions; the measurement is at [[runStream]]. */
  private val GatePartitions = 4

  /** Gate trigger polling delay in ms; the A/B is at [[runStream]]. */
  private[graft] val GatePollingMs = 1

  private def collectFeed(df: DataFrame, orderCol: String): Array[Row] = {
    val plan = df.queryExecution.analyzed.canonicalized
    val key = (plan.semanticHash(), orderCol)
    val hit = feedCache.get(key)
    if (hit != null && hit._1.sameResult(plan)) {
      val rows = hit._2.get()
      if (rows != null) return rows
    }
    // comma-separated composite keys: a feed whose head column ties
    // (same-ts ticks) must still slice into micro-batches in a TOTAL
    // order, or the batch boundary splits tied rows in engine order
    // and order-sensitive state folds diverge from the batch oracle
    val rows = df.orderBy(orderCol.split(',').map(c => col(c.trim)): _*).collect()
    feedCache.put(key, (plan, new java.lang.ref.SoftReference(rows)))
    rows
  }

  private[graft] def stubCentroids: Array[(Long, Seq[Double])] = StubQuantizer.cents
  private[graft] def stubCentroidsSql: String = StubQuantizer.sql

  /** Feed each `(frame, orderCol)` source through its own MemoryStream
    * in `ticks` ascending micro-batches (all streams tick in
    * lock-step), run `op` over the streaming frames, and return the
    * memory-sink result plus the checkpoint dir (for state-snapshot
    * reads). The query is stopped before returning — the sink table
    * and checkpoint are the finished result.
    */
  private def runStream(
      spark: SparkSession,
      sources: Seq[(DataFrame, String)],
      mode: String,
      ticks: Int,
      flush: Seq[Row] = Nil,
      pollingMs: Option[Int] = None)(op: Seq[DataFrame] => DataFrame): (DataFrame, String) = {
    // cross-batch carry needs >= 2 ticks
    val nTicks = math.max(2, ticks)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feeds = sources.map { case (df, orderCol) =>
      val rows: Array[Row] = collectFeed(df, orderCol)
      val stream = MemoryStream[Row](Encoders.row(df.schema), sqlCtx)
      (stream, rows)
    }
    val out = op(feeds.map(_._1.toDF()))
    val name = s"graft_sq_${runSeq.incrementAndGet()}_${System.nanoTime()}"
    // checkpoint on tmpfs when the host has one: per-batch state-store
    // deltas + offset/commit logs are many tiny files, and gate entries
    // are ALL fixed overhead — paying ext4 for them is pure waste. The
    // production path (ChannelRuntime) keeps real checkpoints on
    // durable storage; this is gate-lifetime scratch.
    val ckpt = gateCheckpointDir("graft-sq-ckpt")
    // state-partition count is frozen into the checkpoint at the first
    // batch; every (partition × tick × store) combination pays a state
    // store commit (a stream-stream join keeps FOUR stores per
    // partition), so at 32 shuffle partitions the fixed overhead
    // dominates the gate-sized data. 4 is the measured optimum IN THE
    // FULL CATALOG RUN — the number the driver actually records: r12
    // full-bench twins subtotal 53.4 s at p4 vs 57.0/56.4 s at p8 (two
    // runs). A twins-only harness says the opposite (p8 54.0 vs p4
    // 56.9) — cold-JVM per-batch planning rewards parallelism there,
    // while in-catalog (warm JIT, accumulated heap) the extra per-batch
    // commits cost more than the parallelism buys. Defaults follow the
    // in-catalog measurement; the twins-only subset is for RELATIVE
    // iteration only. Results are partitioning-independent
    // (32-partition canary).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      gatePartitionsOverride.getOrElse(GatePartitions).toString)
    // gate state is a few KB: the per-partition RocksDB instance
    // spin-up + per-commit snapshot upload that makes RocksDB right at
    // 100 TB key cardinality is pure fixed cost here, so gate runs use
    // the in-memory HDFS-backed provider. Semantics-neutral: the
    // provider class is frozen into each checkpoint's offset log, so
    // post-run `statestore` reads (t1s) resolve the provider from the
    // checkpoint itself, and production sessions keep RocksDB
    // (GraftSession default).
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.get(provKey)
    // graft.gate.provider=rocksdb flips the gate twins onto the
    // PRODUCTION state-store backend (StreamScale's scaling ledger —
    // the RocksDB claim must be measured on RocksDB, not its in-memory
    // stand-in); unset = the in-memory provider rationale below
    spark.conf.set(provKey, sys.props.get("graft.gate.provider") match {
      case Some("rocksdb") =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case _ =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    })
    // watermark advancement here comes from explicit flush sentinel
    // ROWS (below), never from empty batches — so the no-data
    // micro-batch Spark appends after each data batch (watermark/
    // timeout bookkeeping) only doubles the per-tick state-store
    // commit count. Gate entries don't use event-time timeouts.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    // r15 optimization (§1/§7 micro-batch attribution): the trigger
    // thread sleeps pollingDelay (default 10 ms) whenever no batch is
    // ready, so every addData → processAllAvailable handshake of every
    // tick pays scheduler naps; at 43 twins × 3-6 cycles the naps are
    // seconds of pure idle. 1 ms keeps the handshake tight at gate
    // feed sizes (A/B below); production streams with real triggers
    // keep Spark's default.
    val pollKey = "spark.sql.streaming.pollingDelay"
    val prevPoll = spark.conf.getOption(pollKey)
    spark.conf.set(pollKey, s"${pollingMs.getOrElse(GatePollingMs)}ms")
    // Measurement runs dump q.recentProgress at end-of-run; Spark keeps
    // only the last numRecentProgressUpdates (default 100) progress
    // entries, so a StreamScale entry exceeding ~100 micro-batches
    // would silently under-count batches and under-report peak state
    // (advisor r14 — latent at today's 3-6-batch entries, fixed before
    // it can bite). Only set under the metrics hook: gate/driver runs
    // keep Spark's default retention.
    if (sys.props.contains("graft.stream.metrics.file"))
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // Whole-stage codegen OFF for gate streams (expressions stay
    // codegen'd): every micro-batch of every twin Janino-compiles its
    // own whole-stage classes that then run over one tick of data —
    // compile cost that can never amortize at gate feed sizes. r11
    // same-harness A/B over all 41 streaming entries at sf0.1:
    // ws-off 60.2 s vs ws-on 65.2 s subtotal (biggest singles a18s
    // 2.08→1.56, a9s 2.38→1.81); FULLY interpreted mode
    // (factoryMode=NO_CODEGEN) was also tried and REJECTED — it wins
    // on small twins but loses 1.8× on the 1M-tick st7s (7.8 vs
    // 4.3 s), since per-row interpretation beats compile time only
    // under ~100k rows. Semantics-identical either way (Catalyst
    // guarantees eval==codegen; every graft native expression
    // implements nullSafeEval). Production streams keep codegen.
    val wsKey = "spark.sql.codegen.wholeStage"
    val prevWs = spark.conf.get(wsKey)
    spark.conf.set(wsKey, "false")
    try {
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", ckpt).start()
      // watchdog: processAllAvailable blocks forever if a stream ever
      // wedges, and a hung entry would stall the driver's ENTIRE gate
      // run — bound the blast radius to this one query (stop() makes
      // processAllAvailable throw, Verify records a per-query failure)
      val watchdog = new Thread(() => {
        try {
          Thread.sleep(180000L)
          Console.err.println(s"[graft] stream gate '$name' watchdog fired — stopping query")
          q.stop()
        } catch { case _: InterruptedException => () }
      }, s"graft-sq-watchdog-$name")
      watchdog.setDaemon(true)
      watchdog.start()
      try {
        val batched = feeds.map { case (s, rows) =>
          val per = math.max(1, math.ceil(rows.length.toDouble / nTicks).toInt)
          (s, rows.grouped(per).toIndexedSeq)
        }
        (0 until nTicks).foreach { i =>
          batched.foreach { case (s, bs) => if (i < bs.length) s.addData(bs(i).toSeq) }
          q.processAllAvailable()
        }
        // watermark-flush sentinels (append-mode aggregations emit a
        // group only when the watermark passes it): each flush row is
        // its OWN micro-batch on the first source — the first advances
        // the watermark, the next applies it to the open state. Callers
        // filter the sentinels' groups out of the result.
        flush.foreach { r =>
          feeds.head._1.addData(Seq(r))
          q.processAllAvailable()
        }
        // per-batch progress dump for the scaling ledger (StreamScale):
        // batch durations + state-operator rows/bytes, one JSON line per
        // micro-batch, named by the caller via graft.stream.metrics.file
        // (a property only the measurement main sets — zero cost in
        // gate/driver runs)
        sys.props.get("graft.stream.metrics.file").foreach { f =>
          val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
            new java.io.FileOutputStream(f, /*append=*/ true),
            java.nio.charset.StandardCharsets.UTF_8))
          try q.recentProgress.foreach(p => w.println(p.json)) finally w.close()
        }
      } finally { watchdog.interrupt(); q.stop() }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set(provKey, prevProv)
      spark.conf.set(noDataKey, prevNoData)
      prevPoll match {
        case Some(v) => spark.conf.set(pollKey, v)
        case None    => spark.conf.unset(pollKey)
      }
      spark.conf.set(wsKey, prevWs)
    }
    (spark.table(name), ckpt)
  }

  /** t1r machinery — the crash-recovery drill [[runStream]] cannot
    * express: feed ascending micro-batches like runStream, but KILL
    * the query after `restartAfter`'s commit and start a NEW query
    * from the SAME checkpoint, then feed the remaining ticks. The
    * state-store recovery contract (StreamingState.scala:9-21, the
    * fault-tolerance upgrade over the reference's read→write replay
    * flip, shared/engine_replay.py:107-118) requires the final
    * committed state to be identical to an unbroken run's — i.e.
    * hash-equal to the batch oracle.
    *
    * Sink is foreachBatch (the memory sink REFUSES checkpoint
    * recovery by design — recoverFromCheckpointLocation=false outside
    * complete mode) and the result is read from the recovered
    * checkpoint's final committed state snapshot, not a sink table.
    * Conf discipline mirrors [[runStream]] (4 state partitions, HDFS
    * provider, no-data batches off, whole-stage codegen off — all
    * restored after).
    */
  private def runStreamRecovery(
      spark: SparkSession,
      source: (DataFrame, String),
      ticks: Int,
      restartAfter: Int)(op: DataFrame => DataFrame): String = {
    require(restartAfter >= 0 && restartAfter < ticks - 1,
      "restartAfter must leave at least one post-restart tick")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (df, orderCol) = source
    val rows = collectFeed(df, orderCol)
    val stream = MemoryStream[Row](Encoders.row(df.schema), sqlCtx)
    val out = op(stream.toDF())
    val ckpt = gateCheckpointDir("graft-sq-rckpt")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      gatePartitionsOverride.getOrElse(GatePartitions).toString)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.get(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    // r15 optimization (§1/§7 micro-batch attribution): the trigger
    // thread sleeps pollingDelay (default 10 ms) whenever no batch is
    // ready, so every addData → processAllAvailable handshake of every
    // tick pays scheduler naps; at 43 twins × 3-6 cycles the naps are
    // seconds of pure idle. 1 ms keeps the handshake tight at gate
    // feed sizes (A/B below); production streams with real triggers
    // keep Spark's default.
    val pollKey = "spark.sql.streaming.pollingDelay"
    val prevPoll = spark.conf.getOption(pollKey)
    spark.conf.set(pollKey, s"${GatePollingMs}ms")
    // Measurement runs dump q.recentProgress at end-of-run; Spark keeps
    // only the last numRecentProgressUpdates (default 100) progress
    // entries, so a StreamScale entry exceeding ~100 micro-batches
    // would silently under-count batches and under-report peak state
    // (advisor r14 — latent at today's 3-6-batch entries, fixed before
    // it can bite). Only set under the metrics hook: gate/driver runs
    // keep Spark's default retention.
    if (sys.props.contains("graft.stream.metrics.file"))
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val wsKey = "spark.sql.codegen.wholeStage"
    val prevWs = spark.conf.get(wsKey)
    spark.conf.set(wsKey, "false")
    // the sink must PROCESS every partition or the state stores never
    // commit (Spark 4's BatchCommitTracker fails the batch on a
    // foreachBatch that skips partitions) — count() forces the full
    // incremental plan; the emissions themselves are discarded, the
    // result is read from the checkpoint's committed state
    val noop: (org.apache.spark.sql.Dataset[Row], Long) => Unit = (b, _) => { b.count(); () }
    def startQ() = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(noop)
      .start()
    try {
      var q = startQ()
      // same watchdog contract as runStream: bound a wedged stream's
      // blast radius to this entry, not the driver's whole gate run
      val watchdog = new Thread(() => {
        try {
          Thread.sleep(180000L)
          Console.err.println("[graft] t1r recovery watchdog fired — stopping query")
          q.stop()
        } catch { case _: InterruptedException => () }
      }, "graft-sq-watchdog-t1r")
      watchdog.setDaemon(true)
      watchdog.start()
      try {
        val per = math.max(1, math.ceil(rows.length.toDouble / ticks).toInt)
        val batches = rows.grouped(per).toIndexedSeq
        (0 until ticks).foreach { i =>
          if (i < batches.length) stream.addData(batches(i).toSeq)
          q.processAllAvailable()
          if (i == restartAfter) {
            // the crash: the query dies after this commit; the restart
            // resumes from the checkpoint (offsets + state store) and
            // the SAME MemoryStream instance replays any uncommitted
            // range, exactly the production source-replay contract
            q.stop()
            q = startQ()
          }
        }
      } finally { watchdog.interrupt(); q.stop() }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set(provKey, prevProv)
      spark.conf.set(noDataKey, prevNoData)
      prevPoll match {
        case Some(v) => spark.conf.set(pollKey, v)
        case None    => spark.conf.unset(pollKey)
      }
      spark.conf.set(wsKey, prevWs)
    }
    ckpt
  }

  /** Gate-lifetime checkpoint scratch dir — tmpfs (`/dev/shm`) when
    * present, else the default temp root.
    */
  private[graft] def gateCheckpointDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    graft.core.Scratch.track(
      (if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)).toString)
  }

  /** Shared k2b/k2c machinery: write the md5-shuffled 100-row-cycle
    * engine log, replay it through a real ChannelRuntime — optionally
    * fast-forwarded to `startAtCycle`'s exact engine timestamp (the
    * reference resume contract, inclusive) — and emit every replayed
    * row stamped with its emission position.
    */
  private def lateReplayThrough(
      s: SparkSession,
      dir: String,
      startTime: Option[Int]): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val events = t(s, dir, "events").filter(col("event_id") <= 2000)
      .select(cols.map(col): _*)
    val schema = events.schema
    val rows = events.orderBy(col("event_id")).collect()
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cycles = rows.grouped(100).toSeq
    val shuffled = cycles.zipWithIndex
      .sortBy { case (_, i) => md5hex(i.toString) }
    // resume point: cycle N's head engine timestamp, EXACTLY — the
    // boundary cycle must replay (inclusive >=)
    val startMs = startTime.map(n =>
      cycles(n).head.getAs[java.sql.Timestamp]("ts").getTime)
    val path = java.nio.file.Paths.get(graft.core.Scratch.track(
      Files.createTempFile("graft-k2b-log", ".jsonl").toString))
    val w = graft.streaming.EngineLog.open(path.toString, append = false)
    try {
      shuffled.foreach { case (cycle, _) =>
        graft.streaming.EngineLog.writeCycle(w,
          cycle.head.getAs[java.sql.Timestamp]("ts").getTime, Seq(("events", cycle.toSeq, schema)))
        w.newLine()
      }
    } finally w.close()
    val rt = new graft.streaming.ChannelRuntime(s,
      Map("events" -> graft.core.ChannelSpec("events", schema,
        stateKeyby = Seq("event_id"), omitFromLookup = true)),
      graft.core.Scratch.dir("graft-k2b-ckpt"))
    rt.start()
    try {
      graft.streaming.EngineLog.replay(rt, path.toString, Seq("events"),
        startTime = startMs)
      rt.processAllAvailable()
      // every replayed row, stamped with its emission position
      val out = rt.stateFrame("events").collect()
      val seqIdx = rt.runtimeSchema(rt.specs("events")).fieldNames
        .indexOf(graft.streaming.ChannelRuntime.SeqCol)
      val emitted = out.sortBy(_.getLong(seqIdx)).zipWithIndex.map {
        case (r, i) => Row.fromSeq(
          cols.indices.map(r.get) :+ (i + 1).toLong)
      }
      s.createDataFrame(
        java.util.Arrays.asList(emitted: _*),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("emit_pos",
            org.apache.spark.sql.types.LongType)))
    } finally rt.stop()
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- T1, streaming: last-row-per-key accumulated across four
    // micro-batches in the flatMapGroupsWithState state store, result
    // read back via the distributed `statestore` source (the cluster
    // serving path) — NOT re-aggregated from the update log
    "t1s_state_stream" -> ((s, dir) => {
      val (_, ckpt) = runStream(s, Seq((t(s, dir, "events"), "event_id")), "update", ticks = 3) {
        case Seq(ev) => StreamingState.lastByKeyStream(ev, Seq("user_id"), "event_id")
      }
      StreamingState.stateSnapshot(s, ckpt)
        .getOrElse(sys.error("t1s: no committed state"))
    }),

    // ---- T1 crash recovery (r13 verdict task 2): the t1s fold KILLED
    // after its first commit and restarted from the same checkpoint —
    // the recovered run's final committed state must be hash-equal to
    // the batch oracle, turning the fault-tolerance claim
    // (StreamingState.scala:9-21) from prose into a gated contract
    "t1r_state_recovery" -> ((s, dir) => {
      val ckpt = runStreamRecovery(
        s, (t(s, dir, "events"), "event_id"), ticks = 3, restartAfter = 0) {
        ev => StreamingState.lastByKeyStream(ev, Seq("user_id"), "event_id")
      }
      StreamingState.stateSnapshot(s, ckpt)
        .getOrElse(sys.error("t1r: no committed state"))
    }),

    // ---- streaming exact dedup: first arrival per text survives; fed
    // ascending doc_id with the min-seq in-batch tie-break, the
    // survivor set equals the batch min(doc_id)-per-text dedup
    "d1s_dedup_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "append", ticks = 3) {
        case Seq(docs) => StreamingState.dedupStream(docs, Seq("text"), seqCol = Some("doc_id"))
      }
      out.select(col("doc_id"), col("n_chars"))
    }),

    // ---- streaming multimodal decode: payload build + partition-local
    // codec (WAV/BMP/PNG/AVI incl. per-frame MJPEG) run INSIDE the
    // micro-batch — stateless narrow stages, so the stream's union of
    // batch outputs equals the batch run and the mm1 oracle applies
    // verbatim
    "mm1s_media_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "append", ticks = GateTicks) {
        case Seq(docs) => graft.pipeline.Multimodal.decodeFeatures(
          graft.testing.MediaFixtures.syntheticMedia(docs))
      }
      out.select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("feature")).as(Seq("bin", "value")))
    }),

    // ---- streaming MinHash-LSH near-dup pairs: per-bucket rosters in
    // the state store, pairs surface when the second member arrives
    // (possibly batches later); distinct pairs equal the batch
    // band-bucket self-join, so d3's oracle applies verbatim
    "d3s_lsh_dedup_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "append", ticks = GateTicks) {
        case Seq(docs) => StreamingState.minhashLshDedupStream(
          docs, "doc_id", "text", n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      }
      // a pair agreeing on several bands emits once per band (same est)
      out.dropDuplicates("id1", "id2")
    }),

    // ---- streaming sequence packing: per-shard token offsets carry
    // across micro-batches; ascending-id ticks reproduce the batch
    // packer's per-shard ordering, so p2's oracle applies verbatim
    "p2s_pack_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "append", ticks = GateTicks) {
        case Seq(docs) => StreamingState.packChunksStream(
          docs, "doc_id", "text", ctxTokens = 512, shards = 8)
      }
      out.withColumnRenamed("id", "doc_id")
    }),

    // ---- streaming embedding near-dup: sign-LSH bucket rosters in
    // the state store, exact-cosine verify on arrival — the streaming
    // face of the batch d5 bucketed path, so d5's oracle applies
    "d5s_embed_neardup_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "embeddings"), "vec_id")), "append", ticks = GateTicks) {
        case Seq(vecs) => StreamingState.embeddingNearDupStream(
          vecs, "vec_id", "embedding", threshold = 0.45)
      }
      out
    }),

    // ---- A9 streaming: watermarked tumbling event-time window fed in
    // ascending event time; update mode re-emits a (bucket, group) row
    // each time it grows, and n strictly increases per key, so the
    // max-n row per key IS the final aggregate — compared against the
    // plain batch GROUP BY. sum over event_id keeps the sum integer
    // (a double sum's accumulation order can't hash-match)
    "a9s_windowed_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts")), "update", ticks = 3) {
        case Seq(ev) => StreamingState.windowedCounts(
          ev, "ts", "1 hour", "10 minutes", Seq("event_type"), "event_id")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket", "event_type").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // ---- A11 streaming: watermarked SESSION windows (append mode —
    // Spark rejects update for session aggregations). A closed session
    // emits exactly once when the watermark passes it; two far-future
    // sentinel ticks on a reserved user close every real session at
    // stream end (first advances the watermark, second applies it),
    // and the sentinels' own session is filtered out. sum over
    // event_id keeps the aggregate integer (the a9s rule).
    "a11s_session_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val schema = ev.schema
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(plusMs: Long): Row = Row.fromSeq(schema.fields.map { f =>
        f.name match {
          case "ts" => new java.sql.Timestamp(maxTs.getTime + plusMs)
          case "user_id" | "event_id" => -1L
          case _ => null
        }
      }.toSeq)
      val day = 24L * 3600 * 1000
      val (out, _) = runStream(s, Seq((ev, "ts")), "append", ticks = 3,
        flush = Seq(sentinel(100 * day), sentinel(200 * day))) {
        case Seq(e) => StreamingState.sessionCounts(
          e, "ts", "12 hours", "10 minutes", Seq("user_id"), "event_id")
      }
      out.filter(col("user_id") =!= -1L)
    }),

    // ---- A14 streaming: live funnel progress — per-user state is TWO
    // scalars (stage reached, reach time) in the state store; the
    // ts-ordered greedy fold equals the batch funnel's min-time chain,
    // so the batch a14 oracle applies verbatim. stage_reached only
    // grows per user → final stage = max over the update log; the
    // rollup left-joins the stage list so an unreached stage still
    // reports 0 (oracle shape).
    "a14s_funnel_stream" -> ((s, dir) => {
      import s.implicits._
      val stages = Seq("signup", "view", "click", "purchase")
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.funnelStream(
          ev, "user_id", "event_type", "ts", stages, "event_id")
      }
      val stageDf = stages.zipWithIndex.map { case (st, i) => (i + 1, st) }
        .toDF("stage_idx", "stage")
      val reached = out.groupBy(col("user_id")).agg(max(col("stage_reached")).as("_m"))
        .select(explode(sequence(lit(1), col("_m"))).as("stage_idx"))
        .groupBy(col("stage_idx")).agg(count(lit(1)).as("n_users"))
      stageDf.join(reached, Seq("stage_idx"), "left")
        .select(col("stage_idx"), col("stage"),
          coalesce(col("n_users"), lit(0L)).as("n_users"))
    }),

    // ---- A17 streaming: consecutive-event pairs live — one tick of
    // state per user pairs each batch's first event with the previous
    // batch's last; the batch count/probability rollup runs over the
    // emitted pair stream, so the a17 oracle applies verbatim
    "a17s_transitions_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.transitionsStream(
          ev, "user_id", "event_type", "ts", "event_id")
      }
      val pairs = out.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
      pairs.withColumn("prob",
        col("n").cast("double") / sum(col("n")).over(totals).cast("double"))
    }),

    // ---- A20 streaming: hop latencies live — each (user, hop) dt
    // emitted exactly once (stages only advance), so the emitted
    // stream is the batch hop row set and the a20 rollup applies
    "a20s_hop_times_stream" -> ((s, dir) => {
      val stages = Seq("signup", "view", "click", "purchase")
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.funnelHopsStream(
          ev, "user_id", "event_type", "ts", stages, "event_id")
      }
      val labels = typedLit(stages.zip(stages.tail).map { case (a, b) => s"$a->$b" })
      Seq(1, 2, 3).map { k =>
        out.filter(col("hop_idx") === k)
          .groupBy()
          .agg(count(lit(1)).as("n_converted"),
            avg(col("dt_us")).as("mean_us"),
            expr("percentile(dt_us, 0.5)").as("median_us"))
          .select(lit(k).as("hop_idx"),
            element_at(labels, k).as("hop"),
            col("n_converted"), col("mean_us"), col("median_us"))
      }.reduce(_.unionAll(_))
    }),

    // ---- A18 streaming: first-N journeys live — state per user caps
    // at N triples and freezes once full; n_events is monotone, so the
    // max-n emission per user is the final path (a18 oracle verbatim)
    "a18s_paths_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.pathsStream(
          ev, "user_id", "event_type", "ts", "event_id", firstN = 5)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
    }),

    // ---- W4 streaming: running TWAP per user — 4 scalars of state;
    // n_intervals grows monotonically, so the max-n emission per user
    // is the final one and equals the batch w4 row (oracle verbatim)
    // w7's live twin: running (cum, peak, max-drawdown) per key —
    // the drawdown monitor reading while ticks stream in; final
    // emission == the batch report (shared quantization)
    "w7s_drawdown_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"),
        expr("CAST(CAST(value AS DOUBLE) * 1024D AS LONG)").as("q"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) =>
          StreamingState.drawdownStream(e, "user_id", "ts", "q", "event_id")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // v4's live twin: the entity-novelty feed — one emission per
    // (entity, day) with the first-day flag; aggregating emissions by
    // day reproduces the batch novelty curve (oracle verbatim)
    "v4s_novelty_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        concat_ws(":", col("user_id"), col("event_type")).as("ent"),
        col("ts"), col("event_id"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) => StreamingState.noveltyStream(e, "ent", "ts")
      }
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      out.groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
        .withColumn("cum_entities", sum(col("n_new")).over(w))
        .withColumn("new_milli",
          expr("n_new * 1000 div greatest(n_active, 1)"))
        .withColumn("day",
          date_add(to_date(lit("1970-01-01")), col("day").cast("int")))
        .select(col("day"), col("n_active"), col("n_new"),
          col("cum_entities"), col("new_milli"))
    }),

    // a24's live twin: the diurnal profile refreshing as events
    // stream in — 24 counters per type; each touched type re-emits
    // its full profile, so the latest emission per (type, hour) IS
    // the batch frame (oracle verbatim)
    "a24s_hour_profile_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"),
        col("event_id"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) =>
          StreamingState.hourProfileStream(e, "event_type", "ts")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "hour").orderBy(col("total").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // w11's live twin: the CUSUM drift monitor reading while ticks
    // stream in — 9 longs of state per key; final emission == the
    // batch report (shared quantization + integer thresholds)
    "w11s_cusum_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"),
        expr("CAST(CAST(value AS DOUBLE) * 1024D AS LONG)").as("q"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) =>
          StreamingState.cusumStream(e, "user_id", "ts", "q", "event_id",
            refQ = 50L * 1024, slackQ = 10L * 1024, hQ = 300L * 1024)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // w10's live twin: spike alerts on a metric stream — ring buffer
    // of the last 16 quantized ticks per key; every tick judged
    // against the buffer before joining it, emitted exactly once, so
    // the sink table IS the batch frame (oracle verbatim)
    "w10s_anomaly_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"),
        expr("CAST(CAST(value AS DOUBLE) AS LONG)").as("q"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) =>
          StreamingState.rollingAnomalyStream(e, "user_id", "ts", "q", "event_id")
      }
      out
    }),

    // a22's live twin: the lateness audit in its natural habitat —
    // the running event-time high-water mark per key advances as the
    // (deterministically perturbed) arrival stream plays; 5 longs/key
    "a22s_lateness_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("arr",
          col("event_id") * 100L + when(pmod(col("event_id"), lit(7)) === 0,
            2050L).otherwise(0L))
        .select(col("event_type"), col("ts"), col("arr"))
      val (out, _) = runStream(s, Seq((ev, "arr")), "update", ticks = GateTicks) {
        case Seq(e) => StreamingState.latenessStream(e, "event_type", "ts", "arr")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // w9's live twin: per-key realized-variance masses for the
    // CURRENT day bucket only in the state store (5 longs/key; closed
    // buckets flush and leave); max-n emission per (user, bucket) ==
    // the batch report on the same quantized grid
    "w9s_realized_var_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"),
        expr("CAST(CAST(value AS DOUBLE) * 1024D AS LONG)").as("q"),
        unix_micros(date_trunc("day", col("ts"))).as("bucket_us"))
      val (out, _) = runStream(s, Seq((ev, "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(e) =>
          StreamingState.realizedVarianceStream(
            e, "user_id", "ts", "q", "event_id", "bucket_us")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "bucket_us").orderBy(col("n_returns").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("user_id"), timestamp_micros(col("bucket_us")).as("bucket"),
          col("n_returns"), col("net_q"), col("rv_q"))
    }),

    "w4s_twap_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.twapStream(ev, "user_id", "ts", "value", "event_id")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_intervals").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }),

    // ---- A15 streaming: the delta stream of first-activity-per-period
    // pairs IS the batch distinct (user, period) frame; the same
    // single-exchange cohort rollup runs on the sink table
    "a15s_retention_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.retentionStream(ev, "user_id", "ts", "week")
      }
      val perUser = out.groupBy(col("user_id"))
        .agg(min(col("period_us")).as("_cohort"), collect_set(col("period_us")).as("_ps"))
      perUser
        .select(col("_cohort"), explode(col("_ps")).as("_active"))
        .select(timestamp_micros(col("_cohort")).as("cohort"),
          ((col("_active") - col("_cohort")) / (7L * 86400000000L)).cast("long")
            .as("period_offset"))
        .groupBy(col("cohort"), col("period_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // ---- W6 streaming: live OHLC bars — five scalars per (user, day)
    // in the state store; n_ticks is monotone, so the max-n emission
    // per bar is the final one (batch w6 oracle verbatim)
    "w6s_ohlc_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "ts,event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.ohlcStream(ev, "user_id", "ts", "value", "event_id")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "day_us").orderBy(col("n_ticks").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
        .select(col("user_id"), timestamp_micros(col("day_us")).as("day"),
          col("open"), col("high"), col("low"), col("close"), col("n_ticks"))
    }),

    // ---- st9 streaming: one count-min grid per lang in the state
    // store (fixed width×depth bytes regardless of stream length);
    // additive merges make the final emission equal the batch sketch,
    // so the exact-count oracle applies at the collision-free tier
    "st9s_countmin_stream" -> ((s, dir) => {
      val targets = Seq("scan", "column", "window", "sort", "value")
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "update", ticks = GateTicks) {
        case Seq(docs) => StreamingState.countMinStream(
          docs.select(col("lang"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
            .filter(col("tok") =!= ""),
          Seq("lang"), "tok", targets)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "token").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .drop("_rn", "n")
        .filter(col("est_count") > 0)
    }),

    // ---- live per-dimension embedding drift monitor: one Gram buffer
    // per label in the state store; the final emission's per-dim
    // count/sum/sum-of-squares equal the batch quantized Gram exactly
    // (integer accumulation — slicing-independent)
    "s16s_gram_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "embeddings"), "vec_id")), "update", ticks = GateTicks) {
        case Seq(emb) => StreamingState.gramStream(emb, Seq("label"), "embedding", 64)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("label", "j").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .drop("_rn")
    }),

    // ---- live snapshot-drift monitor: the new snapshot streams in,
    // per-source (count, integer len-sum) state updating live; the
    // final state joins the static baseline profile and reproduces the
    // batch v2 verdicts exactly (integer sums are slicing-independent)
    "v2s_drift_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tagged = docs.crossJoin(docs.agg(max("doc_id").as("_mx")))
      val oldSnap = tagged.filter(col("doc_id") * 2 <= col("_mx")).drop("_mx")
      val newSnap = tagged.filter(col("doc_id") * 2 > col("_mx"))
        .filter(col("source") =!= "src7" || col("doc_id") % 3 === 0).drop("_mx")
      val (out, _) = runStream(s, Seq((newSnap, "doc_id")), "update", ticks = GateTicks) {
        case Seq(nw) => StreamingState.runningStatsStream(
          nw.select(col("source"), col("n_chars")), Seq("source"), "n_chars")
      }
      // n strictly grows per key → the max-n emission is the final state
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n").desc)
      val fin = out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("source"), col("n").as("n_new"),
          (col("sum_v").cast("double") / col("n_vals")).as("mean_len_new"))
      val gOld = oldSnap.groupBy("source").agg(
        count(lit(1)).as("n_old"),
        avg(col("n_chars").cast("long")).as("mean_len_old"))
      val joined = gOld.join(fin, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          col("mean_len_old"), col("mean_len_new"))
      val tot = joined.agg(sum("n_old").as("_tot_old"), sum("n_new").as("_tot_new"))
      joined.crossJoin(tot)
        .withColumn("drifted",
          (col("n_new") * col("_tot_old") * 100L >
            col("n_old") * col("_tot_new") * 120L) ||
          (col("n_new") * col("_tot_old") * 100L <
            col("n_old") * col("_tot_new") * 80L))
        .drop("_tot_old", "_tot_new")
    }),

    // ---- streaming running quantiles: one QSketch per key in the
    // state store (bounded O(k·log n/k) bytes/key); gate scale stays
    // inside the sketch's exact tier, so the final per-key emission
    // equals the batch st4 rank pick and its oracle applies verbatim
    "st4s_quantile_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "update", ticks = GateTicks) {
        case Seq(docs) => StreamingState.quantileSketchStream(
          docs, Seq("lang"), "n_chars", Seq("p50" -> 0.5, "p90" -> 0.9))
      }
      // the count strictly grows per key → max-n row is the final one
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
        .withColumnRenamed("n", "n_docs")
    }),

    // ---- streaming per-language vocabulary heavy hitters: one
    // SpaceSaving sketch per lang in the state store; the max-n (last)
    // emission per lang is the final top-10, which at gate scale sits
    // in the sketch's exact tier — the batch st5 oracle applies
    "st5s_heavy_hitters_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "documents"), "doc_id")), "update", ticks = GateTicks) {
        case Seq(docs) => StreamingState.heavyHittersStream(
          docs.select(col("lang"), explode(split(col("text"), " ")).as("token"))
            .filter(col("token") =!= ""),
          Seq("lang"), "token", topN = 10)
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      out.withColumn("_mx", max(col("n")).over(w)).filter(col("n") === col("_mx"))
        .select(col("lang"), col("rank"), col("item").as("token"),
          col("count").as("n"))
    }),

    // ---- streaming running distinct counts: per-key DSketch in the
    // state store; fed ≤ k distinct values the final emission per key
    // is EXACT (the batch count-distinct oracle applies verbatim)
    "st6s_distinct_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "events"), "event_id")), "update", ticks = GateTicks) {
        case Seq(ev) => StreamingState.distinctCountStream(
          ev.select(col("event_type"), col("user_id")), Seq("event_type"), "user_id")
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      out.withColumn("_mx", max(col("n")).over(w)).filter(col("n") === col("_mx"))
        .select(col("event_type"), col("n"), col("n_distinct"))
    }),

    // ---- streaming running PROFILE: the st7 maintenance loop as a
    // complete-mode streaming aggregation — every per-column partial
    // (null count, min/max, distinct sketch) lives in the state store
    // and folds each micro-batch's delta in; the final emitted rows
    // must equal the batch full-scan profile (st2's exact oracle).
    // The fused multi-sketch agg is ONE state row per group — the
    // st6s shape generalized to the whole profile
    "st7s_profile_stream" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // project BEFORE the memory stream: the gate feed collects and
      // row-encodes every input row driver-side, and lineitem's other
      // 8 columns (incl. the wide comment string) were half that cost
      // for zero semantic effect (one-JVM A/B: 6.7 s → see SCALE.md)
      val (out, _) = runStream(s,
        Seq((t(s, dir, "lineitem").select(cols.map(col): _*), "l_orderkey")),
        // 3-tick representative (see GateTicks): incremental profile
        // merge must stay covered past the SECOND batch boundary
        "complete", ticks = 3) {
        case Seq(li) => graft.pipeline.Curation.numericProfileSketch(
          li, cols, sketchK = 1 << 18)
      }
      out
    }),

    // ---- streaming k-means refit: narrow assignment against a FIXED
    // literal quantizer (generated here, mirrored into the oracle SQL
    // — the dsirStubWeights pattern), sharded integer partials in the
    // state store, merged to (cell, n, centroid sums); integer sums
    // commute, so the stream equals the batch accumulation exactly
    "c4s_kmeans_refit_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "embeddings"), "vec_id")), "append", ticks = GateTicks) {
        case Seq(vecs) => StreamingState.kmeansRefitStream(
          vecs.select(col("embedding")), "embedding", stubCentroids, shards = 2)
      }
      // scalar rows for the gate: the driver's comparator sorts column
      // values and cannot sort a list-typed column (the d8_winnow
      // lesson) — posexplode the merged centroid to (cell, n, d, sum)
      StreamingState.kmeansRefitCentroids(out)
        .select(col("cell"), col("n"),
          posexplode(col("centroid")).as(Seq("pos", "centroid_sum")))
        .select(col("cell"), col("n"),
          (col("pos") + 1).cast("long").as("d"), col("centroid_sum"))
    }),

    // ---- streaming cross-corpus duplicate alerts: arrivals banded
    // against the static reference shard; distinct (id, ref_id) pairs
    // equal the batch band-bucket cross join, so the d10-style pair
    // oracle applies
    "d10s_cross_dup_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (out, _) = runStream(s,
        Seq((docs.filter(col("doc_id") % 3 =!= 0), "doc_id")), "append", ticks = GateTicks) {
        case Seq(st) => StreamingState.crossCorpusDupStream(
          st, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      }
      out.dropDuplicates("id", "ref_id")
    }),

    // ---- streaming SemDeDup: greedy representative-based dedup per
    // k-means cell (keep a doc unless it clears the cosine threshold
    // against an already-KEPT doc of its cell). Fed ascending ids, the stream's
    // cross-batch roster equals the global ascending greedy — which the
    // oracle replays exactly with a recursive CTE over the same literal
    // quantizer
    "c2s_semantic_dedup_stream" -> ((s, dir) => {
      val (out, _) = runStream(s, Seq((t(s, dir, "embeddings"), "vec_id")), "append", ticks = GateTicks) {
        case Seq(vecs) => StreamingState.semanticDedupStream(
          vecs.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          stubCentroids, threshold = 0.12)
      }
      out
    }),

    // ---- streaming ANN serving: a live query stream probes the
    // static IVF-indexed corpus (literal stub quantizer, the c4s
    // pattern) and each query emits its exact top-3 neighbors from
    // its 2 probed cells — batch ivfTopK semantics, online
    "s7s_ann_query_stream" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (out, _) = runStream(s,
        Seq((emb.filter(col("vec_id") < 8), "vec_id")), "append", ticks = GateTicks) {
        case Seq(q) => StreamingState.annQueryStream(
          q, emb, "vec_id", "embedding", stubCentroids, k = 3, nprobe = 2)
      }
      out
    }),

    // ---- K2/T10/T11: engine-log round-trip — every event encoded
    // into engine-cycle JSON lines (the reference's snapshot format:
    // {csp_engine_timestamp, channel: [rows…]}, 100-row cycles) and
    // demuxed back through the typed log reader; the result must be
    // the byte-identical events table, proving encode/decode lose
    // nothing (timestamps ISO-µs, doubles shortest-round-trip)
    "k2s_engine_log_roundtrip" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val schema = events.schema
      val rows = events.orderBy(col("event_id")).collect()
      val path = java.nio.file.Paths.get(graft.core.Scratch.track(
        Files.createTempFile("graft-k2-log", ".jsonl").toString))
      val w = graft.streaming.EngineLog.open(path.toString, append = false)
      try {
        rows.grouped(100).foreach { cycle =>
          graft.streaming.EngineLog.writeCycle(w,
            cycle.head.getAs[java.sql.Timestamp]("ts").getTime, Seq(("events", cycle.toSeq, schema)))
          w.newLine()
        }
      } finally w.close()
      graft.streaming.EngineLog.demux(s, path.toString, "events", schema)
        .drop("csp_engine_timestamp")
    }),

    // ---- live mixture-drift monitor: v3's streaming twin — running
    // per-(day, event_type) counts in the state store; the final
    // per-key emission is the batch count, so the share verdict
    // (computed over the final counts) matches the batch oracle
    // ---- live quota admission: first 10 arrivals per source admitted,
    // the rest dropped at the door — one counter per stratum of state
    "p22s_quota_admission_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"), col("doc_id"))
      val (out, _) = runStream(s, Seq((docs, "doc_id")), "append", ticks = GateTicks) {
        case Seq(d) => StreamingState.quotaAdmissionStream(d, "source", "doc_id", cap = 10)
      }
      out
    }),

    // ---- live classifier-calibration monitor: p21's streaming twin —
    // per-cell (n, pos, quantized-score sum) running integers in the
    // state store; the max-n emission per cell equals the batch report
    // p23's live twin: running replicate sums per bootstrap resample —
    // the corpus metric's error bar updating as docs stream in; final
    // state == the batch aggregate (shared weight expressions)
    "p23s_bootstrap_stream" -> ((s, dir) => {
      import graft.pipeline.Curation
      import graft.functions.TextFunctions
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (TextFunctions.qualityScore(col("text")) * 1048576d)
          .cast("long").as("qm"))
      val (out, _) = runStream(s, Seq((docs, "doc_id")), "update", ticks = GateTicks) {
        case Seq(d) => StreamingState.bootstrapStream(
          Curation.bootstrapWeightedRows(d, "doc_id", "qm", 32))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("rep").orderBy(col("seen").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .withColumn("mean_q",
          expr("CASE WHEN n_eff > 0 THEN w_sum div n_eff ELSE 0L END"))
        .select("rep", "n_eff", "w_sum", "mean_q")
    }),

    "p21s_calibration_stream" -> ((s, dir) => {
      import graft.pipeline.Curation
      val logit = Curation.linearClassifierScore(col("text"),
        Curation.lcgWeights(1024), 1024)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Curation.calibrationCell(logit, -30.0, 10.0, 20).as("cell"),
        (col("lang") === "en").as("label"),
        Curation.quantizedScore(logit, 20).as("qscore"))
      val (out, _) = runStream(s, Seq((docs, "doc_id")), "update", ticks = GateTicks) {
        case Seq(d) => StreamingState.calibrationStream(d, "cell", "label", "qscore")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy(col("n").desc)
      out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select("bucket", "n", "pos", "score_qsum")
    }),

    "v3s_share_drift_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        date_trunc("day", col("ts")).as("bucket"),
        col("event_type"), col("event_id"))
      val (out, _) = runStream(s, Seq((ev, "event_id")), "update", ticks = GateTicks) {
        case Seq(e) => StreamingState.runningStatsStream(
          e, Seq("bucket", "event_type"), "event_id")
      }
      // n strictly grows per key → max-n emission = final count.
      // Materialize the metadata-sized final frame: the verdict below
      // self-joins it three ways, and the memory-sink view's shared
      // expression ids otherwise conflict at resolution
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket", "event_type").orderBy(col("n").desc)
      val finRows = out.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("bucket"), col("event_type"), col("n")).collect()
      val fin = s.createDataFrame(
        java.util.Arrays.asList(finRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
      val bt = fin.groupBy("bucket").agg(sum("n").as("_bn"))
      val st = fin.groupBy("event_type").agg(sum("n").as("_sn"))
      val tot = fin.agg(sum("n").as("_tot"))
      fin.join(bt, "bucket").join(st, "event_type").crossJoin(tot)
        .select(col("bucket"), col("event_type"), col("n"),
          ((col("n") * col("_tot") * 100L > col("_sn") * col("_bn") * 120L) ||
            (col("n") * col("_tot") * 100L < col("_sn") * col("_bn") * 80L))
            .as("drifted"))
    }),

    // ---- live inference-batch dispatcher: p19's streaming twin —
    // per-(shard,bucket) counters assign arrivals to batch slots;
    // the id-ordered feed makes the batch oracle apply verbatim
    "p19s_length_batches_stream" -> ((s, dir) => {
      val (out, _) = runStream(s,
        Seq((t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")),
        "append", ticks = GateTicks) {
        case Seq(docs) => StreamingState.lengthBatchesStream(
          docs, "doc_id", "text", maxTokensPerBatch = 4096, shards = 8)
      }
      out
    }),

    // ---- T11 late-data replay parity: an engine log whose cycles
    // are written OUT OF engine-time order (deterministic md5 shuffle
    // of 100-row cycles) replays through a real ChannelRuntime; the
    // late-cycle contract (json_converter.py:126-133) says late
    // cycles emit IMMEDIATELY in file order + a log line — so the
    // emission sequence must equal the shuffled file order exactly,
    // with no row dropped or reordered. emit_pos is the runtime's
    // arrival seq; the oracle recomputes the same shuffle in SQL.
    "k2b_late_replay" -> ((s, dir) =>
      lateReplayThrough(s, dir, startTime = None)),

    // ---- S3 resume fast-forward parity (r13 mutation campaign: the
    // `startTime` cycle-skip bound was unreachable through the whole
    // catalog — no entry passed a startTime, so an off-by-one at the
    // resume boundary survived the gate). Same shuffled log as k2b,
    // replayed with startTime pinned EXACTLY to cycle 7's engine
    // timestamp: the reference contract (io/json_pull_adapter.py:22-33)
    // resumes AT the checkpoint cycle inclusively, so that boundary
    // cycle's rows must all emit — a `>=`→`>` flip drops precisely
    // them and reds the row set.
    "k2c_resume_replay" -> ((s, dir) =>
      lateReplayThrough(s, dir, startTime = Some(7))),
    // ---- watermarked stream-stream interval join: even-id events
    // (requests) join odd-id events (responses) per user within 1h,
    // both sides ticking through event time in lock-step; the 365-day
    // watermark keeps the 30-day window fully joinable, so the result
    // equals the batch range join
    "w3s_interval_join" -> ((s, dir) => {
      // quarter of the key space: the stream-stream join pays per-batch
      // state maintenance on BOTH sides, and the full table at bench
      // scale costs ~16 s for the same semantic coverage
      val ev = t(s, dir, "events").filter(pmod(col("user_id"), lit(4)) === 0)
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      // 2 ticks: cross-batch matching is already exercised (tick-1
      // left state pairs tick-2 right arrivals) at half the per-batch
      // join-state commit overhead of 4
      // pollingMs pinned at Spark's 10 ms default: the 43-twin A/B that
      // set the gate default to 1 ms improved 40 twins but regressed
      // THIS one consistently (1.98 → 2.74 s subset run; up to 3.8 s
      // in-catalog) — the stream-stream join's two-source lock-step
      // handshake schedules differently under eager polling
      val (out, _) = runStream(s, Seq((left, "ts"), (right, "ts")), "append", ticks = 2,
        pollingMs = Some(10)) {
        case Seq(l, r) => StreamingState.intervalJoinStream(
          l, r, "user_id", "ts", within = "1 hour", watermark = "365 days")
      }
      out
    }))

  val oracles: Map[String, String] = Map(
    // identical to the batch t1 oracle: the stream's final state IS
    // the last-row-per-key accumulation
    "t1s_state_stream" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    // crash recovery changes NOTHING about the result — that is the
    // contract: the recovered run's state equals the unbroken run's,
    // so t1r shares t1s's batch oracle verbatim
    "t1r_state_recovery" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "d1s_dedup_stream" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,

    // batch-equality by construction: reuse the batch oracles verbatim
    "mm1s_media_stream" -> PipelineQueries.oracles("mm1_media_features"),
    "st4s_quantile_stream" -> PipelineQueries.oracles("st4_quantile_sketch"),
    "v2s_drift_stream" -> PipelineQueries.oracles("v2_profile_drift"),
    "v3s_share_drift_stream" -> PipelineQueries.oracles("v3_time_share_drift"),
    "p21s_calibration_stream" -> PipelineQueries.oracles("p21_classifier_calibration"),

    "p23s_bootstrap_stream" -> PipelineQueries.oracles("p23_bootstrap_ci"),
    // admission = first cap ids per stratum (id-ascending feed)
    "p22s_quota_admission_stream" ->
      """SELECT source, doc_id, CAST(rn AS BIGINT) AS admit_rank FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,
    "d3s_lsh_dedup_stream" -> PipelineQueries.oracles("d3_minhash_lsh"),
    "p2s_pack_stream" -> PipelineQueries.oracles("p2_token_pack"),
    "d5s_embed_neardup_stream" -> PipelineQueries.oracles("d5_embed_neardup"),

    // a lossless round-trip returns the events table itself
    "k2s_engine_log_roundtrip" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events""".stripMargin,

    // p19's batch oracle with the window ordered by ARRIVAL (= id):
    // the live dispatcher assigns slots in feed order
    "p19s_length_batches_stream" ->
      s"""WITH b AS (SELECT doc_id,
         |  ${PipelineQueries.phSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  len(string_split(text,' ')) AS n_tokens FROM documents),
         |k AS (SELECT *, CAST(pow(2, ceil(log2(CAST(greatest(n_tokens, 16) AS DOUBLE)))) AS BIGINT) AS bucket FROM b),
         |r AS (SELECT *, row_number() OVER (PARTITION BY shard, bucket ORDER BY doc_id) AS rn FROM k)
         |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens, bucket,
         |       CAST(floor((rn - 1) / greatest(1, 4096 // bucket)) AS BIGINT) AS batch_id
         |FROM r""".stripMargin,

    // late-replay parity: emission order must equal the engineered
    // (md5-shuffled) cycle order — late cycles emit now, nothing
    // reordered or dropped; the oracle recomputes the same shuffle
    "k2b_late_replay" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
        |                  (row_number() OVER (ORDER BY event_id) - 1) // 100 AS cyc
        |           FROM events WHERE event_id <= 2000),
        |o AS (SELECT e.*, row_number() OVER (ORDER BY md5(CAST(cyc AS VARCHAR)), event_id) AS emit_pos
        |      FROM e)
        |SELECT event_id, ts, user_id, event_type, value,
        |       CAST(emit_pos AS BIGINT) AS emit_pos FROM o""".stripMargin,
    // k2b's log resumed at cycle 7's exact engine timestamp (ms, the
    // log's csp_engine_timestamp unit): cycles whose head timestamp is
    // >= the boundary replay — INCLUSIVE, so cycle 7's own rows emit
    "k2c_resume_replay" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
        |                  (row_number() OVER (ORDER BY event_id) - 1) // 100 AS cyc
        |           FROM events WHERE event_id <= 2000),
        |h AS (SELECT cyc, epoch_ms(arg_min(ts, event_id)) AS hms FROM e GROUP BY cyc),
        |st AS (SELECT hms AS s0 FROM h WHERE cyc = 7),
        |q AS (SELECT e.* FROM e JOIN h USING (cyc), st WHERE h.hms >= st.s0),
        |o AS (SELECT q.*, row_number() OVER (ORDER BY md5(CAST(cyc AS VARCHAR)), event_id) AS emit_pos
        |      FROM q)
        |SELECT event_id, ts, user_id, event_type, value,
        |       CAST(emit_pos AS BIGINT) AS emit_pos FROM o""".stripMargin,

    // the stream's final window state equals the plain batch GROUP BY
    // (integer count + integer sum — order-independent)
    "a9s_windowed_stream" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket,
        |       event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the stream's closed sessions equal the batch gaps-and-islands
    // sessionization (12h gap; integer count + integer sum)
    "a11s_session_stream" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
        |m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |                       OR t - lag(t) OVER w >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_value,
        |       min(t) AS session_start
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // the stream's per-user (stage, time) fold equals the batch
    // funnel's min-time chain — batch oracle verbatim
    "a14s_funnel_stream" -> RelationalQueries.oracles("a14_funnel"),

    // the stream's final interval accumulation equals the batch lead()
    // sum — batch oracle verbatim
    "w4s_twap_stream" -> RelationalQueries.oracles("w4_twap"),

    "w7s_drawdown_stream" -> RelationalQueries.oracles("w7_drawdown"),
    "w11s_cusum_stream" -> RelationalQueries.oracles("w11_cusum"),
    "a24s_hour_profile_stream" -> RelationalQueries.oracles("a24_hour_profile"),
    "v4s_novelty_stream" -> PipelineQueries.oracles("v4_entity_novelty"),

    // the max-n emission per (user, day bucket) is that bucket's final
    // realized-variance mass row — oracle verbatim
    "w9s_realized_var_stream" -> RelationalQueries.oracles("w9_realized_var"),

    // the final per-key high-water-mark masses equal the batch audit —
    // oracle verbatim
    "a22s_lateness_stream" -> RelationalQueries.oracles("a22_lateness_audit"),

    // every tick judged once against its prior window — the emitted
    // stream IS the batch anomaly frame, oracle verbatim
    "w10s_anomaly_stream" -> RelationalQueries.oracles("w10_rolling_anomaly"),

    // the emitted pair stream is the batch lag() pair set — oracle
    // verbatim
    "a17s_transitions_stream" -> RelationalQueries.oracles("a17_transitions"),

    // the frozen first-N prefix equals the batch truncation — oracle
    // verbatim
    "a18s_paths_stream" -> RelationalQueries.oracles("a18_user_paths"),

    // the emitted hop latencies are the batch frontier-join dts —
    // oracle verbatim
    "a20s_hop_times_stream" -> RelationalQueries.oracles("a20_funnel_hop_times"),

    // the final per-bar state equals the batch OHLC aggregate — oracle
    // verbatim
    "w6s_ohlc_stream" -> RelationalQueries.oracles("w6_ohlc_bars"),

    // the final per-lang grid equals the batch sketch; exact counts at
    // the collision-free tier
    "st9s_countmin_stream" ->
      """SELECT lang, t AS token, count(*) AS est_count
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |WHERE t IN ('scan', 'column', 'window', 'sort', 'value')
        |GROUP BY lang, t""".stripMargin,

    // the stream's final per-label Gram diagonal equals the batch
    // quantized aggregate (same trunc(x·2^20) integers)
    "s16s_gram_stream" ->
      """WITH q AS (SELECT label,
        |  [CAST(trunc(CAST(x AS DOUBLE)*1048576.0) AS BIGINT) for x in embedding] AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(g.j AS INT) AS j,
        |       CAST(SUM(qv[g.j]) AS BIGINT) AS s,
        |       CAST(SUM(qv[g.j]*qv[g.j]) AS BIGINT) AS p
        |FROM q, generate_series(1,64) g(j) GROUP BY label, g.j""".stripMargin,

    // the delta stream is the batch distinct (user, period) frame —
    // batch oracle verbatim
    "a15s_retention_stream" -> RelationalQueries.oracles("a15_retention"),

    // the stream's final sketch state equals the batch wordcount
    // top-10 (exact tier, deterministic tie-break)
    "st5s_heavy_hitters_stream" ->
      """WITH tk AS (SELECT lang, t AS token FROM
        |  (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |ct AS (SELECT lang, token, count(*) AS n FROM tk GROUP BY lang, token),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY n DESC, token ASC) AS rank FROM ct)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, token, CAST(n AS BIGINT) AS n
        |FROM r WHERE rank <= 10""".stripMargin,

    // the exact tier: final per-key state == batch count(DISTINCT)
    "st6s_distinct_stream" ->
      """SELECT event_type, CAST(count(user_id) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,

    "st7s_profile_stream" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
    },

    // literal quantizer assignment (cos desc, cell asc, NaN-guarded —
    // the IVF rule) + per-cell count and integer micro-sums
    "c4s_kmeans_refit_stream" ->
      s"""WITH $stubCentroidsSql,
         |scored AS (SELECT e.vec_id, e.embedding, cents.c,
         |    list_dot_product(CAST(e.embedding AS DOUBLE[]), ce) /
         |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(ce, ce))) AS cos
         |  FROM embeddings e CROSS JOIN cents),
         |assigned AS (SELECT vec_id, embedding, c AS cell FROM (
         |    SELECT vec_id, embedding, c,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c ASC) AS rn
         |    FROM scored WHERE NOT isnan(cos)) WHERE rn = 1),
         |x AS (SELECT cell, unnest(generate_series(1, 64)) AS d, embedding FROM assigned),
         |sums AS (SELECT cell, d,
         |           CAST(sum(CAST(floor(1e6*CAST(embedding[d] AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS sd
         |         FROM x GROUP BY cell, d),
         |cnt AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell)
         |SELECT sums.cell, cnt.n, sums.d, CAST(sums.sd AS DOUBLE) AS centroid_sum
         |FROM sums JOIN cnt USING (cell)""".stripMargin,

    // batch ivfTopK over the same literal quantizer: corpus rows in
    // their argmax cell, queries probe their 2 nearest cells, exact
    // cosine rank within the probed candidates (NaN-guarded)
    "s7s_ann_query_stream" -> {
      def cosE(a: String, b: String) =
        s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) / " +
          s"(sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) * " +
          s"sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))"
      s"""WITH $stubCentroidsSql,
         |scored AS (SELECT e.vec_id, e.embedding, cents.c,
         |    list_dot_product(CAST(e.embedding AS DOUBLE[]), ce) /
         |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(ce, ce))) AS cos
         |  FROM embeddings e CROSS JOIN cents),
         |assigned AS (SELECT vec_id AS cid, embedding AS cv, c AS cell FROM (
         |    SELECT vec_id, embedding, c,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c ASC) AS rn
         |    FROM scored WHERE NOT isnan(cos)) WHERE rn = 1),
         |qprobe AS (SELECT vec_id AS qid, embedding AS qv, c AS cell FROM (
         |    SELECT vec_id, embedding, c,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c ASC) AS rn
         |    FROM scored WHERE NOT isnan(cos) AND vec_id < 8) WHERE rn <= 2),
         |cand AS (SELECT qid, cid, ${cosE("qv", "cv")} AS cosine
         |         FROM qprobe JOIN assigned USING (cell) WHERE qid <> cid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY cosine DESC, cid ASC) AS rank
         |      FROM cand WHERE NOT isnan(cosine))
         |SELECT qid, cid, cosine, rank FROM r WHERE rank <= 3""".stripMargin
    },

    // the ascending-id greedy replayed sequentially: a recursive CTE
    // walks each cell in id order carrying the kept roster (ids +
    // vectors), dropping any arrival within 0.8 cosine of a kept one
    "c2s_semantic_dedup_stream" -> {
      val cos = "list_dot_product(v, o.emb) / " +
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(o.emb, o.emb)))"
      s"""WITH RECURSIVE $stubCentroidsSql,
         |scored AS (SELECT e.vec_id, e.embedding, cents.c,
         |    list_dot_product(CAST(e.embedding AS DOUBLE[]), ce) /
         |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(ce, ce))) AS cos
         |  FROM embeddings e CROSS JOIN cents),
         |assigned AS (SELECT vec_id, embedding, c AS cell FROM (
         |    SELECT vec_id, embedding, c,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c ASC) AS rn
         |    FROM scored WHERE NOT isnan(cos)) WHERE rn = 1),
         |ord AS (SELECT cell, vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |          row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
         |        FROM assigned),
         |walk(cell, rn, kept_ids, kept_vecs) AS (
         |  SELECT cell, CAST(1 AS BIGINT), [vec_id], [emb] FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.cell, o.rn,
         |    CASE WHEN len(list_filter(w.kept_vecs, v -> $cos >= 0.12)) > 0
         |         THEN w.kept_ids ELSE list_append(w.kept_ids, o.vec_id) END,
         |    CASE WHEN len(list_filter(w.kept_vecs, v -> $cos >= 0.12)) > 0
         |         THEN w.kept_vecs ELSE list_append(w.kept_vecs, o.emb) END
         |  FROM walk w JOIN ord o ON o.cell = w.cell AND o.rn = w.rn + 1),
         |last AS (SELECT cell, kept_ids FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY rn DESC) AS rr
         |    FROM walk) WHERE rr = 1)
         |SELECT unnest(kept_ids) AS id, cell FROM last""".stripMargin
    },

    // the d10 candidate/verify CTEs, emitting the dup-evidence pairs
    // the stream surfaces instead of the surviving corpus
    "d10s_cross_dup_stream" ->
      s"""WITH ${PipelineQueries.shingleCtes},
         |shh AS (SELECT DISTINCT doc_id, ${PipelineQueries.phSql("s")} AS h FROM sh),
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashSigCols} FROM shh GROUP BY doc_id),
         |bands AS (${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, ${PipelineQueries.bandHashSql(b)} AS bh FROM sig")
             .mkString(" UNION ALL ")}),
         |cand AS (SELECT DISTINCT nw.doc_id AS id, rf.doc_id AS ref_id
         |         FROM (SELECT * FROM bands WHERE doc_id % 3 <> 0) nw
         |         JOIN (SELECT * FROM bands WHERE doc_id % 3 = 0) rf
         |           ON nw.band = rf.band AND nw.bh = rf.bh),
         |est AS (SELECT id, ref_id, ${PipelineQueries.sigAgreeSql} / 16.0 AS est_jaccard
         |        FROM cand JOIN sig a ON ref_id = a.doc_id JOIN sig b ON id = b.doc_id)
         |SELECT id, ref_id, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin,

    "w3s_interval_join" ->
      """SELECT l.event_id, CAST(l.ts AS TIMESTAMP) AS ts, l.user_id, l.event_type,
        |       l.value, l.props,
        |       r.event_id AS event_id_r, CAST(r.ts AS TIMESTAMP) AS ts_r,
        |       r.event_type AS event_type_r, r.value AS value_r, r.props AS props_r
        |FROM events l JOIN events r ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |WHERE l.event_id % 2 = 0 AND r.event_id % 2 = 1
        |  AND l.user_id % 4 = 0 AND r.user_id % 4 = 0""".stripMargin)
}
