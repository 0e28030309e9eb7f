package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future, Promise}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core.ChannelSpec
import graft.state.{StateFastPath, StateOps, StateQuery}

/** The live gateway engine: Structured Streaming channels + the
  * request/serving surface (`send` / `last` / `next` / `state` /
  * `lookup`) of the reference gateway (SURVEY.md §2.3, §3).
  *
  * Execution model mapping (reference csp engine → Spark):
  *  - a channel's tick stream = a `MemoryStream[Row]` (push ingress:
  *    REST send / initializer / replay) consumed by ONE streaming query
  *    per channel; an engine cycle = a micro-batch;
  *  - csp's total tick order = the explicit `_seq` column assigned by
  *    the single-writer [[send]] path (SURVEY.md §7.5.3) — load-bearing
  *    for last/state determinism;
  *  - the `State[T]` accumulator (T1) = per-batch upsert of
  *    last-row-per-key into a key-ordered serving snapshot; queries
  *    (T2/T3) filter that snapshot driver-side with the batch
  *    [[graft.state.StateOps]] semantics (pinned by StateFastPathSpec),
  *    or build a DataFrame over it and run the StateOps path itself, so
  *    streaming and batch answers share one translator and one set of
  *    semantics;
  *  - `next` futures (T6) = promises resolved on the next micro-batch
  *    containing rows for the channel (reference
  *    futures/adapter.py:68-96 incl. shutdown resolution with None);
  *  - feedback edges (T8) = foreachBatch re-injection into the target
  *    channel's MemoryStream, one micro-batch delay (reference
  *    channels.py:474-545 one-cycle feedback delay).
  *
  * Scale note: the serving maps (last/lookup/state) hold only the
  * *distinct-key frontier*, not history — the same bound as the
  * reference's DuckDB state tables. On a cluster the foreachBatch
  * upsert would target a keyed external store (or Delta) instead of
  * driver memory; everything upstream of the sink is ordinary
  * distributed streaming and is unaffected by that swap.
  */
final class ChannelRuntime(
    val spark: SparkSession,
    val specs: Map[String, ChannelSpec],
    /** Default: a temp dir the end-of-run [[graft.core.Scratch]] sweep
      * deletes; an explicit one is kept for restart and recovery. */
    checkpointDir: String = graft.core.Scratch.dir("graft-ckpt"),
    /** Cluster serving mode: keyed state accumulates in the Spark
      * state store (RocksDB, sharded across executors) via
      * [[StreamingState.lastByKeyStream]] instead of a driver map, and
      * `state()` reads the store back through the `statestore` batch
      * source — per-micro-batch driver work stays O(listeners), the
      * key frontier never lives on the driver. One-batch snapshot
      * staleness (last committed batch), same bound as the reference's
      * DuckDB buffer flush lag.
      */
    val distributedState: Boolean = false) {

  import ChannelRuntime._

  private val seqGen = new AtomicLong(0L)
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Engine-side schema = declared schema + the arrival-order column. */
  def runtimeSchema(spec: ChannelSpec): StructType =
    StructType(spec.schema.fields :+ StructField(SeqCol, LongType, nullable = false))

  private final class Chan(val spec: ChannelSpec) {
    val schema: StructType = runtimeSchema(spec)
    val names: Set[String] = spec.schema.fieldNames.toSet
    /** One input partition per micro-batch: `MemoryStream` then plans the
      * batch's rows as one task, in offset (send) order, however many
      * sends it holds. */
    val stream: MemoryStream[Row] = MemoryStream[Row](1)(Encoders.row(schema), sqlCtx)
    @volatile var lastRow: Option[Row] = None
    /** Bounded id→row registry (T7): oldest-inserted evicts beyond
      * `lookupMaxEntries`; skipped entirely under `omitFromLookup`. */
    /** True once the registry has ever evicted — only then can a miss
      * mean "evicted but present in state" rather than "absent". */
    @volatile var lookupEvicted: Boolean = false
    val lookupMap: java.util.Map[String, Row] =
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[String, Row](16, 0.75f, false) {
          override def removeEldestEntry(e: java.util.Map.Entry[String, Row]): Boolean = {
            val evict = size() > spec.lookupMaxEntries
            if (evict) lookupEvicted = true
            evict
          }
        })
    /** Last row per effective key; upserted only by this channel's
      * foreachBatch, read through its per-batch snapshot. */
    val frontier = new Frontier(schema, effectiveKeys(spec), spec.stateKeyby :+ SeqCol)
    val nextWaiters = new ConcurrentLinkedQueue[Promise[Option[Row]]]
    @volatile var query: StreamingQuery = _
    /** distributedState mode: second ingest stream feeding the keyed
      * state-store query (MemoryStream commits truncate the shared
      * buffer, so the two consumers cannot share one stream). */
    val stateStream: MemoryStream[Row] = MemoryStream[Row](Encoders.row(schema), sqlCtx)
    @volatile var stateQuery: StreamingQuery = _
    @volatile var tickCount: Long = 0L
  }

  // fail fast on misdeclared channels (typo'd basket key columns,
  // field types without a JSON form etc.)
  specs.values.foreach { s =>
    s.schema.fields.foreach(f => require(JsonCodec.supported(f.dataType),
      s"Channel '${s.name}': field '${f.name}' has type ${f.dataType.simpleString}, " +
        "which has no JSON form"))
    s.basketKey.foreach(k => require(s.schema.fieldNames.contains(k),
      s"Channel '${s.name}': basket key column '$k' not in schema"))
  }

  private val chans: Map[String, Chan] =
    specs.map { case (n, s) => n -> new Chan(s) }

  /** Batch listeners: engine-log encoders, feedback edges, websocket/
    * SSE fanout, user sinks. Called on the driver per (channel,
    * micro-batch of rows in seq order). Copy-on-write: subscribers
    * attach/detach while batches run. A listener that throws is logged
    * to stderr and skipped for that batch; the channel keeps running.
    */
  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[(String, Seq[Row]) => Unit]

  def addListener(f: (String, Seq[Row]) => Unit): Unit = listeners.add(f)

  /** Detach a listener (K8 demand control: egress consumes only while
    * it has subscribers — reference websocket.py:195-210
    * make_passive/make_active).
    */
  def removeListener(f: (String, Seq[Row]) => Unit): Unit = listeners.remove(f)

  /** Feedback edge (T8): rows of `from` re-injected into `to` on the
    * next micro-batch (one-cycle delay), optionally transformed.
    */
  def addFeedback(from: String, to: String)(f: Row => Option[Row]): Unit =
    addListener { (ch, rows) =>
      if (ch == from) {
        val out = rows.flatMap(r => f(r))
        if (out.nonEmpty) sendRows(to, out)
      }
    }

  private def chan(name: String): Chan =
    chans.getOrElse(name, throw new NoSuchElementException(s"Unknown channel '$name'"))

  /** basket channels without an explicit state keyby still maintain a
    * per-basket-key frontier (serves lastByBasketKey) */
  private def effectiveKeys(spec: ChannelSpec): Seq[String] =
    if (spec.stateKeyby.nonEmpty) spec.stateKeyby else spec.basketKey.toSeq

  /** Start one streaming query per channel. */
  /** `endAfter`: optional bounded run (reference `Gateway.start
    * (endtime=...)`, e2e-tested by test_gateway_start_stop
    * `test_start_with_endtime`) — the runtime stops itself cleanly
    * after the duration; `next()` waiters resolve None as at any
    * shutdown.
    */
  def start(endAfter: Option[Duration] = None): Unit = {
    startQueries()
    endAfter.foreach { d =>
      val t = new Thread(() => {
        try Thread.sleep(d.toMillis) catch { case _: InterruptedException => () }
        stop()
      }, "graft-endtime")
      t.setDaemon(true)
      t.start()
    }
  }

  private def startQueries(): Unit = chans.foreach { case (name, c) =>
    val idIdx = c.schema.fieldNames.indexOf(IdCol)
    val seqIdx = c.schema.fieldIndex(SeqCol)
    val bySeq = java.util.Comparator.comparingLong[Row](_.getLong(seqIdx))
    val effKeys = effectiveKeys(c.spec)
    c.query = c.stream.toDF().writeStream
      .queryName(s"graft_$name")
      .option("checkpointLocation", s"$checkpointDir/$name")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        // One engine cycle: rows in arrival order (seq assigned at send).
        // The one-partition stream already returns them in that order; the
        // stable driver-side sort is one linear pass then, and keeps the
        // listener contract independent of how the source plans partitions.
        val batch = df.collect()
        java.util.Arrays.sort(batch, bySeq)
        val rows = ArraySeq.unsafeWrapArray(batch)
        if (rows.nonEmpty) {
          c.lastRow = Some(rows.last)
          c.tickCount += rows.length
          if (idIdx >= 0 && !c.spec.omitFromLookup)
            rows.foreach(r => if (!r.isNullAt(idIdx)) c.lookupMap.put(String.valueOf(r.get(idIdx)), r))
          // published before the batch returns, so processAllAvailable()
          // followed by state() sees this batch
          if (effKeys.nonEmpty && !distributedState) c.frontier.upsert(rows)
          var p = c.nextWaiters.poll()
          while (p != null) { p.trySuccess(Some(rows.head)); p = c.nextWaiters.poll() }
          listeners.forEach { l =>
            try l(name, rows)
            catch {
              case NonFatal(e) =>
                Console.err.println(s"[graft] listener on channel '$name' failed: $e")
            }
          }
        }
        ()
      }
      .start()

    // distributedState: keyed channels get a second query that folds
    // ticks into the sharded state store; the noop write executes the
    // incremental plan distributed with zero driver-side data
    if (distributedState && effKeys.nonEmpty)
      c.stateQuery = StreamingState.lastByKeyStream(c.stateStream.toDF(), effKeys, SeqCol)
        .writeStream
        .queryName(s"graft_${name}_state")
        .outputMode("update")
        .option("checkpointLocation", stateCheckpoint(name))
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .foreachBatch((df: DataFrame, _: Long) => df.write.format("noop").mode("overwrite").save())
        .start()
  }

  private def stateCheckpoint(name: String) = s"$checkpointDir/$name-state"

  /** Block until every in-flight tick has been processed. */
  def processAllAvailable(): Unit =
    chans.values.foreach { c =>
      if (c.query != null) c.query.processAllAvailable()
      if (c.stateQuery != null) c.stateQuery.processAllAvailable()
    }

  /** Stop all queries; dangling `next` futures resolve with None
    * (reference futures/adapter.py:90-93 shutdown semantics).
    */
  def stop(): Unit = {
    chans.values.foreach { c =>
      var p = c.nextWaiters.poll()
      while (p != null) { p.trySuccess(None); p = c.nextWaiters.poll() }
      if (c.query != null) c.query.stop()
      if (c.stateQuery != null) c.stateQuery.stop()
    }
  }

  // ---- write path (S5/S6/S7) -------------------------------------------

  /** Validate + ingest rows: values coerced against the declared
    * schema by [[JsonCodec.coerce]] (missing nullable fields → null;
    * `id`/`timestamp` system fields auto-assigned when absent, reference
    * base.py:61-65), a monotonic `_seq` appended (single-writer order).
    * Returns the validated rows as ingested.
    */
  /** `applyHooks = false` (engine-log replay): the logged rows already
    * passed the processor/validator at original ingest — re-applying
    * would double transforms and re-drop (reference replay re-emits
    * verbatim). */
  def send(name: String, values: Seq[Map[String, Any]],
      applyHooks: Boolean = true): Seq[Row] = {
    val c = chan(name)
    // Seq assignment + enqueue must be atomic per channel: concurrent
    // REST senders would otherwise interleave (A gets seq 1, B gets
    // seq 2, B's addData lands in the earlier micro-batch) and the
    // driver-side ordering within a batch cannot repair cross-batch
    // inversion.
    c.synchronized { sendLocked(c, name, values, applyHooks) }
  }

  private def sendLocked(c: Chan, name: String, values: Seq[Map[String, Any]],
      applyHooks: Boolean): Seq[Row] = {
    val rows = values.flatMap { m =>
      JsonCodec.requireKnown(m.keySet, c.names, s"channel '$name'")
      val vals = c.spec.schema.fields.map { f =>
        m.get(f.name) match {
          case Some(v) => JsonCodec.coerce(v, f.dataType, f.name)
          case None =>
            f.name match {
              case IdCol if f.dataType == StringType => graft.core.IdGen.global.next()
              case TsCol if f.dataType == TimestampType =>
                new java.sql.Timestamp(System.currentTimeMillis())
              case _ if f.nullable => null
              case _ => throw new IllegalArgumentException(
                s"Missing required field '${f.name}' for channel '$name'")
            }
        }
      }
      val built = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        vals.toArray, c.spec.schema): Row
      // per-record processor (None drops), then model validator —
      // reference KafkaChannelProcessor.process + _validate_gateway_
      // struct_after ordering. Seq is stamped AFTER both so dropped
      // records leave no gap and rewrites can't forge ordering.
      val processed =
        if (applyHooks) c.spec.processor.fold(Option(built))(_.apply(built))
        else Option(built)
      processed.map { p0 =>
        // re-attach the schema: processors may rebuild with Row.fromSeq,
        // and the validator is entitled to getAs[name]
        val p = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          p0.toSeq.toArray, c.spec.schema): Row
        val v =
          if (!applyHooks) p
          else c.spec.validateAfter.fold(p)(_.apply(p).fold(
            reason => throw new IllegalArgumentException(
              s"Channel '$name' validation failed: $reason"),
            identity))
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          (v.toSeq :+ seqGen.incrementAndGet()).toArray, c.schema): Row
      }
    }
    c.stream.addData(rows)
    if (distributedState && effectiveKeys(c.spec).nonEmpty) c.stateStream.addData(rows)
    rows
  }

  private def sendRows(name: String, rows: Seq[Row]): Unit = {
    val c = chan(name)
    c.synchronized {
      val reseq = rows.map(r => Row.fromSeq(r.toSeq.dropRight(1) :+ seqGen.incrementAndGet()))
      c.stream.addData(reseq)
      if (distributedState && effectiveKeys(c.spec).nonEmpty) c.stateStream.addData(reseq)
    }
  }

  // ---- read path (T2/T3/T5/T6/T7) --------------------------------------

  /** T5 — most recent tick (None if never ticked). */
  def last(name: String): Option[Row] = chan(name).lastRow

  /** T5 basket variant — last per basket key (max seq wins when the
    * state frontier is keyed more finely than the basket key).
    */
  def lastByBasketKey(name: String): Map[Any, Row] = {
    val c = chan(name)
    c.spec.basketKey match {
      case Some(k) =>
        val i = c.schema.fieldNames.indexOf(k)
        val seqI = c.schema.fieldNames.indexOf(SeqCol)
        val frontier =
          if (distributedState)
            StreamingState.stateSnapshot(spark, stateCheckpoint(name))
              .map(_.collect().toSeq).getOrElse(Nil) // frontier only, never history
          else ArraySeq.unsafeWrapArray(c.frontier.rows)
        frontier.groupBy(r => r.get(i))
          .map { case (key, rs) => key -> rs.maxBy(_.getLong(seqI)) }
      case None => Map.empty
    }
  }

  /** T6 — future resolved by the channel's next tick (None at
    * shutdown). Await with `Await.result(rt.next("ch"), timeout)`.
    */
  def next(name: String): Future[Option[Row]] = {
    val p = Promise[Option[Row]]()
    chan(name).nextWaiters.add(p)
    p.future
  }

  /** T6, blocking convenience. */
  def awaitNext(name: String, timeout: Duration): Option[Row] =
    Await.result(next(name), timeout)

  /** T6 basket variant — next tick carrying the given basket key
    * (reference futures/adapter.py:99-127 per-key futures). The
    * listener detaches on resolution or timeout.
    */
  def awaitNextByKey(name: String, key: String, timeout: Duration): Option[Row] = {
    val c = chan(name)
    val keyCol = c.spec.basketKey.getOrElse(
      throw new IllegalArgumentException(s"Channel '$name' is not a dict basket"))
    val i = c.schema.fieldNames.indexOf(keyCol)
    val p = Promise[Option[Row]]()
    lazy val l: (String, Seq[Row]) => Unit = (ch, rows) =>
      if (ch == name)
        rows.find(r => !r.isNullAt(i) && String.valueOf(r.get(i)) == key)
          .foreach(r => p.trySuccess(Some(r)))
    addListener(l)
    try Await.result(p.future, timeout)
    finally removeListener(l)
  }

  /** T7 — lookup by id: O(1) against the bounded driver registry, then
    * (distributedState mode) a fallback distributed probe of the
    * sharded state store's frontier — so ids evicted from the registry
    * or skipped by `omitFromLookup` still resolve without any driver
    * map at all, as long as they are a current per-key winner. The
    * probe is an equality filter over the statestore scan (predicate
    * pushed to the store files); max `_seq` wins if several state keys
    * share the id.
    */
  def lookup(name: String, id: String): Option[Row] = {
    val c = chan(name)
    val hit = Option(c.lookupMap.get(id))
    if (hit.isDefined) hit
    // gate the distributed probe to registries that can actually be
    // incomplete (opt-out channels or post-eviction) — otherwise every
    // miss for a nonexistent id would launch a full statestore scan,
    // making the serving path's miss latency a cluster job
    else if (distributedState && effectiveKeys(c.spec).nonEmpty &&
      (c.spec.omitFromLookup || c.lookupEvicted) &&
      c.schema.fieldNames.contains(IdCol)) {
      val seqI = c.schema.fieldNames.indexOf(SeqCol)
      StreamingState.stateSnapshot(spark, stateCheckpoint(name))
        .flatMap(df => df.filter(col(IdCol) === lit(id)).collect()
          .sortBy(-_.getLong(seqI)).headOption)
    } else None
  }

  /** Current accumulated state (T1 result) as a DataFrame. In
    * distributedState mode this is a distributed scan of the sharded
    * state store's last committed snapshot — the driver never
    * materializes the key frontier.
    */
  def stateFrame(name: String): DataFrame = {
    val c = chan(name)
    require(c.spec.stateKeyby.nonEmpty, s"Channel '$name' has no state keyby")
    if (distributedState)
      StreamingState.stateSnapshot(spark, stateCheckpoint(name))
        .getOrElse(spark.createDataFrame(
          java.util.Collections.emptyList[Row](), c.schema)) // pre-first-commit
    else
      spark.createDataFrame(ArraySeq.unsafeWrapArray(c.frontier.rows).asJava, c.schema)
  }

  /** T2/T3 — state query: filters + ASC NULLS FIRST key ordering,
    * exactly the batch StateOps semantics (shared translator). In
    * single-node serving mode the frontier is driver-resident and
    * re-published at the end of every micro-batch as an immutable
    * snapshot already in query order, so a read filters that snapshot
    * in memory ([[graft.state.StateFastPath.filterSorted]]: no copy, no
    * sort) and sees whole batches only, at most one batch stale — the
    * bound distributed mode documents. Measured on a 20,000-key
    * frontier (perfbench `state_read` seed 11, 4 vCPU): ~0.4 ms for a
    * 200-row filtered read and ~0.02 ms for a full read, against
    * 6.0 ms and 85 ms when each read copied and sorted the frontier and
    * ~140 ms for the Spark-job round trip (SCALE.md "Measured EXTERNAL
    * ceiling"). Anything whose semantics the fast path cannot
    * reproduce exactly (distributed state, ANSI-sensitive casts,
    * coercing comparisons, key types without a driver-side order)
    * takes the Spark path below.
    */
  def state(name: String, q: StateQuery = StateQuery()): Seq[Row] = {
    val c = chan(name)
    val fast =
      if (distributedState || !c.frontier.ordered) None
      else StateFastPath.filterSorted(c.frontier.rows, c.schema, q)
    fast.getOrElse {
      StateOps.query(stateFrame(name), c.spec.stateKeyby, q, tieBreak = Seq(SeqCol))
        .collect().toSeq
    }
  }

  def tickCount(name: String): Long = chan(name).tickCount

  /** Rows held in the DRIVER's state map for a channel — 0 in
    * distributedState mode (diagnostic; pinned by DistributedStateSpec).
    */
  def driverStateSize(name: String): Int = chan(name).frontier.rows.length
}

object ChannelRuntime {
  val SeqCol = "_seq"
  val IdCol = "id"
  val TsCol = "timestamp"

  /** One channel's last-row-per-key frontier. [[upsert]] is called only
    * by the channel's foreachBatch thread; readers see [[rows]], an
    * immutable snapshot swapped in whole once per batch, so they never
    * observe a half-applied batch. Keys group like Spark's GROUP BY
    * (`StateFastPath.groupKey`: dotted paths, NaN == NaN, -0.0 == 0.0).
    * When the state-query order `orderCols` is compiled, the snapshot
    * is kept in that order by merging each batch's sorted upserts into
    * the previous snapshot: O(n + b log b) per batch for n keys and b
    * upserts, no full re-sort.
    */
  private[streaming] final class Frontier(
      schema: StructType, keys: Seq[String], orderCols: Seq[String]) {
    private val keyOf = StateFastPath.groupKey(schema, keys)
    private val order = StateFastPath.ordering(schema, orderCols.map(_ -> true))
    private val byKey = new java.util.HashMap[AnyRef, Row]
    @volatile private var snapshot: Array[Row] = Array.empty[Row]

    /** False when a key type has no driver-side order: the snapshot is
      * then unordered and queries take the Spark path. */
    def ordered: Boolean = order.isDefined

    /** The latest published snapshot; callers must not mutate it. */
    def rows: Array[Row] = snapshot

    /** Apply one micro-batch (rows in `_seq` order), then publish. */
    def upsert(batch: Seq[Row]): Unit = {
      val latest = new java.util.HashMap[AnyRef, Row]
      batch.foreach(r => latest.put(keyOf(r), r))
      val ups = new Array[Row](latest.size)
      val replaced = new scala.collection.mutable.ArrayBuffer[Row]
      var n = 0
      latest.forEach { (k, r) =>
        val old = byKey.put(k, r)
        if (old != null) replaced += old
        ups(n) = r
        n += 1
      }
      snapshot = order match {
        case Some(ord) => merge(snapshot, replaced, ups, ord)
        case None      => byKey.values.toArray(new Array[Row](0))
      }
    }

    /** `prev` minus `replaced`, plus `ups`, all in `ord` order. `_seq` is
      * unique per channel, so `ord` is total and binary search finds
      * each replaced row and each upsert's insertion point exactly. */
    private def merge(prev: Array[Row], replaced: Iterable[Row], ups: Array[Row],
        ord: Ordering[Row]): Array[Row] = {
      java.util.Arrays.sort(ups, ord)
      val drop = replaced.map { r =>
        val i = java.util.Arrays.binarySearch(prev, r, ord)
        if (i < 0) throw new IllegalStateException("frontier snapshot lost a key")
        i
      }.toArray
      java.util.Arrays.sort(drop)
      val ins = ups.map(r => -java.util.Arrays.binarySearch(prev, r, ord) - 1)
      val out = new Array[Row](prev.length - drop.length + ups.length)
      var src = 0
      var dst = 0
      var d = 0
      var u = 0
      while (u < ups.length || d < drop.length) {
        val nextIns = if (u < ups.length) ins(u) else Int.MaxValue
        val nextDrop = if (d < drop.length) drop(d) else Int.MaxValue
        val stop = math.min(nextIns, nextDrop)
        System.arraycopy(prev, src, out, dst, stop - src)
        dst += stop - src
        src = stop
        if (nextIns <= nextDrop) { out(dst) = ups(u); dst += 1; u += 1 }
        else { src += 1; d += 1 }
      }
      System.arraycopy(prev, src, out, dst, prev.length - src)
      out
    }
  }
}
