package graft.sinks

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Transforms, ViewConfig, Views}
import graft.state.StateFastPath
import graft.streaming.ChannelRuntime

/** Egress operators (SURVEY.md §2.2).
  *
  * K1 (Kafka publish) and K3 (SQL insert) are transforms + a writer:
  * the transform halves are pure Catalyst (unit-tested on static
  * frames); the writer is the caller's `writeStream.format("kafka")`
  * or `foreachBatch`/`jdbc` wiring, which needs live endpoints. K4
  * (Perspective tables) becomes [[ViewServer]]: a periodically
  * refreshed, bounded, upserted materialization of view configs over
  * channel state — which is exactly what the reference's
  * Arrow/Perspective buffer loop does (perspective.py:491-515).
  */
object Sinks {

  /** K1 — Kafka publish serialization: selected columns → one JSON
    * `value` with optional engine-timestamp envelope (reference
    * kafka.py:259-283; envelope json_converter.py:45-49).
    */
  def toKafkaValue(
      df: DataFrame,
      cols: Seq[String],
      keyCol: Option[String] = None,
      envelopeTs: Option[String] = None,
      serde: graft.core.PayloadSerde = graft.core.JsonSerde): DataFrame = {
    val payload = envelopeTs match {
      case Some(tsCol) => serde.encode(struct(
        struct(cols.map(col): _*).as("data"),
        col(tsCol).as("csp_timestamp")))
      case None => serde.encode(struct(cols.map(col): _*))
    }
    val base = df.select(payload.as("value"))
    keyCol.map(k => df.select(col(k).cast("string").as("key"), payload.as("value")))
      .getOrElse(base)
  }

  /** K3 — SQL insert sink transform: field selection, renaming,
    * constant augmentation, nested values JSON-stringified (reference
    * modules/sql.py:61-185 ChannelSchemaConfig).
    */
  def sqlSinkProjection(
      df: DataFrame,
      fields: Seq[String],
      rename: Map[String, String] = Map.empty,
      augment: Map[String, Any] = Map.empty): DataFrame = {
    val projected = Transforms.renameAugment(df, fields, rename, augment)
    // nested struct/array/map columns -> JSON strings (sql.py:141-176)
    val jsonified = projected.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    projected.select(jsonified.toSeq: _*)
  }

  /** K3 — per-batch insert with bounded retry (sql.py retry loop).
    * The writer function is injected so tests (and JDBC-less builds)
    * can supply their own terminal write.
    */
  def insertWithRetry(batch: DataFrame, retries: Int)(write: DataFrame => Unit): Unit = {
    require(retries >= 0, s"retries must be >= 0, got $retries")
    var attempt = 0
    var done = false
    var lastErr: Throwable = null
    while (!done && attempt <= retries) {
      try { write(batch); done = true }
      catch { case NonFatal(e) => lastErr = e; attempt += 1 }
    }
    if (!done) throw lastErr
  }

  /** K3 — exactly-once batch insert. [[insertWithRetry]] alone is
    * at-least-once: a write that dies MID-batch leaves a partial
    * prefix in the target, and the retry re-inserts it — duplicates.
    * This wrapper makes the replay idempotent the standard
    * `foreachBatch` way: every attempt first clears whatever this
    * batch's epoch already wrote, then re-inserts the whole batch
    * under that epoch. The reference gets the same guarantee from the
    * DB transaction around its executemany (sql.py retry loop); the
    * epoch scope supplies it for targets without transactions (a
    * transactional target can make `clearEpoch` a no-op). Epoch ids
    * come from `foreachBatch`'s batchId, which Structured Streaming
    * replays stably across restarts — so the guarantee holds across
    * both in-JVM retries and restart replays.
    */
  def insertExactlyOnce(batch: DataFrame, epochId: Long, retries: Int)(
      clearEpoch: Long => Unit)(write: (DataFrame, Long) => Unit): Unit =
    insertWithRetry(batch, retries) { b =>
      clearEpoch(epochId)
      write(b, epochId)
    }

  /** K6 — logging sink: log every tick of selected channels
    * (reference modules/logging/stdlib.py:366-394).
    */
  def logChannels(
      runtime: ChannelRuntime,
      channels: Seq[String],
      log: String => Unit = s => println(s)): Unit =
    runtime.addListener { (ch, rows) =>
      if (channels.contains(ch)) rows.foreach(r => log(s"[$ch] $r"))
    }
}

/** K4 — Perspective-table analogue: named views (group/pivot/agg/
  * sort/filter/limit/index) maintained over channel state, refreshed
  * on demand or on an interval, served as row snapshots. `limit`
  * bounds retention (ring buffer) and `index` upserts by key exactly
  * like the reference's Perspective tables (perspective.py:149-151,
  * 210-217).
  */
object ViewServer {
  /** Top-level (not inner) so pattern matches need no outer-instance
    * check — the nested form trips the unchecked-outer-ref warning. */
  final case class ViewDef(channel: String, config: ViewConfig)

  /** Default snapshot cap for views with no explicit `limit`, no
    * `index`, and no aggregation — the reference's `default_limit`
    * ("i.e. 1000", perspective.py:210, applied at table mount,
    * perspective.py:307). Without it an identity view over a busy
    * channel collects the whole channel into driver memory every
    * refresh — unbounded at exactly the place the reference ring-
    * buffers. */
  val DefaultLimit = 10000
}

final class ViewServer(
    runtime: ChannelRuntime,
    defaultLimit: Int = ViewServer.DefaultLimit) {
  import ViewServer.ViewDef

  private val views = new TrieMap[String, ViewDef]
  private val snapshots = new TrieMap[String, (Seq[Row], org.apache.spark.sql.types.StructType)]

  // ---- incremental maintenance (reference perspective.py:491-515
  // delta buffering + :210-217 index upsert) --------------------------------
  //
  // Non-aggregating views are maintained from per-micro-batch deltas:
  // a runtime listener buffers each view's new ticks, refresh() runs
  // only the view's row-local expressions over the DELTA frame (a
  // Spark job sized by the batch, not the state), then upserts into a
  // driver-side base map keyed by the channel's state key; filter /
  // index-collapse / sort / limit evaluate driver-side over the
  // bounded base at snapshot time. Aggregate views still recompute
  // over the state frontier, but only when the channel actually
  // ticked since the last refresh. Full recompute remains the
  // fallback (distributed-state mode, window expressions, exotic
  // filter types, delta-buffer overflow) — the delta path is an
  // optimization, never a semantics change, and ViewServerDeltaSpec
  // pins delta snapshot == full-recompute snapshot per tick.

  /** One delta-maintained view: post-expression rows by state key
    * (`StateFastPath.groupKey`, so keys group as the frontier's do).
    * `dirty` defers snapshot materialization to the first READ after
    * a change — the periodic refresh tick then costs O(delta), not
    * O(state), and an unread view costs nothing to keep current. */
  private final class DeltaView {
    val base = new java.util.HashMap[AnyRef, Row]
    var schema: org.apache.spark.sql.types.StructType = _
    var initialized = false
    var dirty = false
    val pending = scala.collection.mutable.ArrayBuffer.empty[Row]
    var overflow = false
  }

  private val deltaViews = new TrieMap[String, DeltaView]
  /** Ticks seen per channel at each view's last refresh (staleness
    * check for the aggregate-view recompute skip). */
  private val lastTick = new TrieMap[String, Long]
  private val PendingCap = 200000
  @volatile private var listenerOn = false
  private val pendingLock = new Object

  private def ensureListener(): Unit =
    if (!listenerOn) pendingLock.synchronized {
      if (!listenerOn) {
        runtime.addListener { (ch, rows) =>
          pendingLock.synchronized {
            views.foreach { case (name, vd) =>
              if (vd.channel == ch) deltaViews.get(name).foreach { dv =>
                if (dv.pending.size + rows.size > PendingCap) dv.overflow = true
                else dv.pending ++= rows
              }
            }
          }
        }
        listenerOn = true
      }
    }

  /** Can this view be delta-maintained exactly? Aggregations need the
    * whole frame; window-function expressions are not row-local;
    * distributed-state mode must not mirror the frontier onto the
    * driver (its whole point is driver-state-zero). */
  private def deltaEligible(v: ViewConfig): Boolean =
    !runtime.distributedState &&
      v.groupBy.isEmpty && v.aggregates.isEmpty && v.splitBy.isEmpty &&
      v.expressions.forall { case (_, e) => rowLocalExpression(e) }

  /** True iff the expression is evaluable row-by-row: parsed and the
    * Catalyst tree contains no window expression (a substring test on
    * " over" missed `rank()over(...)` and false-positived on column
    * names containing the word). Unparseable expressions are NOT
    * eligible — the full-recompute path surfaces the analysis error
    * instead of a silently stale delta view. */
  private def rowLocalExpression(e: String): Boolean =
    try {
      import org.apache.spark.sql.catalyst.expressions.{UnresolvedWindowExpression, WindowExpression}
      val parsed = runtime.spark.sessionState.sqlParser.parseExpression(e)
      !parsed.exists {
        case _: WindowExpression           => true
        case _: UnresolvedWindowExpression => true
        case _                             => false
      }
    } catch { case NonFatal(_) => false }

  def define(name: String, channel: String, config: ViewConfig): Unit = {
    views.put(name, ViewDef(channel, config))
    if (deltaEligible(config)) {
      deltaViews.put(name, new DeltaView)
      ensureListener()
    }
  }

  def names: Seq[String] = views.keys.toSeq.sorted

  /** The channel a view reads — the serving layer needs it to apply
    * the channel's identity filter to table snapshots. */
  def channelOf(name: String): Option[String] = views.get(name).map(_.channel)

  /** Views bounded by their own config: explicit limit, upsert index
    * (one row per key), or aggregation (one row per group). Anything
    * else gets the ring-buffer cap — most recent `defaultLimit` rows
    * by arrival seq, the reference's Perspective table `limit`
    * semantics (perspective.py:149-151). */
  private def selfBounded(v: ViewConfig): Boolean =
    v.limit.nonEmpty || v.index.nonEmpty || v.groupBy.nonEmpty || v.aggregates.nonEmpty

  /** Recompute or delta-advance all views. Failures keep the previous
    * snapshot but are LOGGED — a misconfigured view (typo'd column,
    * bad aggregate) must not fail silently forever; a failure on the
    * DELTA path additionally demotes the view to full recompute (a
    * stale incremental state must not persist).
    */
  def refresh(): Unit = views.foreach { case (name, vd) =>
    try {
      deltaViews.get(name) match {
        case Some(dv) =>
          try refreshDelta(name, vd, dv)
          catch {
            case NonFatal(e) =>
              Console.err.println(
                s"[graft] view '$name' delta path failed (${e.getMessage}); demoting to full recompute")
              deltaViews.remove(name)
              refreshFull(name, vd)
          }
        case None =>
          // aggregate-path staleness skip: nothing ticked since the
          // last recompute → the snapshot is already current
          val ticks = runtime.tickCount(vd.channel)
          if (!(snapshots.contains(name) && lastTick.get(name).contains(ticks))) {
            refreshFull(name, vd)
            lastTick.put(name, ticks)
          }
      }
    } catch {
      case NonFatal(e) =>
        Console.err.println(s"[graft] view '$name' refresh failed: ${e.getMessage}")
    }
  }

  /** Diagnostics: full-recompute count (staleness-skip and A/B
    * measurements) and per-view delta-path liveness. */
  @volatile private var fullCount = 0L
  def fullRefreshCount: Long = fullCount
  def deltaActive(name: String): Boolean = deltaViews.contains(name)

  /** The original full-recompute path: state frontier → compile →
    * collect. */
  private def refreshFull(name: String, vd: ViewDef): Unit = {
    fullCount += 1
    val raw = runtime.stateFrame(vd.channel)
    val state =
      if (selfBounded(vd.config)) raw
      else raw.orderBy(col(ChannelRuntime.SeqCol).desc).limit(defaultLimit)
    val compiled = Views.compile(state, vd.config, seqCol = Some(ChannelRuntime.SeqCol))
    snapshots.put(name, (compiled.collect().toSeq, compiled.schema))
  }

  /** Delta path: expressions over the pending micro-batch rows only,
    * upsert by state key. Snapshot materialization happens lazily on
    * the first read after a change ([[materialize]]) — the refresh
    * tick itself is O(delta). */
  private def refreshDelta(name: String, vd: ViewDef, dv: DeltaView): Unit = dv.synchronized {
    val spec = runtime.specs(vd.channel)
    require(spec.stateKeyby.nonEmpty && spec.stateKeyby.forall(!_.contains(".")),
      "delta maintenance requires simple state keys")
    val seqName = ChannelRuntime.SeqCol

    def postExpr(df: DataFrame): DataFrame = {
      var d = df
      vd.config.expressions.foreach { case (alias, e) => d = d.withColumn(alias, expr(e)) }
      d
    }

    def upsert(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): Unit = {
      val keyOf = StateFastPath.groupKey(schema, spec.stateKeyby)
      val seqIdx = schema.fieldNames.indexOf(seqName)
      rows.foreach { r =>
        val key = keyOf(r)
        val old = dv.base.get(key)
        if (old == null || old.getLong(seqIdx) <= r.getLong(seqIdx)) dv.base.put(key, r)
      }
    }

    val (pendingRows, hadOverflow) = pendingLock.synchronized {
      val p = dv.pending.toVector
      dv.pending.clear()
      val o = dv.overflow
      dv.overflow = false
      (p, o)
    }

    if (!dv.initialized || hadOverflow) {
      // (re)build the base from the full frontier — one Spark job;
      // pending rows then re-upsert idempotently (seq-compare) to
      // close the scan/drain race
      dv.base.clear()
      val full = postExpr(runtime.stateFrame(vd.channel))
      dv.schema = full.schema
      upsert(full.collect().toSeq, full.schema)
      dv.initialized = true
      if (pendingRows.nonEmpty) {
        val d = postExpr(sparkDelta(pendingRows, vd.channel))
        upsert(d.collect().toSeq, d.schema)
      }
      dv.dirty = true
    } else if (pendingRows.nonEmpty) {
      val d = postExpr(sparkDelta(pendingRows, vd.channel))
      dv.schema = d.schema
      upsert(d.collect().toSeq, d.schema)
      dv.dirty = true
    }
  }

  /** Materialize a delta view's snapshot if its base changed since
    * the last read. No-op for full-recompute views (their refresh
    * already wrote the snapshot). */
  private def materialize(name: String): Unit =
    deltaViews.get(name).foreach { dv =>
      try dv.synchronized {
        if (dv.dirty && dv.initialized) {
          views.get(name).foreach { vd =>
            snapshots.put(name, ViewEval.snapshot(
              dv.base.values.asScala.toSeq, dv.schema, vd.config,
              ChannelRuntime.SeqCol, defaultLimit, runtime.spark.sessionState.conf.ansiEnabled))
          }
          dv.dirty = false
        }
      } catch {
        case NonFatal(e) =>
          // evaluator can't express this view exactly: demote to full
          // recompute (same policy as a refresh-time delta failure)
          Console.err.println(
            s"[graft] view '$name' snapshot eval failed (${e.getMessage}); demoting to full recompute")
          deltaViews.remove(name)
          views.get(name).foreach { vd =>
            try refreshFull(name, vd)
            catch {
              case NonFatal(e2) =>
                Console.err.println(s"[graft] view '$name' refresh failed: ${e2.getMessage}")
            }
          }
      }
    }

  private def sparkDelta(rows: Seq[Row], channel: String): DataFrame = {
    runtime.spark.createDataFrame(rows.asJava,
      runtime.runtimeSchema(runtime.specs(channel)))
  }

  def snapshot(name: String): Seq[Row] = {
    materialize(name)
    snapshots.get(name).map(_._1).getOrElse(Nil)
  }

  /** Snapshot rows with the compiled view's schema (None before the
    * first successful refresh). */
  def snapshotWithSchema(name: String): Option[(Seq[Row], org.apache.spark.sql.types.StructType)] = {
    materialize(name)
    snapshots.get(name)
  }

  /** Periodic refresh thread (reference update_interval, default 2s). */
  def startPeriodicRefresh(intervalMillis: Long = 2000L): Thread = {
    val t = new Thread(() => {
      while (!Thread.currentThread().isInterrupted) {
        refresh()
        try Thread.sleep(intervalMillis)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
    }, "graft-view-refresh")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** Driver-side evaluator for delta-maintained view snapshots:
  * index-collapse, filter, sort, limit, and the final seq-column
  * projection over a bounded in-memory row set — semantics matched
  * one-for-one to [[graft.operators.Views.compile]] over the same
  * [[ViewConfig]] (parity pinned by ViewServerDeltaSpec). It keys,
  * compares and orders rows with the [[StateFastPath]] rules the state
  * frontier uses, and has none of its own. Throws on anything it cannot
  * evaluate exactly (unknown column, unorderable type, a filter that
  * needs more than numeric widening) — the caller demotes the view to
  * full recompute.
  */
private[sinks] object ViewEval {
  import org.apache.spark.sql.types.{StringType, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

  /** `ansi`: the session's `spark.sql.ansi.enabled`, which picks the
    * type-coercion rule the filters' comparisons follow. */
  def snapshot(rows: Seq[Row], schema: StructType, v: ViewConfig,
      seqName: String, defaultLimit: Int, ansi: Boolean): (Seq[Row], StructType) = {
    val seqIdx = schema.fieldNames.indexOf(seqName)
    require(seqIdx >= 0, s"seq column '$seqName' missing")
    var out = rows
    // un-self-bounded views: ring-buffer cap by arrival seq, applied
    // to the frontier BEFORE filtering (Views/ViewServer order)
    if (v.limit.isEmpty && v.index.isEmpty)
      out = out.sortBy(-_.getLong(seqIdx)).take(defaultLimit)
    // A7 index-collapse: one row per index key, max view-seq wins
    v.index.foreach { case (keys, seqCol) =>
      keys.foreach(mustIdx(schema, _))
      val keyOf = StateFastPath.groupKey(schema, keys)
      val bySeq = mustOrder(schema, Seq(seqCol -> true))
      val m = new java.util.LinkedHashMap[AnyRef, Row]
      out.foreach { r =>
        val key = keyOf(r)
        val old = m.get(key)
        if (old == null || bySeq.compare(old, r) <= 0) m.put(key, r)
      }
      out = m.values.asScala.toSeq
    }
    if (v.filter.nonEmpty) {
      val tests = v.filter.map(compileFilter(schema, _, ansi)).toArray
      out = out.filter(r => tests.forall(_(r)))
    }
    if (v.sort.nonEmpty) out = out.sorted(mustOrder(schema, v.sort))
    v.limit.foreach(n => out = out.take(n))
    // final projection: compile ends with drop("_seq")
    val keep = schema.fields.indices.filterNot(_ == seqIdx)
    val outSchema = StructType(keep.map(schema.fields))
    val projected = out.map(r =>
      new GenericRowWithSchema(keep.map(r.get).toArray, outSchema): Row)
    (projected, outSchema)
  }

  private def mustIdx(schema: StructType, c: String): Int = {
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"unknown view column '$c'")
    i
  }

  /** The shared ordering over top-level view columns. */
  private def mustOrder(schema: StructType, sort: Seq[(String, Boolean)]): Ordering[Row] = {
    sort.foreach { case (c, _) => mustIdx(schema, c) }
    StateFastPath.ordering(schema, sort).getOrElse(
      throw new IllegalArgumentException(s"unorderable driver-side: ${sort.map(_._1).mkString(", ")}"))
  }

  /** One view filter triplet compiled against the schema, SQL
    * three-valued semantics: a null on either side of a comparison
    * excludes the row (Views.filterCol's Column behavior). */
  private def compileFilter(schema: StructType, f: (String, String, Any),
      ansi: Boolean): Row => Boolean = {
    val (c, op, operand) = f
    val i = mustIdx(schema, c)
    val dt = schema.fields(i).dataType
    def nonNull(test: Any => Boolean): Row => Boolean = r => !r.isNullAt(i) && test(r.get(i))
    op match {
      case "is null"     => _.isNullAt(i)
      case "is not null" => !_.isNullAt(i)
      case _ if operand == null => _ => false
      case "contains" =>
        require(dt == StringType && operand.isInstanceOf[String],
          s"contains needs a string column and operand: '$c'")
        val s = operand.asInstanceOf[String]
        nonNull(_.asInstanceOf[String].contains(s))
      case "in" =>
        val cmps = StateFastPath.literalCmps(ansi, dt, operand.asInstanceOf[Seq[Any]].filter(_ != null))
        nonNull(x => cmps.exists(_(x) == 0))
      case _ =>
        val test = StateFastPath.opTest(op)
        val cmp = StateFastPath.literalCmps(ansi, dt, Seq(operand)).head
        nonNull(x => test(cmp(x)))
    }
  }
}
