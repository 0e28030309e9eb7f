package graft.streaming

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-cycle snapshot log: T10 (encode), K2 (JSON file sink), S3 /
  * T11 (replay + demux) of SURVEY.md §2.
  *
  * Format mirrors the reference's newline-delimited engine encoding
  * (shared/json_converter.py:275-351): one JSON object per engine
  * cycle, `csp_engine_timestamp` plus one entry per channel that
  * ticked, each holding the cycle's rows for that channel. Because the
  * format is plain JSON lines, the whole history is queryable with
  * full Spark SQL (`spark.read.json`) — capability A8.
  *
  * Replay is event-time processing: rows are re-emitted in log order
  * with their recorded timestamps (late rows emit immediately, like
  * json_converter.py:126-133); "schedule in the future" becomes
  * event-time ordering, not wall-clock sleeping.
  */
object EngineLog {

  /** Driver-side appender registered as a [[ChannelRuntime]] listener.
    * One JSON line per (micro-batch × channels-that-ticked) — the
    * micro-batch IS the engine cycle.
    */
  final class Writer(path: String, runtime: ChannelRuntime) {
    private val out = open(path, append = true)

    // per-cycle buffer: channel -> rows (a cycle may touch many channels)
    private val buf = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Row]]

    runtime.addListener { (channel, rows) =>
      synchronized { buf(channel) = buf.getOrElse(channel, Seq.empty) ++ rows }
    }

    /** Flush buffered ticks as one engine-cycle line. */
    def flushCycle(): Unit = synchronized {
      if (buf.nonEmpty) {
        val allTs = buf.values.flatten.flatMap(tsOf).toSeq
        val engineTs = if (allTs.nonEmpty) allTs.min else System.currentTimeMillis()
        writeCycle(out, engineTs, buf.toSeq.map { case (ch, rows) =>
          (ch, rows, runtime.runtimeSchema(runtime.specs(ch)))
        })
        out.newLine(); out.flush()
        buf.clear()
      }
    }

    def close(): Unit = { flushCycle(); out.close() }

    private def tsOf(r: Row): Option[Long] = {
      val i = r.schema.fieldNames.indexOf(ChannelRuntime.TsCol)
      if (i >= 0 && !r.isNullAt(i)) r.get(i) match {
        case t: java.sql.Timestamp => Some(t.getTime)
        case _ => None
      } else None
    }
  }

  /** The one way to open an engine log for writing: UTF-8 whatever the
    * platform charset, with input UTF-8 cannot encode (a lone surrogate)
    * written as `?` instead of failing the write. [[replay]] reads UTF-8. */
  def open(path: String, append: Boolean): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path, append),
      StandardCharsets.UTF_8.newEncoder()
        .onMalformedInput(CodingErrorAction.REPLACE)
        .onUnmappableCharacter(CodingErrorAction.REPLACE)))

  /** One engine cycle `{"csp_engine_timestamp": ts, channel: [rows…], …}`
    * written to `out` (no newline; `out` is neither flushed nor closed). */
  def writeCycle(out: java.io.Writer, engineTs: Long,
      channels: Seq[(String, Seq[Row], StructType)]): Unit =
    out.write(JsonCodec.jsonText { g =>
      g.writeStartObject()
      g.writeNumberField("csp_engine_timestamp", engineTs)
      channels.foreach { case (ch, rows, schema) =>
        g.writeArrayFieldStart(ch)
        rows.foreach(JsonCodec.writeRow(g, _, schema))
        g.writeEndArray()
      }
      g.writeEndObject()
    })

  /** A8 — the whole engine history as a queryable DataFrame. */
  def readLog(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** T11 — demux one channel's rows out of the snapshot log, in
    * engine-cycle order, typed against the channel schema. `explode`
    * unrolls each cycle's row batch; filters prune cycles where the
    * channel didn't tick (`IS NOT NULL` reaches the scan).
    */
  def demux(
      spark: SparkSession,
      path: String,
      channel: String,
      schema: StructType): DataFrame = {
    val jsonSchema = StructType(Seq(
      StructField("csp_engine_timestamp", LongType),
      StructField(channel, ArrayType(schema))))
    spark.read.schema(jsonSchema).json(path)
      .filter(col(channel).isNotNull)
      .select(col("csp_engine_timestamp"), explode(col(channel)).as("_row"))
      .select(col("csp_engine_timestamp"), col("_row.*"))
  }

  /** S3+T11 — replay a log into a running runtime: each cycle's rows
    * re-sent to their channels in recorded order. `forceNewIds` mirrors
    * the reference's ingest-context regeneration (X11).
    */
  /** `startTime`: skip cycles stamped before it (epoch millis) — the
    * reference JSONPullAdapter's start_time fast-forward
    * (io/json_pull_adapter.py:22-33): replaying into a live gateway
    * resumes from a checkpoint instead of re-emitting history.
    */
  def replay(
      runtime: ChannelRuntime,
      path: String,
      channels: Seq[String],
      forceNewIds: Boolean = false,
      startTime: Option[Long] = None,
      /** Late-cycle contract (reference json_converter.py:126-133
        * `log_lagging_engine_cycles`): a cycle stamped BEHIND the
        * replay's engine time (the max cycle timestamp seen so far)
        * still emits immediately, in file order, but is logged. The
        * hook is injectable so tests can pin the line. */
      logLaggingEngineCycles: Boolean = true,
      onLaggingCycle: String => Unit =
        s => Console.err.println(s"[graft] $s")): Long = {
    var n = 0L
    var engineTime = Long.MinValue
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(path)).asScala.foreach { line =>
      val root = mapper.readTree(line)
      val cycleTs = root.path("csp_engine_timestamp").asLong(Long.MinValue)
      if (logLaggingEngineCycles && cycleTs < engineTime)
        onLaggingCycle(
          s"Timestamp for a replayed engine cycle is: $cycleTs " +
            s"which is behind engine time: $engineTime")
      if (cycleTs > engineTime) engineTime = cycleTs
      if (startTime.forall(cycleTs >= _)) channels.foreach { ch =>
        val arr = root.get(ch)
        if (arr != null && arr.isArray) {
          val names = runtime.specs(ch).schema.fieldNames.toSet
          val rows = arr.elements().asScala.map { obj =>
            val m = JsonCodec.jsonValue(obj).asInstanceOf[Map[String, Any]]
              .filter { case (k, v) => v != null && names(k) }
            if (forceNewIds) m - ChannelRuntime.IdCol else m
          }.toSeq
          // verbatim re-emission: the logged rows already passed the
          // ingest hooks once — see ChannelRuntime.send(applyHooks)
          runtime.send(ch, rows, applyHooks = false)
          n += rows.length
        }
      }
    }
    n
  }

  /** S2 — Kafka engine replay: parse whole engine-cycle encodings
    * (the "fat pipe" of snapshot lines) arriving as Kafka values into
    * one channel's typed rows, ordered by the embedded engine
    * timestamp (reference kafka.py:360-450 ReplayEngineKafka).
    * Composable with [[graft.sources.Sources.kafka]]'s raw frame.
    */
  def engineReplayFromValues(
      raw: DataFrame,
      channel: String,
      schema: StructType): DataFrame = {
    val jsonSchema = StructType(Seq(
      StructField("csp_engine_timestamp", LongType),
      StructField(channel, ArrayType(schema))))
    raw
      .withColumn("_snap", from_json(col("value").cast("string"), jsonSchema))
      .filter(col(s"_snap.$channel").isNotNull)
      .select(col("_snap.csp_engine_timestamp").as("csp_engine_timestamp"),
        explode(col(s"_snap.$channel")).as("_row"))
      .select(col("csp_engine_timestamp"), col("_row.*"))
  }

  /** T12 — Mirror: replay another gateway's engine log read-only into
    * this runtime and let its state channels accumulate (reference
    * modules/mirror.py:10-52 = S2/S3 + T11 + T1 composition).
    */
  def mirror(
      runtime: ChannelRuntime,
      logPath: String,
      channels: Seq[String]): Long =
    replay(runtime, logPath, channels, forceNewIds = false)
}
