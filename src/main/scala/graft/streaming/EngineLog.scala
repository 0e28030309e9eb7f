package graft.streaming

import java.io.{BufferedWriter, FileWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}

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
    private val out = new BufferedWriter(new FileWriter(path, true))

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

  /** Generators write into a caller's Writer and never close it. */
  private val json = new JsonFactory().disable(JsonGenerator.Feature.AUTO_CLOSE_TARGET)

  /** The JSON row encoder shared by every REST, WS, SSE and engine-log
    * writer: `r` as one object, streamed through `g`. Floats widen to
    * double, timestamps render as ISO instants, array elements other
    * than string/long/int/double/struct render as strings, and any
    * other type via `String.valueOf` — the bytes of the Jackson tree
    * encoding it replaced (`GatewaySpec` pins the equality). */
  def writeRow(g: JsonGenerator, r: Row, schema: StructType): Unit = {
    g.writeStartObject()
    val fields = schema.fields
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      g.writeFieldName(f.name)
      if (r.isNullAt(i)) g.writeNull()
      else f.dataType match {
        case StringType => g.writeString(r.getString(i))
        case LongType => g.writeNumber(r.getLong(i))
        case IntegerType => g.writeNumber(r.getInt(i))
        case DoubleType => g.writeNumber(r.getDouble(i))
        case FloatType => g.writeNumber(r.getFloat(i).toDouble)
        case BooleanType => g.writeBoolean(r.getBoolean(i))
        case TimestampType => writeInstant(g, r.getAs[java.sql.Timestamp](i))
        case s: StructType => writeRow(g, r.getStruct(i), s)
        case ArrayType(et, _) =>
          g.writeStartArray()
          r.getSeq[Any](i).foreach {
            case null => g.writeNull()
            case x: String => g.writeString(x)
            case x: Long => g.writeNumber(x)
            case x: Int => g.writeNumber(x)
            case x: Double => g.writeNumber(x)
            case x: Row => writeRow(g, x, et.asInstanceOf[StructType])
            case x => g.writeString(String.valueOf(x))
          }
          g.writeEndArray()
        case _ => g.writeString(String.valueOf(r.get(i)))
      }
      i += 1
    }
    g.writeEndObject()
  }

  /** The JSON value decoder shared by every ingress (REST and WS send,
    * engine-log replay, config and client responses): integers as
    * Long, other numbers as Double, arrays as Seq and objects as Map,
    * recursively; text stays text. Typing a value against a channel
    * schema is left to [[ChannelRuntime.coerce]]. */
  def jsonValue(v: com.fasterxml.jackson.databind.JsonNode): Any =
    if (v.isNull) null
    else if (v.isIntegralNumber) v.asLong()
    else if (v.isFloatingPointNumber) v.asDouble()
    else if (v.isBoolean) v.asBoolean()
    else if (v.isArray) v.elements().asScala.map(jsonValue).toSeq
    else if (v.isObject)
      v.properties().asScala.map(e => e.getKey -> jsonValue(e.getValue)).toMap
    else v.asText()

  /** Epoch seconds of 0000-01-01T00:00:00Z and 9999-12-31T23:59:59Z. */
  private val MinFourDigitYear = -62167219200L
  private val MaxFourDigitYear = 253402300799L

  /** `t.toInstant.toString` (ISO-8601, fraction in groups of three
    * digits, `Z`) without the DateTimeFormatter, which took about half
    * of a 20,000-row response's encoding time. Years outside
    * 0000..9999 take the formatter. */
  private[graft] def writeInstant(g: JsonGenerator, t: java.sql.Timestamp): Unit = {
    val secs = Math.floorDiv(t.getTime, 1000L)
    if (secs < MinFourDigitYear || secs > MaxFourDigitYear) {
      g.writeString(t.toInstant.toString)
      return
    }
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(secs, 86400L))
    val sod = Math.floorMod(secs, 86400L).toInt
    val nanos = t.getNanos
    val c = new Array[Char](30)
    def digits(at: Int, width: Int, v: Int): Unit = {
      var k = at + width - 1
      var x = v
      while (k >= at) { c(k) = ('0' + x % 10).toChar; x /= 10; k -= 1 }
    }
    digits(0, 4, date.getYear); c(4) = '-'
    digits(5, 2, date.getMonthValue); c(7) = '-'
    digits(8, 2, date.getDayOfMonth); c(10) = 'T'
    digits(11, 2, sod / 3600); c(13) = ':'
    digits(14, 2, sod / 60 % 60); c(16) = ':'
    digits(17, 2, sod % 60)
    var n = 19
    if (nanos != 0) {
      c(n) = '.'
      if (nanos % 1000000 == 0) { digits(n + 1, 3, nanos / 1000000); n += 4 }
      else if (nanos % 1000 == 0) { digits(n + 1, 6, nanos / 1000); n += 7 }
      else { digits(n + 1, 9, nanos); n += 10 }
    }
    c(n) = 'Z'
    g.writeString(c, 0, n + 1)
  }

  /** UTF-8 bytes of the JSON that `body` writes, through a String as
    * the tree encoder did (Jackson's byte-based generator would escape
    * surrogate pairs as six-character escapes instead of encoding
    * them). For one row or frame this is about twice as fast as an
    * encoding Writer, whose set-up dominates small payloads. */
  private[graft] def jsonBytes(body: JsonGenerator => Unit): Array[Byte] = {
    val out = new java.io.StringWriter(256)
    val g = json.createGenerator(out)
    body(g)
    g.close()
    out.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** One row as a JSON object. */
  def rowJson(r: Row, schema: StructType): Array[Byte] = jsonBytes(writeRow(_, r, schema))

  /** Rows as a JSON array, UTF-8 encoded as the generator writes: on a
    * 20,000-row response the String detour of [[jsonBytes]] took about
    * 15 % longer (median of seven timings on 4 vCPU, -13 % to +41 %).
    * Same bytes, including '?' for a lone surrogate. */
  def rowsJson(rows: Seq[Row], schema: StructType): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream(1024)
    val g = json.createGenerator(new java.io.OutputStreamWriter(bytes, StandardCharsets.UTF_8))
    g.writeStartArray()
    rows.foreach(writeRow(g, _, schema))
    g.writeEndArray()
    g.close()
    bytes.toByteArray
  }

  /** One engine cycle `{"csp_engine_timestamp": ts, channel: [rows…], …}`
    * written to `out` (no newline; `out` is flushed, not closed). */
  def writeCycle(out: java.io.Writer, engineTs: Long,
      channels: Seq[(String, Seq[Row], StructType)]): Unit = {
    val g = json.createGenerator(out)
    g.writeStartObject()
    g.writeNumberField("csp_engine_timestamp", engineTs)
    channels.foreach { case (ch, rows, schema) =>
      g.writeArrayFieldStart(ch)
      rows.foreach(writeRow(g, _, schema))
      g.writeEndArray()
    }
    g.writeEndObject()
    g.close()
  }

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
          val spec = runtime.specs(ch)
          val rows = arr.elements().asScala.map { obj =>
            val m = spec.schema.fields.flatMap { f =>
              val v = obj.get(f.name)
              if (v == null || v.isNull) None
              else Some(f.name -> jsonValue(v))
            }.toMap
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
