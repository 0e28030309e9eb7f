package graft.client

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{ChannelRuntime, JsonCodec}

/** Drains a [[GatewayStream]]'s data frames on a daemon thread and
  * hands each to `onFrame` — the pump half of the reference's
  * csp-stream adapter manager (client/csp_stream.py:35-100), which
  * pushes a remote gateway's subscribed channels into a local engine
  * as live ticks. `stop()` ends the loop; a frame that throws is
  * COUNTED and logged, never silently swallowed (the adapter's
  * stated contract: a consumer must be able to see it lost data).
  */
final class ClientStreamPump private[client] (
    stream: GatewayStream,
    pollMillis: Long,
    onFrame: JsonNode => Unit) {

  @volatile private var running = true
  private val forwarded = new AtomicLong(0)
  private val failed = new AtomicLong(0)

  private val thread = new Thread(() => {
    while (running) {
      stream.takeData(pollMillis).foreach { frame =>
        try { onFrame(frame); forwarded.incrementAndGet() }
        catch {
          case NonFatal(e) =>
            failed.incrementAndGet()
            Console.err.println(
              s"[graft] client stream pump dropped a frame: ${e.getMessage}")
        }
      }
    }
  }, "graft-client-stream-pump")
  thread.setDaemon(true)
  thread.start()

  def frameCount: Long = forwarded.get()
  def failureCount: Long = failed.get()

  def stop(): Unit = {
    running = false
    thread.join(pollMillis * 4)
  }
}

/** S9's consuming half as a Spark-native source (round-9 task 6): a
  * remote gateway's live channels either as a streaming Dataset
  * ([[frames]] — the `readStream` face) or forwarded straight into a
  * second gateway's [[ChannelRuntime]] ([[into]] — the reference's
  * adapter-manager use-case: gateway B re-serves gateway A's
  * channels, state queries and all).
  */
object ClientStreamSource {

  /** Live streaming DataFrame of the stream's data-frame envelopes:
    * columns (channel, key, data) with `data` the row's JSON — parse
    * downstream with `from_json` against the channel schema. Returns
    * the frame plus the pump handle (stop() when done). The
    * MemoryStream hop is the same harness Spark's own socket source
    * uses conceptually: the WS listener thread is the receiver, the
    * streaming engine micro-batches whatever has arrived.
    */
  def frames(spark: SparkSession, stream: GatewayStream,
      pollMillis: Long = 200): (DataFrame, ClientStreamPump) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, String)](
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING), sqlCtx)
    val pump = new ClientStreamPump(stream, pollMillis, frame => {
      val ch = Option(frame.get("channel")).map(_.asText()).getOrElse("")
      val key = Option(frame.get("key")).map(_.asText()).orNull
      val data = Option(frame.get("data")).map(_.toString).getOrElse("{}")
      mem.addData((ch, key, data))
    })
    (mem.toDF().toDF("channel", "key", "data"), pump)
  }

  /** Forward subscribed channels into a local runtime: each data
    * frame becomes a `send` on the same-named (or remapped) channel,
    * fields filtered to the target schema and typed by the send like
    * any other ingress ([[JsonCodec]]). Frames for channels the target
    * doesn't mount are skipped — subscribe narrower or mount wider, both
    * visible in `frameCount` vs the sender's tick count.
    */
  def into(stream: GatewayStream, runtime: ChannelRuntime,
      channelMap: String => String = identity,
      pollMillis: Long = 200): ClientStreamPump =
    new ClientStreamPump(stream, pollMillis, frame => {
      val ch = channelMap(Option(frame.get("channel")).map(_.asText()).getOrElse(""))
      runtime.specs.get(ch).foreach { spec =>
        val data = frame.get("data")
        if (data != null && data.isObject) {
          val m = spec.schema.fields.flatMap { f =>
            Option(data.get(f.name)).filterNot(_.isNull)
              .map(v => f.name -> JsonCodec.jsonValue(v))
          }.toMap
          if (m.nonEmpty) runtime.send(ch, Seq(m))
        }
      }
    })
}
