package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.client.{GatewayClient, GatewayClientConfig}
import graft.core.ChannelSpec
import graft.server.Gateway
import graft.state.{FilterBy, StateFilter, StateQuery}
import graft.streaming.ChannelRuntime

/** End-to-end client walkthrough — the analogue of the reference's
  * client example (`examples` / client README flow): boot a small
  * gateway in-process, then drive every client verb over real HTTP
  * and WebSocket exactly as an external integrator would.
  *
  *   sbt "runMain graft.tools.ClientDemo"
  */
object ClientDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("local[4]", "graft-client-demo", 4)
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("symbol", StringType),
      StructField("price", DoubleType)))
    val rt = new ChannelRuntime(spark,
      Map("trades" -> ChannelSpec("trades", schema, stateKeyby = Seq("symbol"))),
      Some(Files.createTempDirectory("graft-client-demo").toString))
    rt.start()
    val gw = new Gateway(rt, 0).start()
    println(s"gateway on :${gw.boundPort} (ws :${gw.wsPort})")

    val client = new GatewayClient(GatewayClientConfig(
      host = "127.0.0.1", port = gw.boundPort, wsPort = Some(gw.wsPort)))

    try {
      // discovery
      println(s"channels mounted under /last: ${client.availableChannels("last")}")
      println(s"heartbeat: ${client.controls("heartbeat").raw}")

      // subscribe BEFORE sending so the stream sees the ticks
      val stream = client.connect(Seq("trades" -> None))
      Thread.sleep(300)

      // send + shaped echoes
      val echo = client.send("trades", Map("symbol" -> "AAPL", "price" -> 101.5))
      val id = echo.rows.head("id").toString
      println(s"sent AAPL, server id=$id")
      client.sendMany("trades", Seq(
        Map("symbol" -> "MSFT", "price" -> 55.0),
        Map("symbol" -> "AAPL", "price" -> 102.25)))
      rt.processAllAvailable()

      // reads
      println(s"last:   ${client.last("trades").raw}")
      println(s"state:  ${client.state("trades").raw}")
      println(s"state(price>100): ${client.state("trades",
        StateQuery(Seq(StateFilter("price", FilterBy.Value(100.0), ">")))).raw}")
      println(s"lookup: ${client.lookup("trades", id).raw}")

      // spark-side shaping
      client.state("trades").toDF(spark).show(truncate = false)

      // streaming frames (sent above) + publish through the socket
      var got = 0
      got += stream.foreach(3, 5000)(f => println(s"ws frame: $f"))
      stream.publish("trades", Map("symbol" -> "TSLA", "price" -> 9.9))
      Thread.sleep(300); rt.processAllAvailable()
      got += stream.foreach(1, 5000)(f => println(s"ws frame (published): $f"))
      println(s"received $got ws frames")
      stream.close()
    } finally {
      gw.stop(); rt.stop(); spark.stop()
    }
  }
}
