package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.core.ChannelSpec
import graft.operators.ViewConfig
import graft.server.Gateway
import graft.streaming.ChannelRuntime

/** Boot a gateway with a seeded channel + table views and keep it up —
  * for pointing a browser at the `/tables` pivot workspace
  * (perspective.py:179-641's viewer use-case over this repo's JSON
  * data plane).
  *
  *   sbt "runMain graft.tools.TablesDemo"        # prints the port
  */
object TablesDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("local[4]", "graft-tables-demo", 4)
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("symbol", StringType),
      StructField("side", StringType),
      StructField("qty", LongType),
      StructField("price", DoubleType)))
    val rt = new ChannelRuntime(spark,
      Map("trades" -> ChannelSpec("trades", schema, stateKeyby = Seq("symbol"))),
      Some(Files.createTempDirectory("graft-tables-demo").toString))
    rt.start()
    val syms = Seq("AAPL", "MSFT", "GOOG", "AMZN")
    val rnd = new scala.util.Random(11)
    rt.send("trades", (1 to 120).map { i =>
      Map[String, Any](
        "symbol" -> syms(i % syms.length),
        "side" -> (if (rnd.nextBoolean()) "buy" else "sell"),
        "qty" -> (10L + rnd.nextInt(90)),
        "price" -> BigDecimal(90 + rnd.nextDouble() * 20)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    })
    rt.processAllAvailable()
    val vs = new graft.sinks.ViewServer(rt)
    vs.define("trades_raw", "trades", ViewConfig())
    vs.define("by_symbol", "trades", ViewConfig(
      groupBy = Seq("symbol"),
      aggregates = Seq("n" -> ("qty", "count"), "total_qty" -> ("qty", "sum"),
        "avg_price" -> ("price", "avg"))))
    vs.refresh()
    val gw = new Gateway(rt, 0)
    gw.attachViews(vs, refreshMillis = Some(1000L))
    gw.start()
    println(s"TABLES_DEMO_PORT=${gw.boundPort}")
    println(s"browse: http://127.0.0.1:${gw.boundPort}/tables")
    Thread.sleep(Long.MaxValue)
  }
}
