package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.streaming.ChannelRuntime
import graft.testing.GatewayTestHarness

class GatewayTestHarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("timestamp", TimestampType),
    StructField("x", LongType), StructField("k", StringType)))

  private def newRuntime() = new ChannelRuntime(spark,
    Map("ch" -> ChannelSpec("ch", schema, stateKeyby = Seq("k"))),
    Some(Files.createTempDirectory("graft-harness-ckpt").toString))

  test("timeline of send/delay/assert events runs in order") {
    val rt = newRuntime()
    rt.start()
    try {
      var executed = false
      new GatewayTestHarness(rt)
        .send("ch", Map("x" -> 1L, "k" -> "a"))
        .send("ch", Map("x" -> 2L, "k" -> "b"), Map("x" -> 3L, "k" -> "a"))
        .delay()
        .assertTicked("ch", 3)
        .assertLast("ch")(r => r.getAs[Long]("x") == 3L)
        .assertState("ch")(rows =>
          rows.map(r => (r.getAs[String]("k"), r.getAs[Long]("x"))) == Seq("a" -> 3L, "b" -> 2L))
        .exec(() => executed = true)
        .run()
      assert(executed)
    } finally rt.stop()
  }

  test("failing assertion reports the step index and description") {
    val rt = newRuntime()
    rt.start()
    try {
      val e = intercept[AssertionError] {
        new GatewayTestHarness(rt)
          .send("ch", Map("x" -> 1L, "k" -> "a"))
          .delay()
          .assertTicked("ch", 99)
          .run()
      }
      assert(e.getMessage.contains("step 2"))
      assert(e.getMessage.contains("expected 99"))
    } finally rt.stop()
  }
}
