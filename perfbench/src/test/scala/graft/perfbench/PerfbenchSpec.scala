package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.GatewayConfig

/** The harness's own rules: the percentile rule, open-loop latency from
  * due time, failures counted as failures (a throwing entry, a 422
  * send), and the order-insensitive output hash. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.GraftSession.build("local[2]", "perfbench-spec", 2)

  override def afterAll(): Unit = spark.stop()

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0)) // p99 would have 9 beyond
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(39).isEmpty)
    val d = Stats.dist((1 to 100).map(_.toDouble))
    assert(d.n == 100 && d.p50 == 50.0 && d.tailP.contains(90.0) && d.tail == 90.0)
    // a fixed percentile is kept only while it has ten samples beyond
    assert(Stats.distAt((1 to 1000).map(_.toDouble), 99.0).tail == 990.0)
    assert(Stats.distAt((1 to 500).map(_.toDouble), 99.0).tailP.contains(95.0))
    // too few samples for any percentile: the maximum, with its count
    val small = Stats.dist(Seq(3.0, 1.0, 2.0))
    assert(small.tailP.isEmpty && small.tail == 3.0 && small.n == 3)
  }

  test("open-loop latency counts from the due time, not the send time") {
    // one worker, a request every 10 ms; the first stalls for 200 ms
    val r = OpenLoop.run(5, 10e6, workers = 1) { (_, k, _) =>
      if (k == 0) Thread.sleep(200)
      true
    }
    assert(r.latencyMs(0) >= 195)
    // request 1 was due 10 ms in but could only start after the stall:
    // its wait is in its latency, and recorded as lateness
    assert(r.latencyMs(1) >= 180, r.latencyMs.mkString(","))
    assert(r.lateMs(1) >= 180)
    assert(r.serviceMs(1) < 50)
    assert(r.failed == 0)
  }

  test("a throwing catalog entry is a failed operation and is not timed") {
    val report = new Report
    val ok = Catalog.timeEntry(report, "fine")(())
    val boom = Catalog.timeEntry(report, "boom")(throw new IllegalStateException("deliberate"))
    assert(ok.isDefined && boom.isEmpty)
    assert(report.attempted == 2 && report.failed == 1)
    assert(report.failures.exists(_.startsWith("boom threw IllegalStateException")))
    assert(report.render(Nil).linesIterator.toSeq.last.contains("\"correct\": false"))
  }

  test("a send the gateway rejects with 422 counts as a failed request") {
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, "perfbench-spec")
    val loaded = GatewayConfig.load(spark,
      s"""{"port":0,"channels":[${Ingest.channelJson("ticks")}]}""", Some(ckpt.toString))
    loaded.runtime.start()
    loaded.gateway.start()
    val conn = new HttpConn(loaded.gateway.boundPort)
    try {
      val bodies = Seq("""[{"sym":"S001","px":1.0,"qty":1,"due":0}]""",
        """[{"sym":"S001","no_such_field":1}]""")
      val statuses = new Array[Int](bodies.size)
      val r = OpenLoop.run(bodies.size, 1e6, workers = 1) { (_, k, _) =>
        statuses(k) = conn.request("POST", "/api/v1/send/ticks", bodies(k).getBytes(UTF_8))._1
        statuses(k) == 200
      }
      assert(statuses.toSeq == Seq(200, 422))
      assert(r.failed == 1)
    } finally {
      conn.close()
      loaded.gateway.stop()
      loaded.runtime.stop()
    }
  }

  test("the output hash ignores row order and sees every value") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 3.0), (3L, null, -0.0)).toDF("k", "s", "x")
    val h = Catalog.contentHash(df)
    assert(h._1 == 3L)
    assert(Catalog.contentHash(df.orderBy($"k".desc)) == h)
    assert(Catalog.contentHash(df.filter($"k" < 3)) != h)
    // summation-order noise in the last bits does not change the hash
    val noisy = Seq((1L, "a", 0.3), (2L, "b", 3.0), (3L, null, 0.0)).toDF("k", "s", "x")
    assert(Catalog.contentHash(noisy) == h)
  }
}
