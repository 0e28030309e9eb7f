package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.server.Gateway
import graft.state.{FilterBy, StateFilter, StateQuery}
import graft.streaming.ChannelRuntime

/** Cluster serving path: with `distributedState = true` the key
  * frontier lives in Spark's sharded state store (RocksDB-backed) and
  * `state()` answers via a distributed `statestore` read — the driver
  * holds NO per-key map and never collects tick history.
  */
class DistributedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("k", StringType),
    StructField("v", LongType)))

  private def newRuntime() = new ChannelRuntime(spark,
    Map("dist" -> ChannelSpec("dist", schema, stateKeyby = Seq("k"))),
    Some(Files.createTempDirectory("graft-dist-ckpt").toString),
    distributedState = true)

  test("state accumulates in the state store, not driver maps; queries answer distributed") {
    val rt = newRuntime()
    rt.start()
    try {
      rt.send("dist", Seq(
        Map("k" -> "a", "v" -> 1L), Map("k" -> "b", "v" -> 2L), Map("k" -> "a", "v" -> 3L)))
      rt.processAllAvailable()

      // full scan: last-per-key, ordered by key
      val all = rt.state("dist")
      assert(all.map(r => (r.getAs[String]("k"), r.getAs[Long]("v"))) === Seq(("a", 3L), ("b", 2L)))

      // filtered scan through the shared translator
      val filtered = rt.state("dist", StateQuery(Seq(
        StateFilter("v", FilterBy.Value(3L), ">="))))
      assert(filtered.map(_.getAs[String]("k")) === Seq("a"))

      // cross-batch upsert: later micro-batch wins
      rt.send("dist", Seq(Map("k" -> "b", "v" -> 9L)))
      rt.processAllAvailable()
      assert(rt.state("dist").map(r => (r.getAs[String]("k"), r.getAs[Long]("v")))
        === Seq(("a", 3L), ("b", 9L)))

      // the load-bearing claim: nothing accumulated driver-side
      assert(rt.driverStateSize("dist") === 0)
    } finally rt.stop()
  }

  test("lookup falls back to the sharded store when the driver registry is off") {
    // omitFromLookup: the driver id→row map is never populated, so a
    // hit can only come from the distributed statestore probe
    val rt = new ChannelRuntime(spark,
      Map("dist" -> ChannelSpec("dist", schema, stateKeyby = Seq("k"),
        omitFromLookup = true)),
      Some(Files.createTempDirectory("graft-dist-lkp").toString),
      distributedState = true)
    rt.start()
    try {
      val sent = rt.send("dist", Seq(
        Map("id" -> "row-1", "k" -> "a", "v" -> 1L),
        Map("id" -> "row-2", "k" -> "b", "v" -> 2L)))
      rt.processAllAvailable()
      assert(sent.length === 2)
      val hit = rt.lookup("dist", "row-2")
      assert(hit.exists(_.getAs[Long]("v") === 2L))
      // a frontier-displaced id (same key, newer row) is gone from the
      // store — honest miss, not a stale answer
      rt.send("dist", Seq(Map("id" -> "row-3", "k" -> "b", "v" -> 9L)))
      rt.processAllAvailable()
      assert(rt.lookup("dist", "row-2").isEmpty)
      assert(rt.lookup("dist", "row-3").exists(_.getAs[Long]("v") === 9L))
    } finally rt.stop()
  }

  test("gateway /state answers from the store in distributed mode") {
    val rt = newRuntime()
    rt.start()
    val gw = new Gateway(rt, 0).start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(url: String, body: String) = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def get(url: String) = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val base = s"http://127.0.0.1:${gw.boundPort}/api/v1"
      assert(post(s"$base/send/dist", """[{"k":"x","v":1},{"k":"y","v":2}]""").statusCode() === 200)
      rt.processAllAvailable()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = mapper.readTree(get(s"$base/state/dist").body())
      assert(rows.size() === 2)
      assert(rows.get(0).get("k").asText() === "x" && rows.get(1).get("k").asText() === "y")
      assert(rt.driverStateSize("dist") === 0)
    } finally { gw.stop(); rt.stop() }
  }
}
