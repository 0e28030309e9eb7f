package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ViewConfig
import graft.sinks.{Sinks, ViewServer}
import graft.sources.Sources

class SourcesSinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  test("S4 filedrop: streaming csv source parses dropped files") {
    val dir = Files.createTempDirectory("graft-drop").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.csv"), "id,name,v\n1,x,1.5\n2,y,2.5\n")
    val q = Sources.fileDrop(spark, dir, "csv", schema)
      .writeStream.format("memory").queryName("drop_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val rows = spark.table("drop_test").collect()
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L))
    // second drop picked up by a new AvailableNow pass
    Files.writeString(java.nio.file.Path.of(dir, "b.csv"), "id,name,v\n3,z,3.5\n")
    val q2 = Sources.fileDrop(spark, dir, "csv", schema)
      .writeStream.format("memory").queryName("drop_test2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(30000)
    assert(spark.table("drop_test2").count() === 3)
  }

  test("S8 timer: rate source ticks rows with timestamps at the configured rate") {
    val name = s"timer_test_${System.nanoTime()}"
    val q = Sources.timer(spark, rowsPerSecond = 50)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val rows = spark.table(name).collect()
      assert(rows.length >= 5)
      // rate source contract: monotonically increasing value + timestamp
      val vals = rows.map(_.getAs[Long]("value")).sorted.toSeq
      assert(vals === (vals.min to vals.max))
      assert(rows.head.schema.fieldNames.toSet === Set("timestamp", "value"))
    } finally q.stop()
  }

  test("S1 kafka value parse: json payload to typed columns, out-of-order clamp") {
    val raw = Seq(
      ("""{"id":1,"name":"x","v":0.5}""", ts("2020-01-01 00:00:05")),
      ("""{"id":2,"name":"y","v":1.5}""", ts("2020-01-01 00:00:01"))
    ).toDF("value", "timestamp")
    val plain = Sources.parseKafkaValue(raw, schema)
    // broker metadata prefixed so a payload 'timestamp' field can't collide
    assert(plain.columns.toSeq === Seq("id", "name", "v", "_kafka_timestamp"))
    assert(plain.collect().map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L))

    val withTs = StructType(schema.fields :+ StructField("et", TimestampType))
    val raw2 = Seq(
      ("""{"id":1,"name":"x","v":0.5,"et":"2020-01-01T00:00:09Z"}""", ts("2020-01-01 00:00:05")))
      .toDF("value", "timestamp")
    val clamped = Sources.parseKafkaValue(raw2, withTs, Some("et"), adjustOutOfOrder = true)
    // embedded ts after broker ts -> clamped back to broker ts
    assert(clamped.collect().head.getAs[java.sql.Timestamp]("et") === ts("2020-01-01 00:00:05"))
  }

  test("K1 kafka serialization: json value with optional key and envelope") {
    val df = Seq((1L, "x", 0.5, ts("2020-01-01 00:00:00"))).toDF("id", "name", "v", "t")
    val v = Sinks.toKafkaValue(df, Seq("id", "name", "v")).collect().head.getAs[String]("value")
    assert(v === """{"id":1,"name":"x","v":0.5}""")
    val kv = Sinks.toKafkaValue(df, Seq("id"), keyCol = Some("name")).collect().head
    assert(kv.getAs[String]("key") === "x")
    val env = Sinks.toKafkaValue(df, Seq("id"), envelopeTs = Some("t"))
      .collect().head.getAs[String]("value")
    assert(env.contains("csp_timestamp") && env.contains("\"data\""))
  }

  test("kafka e2e over the in-memory topic bus: envelope round-trip, routing, clamps") {
    import graft.sources.TopicBus
    val bus = new TopicBus
    val t0 = ts("2020-01-01 00:00:00") // engine start
    // two channels' worth of rows, keyed, engine-ts envelope, with an
    // embedded event time (et) that is sometimes AHEAD of the broker ts
    val df = Seq(
      (1L, "alpha", 0.5, ts("2019-12-31 23:59:00")),  // pre-start event ts
      (2L, "alpha", 1.5, ts("2020-01-01 00:00:30")),
      (3L, "beta", 2.5, ts("2020-01-01 00:09:59"))    // ahead of broker ts
    ).toDF("id", "name", "v", "et")
    val wire = Sinks.toKafkaValue(df, Seq("id", "name", "v", "et"),
      keyCol = Some("name"), envelopeTs = Some("et"))
    // route to the topic with broker receive times: rows 1-2 arrive at
    // 00:05, row 3 at 00:08 (before its own embedded event time)
    bus.publishFrame(wire.filter(col("value").contains("\"id\":1") ||
      col("value").contains("\"id\":2")), "orders", ts("2020-01-01 00:05:00"))
    bus.publishFrame(wire.filter(col("value").contains("\"id\":3")), "orders",
      ts("2020-01-01 00:08:00"))

    // byte-identical envelopes on the wire (reference
    // serialize_with_engine_timestamp: {data, csp_timestamp})
    val values = bus.records("orders").map(_.value).sorted
    assert(values.head ===
      """{"data":{"id":1,"name":"alpha","v":0.5,"et":"2019-12-31T23:59:00.000Z"},"csp_timestamp":"2019-12-31T23:59:00.000Z"}""")

    // subscribe the full topic with envelope decode + out-of-order clamp
    val sub = Sources.kafkaSubscribe(
      bus.toDataFrame(spark, "orders"), schema4, tsField = Some("et"),
      adjustOutOfOrder = true, envelope = true)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("name"), r.getAs[Double]("v"),
          r.getAs[java.sql.Timestamp]("et").toString))).toMap
    assert(sub.keySet === Set(1L, 2L, 3L))
    assert(sub(2L) === (("alpha", 1.5, "2020-01-01 00:00:30.0"))) // untouched
    assert(sub(3L)._3 === "2020-01-01 00:08:00.0") // clamped to broker ts
    // envelope csp_timestamp survives as a column
    val cspTs = Sources.kafkaSubscribe(bus.toDataFrame(spark, "orders"),
      schema4, envelope = true).select("csp_timestamp").collect()
    assert(cspTs.length === 3 && cspTs.forall(_.get(0) != null))

    // key routing: subscribe only beta's records
    val betaOnly = Sources.kafkaSubscribe(
      bus.toDataFrame(spark, "orders", key = Some("beta")), schema4, envelope = true)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(betaOnly === Seq(3L))

    // pre-start gate: a record broker-stamped before engine start is
    // dropped when includeBeforeStart=false, clamped forward otherwise
    bus.publishFrame(Sinks.toKafkaValue(
      Seq((9L, "alpha", 9.9, ts("2019-12-31 23:00:00"))).toDF("id", "name", "v", "et"),
      Seq("id", "name", "v", "et"), keyCol = Some("name"), envelopeTs = Some("et")),
      "orders", ts("2019-12-31 23:30:00")) // broker ts BEFORE engine start
    val dropped = Sources.kafkaSubscribe(bus.toDataFrame(spark, "orders"),
      schema4, envelope = true, startTime = Some(t0), includeBeforeStart = false)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(dropped === Set(1L, 2L, 3L)) // id 9 gone
    val clamped = Sources.kafkaSubscribe(bus.toDataFrame(spark, "orders"),
      schema4, tsField = Some("et"), adjustOutOfOrder = true, envelope = true,
      startTime = Some(t0), includeBeforeStart = true)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[java.sql.Timestamp]("_kafka_timestamp").toString,
          r.getAs[java.sql.Timestamp]("et").toString))).toMap
    // tick (broker) time clamped forward to engine start; the embedded
    // PAST event time is untouched (out-of-order clamp only pulls
    // future-dated events back, never forward)
    assert(clamped(9L)._1 === "2020-01-01 00:00:00.0")
    assert(clamped(9L)._2 === "2019-12-31 23:00:00.0")
  }

  private val schema4 = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType), StructField("et", TimestampType)))

  test("custom PayloadSerde injects into both kafka paths (2.6 serde overrides)") {
    // pipe-delimited wire format: encode/decode as column expressions
    object PipeSerde extends graft.core.PayloadSerde {
      override def decode(value: org.apache.spark.sql.Column,
          s: StructType): org.apache.spark.sql.Column = {
        val parts = split(value.cast("string"), "\\|")
        struct(s.fields.zipWithIndex.map { case (f, i) =>
          parts.getItem(i).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
      override def encode(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat_ws("|", payload.getField("id"), payload.getField("name"), payload.getField("v"))
    }
    val df = Seq((1L, "x", 0.5)).toDF("id", "name", "v")
    val wire = Sinks.toKafkaValue(df, Seq("id", "name", "v"), serde = PipeSerde)
      .collect().head.getAs[String]("value")
    assert(wire === "1|x|0.5")
    val back = Sources.parseKafkaValue(
      Seq((wire, ts("2020-01-01 00:00:00"))).toDF("value", "timestamp"),
      schema, serde = PipeSerde).collect().head
    assert(back.getAs[Long]("id") === 1L && back.getAs[String]("name") === "x"
      && back.getAs[Double]("v") === 0.5)
  }

  test("K3 sql sink projection: rename, augment, nested jsonified; retry loop") {
    val df = Seq((1L, "x")).toDF("id", "name").withColumn("nest", struct(lit(1).as("a")))
    val p = Sinks.sqlSinkProjection(df, Seq("id", "name", "nest"),
      rename = Map("id" -> "pk"), augment = Map("src" -> "graft"))
    val r = p.collect().head
    assert(p.columns.toSeq === Seq("pk", "name", "nest", "src"))
    assert(r.getAs[String]("nest") === """{"a":1}""")

    var calls = 0
    Sinks.insertWithRetry(df, retries = 3) { _ =>
      calls += 1; if (calls < 3) throw new RuntimeException("transient")
    }
    assert(calls === 3)
    intercept[RuntimeException] {
      Sinks.insertWithRetry(df, retries = 1)(_ => throw new RuntimeException("always"))
    }
  }

  test("K3 exactly-once: mid-batch failure + retry leaves no duplicates") {
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"))
      .toDF("id", "name")
    // in-memory target: (epoch, id) rows; insert dies after 3 rows on attempt 1
    def failingWrite(table: scala.collection.mutable.ArrayBuffer[(Long, Long)],
        failures: java.util.concurrent.atomic.AtomicInteger)(
        b: org.apache.spark.sql.DataFrame, epoch: Long): Unit = {
      val rows = b.select("id").collect().map(_.getLong(0))
      rows.zipWithIndex.foreach { case (id, i) =>
        if (i == 3 && failures.getAndDecrement() > 0)
          throw new RuntimeException("connection reset mid-batch")
        table += ((epoch, id))
      }
    }

    // naive at-least-once retry: the partial prefix from attempt 1 stays → duplicates.
    // This pins that the injected failure really leaves partial state behind.
    val naive = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val nf = new java.util.concurrent.atomic.AtomicInteger(1)
    Sinks.insertWithRetry(batch, retries = 3)(b => failingWrite(naive, nf)(b, 7L))
    assert(naive.size === 9, "naive retry must duplicate the partial prefix")
    assert(naive.map(_._2).groupBy(identity).count(_._2.size > 1) === 3)

    // exactly-once: epoch-scoped clear before each attempt → all 6 rows, no dupes
    val table = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val ef = new java.util.concurrent.atomic.AtomicInteger(1)
    Sinks.insertExactlyOnce(batch, epochId = 7L, retries = 3)(
      ep => table.filterInPlace(_._1 != ep))(failingWrite(table, ef))
    assert(table.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(table.map(_._2).distinct.size === table.size, "no duplicates after retry")

    // restart replay of the same epoch (foreachBatch re-delivers batchId) is also idempotent
    val rf = new java.util.concurrent.atomic.AtomicInteger(0)
    Sinks.insertExactlyOnce(batch, epochId = 7L, retries = 0)(
      ep => table.filterInPlace(_._1 != ep))(failingWrite(table, rf))
    assert(table.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("K4 view server: bounded upserted view refreshed over state") {
    val rtSchema = StructType(Seq(
      StructField("id", StringType), StructField("timestamp", TimestampType),
      StructField("k", StringType), StructField("x", LongType)))
    val rt = new graft.streaming.ChannelRuntime(spark,
      Map("ch" -> graft.core.ChannelSpec("ch", rtSchema, stateKeyby = Seq("k"))),
      Some(Files.createTempDirectory("graft-vs-ckpt").toString))
    rt.start()
    try {
      val vs = new ViewServer(rt)
      vs.define("by_k", "ch", ViewConfig(
        groupBy = Seq("k"), aggregates = Seq("mx" -> ("x", "max")),
        sort = Seq(("k", true))))
      rt.send("ch", Seq(
        Map("k" -> "a", "x" -> 1L), Map("k" -> "b", "x" -> 5L), Map("k" -> "a", "x" -> 3L)))
      rt.processAllAvailable()
      vs.refresh()
      val snap = vs.snapshot("by_k")
      assert(snap.map(r => (r.getAs[String]("k"), r.getAs[Long]("mx"))) === Seq("a" -> 3L, "b" -> 5L))
    } finally rt.stop()
  }

  test("K4 view server: un-limited identity view is ring-buffer capped to most recent rows") {
    val rtSchema = StructType(Seq(
      StructField("id", StringType), StructField("timestamp", TimestampType),
      StructField("x", LongType)))
    // keyby the unique tick id: state holds EVERY tick — the unbounded
    // channel an identity view would otherwise collect whole
    val rt = new graft.streaming.ChannelRuntime(spark,
      Map("ch" -> graft.core.ChannelSpec("ch", rtSchema, stateKeyby = Seq("id"))),
      Some(Files.createTempDirectory("graft-vscap-ckpt").toString))
    rt.start()
    try {
      val vs = new ViewServer(rt, defaultLimit = 5)
      vs.define("identity", "ch", ViewConfig()) // no limit/index/aggregation
      vs.define("agg", "ch", ViewConfig(aggregates = Seq("n" -> ("x", "count"))))
      rt.send("ch", (1L to 12L).map(i => Map[String, Any]("x" -> i)))
      rt.processAllAvailable()
      vs.refresh()
      val snap = vs.snapshot("identity")
      assert(snap.size === 5) // capped, not the whole channel
      // ring buffer keeps the most RECENT arrivals (x = 8..12)
      assert(snap.map(_.getAs[Long]("x")).sorted === Seq(8L, 9L, 10L, 11L, 12L))
      // self-bounded views still see ALL state
      assert(vs.snapshot("agg").head.getAs[Long]("n") === 12L)
    } finally rt.stop()
  }

  test("K6 log sink receives selected-channel ticks") {
    val rtSchema = StructType(Seq(StructField("x", LongType)))
    val rt = new graft.streaming.ChannelRuntime(spark,
      Map("a" -> graft.core.ChannelSpec("a", rtSchema),
        "b" -> graft.core.ChannelSpec("b", rtSchema)),
      Some(Files.createTempDirectory("graft-log-ckpt").toString))
    val logged = scala.collection.mutable.Buffer.empty[String]
    Sinks.logChannels(rt, Seq("a"), s => logged.synchronized { logged += s })
    rt.start()
    try {
      rt.send("a", Seq(Map("x" -> 1L)))
      rt.send("b", Seq(Map("x" -> 2L)))
      rt.processAllAvailable()
      assert(logged.exists(_.startsWith("[a]")))
      assert(!logged.exists(_.startsWith("[b]")))
    } finally rt.stop()
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
