package graft

import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.state.{FilterBy, StateFilter, StateOps, StateQuery}
import graft.streaming.{ChannelRuntime, EngineLog}

/** End-to-end streaming gateway tests, mirroring the reference's
  * GatewayTestHarness flow: send events into the graph, let micro-
  * batches process, assert last/next/state/lookup and the engine-log
  * encode/replay roundtrip.
  */
class ChannelRuntimeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val exampleSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", TimestampType),
    StructField("x", LongType),
    StructField("y", StringType)))

  private def newRuntime(): ChannelRuntime = {
    val specs = Map(
      "example" -> ChannelSpec("example", exampleSchema, stateKeyby = Seq("y")),
      "basket" -> ChannelSpec("basket", exampleSchema, basketKey = Some("y"),
        stateKeyby = Seq("y")),
      "out" -> ChannelSpec("out", exampleSchema))
    new ChannelRuntime(spark, specs,
      Files.createTempDirectory("graft-test-ckpt").toString)
  }

  test("send assigns system fields and state accumulates last-per-key") {
    val rt = newRuntime()
    rt.start()
    try {
      val sent = rt.send("example", Seq(
        Map("x" -> 1L, "y" -> "a"), Map("x" -> 2L, "y" -> "b"), Map("x" -> 3L, "y" -> "a")))
      assert(sent.forall(r => r.getAs[String]("id") != null))
      rt.processAllAvailable()

      assert(rt.last("example").map(_.getAs[Long]("x")) === Some(3L))
      assert(rt.tickCount("example") === 3L)

      val st = rt.state("example")
      assert(st.map(r => (r.getAs[String]("y"), r.getAs[Long]("x"))) === Seq("a" -> 3L, "b" -> 2L))

      val filtered = rt.state("example",
        StateQuery(Seq(StateFilter("x", FilterBy.Value(2), "<="))))
      assert(filtered.map(_.getAs[String]("y")) === Seq("b"))

      val id = sent.head.getAs[String]("id")
      assert(rt.lookup("example", id).map(_.getAs[Long]("x")) === Some(1L))
      assert(rt.lookup("example", "nope").isEmpty)
    } finally rt.stop()
  }

  test("send validation: unknown fields and missing required fields rejected") {
    val rt = newRuntime()
    intercept[IllegalArgumentException] {
      rt.send("example", Seq(Map("ghost" -> 1)))
    }
    intercept[NoSuchElementException] { rt.send("ghost_channel", Seq(Map.empty)) }
  }

  test("processor hook rewrites/drops records; validateAfter rejects (2.6 UDF surface)") {
    val specs = Map(
      "hooked" -> ChannelSpec("hooked", exampleSchema,
        // drop x<0, double x otherwise (KafkaChannelProcessor.process shape)
        processor = Some(r =>
          if (r.getAs[Long]("x") < 0) None
          else Some(org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(exampleSchema.fieldIndex("x"), r.getAs[Long]("x") * 2)))),
        // model validator: y must be non-empty
        validateAfter = Some(r =>
          if (r.getAs[String]("y") == null || r.getAs[String]("y").isEmpty)
            Left("y must be non-empty") else Right(r))))
    val rt = new ChannelRuntime(spark, specs,
      Files.createTempDirectory("graft-test-ckpt").toString)
    rt.start()
    try {
      val sent = rt.send("hooked", Seq(
        Map("x" -> 2L, "y" -> "a"), Map("x" -> -1L, "y" -> "b"), Map("x" -> 5L, "y" -> "c")))
      assert(sent.map(_.getAs[Long]("x")) === Seq(4L, 10L)) // dropped + doubled
      intercept[IllegalArgumentException] {
        rt.send("hooked", Seq(Map("x" -> 1L, "y" -> "")))
      }
      // replay path (applyHooks = false): rows pass verbatim — no
      // double-transform, no re-drop, no re-validation
      val replayed = rt.send("hooked",
        Seq(Map("x" -> -3L, "y" -> "")), applyHooks = false)
      assert(replayed.map(_.getAs[Long]("x")) === Seq(-3L))
      rt.processAllAvailable()
      assert(rt.tickCount("hooked") === 3L)
    } finally rt.stop()
  }

  test("start(endAfter): bounded run stops itself; next resolves None") {
    val rt = newRuntime()
    import scala.concurrent.duration._
    rt.start(endAfter = Some(2.seconds))
    val f = rt.next("example")
    // the endtime thread stops the runtime; waiters resolve None
    assert(scala.concurrent.Await.result(f, 30.seconds).isEmpty)
    rt.stop() // idempotent
  }

  test("next future resolves on the following tick; None at shutdown") {
    val rt = newRuntime()
    rt.start()
    try {
      val fut = rt.next("example")
      rt.send("example", Seq(Map("x" -> 42L, "y" -> "z")))
      rt.processAllAvailable()
      val row = scala.concurrent.Await.result(fut, 10.seconds)
      assert(row.map(_.getAs[Long]("x")) === Some(42L))
      val dangling = rt.next("example")
      rt.stop()
      assert(scala.concurrent.Await.result(dangling, 10.seconds).isEmpty)
    } finally rt.stop()
  }

  test("basket: last per basket key") {
    val rt = newRuntime()
    rt.start()
    try {
      rt.send("basket", Seq(
        Map("x" -> 1L, "y" -> "k1"), Map("x" -> 2L, "y" -> "k2"), Map("x" -> 9L, "y" -> "k1")))
      rt.processAllAvailable()
      val byKey = rt.lastByBasketKey("basket")
      assert(byKey("k1").getAs[Long]("x") === 9L)
      assert(byKey("k2").getAs[Long]("x") === 2L)
    } finally rt.stop()
  }

  test("concurrent senders: per-channel seq order holds, no ticks lost") {
    val rt = newRuntime()
    rt.start()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 50).foreach { i =>
            rt.send("example", Seq(Map("x" -> (t * 1000L + i), "y" -> s"k$t")))
          }
        })
      }
      futures.foreach(_.get())
      pool.shutdown()
      rt.processAllAvailable()
      assert(rt.tickCount("example") === 400L)
      // per-key last must be each thread's final value (seq order intact)
      val st = rt.state("example")
        .map(r => (r.getAs[String]("y"), r.getAs[Long]("x"))).toMap
      (0 until 8).foreach(t => assert(st(s"k$t") === t * 1000L + 49))
    } finally rt.stop()
  }

  test("feedback edge re-injects with one-batch delay (T8)") {
    val rt = newRuntime()
    rt.addFeedback("example", "out") { r =>
      if (r.getAs[Long]("x") < 3) Some(org.apache.spark.sql.Row(
        r.get(0), r.get(1), r.getAs[Long]("x") + 1, r.get(3), 0L))
      else None
    }
    rt.addFeedback("out", "example")(r => Some(r)) // cycle: out -> example
    rt.start()
    try {
      rt.send("example", Seq(Map("x" -> 1L, "y" -> "fb")))
      // loop: 1 -> out(2) -> example(2) -> out(3) -> example(3) -> stop
      var tries = 0
      while (rt.tickCount("example") < 3 && tries < 100) {
        rt.processAllAvailable(); Thread.sleep(20); tries += 1
      }
      assert(rt.last("example").map(_.getAs[Long]("x")) === Some(3L))
    } finally rt.stop()
  }

  test("engine log: encode cycles, demux with SQL, replay into fresh runtime") {
    val rt = newRuntime()
    val log = Files.createTempFile("graft", ".jsonl").toString
    new java.io.File(log).delete()
    val writer = new EngineLog.Writer(log, rt)
    rt.start()
    try {
      rt.send("example", Seq(Map("x" -> 1L, "y" -> "a",
        "timestamp" -> "2020-01-01T00:00:00Z")))
      rt.processAllAvailable(); writer.flushCycle()
      rt.send("example", Seq(Map("x" -> 2L, "y" -> "b",
        "timestamp" -> "2020-01-01T00:01:00Z")))
      rt.processAllAvailable(); writer.flushCycle()
      writer.close()
    } finally rt.stop()

    // T11 demux via typed read
    val demuxed = EngineLog.demux(spark, log, "example",
      StructType(exampleSchema.fields :+ StructField("_seq", LongType)))
    assert(demuxed.collect().map(_.getAs[Long]("x")).sorted.toSeq === Seq(1L, 2L))

    // A8: full SQL over the log
    assert(EngineLog.readLog(spark, log).count() === 2)

    // replay into a fresh runtime with forced new ids (X11)
    val rt2 = newRuntime()
    rt2.start()
    try {
      val n = EngineLog.replay(rt2, log, Seq("example"), forceNewIds = true)
      assert(n === 2)
      rt2.processAllAvailable()
      assert(rt2.tickCount("example") === 2)
      assert(rt2.state("example").map(_.getAs[Long]("x")).toSet === Set(1L, 2L))
    } finally rt2.stop()

    // startTime fast-forward (JSONPullAdapter shape): only cycles at or
    // after the cutoff re-emit
    val cycleTs = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Files.readAllLines(java.nio.file.Paths.get(log)).get(1) match {
        case line => mapper.readTree(line).get("csp_engine_timestamp").asLong()
      }
    }
    val rt3 = newRuntime()
    rt3.start()
    try {
      val n = EngineLog.replay(rt3, log, Seq("example"), forceNewIds = true,
        startTime = Some(cycleTs))
      assert(n === 1)
      rt3.processAllAvailable()
      assert(rt3.state("example").map(_.getAs[Long]("x")).toSet === Set(2L))
    } finally rt3.stop()

    // every column type round-trips writeCycle -> replay: replay decodes
    // like a send and JsonCodec.coerce types the values
    val inner = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    val typed = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("as", ArrayType(StringType)), StructField("al", ArrayType(LongType)),
      StructField("bin", BinaryType), StructField("dec", DecimalType(10, 3)),
      StructField("m", MapType(StringType, LongType)), StructField("st", inner),
      StructField("af", ArrayType(FloatType)), StructField("ab", ArrayType(BooleanType)),
      StructField("ats", ArrayType(TimestampType)), StructField("aal", ArrayType(ArrayType(LongType)))))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-02-29T12:34:56.123456Z"))
    val epoch = new java.sql.Timestamp(0L)
    def dec(s: String) = new java.math.BigDecimal(s)
    val sent = Seq(
      Seq(1L << 40, -7, 0.1, 0.1f, true, "é \"q\" \u00e9", ts,
        java.sql.Date.valueOf("2024-02-29"), Seq("a", null), Seq(1L, -2L),
        Array[Byte](0, -1, 127), dec("1234567.891"), Map("k" -> 1L, "z" -> -1L),
        Row(7L, "ü"), Seq(1.5f, 0.1f, -0.0f), Seq(true, false), Seq(ts, epoch),
        Seq(Seq(1L, 2L), Seq.empty, null)),
      Seq.fill[Any](typed.size)(null),
      // the log writes non-finite doubles and floats as "NaN",
      // "Infinity" and "-Infinity"; replay must read them back
      Seq(0L, 0, Double.NaN, Float.NaN, false, "", ts, java.sql.Date.valueOf("1970-01-01"),
        Seq.empty, Seq.empty, Array.emptyByteArray, dec("0.000"), Map.empty, Row(null, null),
        Seq(Float.NaN, Float.PositiveInfinity), Seq(null), Seq.empty, Seq.empty),
      Seq(-1L, 1, Double.PositiveInfinity, Float.NegativeInfinity, true, "i", ts,
        java.sql.Date.valueOf("2099-12-31"), Seq("b"), Seq(Long.MaxValue), null, dec("-0.001"),
        null, null, null, null, null, null),
      Seq(2L, 2, Double.NegativeInfinity, Float.PositiveInfinity, false, "j", ts,
        java.sql.Date.valueOf("1900-01-01"), Seq.empty, Seq(Long.MinValue), null, null,
        null, null, null, null, null, null))
    val typedRuntime = StructType(typed.fields :+ StructField("_seq", LongType))
    val typedLog = Files.createTempFile("graft-typed", ".jsonl")
    val w = Files.newBufferedWriter(typedLog)
    try EngineLog.writeCycle(w, 0L, Seq(("typed", sent.zipWithIndex.map { case (vs, k) =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        (vs :+ k.toLong).toArray, typedRuntime): org.apache.spark.sql.Row
    }, typedRuntime)))
    finally w.close()
    val rt4 = new ChannelRuntime(spark, Map("typed" -> ChannelSpec("typed", typed)),
      Files.createTempDirectory("graft-test-ckpt").toString)
    val replayed = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    rt4.addListener((_, rows) => rows.foreach(replayed.add))
    rt4.start()
    try {
      assert(EngineLog.replay(rt4, typedLog.toString, Seq("typed")) === sent.size)
      rt4.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = replayed.asScala.toSeq.sortBy(_.getLong(typed.size)).map(_.toSeq.dropRight(1))
      // boxed equals: NaN equals NaN, and a Long never equals an Int
      assert(got.size === sent.size && got.zip(sent).forall { case (g, s) =>
        JsonCodecSpec.same(g, s)
      }, got)
    } finally rt4.stop()
  }

  test("a runtime without a checkpoint dir takes a Scratch dir; an explicit one is left alone") {
    val earlier = graft.core.Scratch.drain()
    try {
      val rt = new ChannelRuntime(spark, Map("scratch" -> ChannelSpec("scratch", exampleSchema)))
      val tracked = graft.core.Scratch.drain()
      assert(tracked.size === 1, tracked)
      val dir = new java.io.File(tracked.head)
      assert(dir.isDirectory && dir.getName.startsWith("graft-ckpt"), dir)
      rt.start()
      try {
        rt.send("scratch", Seq(Map("x" -> 1L)))
        rt.processAllAvailable()
        assert(new java.io.File(dir, "scratch").isDirectory)
      } finally rt.stop()
      graft.core.Scratch.restore(tracked)
      graft.core.Scratch.sweep()
      assert(!dir.exists())

      val explicit = Files.createTempDirectory("graft-test-ckpt").toString
      new ChannelRuntime(spark, Map("scratch" -> ChannelSpec("scratch", exampleSchema)), explicit)
      assert(graft.core.Scratch.drain().isEmpty)
    } finally graft.core.Scratch.restore(earlier)
  }

  test("set_state keyby on the FIRST schema field keys rows distinctly") {
    // stateKeyby is user-declared, so the keyed column can sit at
    // schema index 0; each distinct key must still hold its own state
    // row. Kills the h163 `i >= 0` -> `i > 0` key-index mutant (which
    // nulls a position-0 key and collapses every row into one bucket).
    val keyFirst = StructType(Seq(
      StructField("k", StringType),
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("x", LongType)))
    val rt = new ChannelRuntime(spark,
      Map("kf" -> ChannelSpec("kf", keyFirst, stateKeyby = Seq("k"))),
      Files.createTempDirectory("graft-test-ckpt").toString)
    rt.start()
    try {
      rt.send("kf", Seq(
        Map("k" -> "a", "x" -> 1L), Map("k" -> "b", "x" -> 2L),
        Map("k" -> "a", "x" -> 3L)))
      rt.processAllAvailable()
      val st = rt.state("kf").map(r => r.getAs[String]("k") -> r.getAs[Long]("x")).toMap
      assert(st === Map("a" -> 3L, "b" -> 2L),
        "distinct position-0 keys must occupy distinct state rows")
    } finally rt.stop()
  }

  test("engine log: cycle timestamp honors a timestamp-FIRST channel schema") {
    // Channel schemas are user-declared, so `timestamp` can be field 0;
    // the cycle stamp must still come from the rows' event time, never
    // fall back to wall clock. Kills the h165 `idx >= 0` -> `idx > 0`
    // tsOf mutant (which drops a position-0 timestamp column).
    val tsFirst = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("id", StringType),
      StructField("x", LongType)))
    val rt = new ChannelRuntime(spark,
      Map("tsf" -> ChannelSpec("tsf", tsFirst)),
      Files.createTempDirectory("graft-test-ckpt").toString)
    val log = Files.createTempFile("graft", ".jsonl").toString
    new java.io.File(log).delete()
    val writer = new EngineLog.Writer(log, rt)
    rt.start()
    try {
      rt.send("tsf", Seq(Map("x" -> 1L, "timestamp" -> "2020-06-01T00:00:00Z")))
      rt.processAllAvailable(); writer.flushCycle(); writer.close()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val line = Files.readAllLines(java.nio.file.Paths.get(log)).get(0)
      val want = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
      assert(mapper.readTree(line).get("csp_engine_timestamp").asLong === want,
        "engine cycle timestamp must be the rows' event time, not wall clock")
    } finally rt.stop()
  }

  test("replay logs lagging engine cycles but still emits them in file order") {
    // cycles stamped 10, 30, 20: the third is BEHIND engine time 30 —
    // the late-data contract (json_converter.py:126-133) emits it
    // immediately and logs; nothing is dropped or reordered
    val log = Files.createTempFile("graft-lag", ".jsonl")
    Files.write(log, java.util.Arrays.asList(
      """{"csp_engine_timestamp":10,"example":[{"x":1,"y":"a"}]}""",
      """{"csp_engine_timestamp":30,"example":[{"x":2,"y":"b"}]}""",
      """{"csp_engine_timestamp":20,"example":[{"x":3,"y":"c"}]}"""))
    val rt = newRuntime()
    rt.start()
    try {
      val logged = scala.collection.mutable.Buffer.empty[String]
      val n = EngineLog.replay(rt, log.toString, Seq("example"),
        forceNewIds = true, onLaggingCycle = logged += _)
      assert(n === 3)
      rt.processAllAvailable()
      // exactly one lagging cycle, with the reference's line shape
      assert(logged.size === 1)
      assert(logged.head ===
        "Timestamp for a replayed engine cycle is: 20 which is behind engine time: 30")
      // emission followed file order: arrival seq 1,2,3 for x=1,2,3
      val rows = rt.state("example")
      assert(rows.sortBy(_.getAs[Long]("_seq")).map(_.getAs[Long]("x")).toSeq
        === Seq(1L, 2L, 3L))
    } finally rt.stop()

    // opt-out silences the log without changing emission (fresh
    // runtime AFTER the first stopped: channel query names are
    // session-scoped)
    val rt2 = newRuntime()
    rt2.start()
    try {
      val logged2 = scala.collection.mutable.Buffer.empty[String]
      EngineLog.replay(rt2, log.toString, Seq("example"), forceNewIds = true,
        logLaggingEngineCycles = false, onLaggingCycle = logged2 += _)
      assert(logged2.isEmpty)
    } finally rt2.stop()
  }

  test("lookup registry: omitFromLookup opt-out and max-size eviction (base.py:72-78)") {
    val specs = Map(
      "omitted" -> ChannelSpec("omitted", exampleSchema, omitFromLookup = true),
      "bounded" -> ChannelSpec("bounded", exampleSchema, lookupMaxEntries = 2))
    val rt = new ChannelRuntime(spark, specs,
      Files.createTempDirectory("graft-lookup-ckpt").toString)
    rt.start()
    try {
      // opt-out: rows flow (last works) but the registry stays empty
      val r = rt.send("omitted", Seq(Map("x" -> 1L, "y" -> "a"))).head
      rt.processAllAvailable()
      assert(rt.last("omitted").isDefined)
      assert(rt.lookup("omitted", r.getAs[String]("id")).isEmpty)

      // bound: oldest-inserted entries evict beyond lookupMaxEntries
      val ids = Seq("i1", "i2", "i3").map { i =>
        rt.send("bounded", Seq(Map("id" -> i, "x" -> 1L, "y" -> "a")))
        rt.processAllAvailable()
        i
      }
      assert(rt.lookup("bounded", "i1").isEmpty, "eldest entry must be evicted")
      assert(rt.lookup("bounded", "i2").isDefined && rt.lookup("bounded", "i3").isDefined)
      assert(ids.size === 3)
    } finally rt.stop()
  }

  test("frontier keys group like Spark: dotted keyby, NaN and -0.0 keys") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("timestamp", TimestampType),
      StructField("nested", StructType(Seq(StructField("inner", LongType)))),
      StructField("d", DoubleType), StructField("x", LongType)))
    val keyings = Map(
      "dotted" -> Seq("nested.inner"), "dbl" -> Seq("d"), "pair" -> Seq("d", "nested.inner"))
    val rt = new ChannelRuntime(spark,
      keyings.map { case (n, k) => n -> ChannelSpec(n, schema, stateKeyby = k) },
      Files.createTempDirectory("graft-keys-ckpt").toString)
    rt.start()
    try {
      val inner = Seq(10L, 20L, 30L, 10L, 20L, 10L, 20L, 30L)
      val ds = Seq(1.0, Double.NaN, -0.0, Double.NaN, 0.0, -0.0, Double.NaN, 0.0)
      val ticks = inner.zip(ds).zipWithIndex.map { case ((i, d), x) =>
        Map[String, Any]("nested" -> Row(i), "d" -> d, "x" -> x.toLong)
      }
      keyings.foreach { case (ch, keys) =>
        // two ticks per micro-batch: keys repeat within and across batches
        val sent = ticks.grouped(2).flatMap { g =>
          val s = rt.send(ch, g); rt.processAllAvailable(); s
        }.toSeq
        val df = spark.createDataFrame(sent.asJava, rt.runtimeSchema(rt.specs(ch)))
        val expected = StateOps.query(
          StateOps.lastByKey(df, keys, ChannelRuntime.SeqCol).select(df.columns.map(col): _*),
          keys, StateQuery(), tieBreak = Seq(ChannelRuntime.SeqCol)).collect().toSeq
        assert(rt.state(ch) === expected, ch)
        assert(rt.driverStateSize(ch) === expected.size, ch)
      }
      assert(rt.state("dotted").size === 3) // 10, 20, 30
      assert(rt.state("dbl").size === 3)    // 1.0, NaN, 0.0 / -0.0
      assert(rt.state("pair").size === 6)
    } finally rt.stop()
  }

  test("readers never see a torn batch: every state read carries one marker") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("k", LongType), StructField("m", LongType)))
    val rt = new ChannelRuntime(spark,
      Map("wide" -> ChannelSpec("wide", schema, stateKeyby = Seq("k"))),
      Files.createTempDirectory("graft-torn-ckpt").toString)
    val keys = 1000
    // one send = one MemoryStream add = never split across micro-batches,
    // so after any batch every key carries the same marker
    def rewrite(m: Long): Unit =
      rt.send("wide", (0 until keys).map(k => Map[String, Any]("k" -> k.toLong, "m" -> m)))
    rt.start()
    try {
      rewrite(0L)
      rt.processAllAvailable()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val readers = Seq(
        (StateQuery(), keys),
        (StateQuery(Seq(StateFilter("k", FilterBy.Value(keys / 2L), "<"))), keys / 2)
      ).map { case (q, expectRows) =>
        new Thread(() => while (!stop.get()) {
          val rows = rt.state("wide", q)
          val markers = rows.map(_.getLong(1)).distinct
          if (markers.size != 1 || rows.size != expectRows)
            problems.add(s"${rows.size} rows, markers ${markers.take(5)}")
          markers.foreach(seen.add)
        })
      }
      readers.foreach(_.start())
      (1L to 20L).foreach { m => rewrite(m); Thread.sleep(20) }
      rt.processAllAvailable()
      stop.set(true)
      readers.foreach(_.join())
      assert(problems.isEmpty, problems.asScala.take(3).mkString("; "))
      assert(seen.size > 1, "reads did not overlap the rewrites")
      assert(rt.state("wide").map(_.getLong(1)).distinct === Seq(20L))
    } finally rt.stop()
  }

  test("a batch of several sends and a feedback batch reach listeners in _seq order") {
    import scala.jdk.CollectionConverters._
    val rt = newRuntime()
    rt.addFeedback("example", "basket")(r => Some(r))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Row])]
    rt.addListener((ch, rows) => batches.add((ch, rows)))
    // sent before start: the first micro-batch holds all three sends
    Seq(
      Seq(Map("x" -> 1L, "y" -> "a"), Map("x" -> 2L, "y" -> "b")),
      Seq(Map("x" -> 3L, "y" -> "a")),
      Seq(Map("x" -> 4L, "y" -> "c"), Map("x" -> 5L, "y" -> "b"))
    ).foreach(rt.send("example", _))
    rt.start()
    try {
      var tries = 0
      while (rt.tickCount("basket") < 5 && tries < 100) {
        rt.processAllAvailable(); Thread.sleep(20); tries += 1
      }
      val seen = batches.asScala.toSeq
      def of(ch: String) = seen.collect { case (`ch`, rows) => rows }
      assert(of("example").map(_.map(_.getAs[Long]("x"))) === Seq(Seq(1L, 2L, 3L, 4L, 5L)),
        "the three sends form one micro-batch, in send order")
      assert(of("basket").map(_.map(_.getAs[Long]("x"))) === Seq(Seq(1L, 2L, 3L, 4L, 5L)),
        "the re-injected rows form one micro-batch, in send order")
      for (ch <- Seq("example", "basket")) {
        val rows = of(ch).flatten
        val seqs = rows.map(_.getAs[Long]("_seq"))
        assert(seqs.zip(seqs.drop(1)).forall { case (a, b) => a < b }, s"$ch: $seqs")
        assert(rt.last(ch) === Some(rows.maxBy(_.getAs[Long]("_seq"))))
        // "a" and "b" were each sent twice in the batch: the later value holds
        assert(rt.state(ch).map(r => (r.getAs[String]("y"), r.getAs[Long]("x"))) ===
          Seq("a" -> 3L, "b" -> 5L, "c" -> 4L), ch)
      }
    } finally rt.stop()
  }

  test("a throwing listener is skipped: later listeners, state and the query run on") {
    import scala.jdk.CollectionConverters._
    val rt = newRuntime()
    rt.addListener((_, _) => throw new IllegalStateException("listener failure"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    rt.addListener((ch, rows) => if (ch == "example") rows.foreach(r => got.add(r.getAs[Long]("x"))))
    rt.start()
    try {
      rt.send("example", Seq(Map("x" -> 1L, "y" -> "a")))
      rt.processAllAvailable()
      rt.send("example", Seq(Map("x" -> 2L, "y" -> "a"), Map("x" -> 3L, "y" -> "b")))
      rt.processAllAvailable()
      assert(got.asScala.toSeq === Seq(1L, 2L, 3L))
      assert(rt.state("example").map(r => (r.getAs[String]("y"), r.getAs[Long]("x"))) ===
        Seq("a" -> 2L, "b" -> 3L))
      assert(rt.last("example").map(_.getAs[Long]("x")) === Some(3L))
    } finally rt.stop()
  }

  test("engine log is UTF-8 under the platform charset; a lone surrogate replays as '?'") {
    // No file.encoding is set for the test JVM. Where its default charset
    // is US-ASCII (JDK 17 on a C/POSIX locale), a platform-charset writer
    // logs every non-ASCII character as '?' and replay returns it
    // corrupted.
    import scala.jdk.CollectionConverters._
    val texts = Seq("caf\u00e9", "\u6771\u4eac\u306e\u5929\u6c17", "launch \uD83D\uDE80",
      "lone \uD800 half")
    val rt = newRuntime()
    val log = Files.createTempFile("graft", ".jsonl").toString
    new java.io.File(log).delete()
    val writer = new EngineLog.Writer(log, rt)
    rt.start()
    val sent = try {
      val rows = rt.send("example", texts.zipWithIndex.map { case (t, i) =>
        Map("x" -> i.toLong, "y" -> t) })
      rt.processAllAvailable(); writer.close()
      rows
    } finally rt.stop()
    val rt2 = newRuntime()
    val back = new java.util.concurrent.ConcurrentLinkedQueue[Row]
    rt2.addListener((ch, rows) => if (ch == "example") rows.foreach(back.add))
    rt2.start()
    try {
      assert(EngineLog.replay(rt2, log, Seq("example")) === texts.size)
      rt2.processAllAvailable()
    } finally rt2.stop()
    val want = sent.map { r =>
      r.toSeq.dropRight(1).updated(3, r.getAs[String]("y").replace("\uD800", "?")) }
    assert(back.asScala.toSeq.map(_.toSeq.dropRight(1)) === want)
    assert(want.last(3) === "lone ? half")
  }
}
