package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** `catalog`: eight catalog entries, each materialised in full with
  * `write.format("noop")`, in passes until the run's seconds have
  * passed (at least one). Inputs are generated tables at a
  * fixed scale; the seed permutes their row order. Before timing, one
  * untimed pass collects every entry and checks its row count and
  * order-insensitive content hash against the committed expected
  * values; it also warms the session.
  */
object Catalog {
  val Entries: Seq[String] = Seq("j2_asof_join", "tx9_annotate_bundle", "w5_window_family",
    "g1_pagerank", "mm5_color_pixels", "d18_containment", "st7s_profile_stream",
    "a11s_session_stream")
  /** Entries that run as streaming queries. */
  val Twins: Seq[String] = Seq("st7s_profile_stream", "a11s_session_stream")

  /** Scale of the generated tables, in the units of the catalog's
    * reference data (TESTDATA.md; sf 1 = 1M events, 1.5M orders, 6M
    * lineitems, 50k documents). */
  val Scale = 0.01
  /** Content of the tables is fixed; only their row order follows the
    * workload seed, so the expected outputs hold for every seed. */
  val DataSeed = 42L

  def run(ctx: Ctx): Unit = new Catalog(ctx).run()

  /** Runs one entry as one operation: its seconds, or None when it
    * throws — a failed operation, never a time. */
  def timeEntry(report: Report, name: String)(body: => Unit): Option[Double] = {
    report.attempt()
    val t0 = System.nanoTime()
    try {
      body
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case t: Throwable =>
        report.fail(s"$name threw ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(120)}")
        None
    }
  }

  // ---- order-insensitive content hash of an output ----

  /** Canonical text of one value: doubles at 8 significant digits, so
    * summation-order noise in the last bits does not change the hash. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.7e", d)
    case f: Float => canon(f.toDouble)
    case t: Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000).toString
    case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** (rows, hash): the sum of per-row 64-bit hashes, columns taken in
    * name order. */
  def contentHash(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      sum += h
      n += 1
    }
    (n, java.lang.Long.toHexString(sum))
  }

  // ---- generated tables ----

  private val Vocab = ("spark window merge table column vector stream value data small join filter " +
    "big group hash customer sort order slow line part fast row the agg key query a scan batch")
    .split(' ')

  /** The four tables the entries read, written as single parquet files
    * (the layout of the reference data) with rows in seed order. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(DataSeed)
    def n(perSf: Double): Int = math.max(1, (perSf * Scale).round.toInt)
    def money(lo: Double, hi: Double): Double = math.rint((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100
    val day = 86400000L
    val users = n(15000)
    val nEvents = n(1000000)
    val evStart = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val evSpan = 30L * day * 1000L
    val types = Seq("view", "click", "purchase", "signup", "error")
    val events = (0 until nEvents).map { i =>
      val micros = evStart + ((i + rnd.nextDouble()) * evSpan / nEvents).toLong
      val ts = new Timestamp(micros / 1000)
      ts.setNanos((micros % 1000000).toInt * 1000)
      Row(i.toLong, ts, rnd.nextInt(users).toLong, types(rnd.nextInt(types.size)),
        math.rint(-math.log(1.0 - rnd.nextDouble()) * 4000) / 100, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val nOrders = n(1500000)
    val custs = n(150000)
    val oStart = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, rnd.nextInt(custs).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        money(1000, 500000), new Timestamp(oStart + rnd.nextInt(2405) * day),
        prios(rnd.nextInt(prios.size)))
    }
    val lineitem = (0 until n(6000000)).map { _ =>
      val q = (1 + rnd.nextInt(50)).toDouble
      Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(n(200000)).toLong, rnd.nextInt(n(10000)).toLong,
        1 + rnd.nextInt(7), q, math.rint(q * (900 + rnd.nextDouble() * 1200) * 100) / 100,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
        Seq("F", "O")(rnd.nextInt(2)), new Timestamp(oStart + rnd.nextInt(2499) * day))
    }
    val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until n(50000)).map { i =>
      val words = Array.fill(8 + rnd.nextInt(89))(Vocab(rnd.nextInt(Vocab.length)))
      // one document in twenty quotes a passage of an earlier one
      if (texts.nonEmpty && rnd.nextInt(20) == 0) {
        val host = texts(rnd.nextInt(texts.size)).split(' ')
        val len = math.min(host.length, 6 + rnd.nextInt(20))
        val from = rnd.nextInt(host.length - len + 1)
        val at = rnd.nextInt(words.length)
        val merged = words.take(at) ++ host.slice(from, from + len) ++ Array("dup") ++ words.drop(at)
        texts += merged.mkString(" ")
      } else texts += words.mkString(" ")
      val t = texts.last
      Row(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}", t.length.toLong)
    }
    val schemas = Map(
      "events" -> StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      "orders" -> StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      "lineitem" -> StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
      "documents" -> StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    val order = new java.util.Random(seed)
    Seq("events" -> events, "orders" -> orders, "lineitem" -> lineitem, "documents" -> documents)
      .foreach { case (name, rows) =>
        val shuffled = new java.util.ArrayList[Row](rows.asJava)
        java.util.Collections.shuffle(shuffled, order)
        spark.createDataFrame(shuffled, schemas(name)).coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
      }
  }
}

private final class Catalog(ctx: Ctx) {
  import Catalog._

  private val spark = ctx.spark
  private val report = ctx.report

  private def fn(e: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(e)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private final class Phases {
    val build, plan, exec = new DoubleBuf(16)
    val batchMs = new DoubleBuf(16)
  }

  /** One timed pass: per-entry seconds for the entries that completed. */
  private def timedPass(dir: String, traced: Option[(Probes, Map[String, Phases])]): Seq[(String, Double)] =
    Entries.flatMap { e =>
      spark.sparkContext.setJobGroup(s"catalog:$e", e)
      try timeEntry(report, e) {
        val t0 = System.nanoTime()
        val df = fn(e)(spark, dir)
        val t1 = System.nanoTime()
        traced.foreach(_ => df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        noop(df)
        val t3 = System.nanoTime()
        traced.foreach { case (p, phases) =>
          val ph = phases(e)
          ph.build.add((t1 - t0) / 1e9); ph.plan.add((t2 - t1) / 1e9); ph.exec.add((t3 - t2) / 1e9)
          if (Twins.contains(e))
            p.stream.batches(t0, t3).foreach(b => ph.batchMs.add(b.triggerMs.toDouble))
          val root = ctx.tracer.span(s"catalog.$e", t0, t3, reqId = t0)
          ctx.tracer.span("catalog.build", t0, t1, root, t0)
          ctx.tracer.span("spark.plan", t1, t2, root, t0)
          ctx.tracer.span("spark.exec", t2, t3, root, t0)
        }
      }.map(e -> _)
      finally {
        spark.sparkContext.clearJobGroup()
        spark.catalog.clearCache()
      }
    }

  private def loadExpected(): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(ctx.args.expected))
    require(root.path("scale").asDouble() == Scale,
      s"expected outputs are for scale ${root.path("scale")}, not $Scale")
    root.get("entries").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }

  /** Zero-data last-by-key streaming query under the same session: the
    * fixed cost any streaming twin pays before it touches data. */
  private def twinFloorSeconds(): Double = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = StructType(Seq(StructField("k", LongType), StructField("_seq", LongType)))
    val times = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      val stream = MemoryStream[Row](Encoders.row(schema), sqlCtx)
      val q = graft.streaming.StreamingState.lastByKeyStream(stream.toDF(), Seq("k"), "_seq")
        .writeStream.format("memory").queryName(s"perfbench_floor_$rep").outputMode("update")
        .option("checkpointLocation", ctx.scratch(s"floor$rep").toString).start()
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  def run(): Unit = {
    val data = ctx.scratch("data")
    val g0 = System.nanoTime()
    generate(spark, data, ctx.args.seed)
    report.note(f"set-up: tables generated in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val dir = data.toString
    // set-up, measured several times: every entry that is not a
    // streaming twin (those run their stream while being built) is
    // built and planned; an entry that throws fails in the check pass
    (0 until Ctx.SetupReps).foreach { _ =>
      ctx.setupRep {
        Entries.filterNot(Twins.contains).foreach { e =>
          try fn(e)(spark, dir).queryExecution.executedPlan
          catch { case scala.util.control.NonFatal(_) => () }
          finally spark.catalog.clearCache()
        }
      }
    }
    // check pass (untimed): every entry's full output against the
    // committed expected row count and content hash
    val expected = if (ctx.args.recordExpected.isEmpty) loadExpected() else Map.empty[String, (Long, String)]
    val recorded = Entries.map { e =>
      var got: Option[(Long, String)] = None
      val secs =
        try timeEntry(report, s"$e check pass") { got = Some(contentHash(fn(e)(spark, dir))) }
        finally spark.catalog.clearCache()
      got.foreach { case (rows, hash) =>
        if (ctx.args.recordExpected.isEmpty) expected.get(e) match {
          case Some((r, h)) =>
            report.check(rows == r && hash == h, s"$e output: $rows rows hash $hash, expected $r rows hash $h")
          case None => report.fail(s"$e: no expected output committed")
        }
        report.note(f"$e: $rows rows, hash $hash, check pass ${secs.getOrElse(0.0)}%.2f s")
      }
      e -> got
    }
    ctx.args.recordExpected.foreach { path =>
      val m = new ObjectMapper()
      val root = m.createObjectNode()
      root.put("scale", Scale)
      val es = root.putObject("entries")
      recorded.sortBy(_._1).foreach { case (e, got) =>
        got.foreach { case (rows, hash) => es.putObject(e).put("rows", rows).put("hash", hash) }
      }
      Files.write(path, (m.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n").getBytes("UTF-8"))
    }

    ctx.startTimed()
    val trace = ctx.args.trace
    val untracedSec = if (trace) ctx.args.seconds / 2.0 else ctx.args.seconds.toDouble
    def passes(sec: Double, traced: Option[(Probes, Map[String, Phases])]): Seq[Seq[(String, Double)]] = {
      val start = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      // passes until `sec` have passed (the last one may end later)
      while (out.isEmpty || System.nanoTime() - start < sec * 1e9)
        out += timedPass(dir, traced)
      out.toSeq
    }
    val untraced = passes(untracedSec, None)
    val sums = untraced.map(_.map(_._2).sum * 1000.0)
    val d = Stats.dist(sums)
    val entrySeconds = untraced.map(_.map(_._2).sum).sum
    report.metric("op_p50_ms", d.p50, "ms")
    report.metric("op_tail_ms", d.tail, "ms")
    report.metric("ops_per_s", untraced.map(_.size).sum / math.max(1e-9, entrySeconds), "1/s")
    report.note(f"catalog_s=${d.p50 / 1000}%.4f (median of ${d.n} passes) pass " + d.describe("ms"))
    Entries.foreach { e =>
      val times = untraced.flatMap(_.filter(_._1 == e).map(_._2 * 1000))
      report.note(s"$e full output: " + Stats.dist(times).describe("ms"))
    }
    if (trace) {
      val p = new Probes(spark)
      val phases = Entries.map(_ -> new Phases).toMap
      val before = Entries.map(e => e -> p.engine.totals(s"g:catalog:$e")).toMap
      val traced = passes(ctx.args.seconds - untracedSec, Some((p, phases)))
      Thread.sleep(200) // the listener bus delivers the last task ends
      report.tracedOps = traced.size
      val td = Stats.dist(traced.map(_.map(_._2).sum * 1000.0))
      report.metric("trace.untraced_p50_ms", d.p50, "ms")
      report.metric("trace.traced_p50_ms", td.p50, "ms")
      report.metric("trace.overhead_ms", td.p50 - d.p50, "ms")
      val np = math.max(1, traced.size).toDouble
      Entries.foreach { e =>
        val ph = phases(e)
        val t = p.engine.totals(s"g:catalog:$e") - before(e)
        report.metric(s"catalog.$e.build_s", ph.build.dist.p50, "s")
        report.metric(s"catalog.$e.plan_s", ph.plan.dist.p50, "s")
        report.metric(s"catalog.$e.exec_s", ph.exec.dist.p50, "s")
        report.metric(s"catalog.$e.shuffle_read_bytes", t.shuffleRead / np, "bytes")
        report.metric(s"catalog.$e.shuffle_write_bytes", t.shuffleWrite / np, "bytes")
        report.metric(s"catalog.$e.spill_bytes", t.spill / np, "bytes")
        report.metric(s"catalog.$e.tasks", t.tasks / np, "count")
        report.metric(s"catalog.$e.gc_s", t.gcMs / np / 1000.0, "s")
        if (Twins.contains(e)) report.metric(s"catalog.$e.batch_ms", ph.batchMs.dist.p50, "ms")
      }
      report.metric("catalog.twin_floor_s", twinFloorSeconds(), "s")
      p.detach()
    }
    report.metric("jvm.gc_ms", ctx.gcSinceStart().toDouble, "ms")
  }
}
