package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.operators.{ViewConfig, Views}
import graft.sinks.ViewServer
import graft.streaming.ChannelRuntime

/** Incremental view maintenance (round-8 task): the delta path must
  * produce EXACTLY the snapshot the full recompute produces, tick
  * after tick, for every non-aggregating view shape — and aggregate
  * views must skip recomputation when nothing ticked.
  */
class ViewServerDeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val rtSchema = StructType(Seq(
    StructField("id", StringType), StructField("timestamp", TimestampType),
    StructField("k", StringType), StructField("cat", StringType),
    StructField("x", LongType), StructField("f", FloatType), StructField("n", LongType)))

  /** Keyed on a double, so state keys group the way Spark groups NaN
    * and -0.0; `g` is a second double for index-collapse keys. */
  private val numSchema = StructType(Seq(
    StructField("id", StringType), StructField("timestamp", TimestampType),
    StructField("d", DoubleType), StructField("g", DoubleType), StructField("v", LongType)))

  private def withRuntime(f: ChannelRuntime => Unit): Unit = {
    val rt = new ChannelRuntime(spark,
      Map("ch" -> ChannelSpec("ch", rtSchema, stateKeyby = Seq("k")),
        "num" -> ChannelSpec("num", numSchema, stateKeyby = Seq("d"))),
      Files.createTempDirectory("graft-vsd-ckpt").toString)
    rt.start()
    try f(rt) finally rt.stop()
  }

  /** The full-recompute oracle: same code path refreshFull uses,
    * including the ring-buffer cap on un-self-bounded views. */
  private def fullSnapshot(rt: ChannelRuntime, ch: String, v: ViewConfig, cap: Int): Seq[Row] = {
    val raw = rt.stateFrame(ch)
    val bounded =
      if (v.limit.nonEmpty || v.index.nonEmpty || v.groupBy.nonEmpty || v.aggregates.nonEmpty) raw
      else raw.orderBy(col(ChannelRuntime.SeqCol).desc).limit(cap)
    Views.compile(bounded, v, seqCol = Some(ChannelRuntime.SeqCol)).collect().toSeq
  }

  private def assertParity(rt: ChannelRuntime, vs: ViewServer,
      views: Map[String, (String, ViewConfig)], cap: Int, tickLabel: String): Unit = {
    vs.refresh()
    // rows compare by their text: NaN != NaN under ==, and a -0.0 that
    // one side turned into 0.0 must show
    def show(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.toString)
    views.foreach { case (name, (ch, cfg)) =>
      val expect = show(fullSnapshot(rt, ch, cfg, cap))
      val got = show(vs.snapshot(name))
      // sorted views compare ordered; unsorted compare as multisets
      if (cfg.sort.nonEmpty) assert(got === expect, s"$name after $tickLabel")
      else assert(got.sorted === expect.sorted, s"$name after $tickLabel")
      // schema parity too (Arrow encoding depends on it)
      val gotSchema = vs.snapshotWithSchema(name).get._2
      assert(gotSchema.fieldNames.toSeq ===
        Views.compile(rt.stateFrame(ch), cfg, seqCol = Some(ChannelRuntime.SeqCol))
          .schema.fieldNames.toSeq, s"$name schema after $tickLabel")
    }
  }

  test("delta snapshot == full recompute across 3 ticks, all view shapes") {
    withRuntime { rt =>
      val vs = new ViewServer(rt, defaultLimit = 4)
      val chViews = Map(
      // plain view over keyed state (upsert-by-state-key + ring cap 4)
      "plain" -> ViewConfig(),
      // expressions + filter + sort + explicit limit
      "rich" -> ViewConfig(
        expressions = Seq("x2" -> "x * 2"),
        filter = Seq(("x", ">", 1L)),
        sort = Seq(("x", false)),
        limit = Some(3)),
      // index-collapse on a DIFFERENT key than the state key — the
      // two-level upsert (state key first, then index key) matters:
      // a category whose only row was superseded must disappear
      "by_cat" -> ViewConfig(
        index = Some((Seq("cat"), ChannelRuntime.SeqCol)),
        sort = Seq(("cat", true))),
      // filter-staleness trap: a key whose LATEST row fails the
      // filter must drop out even though an older row passed
      "gate" -> ViewConfig(filter = Seq(("x", "<=", 10L)), sort = Seq(("k", true))),
      // a float column meets a double literal as a double (Catalyst
      // widens the column): 0.1f is not 0.1, 0.25f is 0.25
      "float_inexact" -> ViewConfig(filter = Seq(("f", "==", 0.1))),
      "float_exact" -> ViewConfig(filter = Seq(("f", "==", 0.25))),
      // DESC NULLS LAST on a nullable column, k breaking ties
      "n_desc" -> ViewConfig(sort = Seq(("n", false), ("k", true))),
      // `in` over mixed literal types widens to their common type
      "x_in" -> ViewConfig(filter = Seq(("x", "in", Seq(1L, 7, 8.0, null))),
        sort = Seq(("k", true))),
      "cat_has_u" -> ViewConfig(filter = Seq(("cat", "contains", "u"))),
      "n_null" -> ViewConfig(filter = Seq(("n", "is null", null))),
      "n_set" -> ViewConfig(filter = Seq(("n", "is not null", null)), sort = Seq(("n", true))))
      val numViews = Map(
      // state keyed on a double: two NaN ticks are one key, and so are
      // -0.0 and 0.0 (the frontier's grouping)
      "num_plain" -> ViewConfig(),
      // index-collapse on a double: NaN rows of different state keys
      // collapse to one, as do -0.0 and 0.0
      "num_by_g" -> ViewConfig(
        index = Some((Seq("g"), ChannelRuntime.SeqCol)),
        sort = Seq(("g", true))))
      val views = chViews.map { case (n, c) => n -> ("ch", c) } ++
        numViews.map { case (n, c) => n -> ("num", c) }

      views.foreach { case (n, (ch, c)) => vs.define(n, ch, c) }
      views.keys.foreach(n => assert(vs.deltaActive(n), s"$n should be delta-maintained"))

      // tick 1: initial load
      rt.send("ch", Seq(
        Map("k" -> "a", "cat" -> "u", "x" -> 1L, "f" -> 0.1f, "n" -> 5L),
        Map("k" -> "b", "cat" -> "v", "x" -> 5L, "f" -> 0.5f),
        Map("k" -> "c", "cat" -> "u", "x" -> 3L, "f" -> 0.1f, "n" -> 2L)))
      rt.send("num", Seq(
        Map("d" -> Double.NaN, "g" -> 0.0, "v" -> 1L),
        Map("d" -> 0.0, "g" -> Double.NaN, "v" -> 2L),
        Map("d" -> 1.5, "g" -> -0.0, "v" -> 3L)))
      rt.processAllAvailable()
      assertParity(rt, vs, views, 4, "tick1")

      // tick 2: key updates (a moves category, c goes over the gate);
      // NaN ticks again and -0.0 updates the 0.0 key
      rt.send("ch", Seq(
        Map("k" -> "a", "cat" -> "w", "x" -> 7L, "f" -> 0.25f),
        Map("k" -> "c", "cat" -> "u", "x" -> 99L, "f" -> 0.1f, "n" -> 9L)))
      rt.send("num", Seq(
        Map("d" -> Double.NaN, "g" -> 1.0, "v" -> 4L),
        Map("d" -> -0.0, "g" -> Double.NaN, "v" -> 5L)))
      rt.processAllAvailable()
      assertParity(rt, vs, views, 4, "tick2")

      // tick 3: new keys push the ring cap; b retakes category v
      rt.send("ch", Seq(
        Map("k" -> "d", "cat" -> "v", "x" -> 2L, "f" -> 0.1f),
        Map("k" -> "e", "cat" -> "w", "x" -> 8L, "f" -> 1.0f, "n" -> 3L),
        Map("k" -> "b", "cat" -> "v", "x" -> 4L, "f" -> 0.25f, "n" -> 1L)))
      rt.send("num", Seq(
        Map("d" -> 2.5, "g" -> Double.NaN, "v" -> 6L),
        Map("d" -> 1.5, "g" -> 0.0, "v" -> 7L)))
      rt.processAllAvailable()
      assertParity(rt, vs, views, 4, "tick3")

      // after the initial build, no further full recomputes happened
      assert(vs.fullRefreshCount === 0L)
    }
  }

  test("aggregate views recompute only when the channel ticked") {
    withRuntime { rt =>
      val vs = new ViewServer(rt)
      vs.define("agg", "ch", ViewConfig(
        groupBy = Seq("cat"), aggregates = Seq("mx" -> ("x", "max")),
        sort = Seq(("cat", true))))
      assert(!vs.deltaActive("agg"))

      rt.send("ch", Seq(Map("k" -> "a", "cat" -> "u", "x" -> 1L)))
      rt.processAllAvailable()
      vs.refresh()
      assert(vs.fullRefreshCount === 1L)
      assert(vs.snapshot("agg").map(_.toSeq) === Seq(Seq("u", 1L)))

      // idle refreshes: snapshot stays, no recompute
      vs.refresh(); vs.refresh()
      assert(vs.fullRefreshCount === 1L)

      // a new tick re-enables exactly one recompute
      rt.send("ch", Seq(Map("k" -> "b", "cat" -> "u", "x" -> 9L)))
      rt.processAllAvailable()
      vs.refresh()
      assert(vs.fullRefreshCount === 2L)
      assert(vs.snapshot("agg").map(_.toSeq) === Seq(Seq("u", 9L)))
    }
  }

  test("window-function expressions are not delta-eligible") {
    withRuntime { rt =>
      val vs = new ViewServer(rt)
      vs.define("win", "ch", ViewConfig(
        expressions = Seq("rk" -> "row_number() over (order by x)")))
      assert(!vs.deltaActive("win"))

      // space-free OVER parses fine in Spark SQL — the old " over"
      // substring guard missed it and let the window slip onto the
      // delta path (ADVICE r8); the parsed-tree check must not
      val cfg = ViewConfig(
        expressions = Seq("rk" -> "rank()over(order by x)"),
        sort = Seq(("k", true)))
      vs.define("win2", "ch", cfg)
      assert(!vs.deltaActive("win2"))

      // and since it full-recomputes, the snapshot equals the oracle
      rt.send("ch", Seq(
        Map("k" -> "a", "cat" -> "u", "x" -> 3L),
        Map("k" -> "b", "cat" -> "v", "x" -> 1L)))
      rt.processAllAvailable()
      vs.refresh()
      assert(vs.snapshot("win2").map(_.toSeq) ===
        fullSnapshot(rt, "ch", cfg, 1000).map(_.toSeq))

      // conversely an expression merely MENTIONING " over" (here a
      // backquoted identifier) must stay eligible — the substring
      // guard needlessly disabled the optimization for it
      vs.define("named", "ch", ViewConfig(
        expressions = Seq("y" -> "x + `game over`")))
      assert(vs.deltaActive("named"))
    }
  }

  test("delta failure demotes the view to full recompute, snapshot still lands") {
    withRuntime { rt =>
      val vs = new ViewServer(rt)
      // filter on a column that exists only at compile time via
      // expression REPLACEMENT is fine; use an unknown filter column
      // to force the driver evaluator to throw — full path then also
      // fails, but the view must demote (deltaActive false) rather
      // than serve a stale incremental state silently
      vs.define("bad", "ch", ViewConfig(filter = Seq(("ghost", ">", 1L))))
      rt.send("ch", Seq(Map("k" -> "a", "cat" -> "u", "x" -> 1L)))
      rt.processAllAvailable()
      vs.refresh()
      assert(vs.snapshot("bad").isEmpty) // read triggers eval → demotion
      assert(!vs.deltaActive("bad"))
    }
  }
}
