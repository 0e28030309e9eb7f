package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.state._

/** Parity pin for the driver-side state-query fast path: for every
  * supported filter/order shape, `StateFastPath.tryEval` must return
  * EXACTLY what the Spark path (QueryTranslator + StateOps.scan)
  * returns; for everything Spark-semantics-sensitive it must return
  * None (so the caller falls back) — never a close-enough answer.
  */
class StateFastPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("x", LongType),
    StructField("d", DoubleType),
    StructField("flag", BooleanType),
    StructField("ts", TimestampType),
    StructField("nested", StructType(Seq(
      StructField("inner", LongType)))),
    StructField("_seq", LongType)))

  private val rows: Seq[Row] = Seq(
    Row("b", 5L, 1.5, true, Timestamp.valueOf("2024-01-02 00:00:00"), Row(10L), 1L),
    Row("a", 2L, 2.5, false, Timestamp.valueOf("2024-01-01 00:00:00"), Row(20L), 2L),
    Row(null, 9L, null, null, null, null, 3L),
    Row("a", 7L, 0.5, true, Timestamp.valueOf("2024-01-03 00:00:00"), Row(5L), 4L),
    Row("c", null, 3.5, false, Timestamp.valueOf("2024-01-01 12:00:00"), Row(null), 5L))

  private def sparkPath(keys: Seq[String], q: StateQuery): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema)
    StateOps.query(df, keys, q, tieBreak = Seq("_seq")).collect().toSeq
  }

  private def assertParity(keys: Seq[String], q: StateQuery): Unit = {
    val fast = StateFastPath.tryEval(rows, schema, keys, q, Seq("_seq"))
    assert(fast.isDefined, s"fast path refused expressible query $q")
    assert(fast.get.map(_.toSeq) === sparkPath(keys, q).map(_.toSeq), s"mismatch for $q")
  }

  test("unfiltered scan: keyby ASC NULLS FIRST + seq tie-break") {
    assertParity(Seq("k"), StateQuery())
    assertParity(Seq("k", "x"), StateQuery())
    assertParity(Seq("nested.inner"), StateQuery()) // dotted keyby
  }

  test("every operator over long / double / string / bool columns") {
    for (op <- Seq("==", "!=", "<", "<=", ">", ">=")) {
      assertParity(Seq("k"), StateQuery(Seq(StateFilter("x", FilterBy.Value(5L), op))))
      assertParity(Seq("k"), StateQuery(Seq(StateFilter("d", FilterBy.Value(1.5), op))))
      assertParity(Seq("k"), StateQuery(Seq(StateFilter("k", FilterBy.Value("a"), op))))
    }
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("flag", FilterBy.Value(true), "=="))))
  }

  test("literal cast semantics: double literal truncates against long column") {
    // CAST(5.7 AS BIGINT) = 5 — rows with x == 5 match
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("x", FilterBy.Value(5.7), "=="))))
    // int literal widens against double column
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("d", FilterBy.Value(2L), "<"))))
  }

  test("when filter on timestamps, dotted attrs, attr-vs-attr") {
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("ts",
      FilterBy.When(Timestamp.valueOf("2024-01-01 12:00:00")), ">="))))
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("nested.inner",
      FilterBy.Value(10L), ">="))))
    assertParity(Seq("k"), StateQuery(Seq(StateFilter("x",
      FilterBy.Attr("nested.inner"), "<"))))
  }

  test("conjunction + unknown attribute dropped like the translator") {
    assertParity(Seq("k"), StateQuery(Seq(
      StateFilter("x", FilterBy.Value(1L), ">"),
      StateFilter("ghost", FilterBy.Value(1L), ">"), // ignored
      StateFilter("flag", FilterBy.Value(false), "=="))))
  }

  test("refusals: anything Spark-cast-sensitive falls back (None)") {
    def refuses(f: StateFilter): Unit =
      assert(StateFastPath.tryEval(rows, schema, Seq("k"),
        StateQuery(Seq(f)), Seq("_seq")).isEmpty, s"should refuse $f")
    // string literal against numeric column: parse semantics
    refuses(StateFilter("x", FilterBy.Value("5"), "=="))
    // numeric literal against string column: format semantics
    refuses(StateFilter("k", FilterBy.Value(5L), "=="))
    // cross-type attr comparison: Catalyst coercion rules
    refuses(StateFilter("x", FilterBy.Attr("d"), "<"))
    // when-filter on a non-timestamp column
    refuses(StateFilter("x",
      FilterBy.When(Timestamp.valueOf("2024-01-01 00:00:00")), "<"))
    // unknown rhs attr: the Spark path owns the drop-and-warn
    refuses(StateFilter("x", FilterBy.Attr("ghost"), "<"))
    // overflow-capable literal: ANSI would error, non-ANSI would wrap
    assert(StateFastPath.tryEval(rows,
      StructType(schema.fields.map(f =>
        if (f.name == "x") f.copy(dataType = IntegerType) else f)),
      Seq("k"),
      StateQuery(Seq(StateFilter("x", FilterBy.Value(Long.MaxValue), "<"))),
      Seq("_seq")).isEmpty)
  }

  test("string order is UTF8String binary, not UTF-16 code units") {
    // U+1F600 (emoji) encodes F0 9F 98 80 in UTF-8; U+F000
    // (private-use) encodes EF 80 80. UTF-16 code-unit order puts the
    // surrogate pair FIRST (D83D < F000); UTF8String binary order puts
    // it LAST (F0 > EF). The fast path must match the Spark path on
    // both the sort and every range operator (ADVICE r8, medium).
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uF000"
    assert(emoji.compareTo(pua) < 0) // the divergence is real in UTF-16
    val sSchema = StructType(Seq(
      StructField("k", StringType), StructField("_seq", LongType)))
    val sRows = Seq(Row(emoji, 1L), Row(pua, 2L), Row("plain", 3L), Row(null, 4L))
    def sparkSide(q: StateQuery): Seq[Seq[Any]] = {
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(sRows.asJava, sSchema)
      StateOps.query(df, Seq("k"), q, tieBreak = Seq("_seq")).collect().toSeq.map(_.toSeq)
    }
    def fastSide(q: StateQuery): Seq[Seq[Any]] =
      StateFastPath.tryEval(sRows, sSchema, Seq("k"), q, Seq("_seq"))
        .getOrElse(fail(s"fast path refused $q")).map(_.toSeq)
    assert(fastSide(StateQuery()) === sparkSide(StateQuery()))
    for (op <- Seq("<", "<=", ">", ">=", "==", "!="))
      assert(
        fastSide(StateQuery(Seq(StateFilter("k", FilterBy.Value(pua), op)))) ===
        sparkSide(StateQuery(Seq(StateFilter("k", FilterBy.Value(pua), op)))), s"op $op")
  }

  test("-0.0 and NaN compare like Spark: -0.0 == 0.0, NaN == NaN, NaN sorts last") {
    // Spark's SQLOrderingUtil: `if (x == y) 0 else compare(x, y)`;
    // java.lang.Double.compare alone ranks -0.0 below 0.0
    val dSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", FloatType), StructField("_seq", LongType)))
    val dRows = Seq(
      Row(0.0, 0.0f, 1L), Row(-0.0, -0.0f, 2L), Row(Double.NaN, Float.NaN, 3L),
      Row(1.0, 1.0f, 4L), Row(null, null, 5L), Row(-1.0, -1.0f, 6L),
      Row(Double.NaN, Float.NaN, 7L), Row(-0.0, -0.0f, 8L))
    def sparkSide(keys: Seq[String], q: StateQuery): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(dRows.asJava, dSchema)
      StateOps.query(df, keys, q, tieBreak = Seq("_seq")).collect().toSeq.map(_.getLong(2))
    }
    def fastSide(keys: Seq[String], q: StateQuery): Seq[Long] = {
      val viaSort = StateFastPath.tryEval(dRows, dSchema, keys, q, Seq("_seq"))
        .getOrElse(fail(s"fast path refused $q"))
      val ord = StateFastPath.ordering(dSchema, (keys :+ "_seq").map(_ -> true)).get
      val viaSnapshot = StateFastPath.filterSorted(dRows.sorted(ord).toArray, dSchema, q).get
      assert(viaSnapshot.map(_.getLong(2)) === viaSort.map(_.getLong(2)))
      viaSort.map(_.getLong(2))
    }
    for (col <- Seq("d", "f")) {
      assert(fastSide(Seq(col), StateQuery()) === sparkSide(Seq(col), StateQuery()), s"order by $col")
      for (op <- Seq("==", "!=", "<", "<=", ">", ">="); lit <- Seq(0.0, -0.0, Double.NaN)) {
        val q = StateQuery(Seq(StateFilter(col, FilterBy.Value(lit), op)))
        assert(fastSide(Seq(col), q) === sparkSide(Seq(col), q), s"$col $op $lit")
      }
      val q = StateQuery(Seq(StateFilter(col, FilterBy.Attr(col), "==")))
      assert(fastSide(Seq(col), q) === sparkSide(Seq(col), q), s"$col == $col")
    }
    // the defect this pins: 0.0 and -0.0 are one value, ordered by _seq
    assert(fastSide(Seq("d"), StateQuery(Seq(StateFilter("d", FilterBy.Value(0.0), "=="))))
      === Seq(1L, 2L, 8L))
  }

  test("string order matches Spark for lone surrogates too") {
    // Spark stores a lone surrogate as '?'; the fast comparator defers
    // to UTF8String whenever a difference involves a surrogate
    val sSchema = StructType(Seq(StructField("k", StringType), StructField("_seq", LongType)))
    val sRows = Seq(Row("a\uD800", 1L), Row("a>", 2L), Row("a\uD83D\uDE00", 3L),
      Row("a\uFFFF", 4L), Row("a", 5L), Row("a\uD800b", 6L), Row("a@", 7L))
    import scala.jdk.CollectionConverters._
    val spark0 = StateOps.query(spark.createDataFrame(sRows.asJava, sSchema), Seq("k"),
      StateQuery(), tieBreak = Seq("_seq")).collect().toSeq.map(_.getLong(1))
    val fast = StateFastPath.tryEval(sRows, sSchema, Seq("k"), StateQuery(), Seq("_seq"))
      .get.map(_.getLong(1))
    assert(fast === spark0)
  }

  test("runtime serves the fast path end-to-end (t3 shape)") {
    val rtSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", TimestampType),
      StructField("owner", StringType),
      StructField("x", LongType)))
    val rt = new graft.streaming.ChannelRuntime(spark,
      Map("ch" -> graft.core.ChannelSpec("ch", rtSchema, stateKeyby = Seq("owner"))),
      Some(java.nio.file.Files.createTempDirectory("graft-fast-ckpt").toString))
    rt.start()
    try {
      rt.send("ch", Seq(
        Map("owner" -> "alice", "x" -> 1L), Map("owner" -> "bob", "x" -> 2L),
        Map("owner" -> "carol", "x" -> 3L), Map("owner" -> "alice", "x" -> 4L)))
      rt.processAllAvailable()
      val q = StateQuery(Seq(StateFilter("x", FilterBy.Value(2L), ">=")))
      val got = rt.state("ch", q)
      assert(got.map(r => (r.getAs[String]("owner"), r.getAs[Long]("x")))
        === Seq(("alice", 4L), ("bob", 2L), ("carol", 3L)))
      // and it really is fast: 200 queries in well under a second
      val t0 = System.nanoTime()
      (1 to 200).foreach(_ => rt.state("ch", q))
      assert((System.nanoTime() - t0) < 1000000000L,
        "200 fast-path state queries should take well under 1s")
    } finally rt.stop()
  }
}
