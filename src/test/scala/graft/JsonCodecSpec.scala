package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChannelSpec
import graft.streaming.{ChannelRuntime, EngineLog, JsonCodec}

/** The JSON value codec: whatever [[JsonCodec.write]] emits,
  * [[JsonCodec.jsonValue]] and [[JsonCodec.coerce]] read back to the
  * value written, for random schemas over every supported type; Spark's
  * own JSON reader, through [[EngineLog.demux]], agrees on the bytes.
  */
class JsonCodecSpec extends AnyFunSuite {
  import JsonCodecSpec._

  private lazy val spark = TestSpark.spark
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("property: coerce(jsonValue(parse(write(row)))) equals row, 1,000 random schemas") {
    val gen = for {
      schema <- structType(2)
      row <- rowOf(schema, anyString)
    } yield (schema, row)
    val prop = Prop.forAllNoShrink(gen) { case (schema, row) =>
      val text = JsonCodec.jsonText(JsonCodec.writeRow(_, row, schema))
      val back = JsonCodec.coerce(JsonCodec.jsonValue(mapper.readTree(text)), schema, "row")
      Prop(same(back, row)) :| s"$schema\n$text"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res)
  }

  test("Spark's JSON reader (EngineLog.demux) reads a written cycle back to the rows written") {
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)) ++
      Seq(StringType, LongType, IntegerType, DoubleType, FloatType, BooleanType, TimestampType,
        DateType, BinaryType, DecimalType(15, 4), ArrayType(FloatType), ArrayType(BooleanType),
        ArrayType(TimestampType), ArrayType(ArrayType(LongType)), MapType(StringType, DoubleType),
        StructType(Seq(StructField("a", LongType), StructField("b", ArrayType(BinaryType)))))
        .zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    // map keys are identifiers here: two distinct lone surrogates both
    // encode to '?' in UTF-8, and Spark rejects a map with a repeated key
    val rows = Gen.listOfN(300, rowOf(StructType(schema.fields.tail), Gen.identifier))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261019L))
      .zipWithIndex.map { case (r, k) => Row.fromSeq(k.toLong +: r.toSeq) }
    val log = Files.createTempFile("graft-codec", ".jsonl")
    // the opener EngineLog.Writer uses: UTF-8, a lone surrogate as '?'
    val w = EngineLog.open(log.toString, append = false)
    try rows.grouped(100).foreach { cycle =>
      EngineLog.writeCycle(w, 0L, Seq(("ch", cycle, schema)))
      w.newLine()
    } finally w.close()
    // java.time values: a java.sql.Timestamp or Date that Spark returns
    // is rebased to the Julian calendar before 1582, which the wire's
    // ISO instants and dates do not use
    val java8 = "spark.sql.datetime.java8API.enabled"
    val prior = spark.conf.getOption(java8)
    spark.conf.set(java8, "true")
    val read = try EngineLog.demux(spark, log.toString, "ch", schema).drop("csp_engine_timestamp")
      .collect().sortBy(_.getLong(0)).toSeq
    finally prior.fold(spark.conf.unset(java8))(spark.conf.set(java8, _))
    assert(read.size === rows.size)
    read.zip(rows).foreach { case (got, want) =>
      val expected = asRead(want, schema)
      assert(same(got, expected), s"\nread    $got\nwritten $expected")
    }
  }

  test("a channel with a field type that has no JSON form is rejected at construction") {
    for (dt <- Seq(ShortType, MapType(LongType, StringType), DecimalType(20, 2),
        ArrayType(CalendarIntervalType), StructType(Seq(StructField("n", NullType))))) {
      val e = intercept[IllegalArgumentException](new ChannelRuntime(spark,
        Map("bad" -> ChannelSpec("bad", StructType(Seq(StructField("f", dt))))),
        Files.createTempDirectory("graft-codec-ckpt").toString))
      assert(e.getMessage.contains("'f'") && e.getMessage.contains("no JSON form"), e.getMessage)
    }
  }
}

object JsonCodecSpec {
  private val leaves: Seq[DataType] = Seq(StringType, LongType, IntegerType, DoubleType,
    FloatType, BooleanType, TimestampType, DateType, BinaryType, DecimalType(15, 4),
    DecimalType(7, 0), DecimalType(1, 1))

  def dataType(depth: Int): Gen[DataType] =
    if (depth == 0) Gen.oneOf(leaves)
    else Gen.frequency(
      6 -> Gen.oneOf(leaves),
      1 -> dataType(depth - 1).map(ArrayType(_)),
      1 -> dataType(depth - 1).map(MapType(StringType, _)),
      1 -> structType(depth - 1))

  def structType(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(1, 4)
    types <- Gen.listOfN(n, dataType(depth))
  } yield StructType(types.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) })

  /** Text with what JSON must escape, non-BMP pairs and lone surrogates. */
  val anyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOf(Gen.choose(0.toChar, 0xFFFF.toChar)).map(_.mkString),
    Gen.oneOf("", "\"q\" \\ \n\t\u0000\u001f", "lone \uD800", "\uDC00 first",
      new String(Character.toChars(0x1F600)), "日本 ü ☃"))

  private val double: Gen[Double] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MinPositiveValue, Double.MaxValue, 0.1))

  private val float: Gen[Float] = Gen.oneOf(
    Gen.choose(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat),
    Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
      Float.MinPositiveValue, Float.MaxValue, 1.1f))

  /** Microsecond timestamps from year -1200 to year 14600. */
  private val timestamp: Gen[java.sql.Timestamp] = for {
    secs <- Gen.oneOf(Gen.choose(-100000000000L, 398000000000L),
      Gen.oneOf(-62167219200L, -62167219201L, 253402300799L, 253402300800L, 0L, -1L))
    micros <- Gen.choose(0, 999999)
  } yield {
    val t = new java.sql.Timestamp(secs * 1000L)
    t.setNanos(micros * 1000)
    t
  }

  /** Dates from year 1 to year 12000: a java.sql.Date names its year
    * through calendar fields that have no year 0 or below. */
  private val date: Gen[java.sql.Date] =
    Gen.choose(-719162L, 3663000L).map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))

  def value(dt: DataType, keys: Gen[String]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 8 -> nonNull(dt, keys))

  private def nonNull(dt: DataType, keys: Gen[String]): Gen[Any] = dt match {
    case StringType => anyString
    case LongType => Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue))
    case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
    case DoubleType => double
    case FloatType => float
    case BooleanType => Gen.oneOf(true, false)
    case TimestampType => timestamp
    case DateType => date
    case BinaryType => Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    case d: DecimalType =>
      val bound = java.math.BigInteger.TEN.pow(d.precision).longValueExact() - 1
      Gen.choose(-bound, bound).map(u => java.math.BigDecimal.valueOf(u, d.scale))
    case ArrayType(et, _) => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(et, keys)))
    case MapType(_, vt, _) => Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.zip(keys, value(vt, keys))).map(_.toMap))
    case s: StructType => rowOf(s, keys)
  }

  def rowOf(schema: StructType, keys: Gen[String]): Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fields.toSeq.map(f => value(f.dataType, keys)))
      .map(vs => new GenericRowWithSchema(vs.toArray, schema))

  /** Equality of the values a row holds: boxed `equals` at the leaves
    * (NaN equals NaN, -0.0 differs from 0.0, a Long never equals an Int),
    * byte arrays by content, rows, sequences and maps element-wise. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      val ym = y.asInstanceOf[scala.collection.Map[Any, Any]]
      x.size == y.size && x.forall { case (k, v) => ym.contains(k) && same(v, ym(k)) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => java.util.Objects.equals(a, b)
  }

  /** `v` as Spark's JSON reader returns it from a UTF-8 file with the
    * java.time API on: a lone surrogate was written as '?', timestamps
    * are instants and dates local dates. */
  def asRead(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8)
    case (t: java.sql.Timestamp, TimestampType) => t.toInstant
    case (d: java.sql.Date, DateType) => d.toLocalDate
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) => xs.map(asRead(_, et))
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) => m.map { case (k, x) => k -> asRead(x, vt) }
    case (r: Row, s: StructType) => Row.fromSeq(s.fields.indices.map(i => asRead(r.get(i), s(i).dataType)))
    case _ => v
  }
}
