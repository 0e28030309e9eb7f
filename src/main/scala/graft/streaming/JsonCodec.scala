package graft.streaming

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.JsonNode

/** The JSON wire form of a value, in one place (README "JSON wire
  * form" has the table). [[write]] writes every REST, WS and SSE row,
  * engine-log cycle, static field and client send; [[jsonValue]] reads
  * every send, WS message, replayed cycle and client response, and
  * [[coerce]] types it against the schema, reading back exactly what
  * [[write]] emits. A field type outside [[supported]] is rejected when
  * a [[ChannelRuntime]] is built, so no value falls back to `toString`.
  */
object JsonCodec {

  private val json = new JsonFactory()

  /** Digits a decimal keeps through [[jsonValue]], which reads a number
    * with a fraction as a double: decimal → double → decimal is exact up
    * to 15 digits (DBL_DIG). */
  private val MaxDecimalDigits = 15

  private val DoubleDigits = new java.math.MathContext(MaxDecimalDigits)

  /** The field types with a JSON form: [[write]] writes them and
    * [[coerce]] reads them back. */
  def supported(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | FloatType | BooleanType |
         TimestampType | DateType | BinaryType => true
    case d: DecimalType => d.precision <= MaxDecimalDigits
    case ArrayType(et, _) => supported(et)
    case MapType(StringType, vt, _) => supported(vt)
    case s: StructType => s.fields.forall(f => supported(f.dataType))
    case _ => false
  }

  // ---- writer -------------------------------------------------------------

  /** `v`, a value of type `dt`, as JSON; arrays, maps and structs
    * write their elements through this same function. */
  def write(g: JsonGenerator, v: Any, dt: DataType): Unit =
    if (v == null) g.writeNull()
    else dt match {
      case StringType => g.writeString(v.asInstanceOf[String])
      case LongType => g.writeNumber(v.asInstanceOf[Long])
      case DoubleType => g.writeNumber(v.asInstanceOf[Double])
      case TimestampType => writeInstant(g, v.asInstanceOf[java.sql.Timestamp])
      case IntegerType => g.writeNumber(v.asInstanceOf[Int])
      case FloatType => g.writeNumber(v.asInstanceOf[Float].toDouble)
      case BooleanType => g.writeBoolean(v.asInstanceOf[Boolean])
      case DateType => g.writeString(v.asInstanceOf[java.sql.Date].toLocalDate.toString)
      case BinaryType => g.writeBinary(v.asInstanceOf[Array[Byte]])
      case _: DecimalType => g.writeNumber(v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case s: StructType => writeRow(g, v.asInstanceOf[Row], s)
      case ArrayType(et, _) =>
        g.writeStartArray()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(write(g, _, et))
        g.writeEndArray()
      case MapType(_, vt, _) =>
        g.writeStartObject()
        v.asInstanceOf[scala.collection.Map[String, Any]].foreach { case (k, x) =>
          g.writeFieldName(k)
          write(g, x, vt)
        }
        g.writeEndObject()
      case other => throw new IllegalArgumentException(s"no JSON form for ${other.simpleString}")
    }

  /** `r` as one JSON object laid out by `schema`. */
  def writeRow(g: JsonGenerator, r: Row, schema: StructType): Unit = {
    g.writeStartObject()
    val fields = schema.fields
    var i = 0
    while (i < fields.length) {
      g.writeFieldName(fields(i).name)
      write(g, r.get(i), fields(i).dataType)
      i += 1
    }
    g.writeEndObject()
  }

  /** A value without a schema (a static field, a client send) through
    * [[write]]: a leaf by the type its JVM class stands for. */
  def writeAny(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach {
        case (k: String, x) => g.writeFieldName(k); writeAny(g, x)
        case (k, _) => throw new IllegalArgumentException(
          s"JSON object keys are strings, not ${k.getClass.getSimpleName}")
      }
      g.writeEndObject()
    case xs: Iterable[_] =>
      g.writeStartArray(); xs.foreach(writeAny(g, _)); g.writeEndArray()
    case x => write(g, x, leafType(x))
  }

  private def leafType(x: Any): DataType = x match {
    case _: String => StringType
    case _: Long => LongType
    case _: Int => IntegerType
    case _: Double => DoubleType
    case _: Float => FloatType
    case _: Boolean => BooleanType
    case _: java.sql.Timestamp => TimestampType
    case _: java.sql.Date => DateType
    case _: Array[Byte] => BinaryType
    case _: java.math.BigDecimal => DecimalType.SYSTEM_DEFAULT
    case other => throw new IllegalArgumentException(
      s"no JSON form for a value of ${other.getClass.getName}")
  }

  /** Epoch seconds of 0000-01-01T00:00:00Z and 9999-12-31T23:59:59Z. */
  private val MinFourDigitYear = -62167219200L
  private val MaxFourDigitYear = 253402300799L

  /** `t.toInstant.toString` (ISO-8601, fraction in groups of three
    * digits, `Z`) without the DateTimeFormatter, which took about half
    * of a 20,000-row response's encoding time. Years outside
    * 0000..9999 take the formatter. */
  private[graft] def writeInstant(g: JsonGenerator, t: java.sql.Timestamp): Unit = {
    val secs = Math.floorDiv(t.getTime, 1000L)
    if (secs < MinFourDigitYear || secs > MaxFourDigitYear) {
      g.writeString(t.toInstant.toString)
      return
    }
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(secs, 86400L))
    val sod = Math.floorMod(secs, 86400L).toInt
    val nanos = t.getNanos
    val c = new Array[Char](30)
    def digits(at: Int, width: Int, v: Int): Unit = {
      var k = at + width - 1
      var x = v
      while (k >= at) { c(k) = ('0' + x % 10).toChar; x /= 10; k -= 1 }
    }
    digits(0, 4, date.getYear); c(4) = '-'
    digits(5, 2, date.getMonthValue); c(7) = '-'
    digits(8, 2, date.getDayOfMonth); c(10) = 'T'
    digits(11, 2, sod / 3600); c(13) = ':'
    digits(14, 2, sod / 60 % 60); c(16) = ':'
    digits(17, 2, sod % 60)
    var n = 19
    if (nanos != 0) {
      c(n) = '.'
      if (nanos % 1000000 == 0) { digits(n + 1, 3, nanos / 1000000); n += 4 }
      else if (nanos % 1000 == 0) { digits(n + 1, 6, nanos / 1000); n += 7 }
      else { digits(n + 1, 9, nanos); n += 10 }
    }
    c(n) = 'Z'
    g.writeString(c, 0, n + 1)
  }

  /** The JSON text that `body` writes. */
  def jsonText(body: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter(256)
    val g = json.createGenerator(out)
    body(g)
    g.close()
    out.toString
  }

  /** UTF-8 bytes of the JSON that `body` writes, through a String
    * (Jackson's byte-based generator would escape surrogate pairs as
    * six-character escapes instead of encoding them). For one row or
    * frame this is about twice as fast as an encoding Writer, whose
    * set-up dominates small payloads. */
  private[graft] def jsonBytes(body: JsonGenerator => Unit): Array[Byte] =
    jsonText(body).getBytes(StandardCharsets.UTF_8)

  /** Rows as a JSON array, UTF-8 encoded as the generator writes: on a
    * 20,000-row response the String detour of [[jsonBytes]] took about
    * 15 % longer (median of seven timings on 4 vCPU, -13 % to +41 %).
    * Same bytes, including '?' for a lone surrogate. */
  def rowsJson(rows: Seq[Row], schema: StructType): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream(1024)
    val g = json.createGenerator(new java.io.OutputStreamWriter(bytes, StandardCharsets.UTF_8))
    g.writeStartArray()
    rows.foreach(writeRow(g, _, schema))
    g.writeEndArray()
    g.close()
    bytes.toByteArray
  }

  // ---- reader -------------------------------------------------------------

  /** A JSON value as Scala values: integers as Long (beyond Long as
    * BigDecimal), other numbers as Double, arrays as Seq and objects as
    * Map, recursively; text stays text. [[coerce]] types it. */
  def jsonValue(v: JsonNode): Any =
    if (v.isNull) null
    else if (v.isIntegralNumber) { if (v.canConvertToLong) v.asLong() else v.decimalValue() }
    else if (v.isFloatingPointNumber) v.asDouble()
    else if (v.isBoolean) v.asBoolean()
    else if (v.isArray) v.elements().asScala.map(jsonValue).toSeq
    else if (v.isObject)
      v.properties().asScala.map(e => e.getKey -> jsonValue(e.getValue)).toMap
    else v.asText()

  /** Rejects a field map with a key outside `names`. */
  private[streaming] def requireKnown(keys: scala.collection.Set[String], names: Set[String],
      where: => String): Unit =
    if (!keys.forall(names))
      throw new IllegalArgumentException(s"Unknown fields ${keys.filterNot(names)} for $where")

  /** `v` as a value of `dt`: what [[write]] emits reads back to the value
    * written, numbers widen or narrow where no digit is lost, and Java
    * collections read as Seq. Anything else is an
    * `IllegalArgumentException` that names `field`. */
  def coerce(v: Any, dt: DataType, field: String): Any = (v, dt) match {
    case (null, _) => null
    case (_: String, StringType) | (_: Long, LongType) | (_: Int, IntegerType) |
         (_: Double, DoubleType) | (_: Float, FloatType) | (_: Boolean, BooleanType) |
         (_: java.sql.Timestamp, TimestampType) | (_: java.sql.Date, DateType) |
         (_: Array[Byte], BinaryType) => v
    case (x: Int, LongType) => x.toLong
    case (x: Long, IntegerType) if x.isValidInt => x.toInt
    case (x: Int, DoubleType) => x.toDouble
    case (x: Long, DoubleType) => x.toDouble
    case (x: java.math.BigDecimal, DoubleType) => x.doubleValue()
    case (x: Double, FloatType) => x.toFloat
    case (x: Long, FloatType) => x.toFloat
    // the names write gives the non-finite doubles and floats
    case (x: String, DoubleType) if NonFinite(x) => x.toDouble
    case (x: String, FloatType) if NonFinite(x) => x.toFloat
    case (x: String, TimestampType) =>
      try java.sql.Timestamp.from(java.time.OffsetDateTime.parse(x).toInstant)
      catch { case e: java.time.format.DateTimeParseException => mismatch(field, dt, e.getMessage) }
    case (x: String, DateType) =>
      try java.sql.Date.valueOf(java.time.LocalDate.parse(x))
      catch { case _: java.time.format.DateTimeParseException => mismatch(field, dt, s"got String $x") }
    case (x: String, BinaryType) =>
      try java.util.Base64.getDecoder.decode(x)
      catch { case _: IllegalArgumentException => mismatch(field, dt, s"got String $x") }
    case (x: java.math.BigDecimal, d: DecimalType) => decimal(x, d, field)
    case (x: Long, d: DecimalType) => decimal(java.math.BigDecimal.valueOf(x), d, field)
    case (x: Double, d: DecimalType) if !x.isNaN && !x.isInfinite =>
      decimal(new java.math.BigDecimal(x).round(DoubleDigits), d, field)
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) => xs.map(coerce(_, et, field)).toSeq
    case (xs: java.util.List[_], ArrayType(et, _)) => xs.asScala.toSeq.map(coerce(_, et, field))
    case (xs: Array[_], ArrayType(et, _)) => xs.toSeq.map(coerce(_, et, field))
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) if m.keys.forall(_.isInstanceOf[String]) =>
      m.map { case (k, x) => k -> coerce(x, vt, field) }.toMap
    case (m: scala.collection.Map[_, _], s: StructType) =>
      val fm = m.asInstanceOf[scala.collection.Map[String, Any]]
      requireKnown(fm.keySet, s.fieldNames.toSet, s"field '$field'")
      new GenericRowWithSchema(
        s.fields.map(f => fm.get(f.name).map(coerce(_, f.dataType, s"$field.${f.name}")).orNull), s)
    case (r: Row, s: StructType) if r.length == s.length =>
      new GenericRowWithSchema(
        Array.tabulate(s.length)(i => coerce(r.get(i), s(i).dataType, s"$field.${s(i).name}")), s)
    case (x, _) => mismatch(field, dt, s"got ${x.getClass.getSimpleName} $x")
  }

  private val NonFinite = Set("NaN", "Infinity", "-Infinity")

  /** `x` at the scale of `d`, rounded half-up, if it fits `d`. */
  private def decimal(x: java.math.BigDecimal, d: DecimalType, field: String): java.math.BigDecimal = {
    val y = x.setScale(d.scale, java.math.RoundingMode.HALF_UP)
    if (y.precision - y.scale > d.precision - d.scale) mismatch(field, d, s"got $x") else y
  }

  private def mismatch(field: String, dt: DataType, detail: String): Nothing =
    throw new IllegalArgumentException(
      s"Field '$field' expects ${dt.simpleString}: $detail")
}
