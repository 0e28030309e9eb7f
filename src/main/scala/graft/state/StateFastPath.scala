package graft.state

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

/** Driver-side evaluation of the T2/T3 state query over the serving
  * runtime's in-memory key frontier — semantics matched one-for-one
  * to the Spark path ([[QueryTranslator.toColumn]] + [[StateOps.scan]]:
  * conjunctive filters with the literal CAST to the column type,
  * then ASC NULLS FIRST keyby ordering with the seq tie-break).
  *
  * Why: the gateway's hottest interactive read (`GET /state/{ch}`)
  * paid a full Spark job per request — createDataFrame over the
  * frontier, Catalyst filter/sort, collect — ~140 ms p50 measured by
  * the round-8 soak on a 50-key frontier (SCALE.md "Measured EXTERNAL
  * ceiling"). The frontier is driver-resident in single-node serving
  * mode, so the query is a filter over an in-memory array.
  *
  * Compiled once, evaluated many times: [[ordering]] is built once per
  * channel, and the runtime keeps its frontier snapshot in that order
  * (re-published once per micro-batch, so a read is at most one batch
  * stale). A read is then [[filterSorted]]: dotted paths resolved to
  * field indices once per query, one pass over the snapshot, no copy
  * when the query has no filter and no sort. On a 20,000-key frontier
  * (perfbench `state_read` seed 11, 4 vCPU) a 200-row filtered read
  * takes ~0.4 ms and a full read ~0.02 ms; copying and sorting the
  * frontier per read, as before, took 6.0 ms and 85 ms.
  *
  * This is the driver's one copy of Spark's row rules: the frontier
  * groups rows with [[groupKey]] and keeps them in [[ordering]], and
  * the delta-maintained views (`graft.sinks.ViewServer`) key, collapse,
  * filter and sort with the same [[groupKey]], [[ordering]] and
  * [[literalCmps]].
  *
  * Exactness contract: evaluation returns None — caller falls back
  * to the Spark path — for ANYTHING whose Spark semantics this
  * evaluator cannot reproduce bit-for-bit: literal casts that could
  * overflow or parse (ANSI sensitivity), cross-type attr-vs-attr
  * comparisons (implicit coercion), column types outside the serving
  * primitives. `StateFastPathSpec` pins fast == Spark across the
  * filter matrix; distributed-state mode never reaches this code.
  */
object StateFastPath {

  /** Evaluate `q` over frontier `rows` in any order: filter, then sort
    * by `keys ++ tieBreak`. None = not exactly expressible driver-side
    * (use the Spark path). */
  def tryEval(
      rows: Seq[Row],
      schema: StructType,
      keys: Seq[String],
      q: StateQuery,
      tieBreak: Seq[String]): Option[Seq[Row]] =
    for {
      tests <- compileFilters(schema, q)
      ord <- ordering(schema, (keys ++ tieBreak).map(_ -> true))
    } yield rows.filter(passes(tests, _)).sorted(ord)

  /** Evaluate `q` over rows already in ascending `ordering(schema,
    * keys ++ tieBreak)` order: one filtering pass, no sort; an unfiltered
    * query returns `sorted` itself (never mutated by the caller). */
  def filterSorted(sorted: Array[Row], schema: StructType, q: StateQuery): Option[Seq[Row]] =
    compileFilters(schema, q).map { tests =>
      ArraySeq.unsafeWrapArray(if (tests.isEmpty) sorted else sorted.filter(passes(tests, _)))
    }

  /** Row order over `(column, ascending)` pairs, compiled once:
    * ascending is ASC NULLS FIRST (the state-query order), descending is
    * DESC NULLS LAST (`Views.compile`'s sort). The direction is resolved
    * here, so a compare of two non-null values runs the same code either
    * way. None when a resolved column is not a serving primitive.
    * Unresolved columns order as a constant null (StateOps.keyCol's
    * lit(null)), so they drop out. */
  def ordering(schema: StructType, sort: Seq[(String, Boolean)]): Option[Ordering[Row]] = {
    val parts = sort.flatMap { case (c, asc) =>
      QueryTranslator.resolveType(schema, c) match {
        case None => Nil
        case Some(dt) if orderable(dt) =>
          val cmp = valueCmp(dt)
          // DESC NULLS LAST is ASC NULLS FIRST reversed: swapped values, nulls ranked last
          if (asc) Seq((pathGetter(schema, c), cmp, -1))
          else Seq((pathGetter(schema, c), (a: Any, b: Any) => cmp(b, a), 1))
        case Some(_) => return None
      }
    }.toArray
    val getters = parts.map(_._1)
    val cmps = parts.map(_._2)
    val nullRank = parts.map(_._3)
    Some(new Ordering[Row] {
      def compare(x: Row, y: Row): Int = {
        var result = 0
        var i = 0
        while (result == 0 && i < getters.length) {
          val a = getters(i)(x)
          val b = getters(i)(y)
          result =
            if (a == null) { if (b == null) 0 else nullRank(i) }
            else if (b == null) -nullRank(i)
            else cmps(i)(a, b)
          i += 1
        }
        result
      }
    })
  }

  /** A row's grouping key over `cols`, compiled once, as Spark's GROUP
    * BY sees it: dotted paths resolved like [[pathGetter]], NaN one key
    * and -0.0 the same key as 0.0. One column keys by its value, several
    * by a list. Use it in a `java.util` map: Scala maps compare boxed
    * numbers with `==`, under which NaN is not NaN. */
  def groupKey(schema: StructType, cols: Seq[String]): Row => AnyRef = {
    val getters = cols.map(pathGetter(schema, _)).toArray
    if (getters.length == 1) { val g = getters(0); r => normalizeKey(g(r)) }
    else r => java.util.Arrays.asList(getters.map(g => normalizeKey(g(r))): _*)
  }

  /** Spark groups NaN with NaN and -0.0 with 0.0; boxed `equals` treats
    * -0.0 and 0.0 as different keys. */
  private def normalizeKey(v: Any): AnyRef = v match {
    case d: Double if d == 0.0 || d.isNaN => Double.box(if (d.isNaN) Double.NaN else 0.0)
    case f: Float if f == 0.0f || f.isNaN => Float.box(if (f.isNaN) Float.NaN else 0.0f)
    case other => other.asInstanceOf[AnyRef]
  }

  /** Compare a non-null value of a `colType` column with each of
    * `literals` the way Catalyst does for `col <op> lit(v)` and
    * `col.isin(...)`: both sides cast to the common type from Spark's
    * own type-coercion rule (ANSI or legacy, as the session runs), then
    * [[valueCmp]] in that type. So a float column meets a double
    * literal as a double, never the literal as a float. Throws when a
    * side needs more than a numeric widening to get there (string
    * promotion, decimals, datetime casts); the caller then uses Spark. */
  def literalCmps(ansi: Boolean, colType: DataType, literals: Seq[Any]): Seq[Any => Int] = {
    val litTypes = literals.map(Literal(_).dataType)
    val coercion = if (ansi) AnsiTypeCoercion else TypeCoercion
    val common = coercion.findWiderCommonType(colType +: litTypes).filter(orderable)
      .getOrElse(throw new IllegalArgumentException(
        s"no driver-side comparison of ${colType.simpleString} with " +
          litTypes.map(_.simpleString).mkString(", ")))
    val toCommon = widen(colType, common)
    val cmp = valueCmp(common)
    literals.zip(litTypes).map { case (l, t) =>
      val lit = widen(t, common)(l)
      (v: Any) => cmp(toCommon(v), lit)
    }
  }

  /** Catalyst's implicit cast of a non-null value from `from` to `to`,
    * which the common type makes a widening between primitive numbers
    * (or no cast); anything else throws. */
  private def widen(from: DataType, to: DataType): Any => Any = {
    require(from == to || (PrimitiveNumbers(from) && PrimitiveNumbers(to)),
      s"no implicit cast ${from.simpleString} -> ${to.simpleString}")
    to match {
      case _ if from == to => identity
      case ShortType   => v => Short.box(v.asInstanceOf[Number].shortValue)
      case IntegerType => v => Int.box(v.asInstanceOf[Number].intValue)
      case LongType    => v => Long.box(v.asInstanceOf[Number].longValue)
      case FloatType   => v => Float.box(v.asInstanceOf[Number].floatValue)
      case DoubleType  => v => Double.box(v.asInstanceOf[Number].doubleValue)
    }
  }

  private val PrimitiveNumbers: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** Dotted-path getter with the path resolved to field indices once;
    * null at any intermediate step (or an unresolved path) yields null. */
  def pathGetter(schema: StructType, path: String): Row => Any = {
    val idx = new scala.collection.mutable.ArrayBuffer[Int]
    var dt: DataType = schema
    path.split('.').foreach { part =>
      dt match {
        case st: StructType =>
          val i = st.fieldNames.indexOf(part)
          if (i < 0) return _ => null
          idx += i
          dt = st.fields(i).dataType
        case _ => return _ => null
      }
    }
    val ix = idx.toArray
    if (ix.length == 1) { val i = ix(0); r => r.get(i) }
    else r => {
      var cur: Any = r
      var k = 0
      while (k < ix.length && cur != null) { cur = cur.asInstanceOf[Row].get(ix(k)); k += 1 }
      cur
    }
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | TimestampType | DateType => true
    case _ => false
  }

  /** Spark-identical comparison of two non-null values of one column
    * type. Doubles and floats follow Spark's `SQLOrderingUtil`:
    * `if (x == y) 0 else compare(x, y)`, so `-0.0` equals `0.0` and NaN
    * equals NaN and sorts above every other value. */
  private def valueCmp(dt: DataType): (Any, Any) => Int = dt match {
    case LongType    => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a, b) => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType   => (a, b) => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType    => (a, b) => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case DoubleType  => (a, b) => {
      val x = a.asInstanceOf[Double]
      val y = b.asInstanceOf[Double]
      if (x == y) 0 else java.lang.Double.compare(x, y)
    }
    case FloatType   => (a, b) => {
      val x = a.asInstanceOf[Float]
      val y = b.asInstanceOf[Float]
      if (x == y) 0 else java.lang.Float.compare(x, y)
    }
    case StringType  => (a, b) => compareUtf8(a.asInstanceOf[String], b.asInstanceOf[String])
    case BooleanType => (a, b) =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case TimestampType => (a, b) => toTimestamp(a).compareTo(toTimestamp(b))
    case _ => (a, b) => (a, b) match {
      case (x: java.sql.Date, y: java.sql.Date)             => x.compareTo(y)
      case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
      case _ => throw new IllegalStateException(
        s"unorderable pair: ${a.getClass} vs ${b.getClass}")
    }
  }

  /** Spark's UTF8String binary-byte order without encoding either side.
    * UTF-8 byte order is code point order, which equals UTF-16 code
    * unit order except where a surrogate meets a char in
    * U+E000..U+FFFF; at a difference involving a surrogate (including
    * a lone one, which Spark encodes as '?') defer to UTF8String. */
  private def compareUtf8(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val a = x.charAt(i)
      val b = y.charAt(i)
      if (a != b) {
        if (Character.isSurrogate(a) || Character.isSurrogate(b))
          return org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
        return a - b
      }
      i += 1
    }
    x.length - y.length
  }

  /** Timestamps may surface as Instant or java.sql.Timestamp
    * depending on the writer; compare in one representation. */
  private def toTimestamp(v: Any): java.sql.Timestamp = v match {
    case t: java.time.Instant => java.sql.Timestamp.from(t)
    case t: java.sql.Timestamp => t
  }

  /** A comparison operator as a test on a compare result; the view
    * filters' `=` spelling is `==`. */
  def opTest(where: String): Int => Boolean = where match {
    case "==" | "=" => _ == 0
    case "!=" => _ != 0
    case "<"  => _ < 0
    case "<=" => _ <= 0
    case ">"  => _ > 0
    case ">=" => _ >= 0
  }

  private def passes(tests: Array[Row => Boolean], r: Row): Boolean = {
    var i = 0
    while (i < tests.length) { if (!tests(i)(r)) return false; i += 1 }
    true
  }

  /** The query's filters compiled to Row predicates (unknown attrs
    * dropped, like the translator); None if any filter's Spark
    * cast/coercion semantics aren't safely reproducible. */
  private def compileFilters(schema: StructType, q: StateQuery): Option[Array[Row => Boolean]] = {
    val tests = new scala.collection.mutable.ArrayBuffer[Row => Boolean]
    q.filters.foreach { f =>
      if (!QueryTranslator.Ops.contains(f.where)) return None
      QueryTranslator.resolveType(schema, f.attr) match {
        case None => () // unknown attr: dropped, like the translator
        case Some(colType) =>
          compileFilter(schema, f, colType) match {
            case Some(t) => tests += t
            case None    => return None
          }
      }
    }
    Some(tests.toArray)
  }

  /** One filter compiled to a Row predicate, or None if its Spark
    * cast/coercion semantics aren't safely reproducible. */
  private def compileFilter(
      schema: StructType, f: StateFilter, colType: DataType): Option[Row => Boolean] = {
    val get = pathGetter(schema, f.attr)
    val test = opTest(f.where)
    f.by match {
      case FilterBy.Value(v) =>
        castLiteral(v, colType).map { lit =>
          val c = valueCmp(colType)
          r => {
            val lhs = get(r)
            lhs != null && test(c(lhs, lit))
          }
        }
      case FilterBy.When(ts) =>
        if (colType != TimestampType) None
        else {
          val c = valueCmp(TimestampType)
          Some { r =>
            val lhs = get(r)
            lhs != null && test(c(lhs, ts))
          }
        }
      case FilterBy.Attr(other) =>
        QueryTranslator.resolveType(schema, other) match {
          case Some(otherType) if otherType == colType && orderable(colType) =>
            val getOther = pathGetter(schema, other)
            val c = valueCmp(colType)
            Some { r =>
              val lhs = get(r)
              val rhs = getOther(r)
              lhs != null && rhs != null && test(c(lhs, rhs))
            }
          case Some(_) => None // cross-type: Catalyst coercion rules apply
          case None    => None // translator drops it; approximating the
          // conjunction minus one term is fine, but keep paths identical:
          // fall back so the Spark path does the dropping + warning
        }
    }
  }

  /** Spark-equivalent literal cast to the column type — only the
    * conversions that cannot overflow, wrap, or parse-fail (those
    * differ under ANSI and must take the Spark path). */
  private def castLiteral(v: Any, target: DataType): Option[Any] = (v, target) match {
    case (x: Long, LongType)    => Some(Long.box(x))
    case (x: Int, LongType)     => Some(Long.box(x.toLong))
    case (x: Long, IntegerType) if x >= Int.MinValue && x <= Int.MaxValue =>
      Some(Int.box(x.toInt))
    case (x: Int, IntegerType)  => Some(Int.box(x))
    case (x: Double, LongType) if x >= Long.MinValue.toDouble && x <= Long.MaxValue.toDouble =>
      Some(Long.box(x.toLong)) // truncation toward zero, like CAST
    case (x: Double, IntegerType) if x >= Int.MinValue && x <= Int.MaxValue =>
      Some(Int.box(x.toInt))
    case (x: Long, DoubleType)   => Some(Double.box(x.toDouble))
    case (x: Int, DoubleType)    => Some(Double.box(x.toDouble))
    case (x: Double, DoubleType) => Some(Double.box(x))
    case (x: Long, FloatType)    => Some(Float.box(x.toFloat))
    case (x: Double, FloatType)  => Some(Float.box(x.toFloat))
    case (x: Float, FloatType)   => Some(Float.box(x))
    case (x: String, StringType) => Some(x)
    case (x: Boolean, BooleanType) => Some(Boolean.box(x))
    case _ => None // string→numeric, numeric→string, timestamp parses, …
  }
}
