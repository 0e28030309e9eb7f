package graft.state

import org.apache.spark.sql.Row
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
  * ceiling"). The frontier is ALREADY
  * driver-resident in single-node serving mode, so the query is a
  * filter+sort over an in-memory Seq. Measured after: sub-ms.
  *
  * Exactness contract: [[tryEval]] returns None — caller falls back
  * to the Spark path — for ANYTHING whose Spark semantics this
  * evaluator cannot reproduce bit-for-bit: literal casts that could
  * overflow or parse (ANSI sensitivity), cross-type attr-vs-attr
  * comparisons (implicit coercion), column types outside the serving
  * primitives. `StateFastPathSpec` pins fast == Spark across the
  * filter matrix; distributed-state mode never reaches this code.
  */
object StateFastPath {

  /** Evaluate `q` over frontier `rows`; None = not exactly expressible
    * driver-side (use the Spark path). */
  def tryEval(
      rows: Seq[Row],
      schema: StructType,
      keys: Seq[String],
      q: StateQuery,
      tieBreak: Seq[String]): Option[Seq[Row]] = {
    // compile filters up front; any inexpressible one aborts
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
    // ordering columns must all be serving primitives (unresolved
    // keys order as constant null, like StateOps.keyCol's lit(null))
    val orderCols: Seq[Option[(Row => Any)]] = (keys ++ tieBreak).map { k =>
      QueryTranslator.resolveType(schema, k) match {
        case None => Some((_: Row) => null)
        case Some(dt) =>
          if (orderable(dt)) Some(pathGetter(schema, k)) else return None
      }
    }
    val getters = orderCols.flatten
    val filtered = rows.filter(r => tests.forall(_(r)))
    val ordering: Ordering[Row] = (x: Row, y: Row) => {
      var result = 0
      val it = getters.iterator
      while (result == 0 && it.hasNext) {
        val g = it.next()
        result = (g(x), g(y)) match {
          case (null, null) => 0
          case (null, _)    => -1 // ASC NULLS FIRST
          case (_, null)    => 1
          case (a, b)       => cmp(a, b)
        }
      }
      result
    }
    Some(filtered.sorted(ordering))
  }

  /** Dotted-path getter; null at any intermediate step yields null. */
  private def pathGetter(schema: StructType, path: String): Row => Any = {
    val parts = path.split('.')
    r => {
      var cur: Any = r
      var s: DataType = schema
      var i = 0
      while (i < parts.length && cur != null) {
        (s, cur) match {
          case (st: StructType, row: Row) =>
            val idx = st.fieldNames.indexOf(parts(i))
            if (idx < 0) { cur = null }
            else { cur = row.get(idx); s = st.fields(idx).dataType }
          case _ => cur = null
        }
        i += 1
      }
      cur
    }
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | TimestampType | DateType => true
    case _ => false
  }

  /** Spark-identical comparison over one column's values (both sides
    * are the SAME DataType by construction). */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long)       => java.lang.Long.compare(x, y)
    case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
    case (x: java.lang.Short, y: java.lang.Short)     => java.lang.Short.compare(x, y)
    case (x: java.lang.Byte, y: java.lang.Byte)       => java.lang.Byte.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double)   => java.lang.Double.compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float)     => java.lang.Float.compare(x, y)
    // String.compareTo orders by UTF-16 code unit, which diverges from
    // Spark's UTF8String binary-byte order once supplementary characters
    // (surrogate pairs) meet chars in U+E000..U+FFFF. Delegate to
    // UTF8String itself so the fast path is bit-for-bit the Spark order.
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => java.lang.Boolean.compare(x, y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date)         => x.compareTo(y)
    case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
    case _ => throw new IllegalStateException(
      s"unorderable pair: ${a.getClass} vs ${b.getClass}")
  }

  private def applyOp(where: String, c: Int): Boolean = where match {
    case "==" => c == 0
    case "!=" => c != 0
    case "<"  => c < 0
    case "<=" => c <= 0
    case ">"  => c > 0
    case ">=" => c >= 0
  }

  /** One filter compiled to a Row predicate, or None if its Spark
    * cast/coercion semantics aren't safely reproducible. */
  private def compileFilter(
      schema: StructType, f: StateFilter, colType: DataType): Option[Row => Boolean] = {
    val get = pathGetter(schema, f.attr)
    f.by match {
      case FilterBy.Value(v) =>
        castLiteral(v, colType).map { lit =>
          r => {
            val lhs = get(r)
            lhs != null && applyOp(f.where, cmp(normalize(lhs), lit))
          }
        }
      case FilterBy.When(ts) =>
        if (colType != TimestampType) None
        else Some { r =>
          val lhs = get(r)
          lhs != null && applyOp(f.where, cmp(normalize(lhs), normalize(ts)))
        }
      case FilterBy.Attr(other) =>
        QueryTranslator.resolveType(schema, other) match {
          case Some(otherType) if otherType == colType && orderable(colType) =>
            val getOther = pathGetter(schema, other)
            Some { r =>
              val lhs = get(r)
              val rhs = getOther(r)
              lhs != null && rhs != null &&
                applyOp(f.where, cmp(normalize(lhs), normalize(rhs)))
            }
          case Some(_) => None // cross-type: Catalyst coercion rules apply
          case None    => None // translator drops it; approximating the
          // conjunction minus one term is fine, but keep paths identical:
          // fall back so the Spark path does the dropping + warning
        }
    }
  }

  /** Timestamps may surface as Instant or java.sql.Timestamp
    * depending on the writer; compare in one representation. */
  private def normalize(v: Any): Any = v match {
    case t: java.time.Instant => java.sql.Timestamp.from(t)
    case other                => other
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
