package graft.state

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's state-query filter language, re-expressed as Catalyst
  * `Column`s.
  *
  * Model (reference: csp_gateway/utils/web/query.py:11-17 and
  * utils/web/filter.py:16-66): a query is a conjunctive (`AND`) list of
  * filters; each filter compares a (possibly dotted) attribute against
  *  - a literal `value` (int/float/str) CAST to the column's type,
  *  - a `when` datetime (CAST to TIMESTAMP), or
  *  - another attribute (`attr`),
  * with operator `== != < <= > >=`.
  *
  * Reference-compatible semantics kept on purpose:
  *  - dotted paths traverse nested structs
  *    (state.py:318-332 `check_attr_schema`);
  *  - filters on unknown attributes are IGNORED with a warning, never an
  *    error (state.py:348-351,361-363);
  *  - the literal is cast to the column type, not vice versa
  *    (state.py:352-360), so e.g. a float literal against an int column
  *    truncates the way DuckDB's CAST does.
  */
sealed trait FilterBy
object FilterBy {
  final case class Value(value: Any) extends FilterBy
  final case class When(when: java.sql.Timestamp) extends FilterBy
  final case class Attr(attr: String) extends FilterBy
}

final case class StateFilter(attr: String, by: FilterBy, where: String)

final case class StateQuery(filters: Seq[StateFilter] = Nil)

object QueryTranslator extends Logging {

  val Ops = Set("==", "!=", "<", "<=", ">", ">=")

  /** Resolve a dotted path against a schema; None if it doesn't exist. */
  def resolveType(schema: StructType, path: String): Option[DataType] = {
    def go(dt: DataType, parts: List[String]): Option[DataType] = (dt, parts) match {
      case (t, Nil) => Some(t)
      case (s: StructType, p :: rest) =>
        s.fields.find(_.name == p).flatMap(f => go(f.dataType, rest))
      case _ => None
    }
    go(schema, path.split('.').toList)
  }

  private def applyOp(lhs: Column, op: String, rhs: Column): Column = op match {
    case "==" => lhs === rhs
    case "!=" => lhs =!= rhs
    case "<"  => lhs < rhs
    case "<=" => lhs <= rhs
    case ">"  => lhs > rhs
    case ">=" => lhs >= rhs
    case other => throw new IllegalArgumentException(s"Unsupported operator '$other'")
  }

  /** Translate one filter; None = dropped (unknown attr — warn only). */
  def toColumn(schema: StructType, f: StateFilter): Option[Column] = {
    require(Ops.contains(f.where), s"Unsupported operator '${f.where}'")
    resolveType(schema, f.attr) match {
      case None =>
        logWarning(s"Filter on unknown attribute '${f.attr}' ignored")
        None
      case Some(colType) =>
        val lhs = col(f.attr)
        f.by match {
          case FilterBy.Value(v) =>
            Some(applyOp(lhs, f.where, lit(v).cast(colType)))
          case FilterBy.When(ts) =>
            Some(applyOp(lhs, f.where, lit(ts).cast(TimestampType)))
          case FilterBy.Attr(other) =>
            resolveType(schema, other) match {
              case None =>
                logWarning(s"Filter vs unknown attribute '$other' ignored")
                None
              case Some(_) => Some(applyOp(lhs, f.where, col(other)))
            }
        }
    }
  }

  /** Conjunction of all surviving filters; None if none survive. */
  def toColumn(schema: StructType, q: StateQuery): Option[Column] =
    q.filters.flatMap(toColumn(schema, _)).reduceOption(_ && _)

  /** Parse the REST `query` JSON parameter, e.g.
    * `{"filters":[{"attr":"x","by":{"value":5},"where":"<"}]}`
    * (reference: utils/web/query.py + routes/state.py).
    */
  def parseJson(json: String): StateQuery = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(json)
    val filters = Option(root.get("filters")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    StateQuery(filters.map { f: JsonNode =>
      val by = f.get("by")
      val fb: FilterBy =
        if (by.has("value")) FilterBy.Value(graft.streaming.JsonCodec.jsonValue(by.get("value")))
        else if (by.has("when"))
          FilterBy.When(java.sql.Timestamp.from(
            java.time.OffsetDateTime.parse(by.get("when").asText()).toInstant))
        else if (by.has("attr")) FilterBy.Attr(by.get("attr").asText())
        else throw new IllegalArgumentException(s"Bad filter 'by': $by")
      StateFilter(f.get("attr").asText(), fb, f.get("where").asText())
    })
  }
}
