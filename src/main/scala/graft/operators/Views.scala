package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perspective-style analytics views compiled to Catalyst plans —
  * reference capabilities A1-A9 (SURVEY.md §2.5; ViewConfig literal at
  * modules/web/perspective.py:133-142). The reference delegates these to
  * the embedded Perspective engine; here the whole view is ONE declarative
  * Spark plan, so Catalyst gets to push filters below the aggregate and
  * prune columns down to the scan.
  *
  * Config surface mirrors the reference:
  *   group_by, split_by (pivot), aggregates {col -> fn}, sort, filter,
  *   expressions (computed columns), limit, index (upsert key).
  */
final case class ViewConfig(
    groupBy: Seq[String] = Nil,
    /** pivot column with its (required, for plan determinism) values. */
    splitBy: Option[(String, Seq[String])] = None,
    /** output alias -> (input column, aggregate fn name). */
    aggregates: Seq[(String, (String, String))] = Nil,
    /** (column, asc?) pairs. */
    sort: Seq[(String, Boolean)] = Nil,
    /** view filters [[col, op, operand]] (perspective.py:133-142). */
    filter: Seq[(String, String, Any)] = Nil,
    /** output alias -> SQL expression (ExprTK analogue = Spark SQL). */
    expressions: Seq[(String, String)] = Nil,
    limit: Option[Int] = None,
    /** upsert key: one row per index value, last (by seq) wins (A7). */
    index: Option[(Seq[String], String)] = None
)

object Views {

  /** Parse a Perspective-style JSON view layout into a [[ViewConfig]]
    * (reference ViewConfig literal, perspective.py:133-142):
    * `{"group_by":[...], "split_by":{"col":c,"values":[...]},
    *   "aggregates":{"alias":{"col":c,"fn":f}}, "sort":[[col,"asc"]],
    *   "filter":[[col,op,operand]], "expressions":{"alias":expr},
    *   "limit":n, "index":{"keys":[...],"seq":c}}`.
    */
  def fromJson(json: String): ViewConfig = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
    def opt(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)
    ViewConfig(
      groupBy = opt("group_by").map(strs).getOrElse(Nil),
      splitBy = opt("split_by").map(n => (n.get("col").asText(), strs(n.get("values")))),
      aggregates = opt("aggregates").map(_.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("col").asText(), e.getValue.get("fn").asText())
      }.toSeq).getOrElse(Nil),
      sort = opt("sort").map(_.elements().asScala.map { p =>
        (p.get(0).asText(), p.get(1).asText() == "asc")
      }.toSeq).getOrElse(Nil),
      filter = opt("filter").map(_.elements().asScala.map { f =>
        (f.get(0).asText(), f.get(1).asText(), graft.streaming.JsonCodec.jsonValue(f.get(2)))
      }.toSeq).getOrElse(Nil),
      expressions = opt("expressions").map(_.properties().asScala.map { e =>
        e.getKey -> e.getValue.asText()
      }.toSeq).getOrElse(Nil),
      limit = opt("limit").map(_.asInt()),
      index = opt("index").map(n => (strs(n.get("keys")), n.get("seq").asText())))
  }

  /** Aggregate name -> Column fn, matching Perspective's aggregate set
    * (sum/avg/count/median/min/max/distinct count …).
    */
  def aggFn(fn: String, c: String): Column = fn match {
    case "sum"            => sum(col(c))
    case "avg" | "mean"   => avg(col(c))
    case "count"          => count(col(c))
    case "distinct count" => countDistinct(col(c))
    case "min"            => min(col(c))
    case "max"            => max(col(c))
    case "median"         => expr(s"percentile_approx(`$c`, 0.5)")
    case "stddev"         => stddev_samp(col(c))
    case "var"            => var_samp(col(c))
    case "first"          => min_by(col(c), col("_seq"))
    case "last"           => max_by(col(c), col("_seq"))
    case other => throw new IllegalArgumentException(s"Unknown aggregate '$other'")
  }

  private def filterCol(f: (String, String, Any)): Column = {
    val (c, op, v) = f
    val lhs = col(c)
    op match {
      case "==" | "="  => lhs === lit(v)
      case "!="        => lhs =!= lit(v)
      case "<"         => lhs < lit(v)
      case "<="        => lhs <= lit(v)
      case ">"         => lhs > lit(v)
      case ">="        => lhs >= lit(v)
      case "contains"  => lhs.contains(lit(v))
      case "in"        => lhs.isin(v.asInstanceOf[Seq[Any]]: _*)
      case "is null"   => lhs.isNull
      case "is not null" => lhs.isNotNull
      case other => throw new IllegalArgumentException(s"Unknown view op '$other'")
    }
  }

  /** Compile a view over a source frame. Stages in reference order:
    * index-upsert → expressions → filter → group/pivot/aggregate →
    * sort → limit. The upsert comes FIRST because Perspective upserts
    * ticks into the indexed table and the view then reads *current*
    * table state (perspective.py:211-217) — filtering raw ticks before
    * the upsert would resurrect overwritten rows. Expressions precede
    * filters so a filter may reference a computed alias. `seqCol`
    * feeds A7 upsert (last wins) and first/last aggregates.
    */
  def compile(df: DataFrame, v: ViewConfig, seqCol: Option[String] = None): DataFrame = {
    var d = df
    seqCol.foreach(s => d = d.withColumn("_seq", col(s)))
    v.index.foreach { case (keys, seq) =>
      d = graft.state.StateOps.lastByKey(d, keys, seq) // A7: one row per index, last wins
    }
    v.expressions.foreach { case (alias, e) => d = d.withColumn(alias, expr(e)) }
    if (v.filter.nonEmpty) d = d.filter(v.filter.map(filterCol).reduce(_ && _))
    if (v.groupBy.nonEmpty || v.aggregates.nonEmpty) {
      val aggs = v.aggregates.map { case (alias, (c, fn)) => aggFn(fn, c).as(alias) }
      d = v.splitBy match {
        case Some((p, values)) =>
          require(aggs.nonEmpty, "split_by requires aggregates")
          d.groupBy(v.groupBy.map(col): _*).pivot(p, values).agg(aggs.head, aggs.tail: _*)
        case None =>
          if (aggs.isEmpty) d.select(v.groupBy.map(col): _*).distinct()
          else d.groupBy(v.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    }
    if (v.sort.nonEmpty)
      d = d.orderBy(v.sort.map { case (c, asc) =>
        if (asc) col(c).asc_nulls_first else col(c).desc_nulls_last }: _*)
    v.limit.foreach(n => d = d.limit(n))
    d.drop("_seq")
  }

  /** A9 — time-bucketed batching: tumbling window + aggregate
    * (reference perspective.py:491-515 alarm-driven flush).
    */
  def timeBucket(df: DataFrame, tsCol: String, width: String,
      groupBy: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), width) +: groupBy.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket", col("window.start"))
      .drop("window")
}
