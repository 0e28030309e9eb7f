package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Projection / filter / map / merge transformations — reference
  * operators X1-X11 (SURVEY.md §2.4), re-expressed as narrow Catalyst
  * transforms. All of these are shuffle-free (codegen'd projections and
  * filters), so they scale linearly with input splits.
  */
object Transforms {

  /** X1 — merge setters: all providers of one channel merged into one
    * edge (reference `csp.flatten`, channels.py:472). Missing columns
    * null-filled, matching the reference's optional struct fields.
    */
  def merge(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "merge requires at least one provider frame")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** X2 — unroll: `ts[List[T]] -> ts[T]` element stream
    * (reference channels.py:719; perspective.py:360,442).
    */
  def unroll(df: DataFrame, listCol: String, as: String = "item"): DataFrame =
    df.withColumn(as, explode(col(listCol))).drop(listCol)

  /** X2b — unroll with element position (deterministic sub-order, used
    * to extend arrival order to unrolled elements).
    */
  def unrollWithPos(df: DataFrame, listCol: String, as: String = "item",
      posCol: String = "pos"): DataFrame =
    df.select(col("*"), posexplode(col(listCol)).as(Seq(posCol, as))).drop(listCol)

  /** X3 — to_list: wrap each row's payload into a 1-element list
    * (reference utils/csp.py:80-83).
    */
  def toList(df: DataFrame, cols: Seq[String], as: String = "items"): DataFrame =
    df.withColumn(as, array(struct(cols.map(col): _*)))

  /** X4 — apply+filter+cast channel processor: arbitrary per-row
    * expression; null result drops the row (reference
    * modules/kafka/utils.py:13-58 `csp.apply` → null-flag → filter).
    */
  def applyFilter(df: DataFrame, out: String, e: Column): DataFrame =
    df.withColumn(out, e).filter(col(out).isNotNull)

  /** X5 — serialize: struct -> JSON string (reference
    * json_converter.py:61-78; enums already strings in our schema,
    * intervals rendered ISO by to_json options).
    */
  def serializeJson(df: DataFrame, cols: Seq[String], as: String = "json"): DataFrame =
    df.withColumn(as, to_json(struct(cols.map(col): _*)))

  /** X5b — deserialize: JSON string -> typed columns. */
  def deserializeJson(df: DataFrame, jsonCol: String, schema: StructType): DataFrame =
    df.withColumn("_parsed", from_json(col(jsonCol), schema)).select(col("_parsed.*"))

  /** X6 — psp_flatten: nested struct -> dotted top-level columns;
    * list fields unroll to rows — recursively, at ANY depth (the
    * reference recurses through structs/lists/dicts alike,
    * utils/struct/psp.py:33-112; multiple lists expand to their
    * cross-product via chained explodes, matching itertools.product).
    * Dict (map) columns are stringified (psp.py:204-211). Flattened
    * column names contain literal dots, so internal references go
    * through `getField`/backticks, never string paths.
    */
  def pspFlatten(df: DataFrame): DataFrame = {
    def flat(prefix: String, parent: Option[Column], schema: StructType): Seq[Column] =
      schema.fields.flatMap { f =>
        val self = parent.map(_.getField(f.name)).getOrElse(col("`" + f.name + "`"))
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => flat(name, Some(self), s)
          case _: org.apache.spark.sql.types.MapType => Seq(to_json(self).as(name))
          case _ => Seq(self.as(name))
        }
      }.toSeq
    var d = df
    var changed = true
    while (changed) {
      changed = false
      d.schema.fields.filter(_.dataType.isInstanceOf[ArrayType]).foreach { f =>
        d = d.withColumn(f.name, explode_outer(col("`" + f.name + "`")))
        changed = true
      }
      if (d.schema.fields.exists(f =>
          f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])) {
        d = d.select(flat("", None, d.schema): _*)
        changed = true
      }
    }
    d
  }

  /** X7 — column exclusion (reference psp.py:115-122). */
  def excludeColumns(df: DataFrame, exclude: Seq[String]): DataFrame =
    df.drop(exclude: _*)

  /** X8 — computed index: multi-field upsert key, "-".joined; null
    * fields render as "None" exactly like the reference's
    * `str(row[f])` (perspective.py:82) — concat_ws alone would DROP
    * nulls and collide distinct keys like ("a", null) vs ("a").
    */
  def computedIndex(df: DataFrame, fields: Seq[String], as: String = "index"): DataFrame =
    df.withColumn(as, concat_ws("-",
      fields.map(f => coalesce(col(f).cast("string"), lit("None"))): _*))

  /** X9 — field rename + constant augmentation (reference
    * modules/sql.py:154-163 ChannelSchemaConfig).
    */
  def renameAugment(
      df: DataFrame,
      fields: Seq[String],
      rename: Map[String, String] = Map.empty,
      augment: Map[String, Any] = Map.empty): DataFrame = {
    val selected = fields.map(f => col(f).as(rename.getOrElse(f, f)))
    val augmented = augment.toSeq.sortBy(_._1).map { case (k, v) => lit(v).as(k) }
    df.select(selected ++ augmented: _*)
  }

  /** X10 — flag updates on replay decode (reference
    * json_converter.py:255-273): set boolean fields to fixed values.
    */
  def flagUpdates(df: DataFrame, flags: Map[String, Boolean]): DataFrame =
    flags.foldLeft(df) { case (d, (f, v)) => d.withColumn(f, lit(v)) }}
