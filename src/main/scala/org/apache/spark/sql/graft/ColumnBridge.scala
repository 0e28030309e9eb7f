package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge to `private[sql]` Column↔Expression conversion —
  * the standard hook for libraries contributing native Catalyst
  * expressions (the public API has no constructor for a Column over a
  * raw Expression).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Alias bridge for `private[sql]` type-system names needed by
  * expressions that declare `inputTypes` (analysis-time implicit
  * casts — the percentile_approx pattern).
  */
object TypeBridge {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
}

/** Dataset-level `private[sql]` bridge.
  *
  * [[DatasetBridge.freshLeaf]] re-wraps a materialized Dataset (e.g. a
  * `localCheckpoint()` result) as a plain `LogicalRDD` leaf over the
  * SAME InternalRow RDD, but WITHOUT the origin plan's propagated
  * statistics/constraints. Since SPARK-39834, checkpointing preserves
  * the origin `Statistics`; in an iterative self-join loop those
  * BigInt `sizeInBytes` estimates COMPOUND multiplicatively (each
  * round's product roughly doubles the digit count), until stats
  * estimation itself degenerates into unbounded BigInteger
  * arithmetic. Dropping the origin stats resets every round's leaves
  * to constant-size estimates — zero data movement, the RDD is
  * reused as-is.
  */
object DatasetBridge {
  def freshLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    cd.sparkSession.internalCreateDataFrame(cd.queryExecution.toRdd, cd.schema)
  }
}

/** The values array behind a `GenericRow` (`private[sql]`), so a row
  * built from it can share it instead of copying. */
object RowBridge {
  def values(r: org.apache.spark.sql.Row): Array[Any] = r match {
    case g: org.apache.spark.sql.catalyst.expressions.GenericRow => g.values
    case _ => r.toSeq.toArray
  }
}
