package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.DslCasts.DslType

/** The engine's value+unit column convention.
  *
  * Every imsc variable is a `(value, unit)` pair
  * (ref: src/scicat_metadata.py:91-96); in the Spark engine a variable is
  * a pair of `Column`s plus its declared DSL type, composed at plan time —
  * Catalyst collapses the resulting `withColumn` chain into a single
  * projection, so the whole variable program stays inside one
  * whole-stage-codegen'd stage per file row.
  */
final case class VarCol(value: Column, unit: Column, dtype: Option[DslType] = None) {
  /** Render as the engine's `struct(value, unit)` column. */
  def toStruct: Column = struct(value.as("value"), unit.as("unit"))
}

object VarCol {
  def literal(v: String): VarCol = VarCol(lit(v), lit(""))

  /** Unit-consensus rule: a combined value keeps its members' unit only
    * if ALL member units agree, else '' (ref: scicat_metadata.py:313-322).
    * Evaluated at runtime over the member unit columns.
    */
  def unitConsensus(units: Seq[Column]): Column =
    if (units.isEmpty) lit("")
    else when(size(array_distinct(array(units: _*))) === 1, units.head).otherwise(lit(""))
}
