package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{FirstMatchingBand, SigMatchCount}

/** Engine-native column functions backed by custom Catalyst expressions
  * (used where the built-in higher-order-function spelling falls out of
  * whole-stage codegen).
  */
object GraftFunctions {

  /** Count of positions where two `array<bigint>` columns agree. */
  def sigMatchCount(a: Column, b: Column): Column = SigMatchCount.column(a, b)

  /** First band of width `rowsPerBand` where two `array<bigint>` banded
    * signatures agree on every component; -1 if none.
    */
  def firstMatchingBand(a: Column, b: Column, rowsPerBand: Column): Column =
    FirstMatchingBand.column(a, b, rowsPerBand)
}
