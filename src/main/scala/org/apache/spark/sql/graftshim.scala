package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst expressions.
  *
  * Spark 4 unified `Column` across classic/connect and hid the
  * Expression-backed constructor behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). A library shipping
  * custom codegen'd expressions (graft.functions) still needs the classic
  * conversion, so this one-file shim lives in the `org.apache.spark.sql`
  * package to reach it — the same technique Spark-native libraries use for
  * expression injection.
  */
object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Spark's own float canonicalization (-0.0→0.0, one NaN, at any nesting
    * depth) — `private[sql]`, reached here for the map-aggregate buffer-key
    * canonicalization (graft.functions.PrestoMapAggLike.canonKey). */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
  /** Spark's own wrong-arity analysis error (`WRONG_NUM_ARGS`) —
    * `private[sql]`, reached here for the registered spellings' one arity
    * check (graft.functions.Spelling.build). */
  def wrongNumArgsError(name: String, expected: Seq[Any], actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, expected, actual)
}
