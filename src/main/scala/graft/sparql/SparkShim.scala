package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bridge to `private[sql]` Column↔Expression conversions (Spark 4 moved
  * the classic converters behind package-private `ExpressionUtils`).
  * Lives in the spark.sql package solely to re-export them; no Spark
  * internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `bloom_filter_agg` — Spark ships this aggregate for DS-v2 runtime
    * row-level filtering but leaves it out of the SQL registry;
    * re-exported for the Bloom decontamination path. `hashed` must be
    * LongType (xxhash64 of the key). */
  def bloomFilterAgg(hashed: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hashed),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe against a `bloomFilterAgg`-built filter; `hashed`
    * must use the same xxhash64 as the build side. `might_contain`
    * accepts the filter only as a constant or scalar subquery (the same
    * contract Spark's InjectRuntimeFilter satisfies) — pass
    * [[scalarSubquery]] of the 1-row aggregate, not a joined column. */
  def mightContain(filter: Column, hashed: Column): Column =
    column(new BloomFilterMightContain(expression(filter), expression(hashed)))

  /** A 1-row/1-column DataFrame as a scalar subquery expression — the
    * subplan runs once and its value feeds the enclosing expression
    * (Spark's own runtime row-filter shape). */
  def scalarSubquery(df: Dataset[_]): Column =
    column(ScalarSubquery(df.queryExecution.analyzed))

  /** Register graft's native expressions
    * ([[graft.sparql.GraftSparkExtensions.functions]]) in the session
    * function registry so they are callable from `spark.sql` text. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    graft.sparql.GraftSparkExtensions.functions.foreach { case (id, info, build) =>
      reg.registerFunction(id, info, build)
    }
  }
}
