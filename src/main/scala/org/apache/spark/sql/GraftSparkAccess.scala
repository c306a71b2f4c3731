package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.errors.QueryExecutionErrors

/** The calls graft needs that Spark keeps `private[spark]`/`private[sql]`. */
object GraftSparkAccess {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The error Spark's decimal `Sum` raises in ANSI mode when its buffer
    * passes its precision (`ARITHMETIC_OVERFLOW`). */
  def sumOfDecimalsOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
