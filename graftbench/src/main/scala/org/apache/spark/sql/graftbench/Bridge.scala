package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Spark-internal hooks the harness needs; they live in this package
  * because the listener bus and SQL execution ids are `private[spark]`.
  */
object Bridge {
  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The benchmark's sink: executes `df`'s full physical plan as one SQL
    * execution (like a `noop` write, every column of every row is
    * produced) and returns (rows, order-insensitive digest). The digest
    * sums a 64-bit hash of each row's UnsafeRow bytes, so it is the same
    * whatever the partitioning or row order.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
    }
  }
}
