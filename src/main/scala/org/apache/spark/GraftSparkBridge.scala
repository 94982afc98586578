package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]` — same pattern as
  * `sql.GraftColumnBridge` for the sql-private surface. Bench drains
  * the async listener bus between queries so per-query
  * `executorCpuTime` sums don't bleed into the next query's window.
  */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Run `f` over `items` in executor tasks with the driver's Hadoop
    * configuration shipped along (`SerializableConfiguration` is
    * `private[spark]` — the bridge pattern). Partition order is
    * preserved, so the collected output aligns with `items`. Used by
    * the snapshot layer's parallel footer-stats harvest: a commit of
    * 10⁴ files must not pay 10⁴ driver-sequential footer opens.
    */
  def mapPartitionsWithConf[T: scala.reflect.ClassTag](
      sc: SparkContext,
      conf: org.apache.hadoop.conf.Configuration,
      items: Seq[String], parallelism: Int)(
      f: (org.apache.hadoop.conf.Configuration, Iterator[String]) => Iterator[T])
      : Array[T] = {
    val ser = new org.apache.spark.util.SerializableConfiguration(conf)
    sc.parallelize(items, math.max(1, parallelism))
      .mapPartitions(it => f(ser.value, it))
      .collect()
  }
}
