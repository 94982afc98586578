package graft

import org.apache.spark.sql.SparkSession

/** The one graft session definition. Bench, Verify, every tool and the
  * test suite build their session here, so each `SparkEntry.queries`
  * key plans and returns the same rows in every session that runs it.
  */
object Session {

  /** Local cores for the entry points: `SPARK_GRAFT_CPUS`, default 4.
    * Results are parallelism-invariant; only timings read this.
    */
  lazy val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int): SparkSession = {
    val spark = ShuffleDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // row-affecting: events.parquet `ts` has shipped both as
      // ns-as-long and as TIMESTAMP(MICROS); with UTC and nanosAsLong
      // Tables.events reads either, and writes stay MICROS. The
      // extensions install WindowTopKRewrite and the planner strategies.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // default openCost (4 MB) + 4 MB partitions = one file per task:
      // the attachment tree's ~2000 tiny files became ~2000 tasks of
      // pure scheduling overhead. 64 KB packs small files ~60/task.
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      // a fresh warehouse per session: no run writes tables into the
      // working directory or meets a table location an earlier run left
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
