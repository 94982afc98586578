package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM): the
  * session Bench and Verify run, at 4 cores.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Session(4)
  val Sf = "/root/testdata/sf0.001"
}
