package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CorpusCuration
import graft.streaming.Additive

/** The one driver-side merge behind every stream == batch monitor:
  * order, empty batches, decimal scale, restore, concurrency, schema.
  */
class AdditiveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  private def docSlice(r: Int): DataFrame =
    Tables.documents(spark, sf).filter(pmod(col("doc_id"), lit(3)) === r)
      .select("source", "text")

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("three slices merged in two orders give the same state, equal to the batch counts") {
    val counts = (0 until 3).map(r => CorpusCuration.sourceTokenCountsOf(docSlice(r)))
    val a = new Additive("source", "t")
    Seq(0, 1, 2).foreach(i => a.merge(counts(i)))
    val b = new Additive("source", "t")
    Seq(2, 0, 1).foreach(i => b.merge(counts(i)))
    val want = sorted(CorpusCuration.sourceTokenCountsOf(
      Tables.documents(spark, sf).select("source", "text")).collect().toSeq)
    assert(sorted(a.rows) === sorted(b.rows))
    assert(sorted(a.state(spark).collect().toSeq) === want)
  }

  test("an empty batch and a keyless all-null aggregate leave state unchanged") {
    import spark.implicits._
    val keyed = new Additive("k")
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    keyed.merge(df)
    val before = sorted(keyed.rows)
    keyed.merge(df.filter(lit(false)))
    assert(sorted(keyed.rows) === before)
    assert(keyed.state(spark).schema === df.schema)

    // a keyless aggregate over zero rows is one row: count 0, sums NULL
    def tally(d: DataFrame) = d.agg(count(lit(1)).as("n"), sum(col("n")).as("s"))
    val keyless = new Additive()
    keyless.merge(tally(df.filter(lit(false))))
    assert(keyless.rows.isEmpty, "an empty trigger adds no row")
    keyless.merge(tally(df))
    val one = keyless.rows
    assert(one.map(r => (r.getLong(0), r.getLong(1))) === Seq((2L, 3L)))
    keyless.merge(tally(df.filter(lit(false))))
    assert(keyless.rows.map(_.toSeq) === one.map(_.toSeq))
  }

  test("a decimal(38,18) column keeps its type and value through snapshot, restore and merge") {
    import spark.implicits._
    val tiny = new java.math.BigDecimal("0.000000000000000001")
    val big = new java.math.BigDecimal("12345678901234567890.123456789012345678")
    val df = Seq(("x", tiny, 1L), ("y", big, 2L)).toDF("k", "d", "n")
      .withColumn("d", col("d").cast("decimal(38,18)"))
    val a = new Additive("k")
    a.merge(df)
    val snap = tmp("graft_additive_dec")
    a.snapshot(spark, snap)
    val b = Additive.restore(spark, snap, "k")
    b.merge(df)
    val st = b.state(spark)
    assert(st.schema("d").dataType === DecimalType(38, 18))
    val got = st.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(got("x").compareTo(tiny.add(tiny)) === 0)
    assert(got("y").compareTo(big.add(big)) === 0)
    assert(got("y").scale === 18)
  }

  test("restore plus the remaining batch equals an uninterrupted run") {
    val emb = Tables.embeddings(spark, sf)
    def grouped(r: Int) =
      CorpusCuration.embedGrouped(emb.filter(pmod(col("vec_id"), lit(3)) === r))
    val live = new Additive("label", "dim")
    live.merge(grouped(0)); live.merge(grouped(1))
    val snap = tmp("graft_additive_restore")
    live.snapshot(spark, snap)
    val resumed = Additive.restore(spark, snap, "label", "dim")
    resumed.merge(grouped(2)); live.merge(grouped(2))
    assert(sorted(resumed.rows) === sorted(live.rows))
    assert(resumed.state(spark).schema.map(_.dataType) ===
      live.state(spark).schema.map(_.dataType))
  }

  test("four threads merging at once equal a serial merge") {
    val events = Tables.events(spark, sf)
    val slices = (0 until 8).map(r =>
      operators.ExtendedAnalytics.skewCounts(events.filter(pmod(col("event_id"), lit(8)) === r)))
    val serial = new Additive("user_id")
    slices.foreach(serial.merge)
    val shared = new Additive("user_id")
    val threads = (0 until 4).map { t =>
      new Thread(() => Seq(t, t + 4).foreach(i => shared.merge(slices(i))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(sorted(shared.rows) === sorted(serial.rows))
    assert(shared.rows.map(_.getLong(1)).sum === events.count())
  }

  test("a merge with a different schema throws") {
    import spark.implicits._
    val a = new Additive("k")
    a.merge(Seq(("a", 1L)).toDF("k", "n"))
    intercept[IllegalArgumentException] {
      a.merge(Seq(("a", 1L)).toDF("k", "m"))
    }
    intercept[IllegalArgumentException] {
      a.merge(Seq(("a", BigDecimal(1))).toDF("k", "n"))
    }
    intercept[IllegalArgumentException] {
      new Additive("k").merge(Seq(("a", 1)).toDF("k", "n")) // int is not summed
    }
    assert(a.rows.map(r => (r.getString(0), r.getLong(1))) === Seq(("a", 1L)))
  }
}
