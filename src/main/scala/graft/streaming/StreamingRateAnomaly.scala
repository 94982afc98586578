package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructField, StructType}
import graft.operators.CorpusCuration

/** Streaming event-rate anomaly monitor (the streaming twin of
  * `operators.CorpusCuration.rateAnomaly` — and the shape the operator
  * naturally wants: rate anomalies are watched live, not in batch).
  *
  * Hourly counts are ADDITIVE: per micro-batch one distributed
  * hour-keyed aggregate runs (the batch operator's first stage) and
  * only the hours-in-batch frame — calendar-bounded — crosses to the
  * driver, summing into an hour-keyed [[Additive]]. The z-scores then
  * compute from the merged counts with EXACTLY the batch arithmetic:
  * integer trailing sums, pinned-order float z, floor-shift rounding —
  * so after any prefix of batches the flagged set equals the batch
  * operator run over the same events (CorpusCurationSpec, 3-way
  * split).
  *
  * State is O(retained hours). A forever-running monitor calls
  * [[pruneBefore]] to drop hours older than the trailing window needs
  * (24 h + the live edge); pruning only forgets hours that can no
  * longer affect any future z. After a prune that DROPS hours,
  * [[current]] emits only hours whose full 24 h trailing window is
  * still in state (hour > largest dropped hour + trail) — fringe
  * hours would otherwise recompute z from a shortened trail and
  * silently diverge from the batch operator, breaking the
  * stream==batch equality this class promises. A no-op prune
  * withholds nothing.
  */
class StreamingRateAnomaly private (counts: Additive) extends Serializable {

  def this() = this(new Additive("hr_no"))

  // Largest hour a prune ACTUALLY removed (Long.MinValue until one
  // does). Gating on what was dropped — not on the requested boundary —
  // keeps a no-op prune (boundary at or below the oldest retained
  // hour) from withholding rows whose trailing windows are fully
  // intact, which would silently narrow the stream==batch equality.
  private var droppedMax: Long = Long.MinValue

  /** Merge one micro-batch of events (needs a `ts` timestamp column). */
  def mergeBatch(events: DataFrame): Unit =
    counts.merge(events
      // floor division (matches the batch operator and DuckDB `//`),
      // not `div` truncation — pre-1970 hours bucket identically.
      .groupBy(expr(
        "CAST(floor(unix_timestamp(date_trunc('hour', ts)) / 3600.0) AS BIGINT)")
        .as("hr_no"))
      .agg(count(lit(1)).as("n")))

  /** Drop state for hours strictly before `hourNo` (they are outside
    * every future trailing window once the stream has moved on).
    */
  def pruneBefore(hourNo: Long): Unit =
    this.synchronized {
      val dropped = counts.removeWhere(_.getLong(0) < hourNo).map(_.getLong(0))
      if (dropped.nonEmpty)
        droppedMax = math.max(droppedMax, dropped.max)
    }

  /** Current anomaly table — same columns and arithmetic as the batch
    * operator (`hour, n, z, anomaly`). Hours inside the post-prune
    * fringe (trailing window partially forgotten) are withheld rather
    * than emitted with a divergent z.
    */
  def current(s: SparkSession): DataFrame = {
    val (hours, dm) =
      this.synchronized {
        (counts.rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toArray,
          droppedMax)
      }
    // an hour h recomputes a shortened trail iff its window [h−T, h)
    // reaches a dropped hour, i.e. h ≤ droppedMax + T
    val minEmit =
      if (dm == Long.MinValue) Long.MinValue
      else dm + CorpusCuration.AnomalyTrailHours + 1
    // one two-pointer pass: hour i's trail is hours(lo until i), lo only
    // moves forward, and the running Long sums of n and n² stay exact
    var (lo, tSum, tSq) = (0, 0L, 0L)
    val rows = hours.indices.flatMap { i =>
      val (h, n) = hours(i)
      while (lo < i && hours(lo)._1 < h - CorpusCuration.AnomalyTrailHours) {
        tSum -= hours(lo)._2
        tSq -= hours(lo)._2 * hours(lo)._2
        lo += 1
      }
      val tCnt = (i - lo).toLong
      val z: java.lang.Double =
        if (tCnt >= CorpusCuration.AnomalyMinTrail) {
          val mean = tSum.toDouble / tCnt
          val varPop = tSq.toDouble / tCnt - mean * mean
          val raw = (n.toDouble - mean) / math.sqrt(math.max(varPop, 1e-12))
          math.floor(raw * 100.0 + 0.5) / 100.0
        } else null
      tSum += n
      tSq += n * n
      val hourStr = java.time.Instant.ofEpochSecond(h * 3600L)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      if (h < minEmit) None
      else Some(Row(hourStr, n, z, z != null && math.abs(z) >= 2.0))
    }
    val schema = StructType(Seq(StructField("hour", StringType, false),
      StructField("n", LongType, false), StructField("z", DoubleType),
      StructField("anomaly", BooleanType, false)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Persist the monitor state (hourly counts + the prune boundary) as
    * parquet. The state is the exact sufficient statistic, so
    * [[StreamingRateAnomaly.restore]] + remaining batches equals an
    * uninterrupted run exactly — including the post-prune fringe
    * withholding, which depends on the persisted boundary.
    */
  def snapshot(s: SparkSession, path: String): Unit = {
    val dm = this.synchronized {
      counts.snapshot(s, s"$path/counts")
      droppedMax
    }
    import s.implicits._
    Seq(dm).toDF("dropped_max").write.mode("overwrite").parquet(s"$path/meta")
  }
}

object StreamingRateAnomaly {
  /** Rebuild a monitor from a [[StreamingRateAnomaly.snapshot]]. The
    * meta column is read BY NAME; a meta without `dropped_max` (the
    * pre-r9 `pruned_to` format) throws rather than shifting the
    * post-prune emit gate.
    */
  def restore(s: SparkSession, path: String): StreamingRateAnomaly = {
    val meta = s.read.parquet(s"$path/meta")
    if (!meta.columns.contains("dropped_max"))
      throw new IllegalStateException(
        s"unsupported rate-monitor snapshot at $path: meta has no dropped_max " +
          s"(columns ${meta.columns.mkString(", ")})")
    val m = new StreamingRateAnomaly(Additive.restore(s, s"$path/counts", "hr_no"))
    m.droppedMax = meta.head().getAs[Long]("dropped_max")
    m
  }
}
