package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructType}

/** Driver-side additive state: the one merge every stream == batch
  * monitor runs (one monoid merge serving batch and stream, the
  * Summingbird shape).
  *
  * A batch operator whose statistic is additive splits into a count
  * stage (docs → an aggregated frame keyed by `keys`) and a value stage
  * (that frame → the output). Counts of documents, tokens or events,
  * and exact DECIMAL sums, add component-wise per key: decimal addition
  * is exact, hence associative, hence independent of batching and
  * partitioning. So running the count stage per micro-batch, summing
  * the batch frames here, and handing [[state]] to the SAME value stage
  * gives the batch operator's rows EXACTLY after any prefix of any
  * split of the input. Per micro-batch one distributed, map-side
  * combined aggregate runs and only its post-aggregate rows cross to
  * the driver, so the state is bounded by the key space (sources,
  * vocabulary, buckets, cells, hours), never by the stream length.
  * Because the state is the exact sufficient statistic, [[snapshot]] +
  * [[Additive.restore]] + the remaining batches equals an uninterrupted
  * run. The specs pin this per operator (stream == batch over a 3-way
  * split, and restore mid-stream).
  *
  * Rules:
  *   - every non-key column must be `Long` or `Decimal`; it is summed,
  *     and a null counts as 0;
  *   - the schema (names and types, in order) is fixed by the first
  *     merge; a later merge with a different one throws;
  *   - a keyless row whose values are all null or 0 (the one row a
  *     keyless aggregate yields over an empty batch) is skipped;
  *   - merges and reads run under one lock, so batches may merge from
  *     concurrent threads.
  */
class Additive(keys: String*) extends Serializable {

  private val fixed = new AtomicReference[StructType]()
  // key values -> the row's cells, value columns holding the sums
  private val sums = scala.collection.mutable.HashMap.empty[Seq[Any], Array[Any]]

  /** Sum one aggregated batch frame into the state (one collect). */
  def merge(agg: DataFrame): Unit = {
    val schema = agg.schema
    val (ki, vi) = layout(schema)
    val batch = agg.collect()
    this.synchronized {
      val have = fixed.get
      if (have == null) fixed.set(schema)
      else require(shape(have) == shape(schema),
        s"Additive(${keys.mkString(", ")}): schema ${schema.simpleString} " +
          s"differs from the first merge's ${have.simpleString}")
      batch.foreach { r =>
        if (ki.nonEmpty || !vi.forall(i => isZero(r.get(i)))) {
          val acc = sums.getOrElseUpdate(ki.map(r.get), Array.tabulate(schema.length)(i =>
            if (vi.contains(i)) zero(schema(i).dataType) else r.get(i)))
          vi.foreach(i => acc(i) = plus(acc(i), r.get(i)))
        }
      }
    }
  }

  /** The merged rows, driver-side, with the fixed schema (so fields
    * read by name).
    */
  def rows: Seq[Row] = this.synchronized {
    sums.values.toSeq.map(a => new GenericRowWithSchema(a.clone, fixed.get): Row)
  }

  /** Remove the merged rows matching `p` and return them. */
  def removeWhere(p: Row => Boolean): Seq[Row] = this.synchronized {
    val gone = rows.filter(p)
    gone.foreach(r => sums.remove(keys.map(r.getAs[Any])))
    gone
  }

  /** The merged rows as a local frame with the first merge's schema
    * (decimal precision and scale included); an empty frame with no
    * columns before any merge.
    */
  def state(s: SparkSession): DataFrame = this.synchronized {
    val schema = fixed.get
    if (schema == null) s.emptyDataFrame
    else s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Persist [[state]] as parquet at `path`. */
  def snapshot(s: SparkSession, path: String): Unit = {
    if (fixed.get == null)
      throw new IllegalStateException(s"nothing merged: no schema to snapshot to $path")
    state(s).write.mode("overwrite").parquet(path)
  }

  private def layout(schema: StructType): (Seq[Int], Seq[Int]) = {
    val ki = keys.map(schema.fieldIndex)
    val vi = schema.indices.filterNot(ki.contains)
    vi.foreach { i =>
      val f = schema(i)
      require(f.dataType == LongType || f.dataType.isInstanceOf[DecimalType],
        s"Additive: value column ${f.name} is ${f.dataType.simpleString}, not long or decimal")
    }
    (ki, vi)
  }

  private def shape(schema: StructType): Seq[(String, DataType)] =
    schema.map(f => (f.name, f.dataType))

  private def zero(t: DataType): Any = t match {
    case d: DecimalType => java.math.BigDecimal.ZERO.setScale(d.scale)
    case _              => 0L
  }

  private def isZero(v: Any): Boolean = v match {
    case d: java.math.BigDecimal => d.signum == 0
    case n                       => n == null || n == 0L
  }

  private def plus(a: Any, b: Any): Any = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    case (x: Long, y: Long)                                 => x + y
    case _                                                  => a // b is null
  }
}

object Additive {
  /** Rebuild the state written by [[Additive.snapshot]]. */
  def restore(s: SparkSession, path: String, keys: String*): Additive = {
    val a = new Additive(keys: _*)
    a.merge(s.read.parquet(path))
    a
  }
}
