package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for multi-dimensional scan pruning
  * (SURVEY §5): Z-ORDER (Morton) writes.
  *
  * The 100 TB problem: parquet min/max stats prune files only along the
  * sort order — sort by `ts` and a `user_id` filter still touches every
  * file. Interleaving the bits of two (bucketed) dimensions into one
  * z-value makes a range filter on EITHER dimension map to a compact
  * set of z-ranges, so both predicates prune. Classic lakehouse layout
  * optimization (OPTIMIZE ZORDER BY), here as a plain Spark write:
  * one min/max aggregate (broadcast scalar row), map-side bucketing +
  * bit interleave, `repartitionByRange` + `sortWithinPartitions` on the
  * z-value, parquet out. No shuffle beyond the one range exchange the
  * re-layout itself requires.
  */
object Layout {

  /** Bits per dimension (z-value = 2·ZBits wide). 16 bits → 65,536
    * buckets per dimension, plenty of resolution for file-level pruning
    * while keeping the interleave a 32-term codegen'd expression.
    */
  val ZBits = 16

  /** Interleave the low `bits` of two non-negative long columns:
    * a-bit i → z-bit 2i, b-bit i → z-bit 2i+1.
    */
  def zInterleave(a: Column, b: Column, bits: Int = ZBits): Column =
    zInterleaveN(Seq(a, b), bits)

  /** Round-robin interleave the low `bits` of N non-negative long
    * columns: column j's bit i lands at z-bit i·N + j (the n=2 case is
    * exactly [[zInterleave]]'s layout). The caller bounds `bits` so
    * N·bits ≤ 63 — [[bitsFor]] picks the widest per-dimension
    * resolution that fits.
    */
  def zInterleaveN(cs: Seq[Column], bits: Int): Column = {
    require(cs.size * bits <= 63, s"${cs.size} dims × $bits bits overflow a long")
    cs.zipWithIndex.flatMap { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cs.size + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Widest per-dimension bucket resolution that keeps an N-dim z-value
    * inside a signed long: 16 bits through 3 dims, 15 at 4, 12 at 5…
    */
  def bitsFor(dims: Int): Int = math.min(ZBits, 63 / math.max(1, dims))

  /** Max distinct values a string z-dimension ranks through the exact
    * dictionary (2^ZBits — more buckets than any dimension can use);
    * past it the prefix-fold fallback avoids the single-partition sort
    * and the forced broadcast.
    */
  val RankCap: Long = 1L << ZBits

  /** Linear-bucket a numeric column into [0, 2^bits) against its
    * min/max (degenerate min==max buckets to 0).
    */
  private def bucketize(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val span = hi.cast("double") - lo.cast("double")
    val n = (1L << bits) - 1
    when(span <= 0, lit(0L)).otherwise(
      least(floor((c.cast("double") - lo.cast("double")) / span * n), lit(n)).cast("long"))
  }

  /** `df` with a `_z` Morton-key column over `cols` (N ≥ 1 dims, each
    * bucketed to [[bitsFor]]`(N)` bits against its min/max) — the
    * shared front half of [[writeZOrdered]] and `Snapshots.clusterZ`.
    * Dimension ranges come from ONE min/max aggregate cross-joined in
    * as a broadcast scalar row — no second scan for the NUMERIC dims
    * thanks to exchange reuse; STRING dims add one shared NDV probe +
    * one dimension-sized dictionary scan each.
    *
    * STRING dimensions bucket through a DICTIONARY DENSE RANK (the
    * routine source+time+length triple has a string `source` dim that
    * plain numeric bucketing cannot serve): the column's distinct
    * values rank once (a dimension-sized single-partition sort —
    * bounded by cardinality, never corpus rows) and broadcast-join
    * back as the numeric surrogate, so the bucket order IS the
    * lexicographic order and a post-layout string range/prefix
    * predicate prunes via the footer min/max like any numeric dim. A
    * null string ranks with <=> (its own dictionary row), so null-key
    * rows cluster together instead of z-ing to null.
    */
  private[sources] def withZN(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "z-order needs at least one column")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StringType
    val bits = bitsFor(cols.size)
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // CARDINALITY GUARD, probed for ALL string dims in ONE aggregate
    // pass: the dictionary is a single-partition sort + a forced
    // broadcast — sound for dimension-like strings (source, lang) but
    // an unbounded near-unique column (tag, url) would funnel the
    // corpus' distinct set through one task and blow the broadcast
    // cap. Past RankCap (= more buckets than any dimension can use at
    // ≤16 bits anyway) fall back to an order-preserving 8-char ASCII
    // prefix fold — a pure map-side expression, no extra pass. Either
    // surrogate only shapes CLUSTERING quality; pruning correctness
    // reads the real string column's footer stats.
    val strCols = cols.filter(c => byName.get(c).contains(StringType))
    val ndv: Map[String, Long] =
      if (strCols.isEmpty) Map.empty
      else {
        val aggs = strCols.map(c => approx_count_distinct(col(c)).as(c))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        strCols.map(c => c -> r.getAs[Long](c)).toMap
      }
    var cur = df
    val surrogate = scala.collection.mutable.ArrayBuffer.empty[String]
    val dimCols = cols.zipWithIndex.map { case (c, j) =>
      if (byName.get(c).contains(StringType)) {
        if (ndv(c) <= RankCap) {
          val (kn, rn) = (s"_zk$j", s"_zr$j")
          val ranks = df.select(col(c).as(kn)).distinct()
            .withColumn(rn,
              (row_number().over(Window.orderBy(col(kn))) - 1).cast("long"))
          cur = cur.join(broadcast(ranks), cur(c) <=> ranks(kn), "left")
          surrogate ++= Seq(kn, rn)
          rn
        } else {
          val sn = s"_zs$j"
          // base-128 positional fold of the first 8 chars (non-ASCII
          // clamps to 127 — ties, never disorder); max 128^8-1 < 2^63
          cur = cur.withColumn(sn, (0 until 8).map(i =>
            least(coalesce(ascii(substring(col(c), i + 1, 1)).cast("long"),
              lit(0L)), lit(127L)) * lit(1L << (7 * (7 - i)))).reduce(_ + _))
          surrogate += sn
          sn
        }
      } else c
    }
    val bounds = cur.agg(
      min(col(dimCols.head)).as(s"_lo0"),
      (max(col(dimCols.head)).as(s"_hi0") +:
        dimCols.zipWithIndex.tail.flatMap { case (c, j) =>
          Seq(min(col(c)).as(s"_lo$j"), max(col(c)).as(s"_hi$j"))
        }): _*)
    val z = zInterleaveN(
      dimCols.zipWithIndex.map { case (c, j) =>
        bucketize(col(c), col(s"_lo$j"), col(s"_hi$j"), bits)
      }, bits)
    cur.crossJoin(broadcast(bounds))
      .withColumn("_z", z)
      .drop(cols.indices.flatMap(j => Seq(s"_lo$j", s"_hi$j")) ++
        surrogate: _*)
  }

  /** Write `df` z-ordered on (colA, colB) into `files` parquet files. */
  def writeZOrdered(df: DataFrame, outDir: String,
                    colA: String, colB: String, files: Int): Unit =
    withZN(df, Seq(colA, colB))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
}
