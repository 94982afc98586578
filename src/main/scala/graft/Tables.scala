package graft

import graft.plans.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Typed loaders for the driver testdata tables.
  *
  * Explicit, schema-on-read parquet scans: at 100 TB the scan is the
  * dominant cost, so every query projects/filters as early as possible and
  * relies on parquet column pruning + predicate pushdown (verified via
  * `.explain` — `ReadSchema` / `PushedFilters`).
  *
  * Mirrors the reference's ingest surface (alsyefs/notion
  * backend/fetch_pages.py:590-620 reads/writes a CSV cache + JSON export);
  * here the cache is columnar parquet, the Spark-native choice.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  /** Relation memo: `spark.read.parquet` lists the directory and reads
    * footers to resolve the schema EVERY call — across an 80-query
    * catalog that re-resolution is pure per-query overhead. The
    * testdata dirs are immutable for a session's lifetime, so the
    * resolved (and analyzed) DataFrame is reused; held per session in
    * [[Memo]] so concurrent sessions never share plans.
    */
  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    Memo.value(s, dir, s"table.$name")(s.read.parquet(p(dir, name)))

  def region(s: SparkSession, dir: String): DataFrame   = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** events.parquet has shipped with two `ts` encodings across driver
    * testdata generations: TIMESTAMP(NANOS) (read as a nanosecond long
    * under `spark.sql.legacy.parquet.nanosAsLong`) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize both to a
    * session-zone TimestampType so every downstream operator sees one
    * schema: ns-longs via exact integer division (`div`, not `/` —
    * double division would lose precision at 1e18-ns epochs, and the
    * truncation matches DuckDB's ns→µs cast), NTZ via a cast that is
    * wall-clock identity under the UTC session zone all entry points set.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    Memo.value(s, dir, "table.events.norm") {
      val raw = s.read.parquet(p(dir, "events"))
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** Documents/embeddings behind the conditional narrow-layout spread
    * (r16) — what every EXPENSIVE map pass (tokenize, regex chains,
    * distance folds) should consume. A single-row-group parquet file
    * runs its whole scan in ONE task no matter what
    * `maxPartitionBytes` says: Spark plans byte-range splits, but a
    * row group is read whole by the split owning its midpoint, so the
    * other splits are EMPTY — `rdd.getNumPartitions` reports 32 while
    * 31 tasks carry zero rows (the r15 sf1 bench measured ~210 s of
    * wall at cpu/wall ≈ 1 from exactly this). The spread decision
    * therefore counts parquet ROW GROUPS from footers, not planned
    * partitions, and pays one round-robin exchange only when the
    * layout genuinely cannot feed half the cores — a real multi-file
    * 100 TB corpus has row groups ≫ cores and must NEVER pay a
    * corpus-wide shuffle for a map-only pass.
    */
  def documentsSpread(s: SparkSession, dir: String): DataFrame =
    Memo.value(s, dir, "table.documents.spread")(
      spreadIfNarrow(s, documents(s, dir), p(dir, "documents")))
  def embeddingsSpread(s: SparkSession, dir: String): DataFrame =
    Memo.value(s, dir, "table.embeddings.spread")(
      spreadIfNarrow(s, embeddings(s, dir), p(dir, "embeddings")))

  /** Rows per spread partition: the exchange width is derived from the
    * INPUT SIZE (⌈rows / SpreadRowsPerTask⌉, clamped to [2, cores]) —
    * guide §2's scale-adaptive partitioning, never a constant tuned to
    * the local core count. Width matters twice: a heavy per-doc map
    * pass wants enough tasks to fill the cores at large row counts
    * (sf1's 50k docs still clamp to every core), while a SMALL corpus
    * must not fan out to 32 tasks for sub-second work — each task that
    * executes a freshly generated codegen stage pays a measured
    * ~0.5-1 cpu-s of cold-JIT/profile-contention tax before HotSpot
    * compiles it (sf0.1 A/B: q_dedup_span cold cpu 6.0 s at width 4 vs
    * 30.0 s at width 32, identical wall — the r16 always-`par` spread
    * tripled the whole bench's cpu at sf0.1 with zero wall win).
    */
  private[graft] val SpreadRowsPerTask = 1024L

  /** One round-robin exchange iff `path`'s layout plans fewer row
    * groups than half the cores; identity otherwise. Width is
    * input-derived (see [[SpreadRowsPerTask]]). Values are per-row in
    * every consumer, so results stay layout-independent — terminal
    * sorts pin output order.
    */
  private[graft] def spreadIfNarrow(s: SparkSession, df: DataFrame,
      path: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val (groups, rows) = layout(s, path)
    val width = math.min(par.toLong,
      (rows + SpreadRowsPerTask - 1) / SpreadRowsPerTask).toInt
    // a 2-way split saves at most half of an already-small cost while
    // charging every consumer an exchange + a stage boundary (and the
    // cold-codegen tax per task) — spread only when at least 3 tasks'
    // worth of rows exist (sf0.1 A/B: the embeddings-consumer ANN
    // family ran 0.6-1.2 s slower per query under a width-2 spread of
    // 2000 vectors, with no cpu to parallelize in the first place)
    if (groups >= math.max(2, par / 2) || width < 3) df
    else df.repartition(width)
  }

  /** Centroid-dot-products per task for the ASSIGNMENT spread: a
    * closure/argmin assignment pass costs rows × centroids dot
    * products, so its useful width follows the WORK, not the row
    * count (2000 vectors × a 2000-node routing graph is 4M cent-dots
    * — q_ann_hnsw_indexed measured 11.6 s wall ≈ cpu on one task —
    * while 2000 vectors × 45 IVF cells is trivial). ~0.5M cent-dots
    * ≈ 0.3 s of compiled work per task.
    */
  private[graft] val CentDotsPerTask = 1L << 19

  /** Work-aware spread for centroid-assignment passes over the
    * embeddings: width = ⌈rows · cents / CentDotsPerTask⌉ clamped to
    * [1, cores]; identity when the layout is already wide or the work
    * fits one task. `rowsOverride` lets a caller passing a FILTERED
    * frame (the scoped-fixture index builds) size the spread from the
    * filtered cardinality instead of the full table's footer count —
    * the overestimate scheduled near-empty tasks that each pay the
    * cold-codegen tax the spread exists to avoid (r16 ADVICE).
    */
  private[graft] def embeddingsAssignSpread(s: SparkSession, df: DataFrame,
      dir: String, cents: Int, rowsOverride: Option[Long] = None): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val (groups, tableRows) = layout(s, p(dir, "embeddings"))
    if (groups >= math.max(2, par / 2)) return df
    val rows = rowsOverride.getOrElse(tableRows)
    val width = math.min(par.toLong,
      (rows * math.max(1, cents) + CentDotsPerTask - 1) / CentDotsPerTask).toInt
    if (width < 2) df else df.repartition(width)
  }

  /** Total parquet row-group count under `path` (a single file or a
    * directory of part files) — the scan's REAL split capacity.
    * Footer metadata only, driver-side, memoized per path (testdata
    * dirs are immutable for a session's lifetime). Directories with
    * more than `RowGroupFileCap` own files short-circuit to MaxValue:
    * many files ⇒ many groups ⇒ never narrow, and a 100 TB dir must
    * not pay a footer-per-file listing for a decision that is already
    * made.
    */
  private[graft] val RowGroupFileCap = 64
  private[graft] def rowGroups(s: SparkSession, path: String): Int =
    layout(s, path)._1
  /** (row groups, total rows) under `path` — one footer pass, memoized
    * under the path's parent dir, so releasing the dir drops it.
    * The >cap short-circuit reports (MaxValue, MaxValue): many files ⇒
    * wide ⇒ the spread never fires, so neither number is consulted.
    */
  private[graft] def layout(s: SparkSession, path: String): (Int, Long) = {
    val cut = path.lastIndexOf('/')
    Memo.value(s, path.take(cut), "layout." + path.drop(cut + 1)) {
      val conf = s.sparkContext.hadoopConfiguration
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(hp).isDirectory)
          fs.listStatus(hp).toSeq.filter(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        else Seq(fs.getFileStatus(hp))
      if (files.size > RowGroupFileCap) (Int.MaxValue, Long.MaxValue)
      else files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (r.getFooter.getBlocks.size,
          r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        finally r.close()
      }.foldLeft((0, 0L)) { case ((g, n), (g2, n2)) => (g + g2, n + n2) }
    }
  }
}
