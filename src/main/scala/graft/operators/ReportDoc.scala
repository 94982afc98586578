package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Status-report document assembly (SURVEY §2 row 84) — the data half
  * of the reference's report presentation layer
  * (generate_reports.py:309-604 `generate_pdf_report`): the PDF/chart
  * rendering is out of scope for a query engine, but everything the
  * renderer consumes — section membership, parent grouping, group
  * headers, continuous item numbering, empty-section placeholders, and
  * the report-period status distribution behind
  * `generate_report_charts` (generate_reports.py:221-254) — is
  * relational and fully oracle-able.
  *
  * Output: one row per rendered report line, `(section_no, pos, line)`,
  * position-ordered — the same shape `q_block_tree` uses for the
  * ingest direction, here for the publish direction.
  *
  * Sections mirror generate_reports.py:548-578:
  *   0  title + period header (pinned period constants — the
  *      reference's `datetime.now()` is a parameter here, SURVEY §3)
  *   1  Completed Tasks   — done in [start, end], grouped by parent,
  *                          newest first   (generate_reports.py:476-487)
  *   2  In Progress       — grouped by parent, priority order (:489-499)
  *   3  To Do             — the >15 ⇒ due-soon ∨ high-prio narrowing,
  *                          shared with `q_report_goals` (:448-466)
  *   4  Uncategorized     — catch-all, emitted only when non-empty
  *                          (:570-576; always empty on this corpus —
  *                          `orders` has no status outside O/F/P)
  *   5  Analysis          — status counts over the union of the three
  *                          task sections = the pie-chart series
  *                          (generate_reports.py:231-238)
  *
  * Grouped-section line layout (generate_reports.py:527-546
  * `print_grouped_section`): a group header (upper-cased parent name)
  * precedes each parent's run; item numbering is the enumerate over
  * the section's rows, continuous ACROSS group changes. With rows
  * sorted parent-first, `r` = global row number and `g` = dense rank
  * of the parent give header pos `r+g-1` / item pos `r+g` with no
  * gaps — both engines compute positions from the same two window
  * functions rather than a stateful renderer.
  *
  * Scale: a rendered report is presentation-bounded — the reference
  * itself narrows any section a human would not read (the >15 goals
  * cut) — but the section FRAMES are fact-derived, so no window here
  * may serialize a fact-sized frame through one task (the round-5
  * weakness). Numbering is two-phase everywhere:
  *   §1–3  rank within (section_no, parent_name) — high-cardinality,
  *         parallel — then add per-group offsets from a running sum
  *         over the aggregated group-count frame (parent-cardinality,
  *         broadcast-scale by the same argument as the customer dim).
  *         Group headers come entirely from the groups frame.
  *   §4    rank within ≤4096 order-aligned okey range buckets, then
  *         add bucket offsets from a one-pass `aggregate` prefix sum
  *         over the bucket-count array (bounded by construction).
  *   §5    sort_array + posexplode over the ≤3-row legend — no window
  *         at all.
  * Net: zero unpartitioned windows, and the only section_no-partitioned
  * window runs over a post-aggregate (group-count) frame.
  * PlanRegressionSpec pins both properties.
  */
object ReportDoc {

  import TaskAnalytics.{PeriodStart, PeriodEnd, prioScore}
  import ExtendedAnalytics.GoalsCutoff

  /** The reference renders each item as clean_text(Name) truncated to
    * 60 (add_task_item → text_style.py; that path is oracle-covered by
    * `q_clean_text`); `orders` has no free-text column, so the task
    * Name analog is synthesized from the key + priority label.
    */
  private def itemName(okey: Column, prio: Column): Column =
    concat(lit("Order "), okey.cast("string"), lit(" ("), prio, lit(")"))

  private val sqlItemName =
    "'Order ' || CAST(o_orderkey AS VARCHAR) || ' (' || o_orderpriority || ')'"

  private def sqlPrio(c: String): String =
    s"""CASE $c WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
        WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
        WHEN '5-LOW' THEN 4 ELSE 5 END"""

  // ---- section sources (parent_name, item_name, sort keys) ----------

  /** All three task sections from ONE orders scan: the statuses are
    * disjoint (F-in-period / P / narrowed O), so section membership is
    * a case map — the reference's three filtered passes fused, same as
    * `q_weekly_focus`. The goals count gate rides in as the usual
    * broadcast scalar row.
    */
  private def sectionedTasks(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val openTotal = o.filter(col("o_orderstatus") === "O")
      .agg(count(lit(1)).as("_total"))
    val sec = when(col("o_orderstatus") === "F" &&
        col("o_orderdate") >= lit(PeriodStart).cast("timestamp") &&
        col("o_orderdate") <= lit(PeriodEnd).cast("timestamp"), 1)
      .when(col("o_orderstatus") === "P", 2)
      .when(col("o_orderstatus") === "O" &&
        (col("_total") <= 15 ||
         col("o_orderdate") <= lit(GoalsCutoff).cast("timestamp") ||
         prioScore(col("o_orderpriority")) <= 1), 3)
    o.crossJoin(broadcast(openTotal))
      .withColumn("section_no", sec)
      .filter(col("section_no").isNotNull)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name").as("parent_name"),
        itemName(col("o_orderkey"), col("o_orderpriority")).as("item_name"),
        prioScore(col("o_orderpriority")).as("prio"),
        col("o_orderdate").as("due"), col("o_orderkey").as("okey"),
        col("section_no"))
  }

  private val sqlSrcCols =
    s"""c_name AS parent_name, $sqlItemName AS item_name,
        ${sqlPrio("o_orderpriority")} AS prio,
        o_orderdate AS due, o_orderkey AS okey
        FROM orders JOIN customer ON o_custkey = c_custkey"""

  private val sqlCompletedSrc =
    s"""SELECT $sqlSrcCols
        WHERE o_orderstatus = 'F'
          AND o_orderdate >= TIMESTAMP '$PeriodStart 00:00:00'
          AND o_orderdate <= TIMESTAMP '$PeriodEnd 00:00:00'"""

  private val sqlInProgressSrc =
    s"""SELECT $sqlSrcCols WHERE o_orderstatus = 'P'"""

  private val sqlGoalsSrc =
    s"""SELECT $sqlSrcCols
        WHERE o_orderstatus = 'O'
          AND ((SELECT count(*) FROM orders WHERE o_orderstatus = 'O') <= 15
               OR o_orderdate <= TIMESTAMP '$GoalsCutoff 00:00:00'
               OR ${sqlPrio("o_orderpriority")} <= 1)"""

  private def sqlGrouped(no: Int, title: String, src: String, sort: String,
      emptyMsg: String): String =
    s"""SELECT $no AS section_no, 0 AS pos, '$no. $title' AS line
        UNION ALL
        SELECT $no, CAST(r + g - 1 AS INTEGER), upper(parent_name)
        FROM (SELECT parent_name,
                row_number() OVER (ORDER BY $sort) AS r,
                dense_rank() OVER (ORDER BY parent_name) AS g,
                lag(parent_name) OVER (ORDER BY $sort) AS prev
              FROM ($src) s_$no) h_$no
        WHERE prev IS NULL OR prev <> parent_name
        UNION ALL
        SELECT $no, CAST(r + g AS INTEGER), CAST(r AS VARCHAR) || '. ' || item_name
        FROM (SELECT parent_name, item_name,
                row_number() OVER (ORDER BY $sort) AS r,
                dense_rank() OVER (ORDER BY parent_name) AS g
              FROM ($src) s2_$no) i_$no
        UNION ALL
        SELECT $no, 1, '$emptyMsg' WHERE (SELECT count(*) FROM ($src) e_$no) = 0"""

  // ---- the operator -------------------------------------------------

  /** The sectioned report frame with the per-section sort keys encoded
    * as two case-mapped columns (completed = newest first ⇒ negated day
    * number; goals add the due date as the tiebreak after priority).
    */
  private def reportFrame(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "report.frame") {
      val dayNo = datediff(col("due"), lit("1990-01-01").cast("timestamp"))
      sectionedTasks(s, dir)
        .withColumn("sa", when(col("section_no") === 1, -dayNo).otherwise(col("prio")))
        .withColumn("sb", when(col("section_no") === 3, dayNo).otherwise(lit(0)))
    }

  /** The §4 catch-all source: the dirty-status subset as a narrow
    * (item_name, okey) projection, a shared frame: five
    * branches read it (count gate ×2, okey bounds, bucket rank, bucket
    * counts) and an uncached plan re-scans the FACT table for each —
    * one materialized narrow projection beats five orders scans at any
    * scale, and the subset is small by the same argument that makes §4
    * a catch-all (dirty statuses are the exception, not the corpus).
    */
  private def uncFrame(s: SparkSession, dir: String): DataFrame =
    graft.plans.Memo.shared(s, dir, "report.unc") {
      Tables.orders(s, dir)
        .filter(!col("o_orderstatus").isin("O", "F", "P"))
        .select(itemName(col("o_orderkey"), col("o_orderpriority")).as("item_name"),
          col("o_orderkey").as("okey"))
    }

  /** Materialize the session-persisted report frames for Bench's
    * `shared_` attribution.
    */
  private[graft] def warmReportCache(s: SparkSession, dir: String): Unit = {
    reportFrame(s, dir).count()
    uncFrame(s, dir).count()
  }

  /** Continuous okey-ordered numbering for the §4 catch-all WITHOUT an
    * unpartitioned window (the round-5 `Window.orderBy(okey)` ran the
    * whole fact-derived frame through one task). Two phases:
    *   1. range-bucket okey into ≤4096 order-aligned buckets (bucket
    *      width derives from the min/max okey, so the bucket count is
    *      bounded at ANY corpus size) and rank within each bucket;
    *   2. bucket offsets from a single `aggregate` prefix-sum pass over
    *      the sorted bucket-count array — a post-aggregate ≤4096-element
    *      structure, driver-safe, no window needed.
    * Global r = off + lr. Empty input flows through as zero rows (the
    * min/max row is all-null and the bucket array is empty).
    * Package-private so the spec can exercise it on planted dirty
    * statuses — the shipped corpus has none (§4 always empty).
    */
  private[graft] def catchAllItems(unc: DataFrame): DataFrame = {
    val bounds = unc.agg(min(col("okey")).as("lo"), max(col("okey")).as("hi"))
    val bucketed = unc.crossJoin(broadcast(bounds))
      .withColumn("b", expr("((okey - lo) * 4096) div (hi - lo + 1)"))
    val localU = bucketed.withColumn("lr",
      row_number().over(Window.partitionBy("b").orderBy("okey")))
    val offs = bucketed.groupBy("b").agg(count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("b"), col("cnt")))).as("arr"))
      .select(explode(expr(
        """aggregate(arr,
             struct(cast(array() as array<struct<b:bigint,off:bigint>>) as acc,
                    0L as run),
             (s, x) -> struct(
               array_append(s.acc, named_struct('b', x.b, 'off', s.run)),
               s.run + x.cnt),
             s -> s.acc)""")).as("e"))
      .select(col("e.b").as("b"), col("e.off").as("off"))
    localU.join(broadcast(offs), Seq("b"))
      .select(col("item_name"), (col("off") + col("lr")).as("r"))
  }

  private val SectionTitles = Seq(
    1 -> "Completed Tasks", 2 -> "In Progress", 3 -> "To Do")
  private val EmptyMsgs = Map(
    1 -> "No tasks completed in this period.",
    2 -> "No tasks currently in progress.",
    3 -> "No immediate high priority goals with due dates.")

  def reportDoc(s: SparkSession, dir: String): DataFrame = {
    val header = s.range(1).select(lit(0).as("section_no"), lit(0).as("pos"),
        lit(s"Status Report - $PeriodStart to $PeriodEnd").as("line"))
      .union(s.range(1).select(lit(0).as("section_no"), lit(1).as("pos"),
        lit(s"Period: $PeriodStart to $PeriodEnd").as("line")))

    // Two-phase continuous numbering (round-6 fix of the cardinality-3
    // window): phase 1 ranks WITHIN each (section, parent) group — a
    // high-cardinality partitioning that parallelizes — and phase 2
    // adds each group's offset (= rows in preceding groups of its
    // section) from the aggregated group-count frame. The offsets
    // window IS partitioned by section_no, but over a parent-cardinality
    // post-aggregate frame — broadcast-scale, not fact-scale. Global
    // row number r = off + lr; dense group rank g comes free as the
    // groups frame's row_number.
    // The report frame is a shared (persisted) frame: it feeds the rank
    // window, the section counts, the placeholders, and the legend —
    // without the cache each union branch re-scans its sources (38
    // parquet scans in the uncached plan).
    val t = reportFrame(s, dir)
    val wLocal = Window.partitionBy("section_no", "parent_name")
      .orderBy(col("sa"), col("sb"), col("okey"))
    val local = t.select(col("section_no"), col("parent_name"), col("item_name"),
      row_number().over(wLocal).as("lr"))
    val wGrp = Window.partitionBy("section_no").orderBy(col("parent_name"))
    val groups = t.groupBy("section_no", "parent_name")
      .agg(count(lit(1)).as("cnt"))
      .select(col("section_no"), col("parent_name"),
        row_number().over(wGrp).as("g"),
        coalesce(sum(col("cnt")).over(
          wGrp.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))

    val titles = SectionTitles.map { case (no, title) =>
      s.range(1).select(lit(no).as("section_no"), lit(0).as("pos"),
        lit(s"$no. $title").as("line"))
    }.reduce(_ union _)
    // a group header precedes the group's first item at pos r+g-1 with
    // r = off+1 — i.e. off+g: computable from the groups frame alone,
    // no per-row filter pass needed
    val headers = groups.select(col("section_no"),
      (col("off") + col("g")).cast("int").as("pos"),
      upper(col("parent_name")).as("line"))
    val items = local.join(broadcast(groups), Seq("section_no", "parent_name"))
      .select(col("section_no"),
        (col("off") + col("lr") + col("g")).cast("int").as("pos"),
        concat((col("off") + col("lr")).cast("string"), lit(". "),
          col("item_name")).as("line"))
    // empty-section placeholders: a section with no tasks has no group
    // row at all, so "empty" = anti-join of the static section list
    // against the per-section counts
    val secCounts = t.groupBy("section_no").agg(count(lit(1)).as("_n"))
    val placeholders = EmptyMsgs.toSeq.sortBy(_._1).map { case (no, msg) =>
      s.range(1).select(lit(no).as("section_no"), lit(1).as("pos"),
        lit(msg).as("line"))
    }.reduce(_ union _)
      .join(secCounts.select("section_no"), Seq("section_no"), "left_anti")
    val s123 = titles.union(headers).union(items).union(placeholders)

    // §4 catch-all: emitted only when a task has a status outside the
    // normalized set (generate_reports.py:570-576) — structurally
    // present, empty on this corpus.
    val unc = uncFrame(s, dir)
    val uncCnt = unc.agg(count(lit(1)).as("_n")).filter(col("_n") > 0)
    val s4 = uncCnt.select(lit(4).as("section_no"), lit(0).as("pos"),
        lit("4. Uncategorized / Other Tasks").as("line"))
      .union(uncCnt.select(lit(4).as("section_no"), lit(1).as("pos"),
        lit("These tasks do not match standard status filters (To Do, Doing, Done).").as("line")))
      .union(catchAllItems(unc)
        .select(lit(4).as("section_no"), (col("r") + 1).cast("int").as("pos"),
          concat(col("r").cast("string"), lit(". "), col("item_name")).as("line")))

    // §5 analysis: the report-period status pie series. Each section
    // maps to one normalized status (1→finished, 2→pending, 3→open),
    // so the series IS the per-section count frame relabeled — no
    // second aggregation. Ordered (count desc, status) for a
    // deterministic legend — via sort_array + posexplode over the
    // ≤3-element array, not a window (keeps the plan free of
    // unpartitioned WindowExecs entirely).
    val counts = secCounts.select(
      when(col("section_no") === 1, "finished")
        .when(col("section_no") === 2, "pending")
        .otherwise("open").as("status"),
      col("_n").as("n"))
    val s5 = counts.agg(count(lit(1)).as("_n")).filter(col("_n") > 0)
      .select(lit(5).as("section_no"), lit(0).as("pos"),
        lit("Analysis. Work Distribution & Productivity Trends").as("line"))
      .union(counts
        .agg(sort_array(collect_list(
          struct((-col("n")).as("nn"), col("status"), col("n")))).as("arr"))
        .select(posexplode(col("arr")).as(Seq("i", "e")))
        .select(lit(5).as("section_no"), (col("i") + 1).cast("int").as("pos"),
          concat(col("e.status"), lit(": "), col("e.n").cast("string")).as("line")))

    header.union(s123).union(s4).union(s5)
      .orderBy("section_no", "pos")
  }

  /** DuckDB oracle — generated beside the operator so the section
    * sources, sort keys, and line formats have one source of truth.
    */
  def oracleSql: String = {
    val sqlCombined =
      s"""SELECT 'finished' AS status FROM ($sqlCompletedSrc) ca
          UNION ALL SELECT 'pending' FROM ($sqlInProgressSrc) cb
          UNION ALL SELECT 'open' FROM ($sqlGoalsSrc) cc"""
    val sqlUncSrc =
      s"""SELECT $sqlItemName AS item_name, o_orderkey AS okey
          FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P')"""
    s"""SELECT 0 AS section_no, 0 AS pos,
           'Status Report - $PeriodStart to $PeriodEnd' AS line
        UNION ALL
        SELECT 0, 1, 'Period: $PeriodStart to $PeriodEnd'
        UNION ALL
        ${sqlGrouped(1, "Completed Tasks", sqlCompletedSrc,
          "parent_name, due DESC, okey", "No tasks completed in this period.")}
        UNION ALL
        ${sqlGrouped(2, "In Progress", sqlInProgressSrc,
          "parent_name, prio, okey", "No tasks currently in progress.")}
        UNION ALL
        ${sqlGrouped(3, "To Do", sqlGoalsSrc,
          "parent_name, prio, due, okey",
          "No immediate high priority goals with due dates.")}
        UNION ALL
        SELECT 4, 0, '4. Uncategorized / Other Tasks'
        WHERE EXISTS (SELECT 1 FROM ($sqlUncSrc) u0)
        UNION ALL
        SELECT 4, 1, 'These tasks do not match standard status filters (To Do, Doing, Done).'
        WHERE EXISTS (SELECT 1 FROM ($sqlUncSrc) u1)
        UNION ALL
        SELECT 4, CAST(r + 1 AS INTEGER), CAST(r AS VARCHAR) || '. ' || item_name
        FROM (SELECT item_name, row_number() OVER (ORDER BY okey) AS r
              FROM ($sqlUncSrc) u2) u3
        UNION ALL
        SELECT 5, 0, 'Analysis. Work Distribution & Productivity Trends'
        WHERE EXISTS (SELECT 1 FROM ($sqlCombined) a0)
        UNION ALL
        SELECT 5, CAST(row_number() OVER (ORDER BY n DESC, status) AS INTEGER),
           status || ': ' || CAST(n AS VARCHAR)
        FROM (SELECT status, count(*) AS n FROM ($sqlCombined) a1 GROUP BY status) a2
        ORDER BY section_no, pos"""
  }
}
