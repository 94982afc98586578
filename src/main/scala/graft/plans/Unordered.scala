package graft.plans

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}

/** The one sort-free path for a catalog operator.
  *
  * Every catalog query ends with a deterministic presentation ORDER BY
  * so the oracle can hash it cell-for-cell — but for a corpus-sized
  * result that final sort is a global range exchange a consumer
  * usually does not need (the next stage is a partitioned write, a
  * join, or an aggregation, none of which care about row order).
  * Operators take no flag to skip it; a caller composing one strips
  * the outermost global Sort from the analyzed plan here, leaving the
  * result SET identical (a presentation sort only permutes rows).
  *
  * Only the presentation sort is touched: the walk descends through
  * Projects alone, so a Sort under a Limit (top-k semantics), inside a
  * join/aggregate subtree, or any sortWithinPartitions is out of
  * reach by construction.
  */
object Unordered {

  /** `df` minus its outermost presentation ORDER BY; `df` itself when
    * there is none.
    */
  def form(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val stripped = strip(plan)
    if (stripped eq plan) df
    else GraftColumnBridge.ofRows(df.sparkSession, stripped)
  }

  private def strip(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project =>
      val c = strip(p.child)
      if (c eq p.child) p else p.copy(child = c)
    case s: Sort if s.global => s.child
    case other => other
  }
}
