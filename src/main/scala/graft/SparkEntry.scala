package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnnAdvisor, Clustering, CorpusCuration, Dedup, ExtendedAnalytics, GraphAnn, Retrieval, Similarity, TaskAnalytics, TextAnalysis}

/** Driver contract — see SURVEY.md §2 (inventory) and §7 (plan).
  *
  * [[catalog]] declares every entry once: its key, its bench short key,
  * its run and what checks its rows. `queries` and `oracleSql` are
  * views of it.
  */
object SparkEntry {
  type Run = (SparkSession, String) => DataFrame

  /** What checks an entry's rows. */
  sealed trait Check
  /** A DuckDB query the driver hash-compares against the entry's rows,
    * with IDENTICAL output column names (the driver sorts columns by
    * name before hashing values). The text is built on first read:
    * generating all of them takes ~0.5 s, which a run that only reads
    * `queries` never pays.
    */
  final class Oracle(text: => String) extends Check { lazy val sql: String = text }
  object Oracle { def apply(sql: => String): Oracle = new Oracle(sql) }
  /** An approximate entry with no oracle: `gate` names its
    * `RecallReport.GateThresholds` row, which `q_recall_report` holds
    * to its threshold.
    */
  final case class Gated(gate: String) extends Check

  /** One catalog entry; `short` keys it on Bench's stdout line, which
    * the driver reads from a ~2000-char tail (BenchLineSpec pins the
    * worst case).
    */
  final case class Entry(key: String, short: String, run: Run, check: Check)
  object Entry {
    def apply(key: String, run: Run, check: Check): Entry =
      Entry(key, key.stripPrefix("q_"), run, check)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TaskAnalytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, Run] = catalog.map(e => e.key -> e.run).toMap

  def oracleSql: Map[String, String] =
    catalog.collect { case Entry(k, _, _, o: Oracle) => k -> o.sql }.toMap

  /** Sort-free twin of every catalog query (`plans.Unordered` strips
    * the outermost presentation ORDER BY): the form a pipeline composes
    * when the next stage is a write/join/agg and the global range
    * exchange would be pure waste. Result SET identical to the ordered
    * form by construction; UnorderedFormSpec asserts the corpus-scale
    * entries carry no global Sort at all.
    */
  def unordered: Map[String, Run] =
    queries.map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => graft.plans.Unordered.form(f(s, d)))
    }

  /** `entries`, once no key and no short key is declared twice (the
    * shared builds' included) and every `Gated` names a
    * `RecallReport.GateThresholds` row; throws otherwise.
    */
  private[graft] def checked(entries: Seq[Entry], shared: Seq[Bench.Shared]): Seq[Entry] = {
    def once(what: String, names: Seq[String]): Unit = {
      val twice = names.diff(names.distinct).distinct
      require(twice.isEmpty, s"catalog declares a $what twice: ${twice.mkString(", ")}")
    }
    once("key", entries.map(_.key) ++ shared.map(_.key))
    once("short key", entries.map(_.short) ++ shared.map(_.short))
    val gates = operators.RecallReport.GateThresholds.map(_._1).toSet
    val unknown = entries.collect { case Entry(k, _, _, Gated(g)) if !gates(g) => s"$k -> $g" }
    require(unknown.isEmpty, s"no RecallReport.GateThresholds row for: ${unknown.mkString(", ")}")
    entries
  }

  /** Shared DuckDB fragments — single source for the standalone
    * quality/lang/PII oracles and the composed cleaning-pipeline oracle
    * (kept as plain literals: the s-interpolator would reject the regex
    * backslashes as escape sequences).
    */
  /** Shingle → Jaccard-pair → transitive-reach CTE chain ending in
    * `reach` — shared by the q_dedup_clusters and q_cluster_reps
    * oracles so the clustering definitions cannot drift. Callers
    * prefix `WITH RECURSIVE`.
    */
  private val sqlClusterCtes =
    """toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sgl AS (
           SELECT doc_id, CASE WHEN len(t) >= 3
             THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                    i -> array_to_string(t[i:i + 2], ' ')))
             ELSE [] END AS shs FROM toks),
         docs AS (
           SELECT doc_id, list_distinct(list_transform(shs,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
                  (a, c) -> (a * 31 + c) % 1000000007))) AS sh
           FROM sgl WHERE len(shs) > 0),
         ex AS (SELECT doc_id, unnest(sh) AS h FROM docs),
         cooc AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
           FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT a, b FROM cooc
           JOIN docs da ON da.doc_id = a JOIN docs db ON db.doc_id = b
           WHERE CAST(inter AS DOUBLE) / (len(da.sh) + len(db.sh) - inter) >= 0.6),
         edges AS (SELECT a AS s, d FROM (SELECT a, b AS d FROM pairs) UNION
                   SELECT b AS s, a AS d FROM pairs),
         reach AS (
           SELECT s, d FROM edges
           UNION
           SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)"""

  private val sqlQualityCtes =
    """qt AS (
           SELECT doc_id, CAST(length(text) AS DOUBLE) AS nchars,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS punct
           FROM documents),
         qs AS (
           SELECT doc_id, nchars, punct,
             CAST(len(toks) AS DOUBLE) AS nwords,
             CAST(len(list_intersect(toks,
               ['the','a','of','and','to','in','is','it'])) AS DOUBLE) AS stops
           FROM qt),
         qq AS (
           SELECT doc_id, floor((
               0.4 * least(nwords / 100.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN nchars > 0 THEN punct / nchars ELSE 0.0 END)
             + 0.2 * (CASE WHEN nwords > 0 THEN stops / nwords ELSE 0.0 END)
             + 0.1 * least((CASE WHEN nwords > 0 THEN nchars / nwords ELSE 0.0 END) / 10.0, 1.0)
             ) * 10000.0 + 0.5) / 10000.0 AS quality
           FROM qs)"""

  /** Shared bigram-LM CTEs: documents → per-doc (n_pairs, lm_score) as
    * `lm` — single source for the q_lm_score oracle and the CCNet
    * perplexity-bucket oracle built on top of it.
    */
  private val sqlLmCtes =
    s"""d2 AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2
       |), pairs AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS w1, ts[i+1] AS w2
       |  FROM d2 CROSS JOIN unnest(generate_series(1, len(ts) - 1)) AS u(i)
       |), big AS (
       |  SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2
       |), uni AS (
       |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM big GROUP BY 1
       |), vocab AS (
       |  SELECT count(DISTINCT w.t) AS v
       |  FROM (SELECT unnest(ts) AS t FROM d2) w
       |), scored AS (
       |  SELECT p.doc_id, p.pos,
       |         ln(CAST(b.cb + ${TextAnalysis.LmAlpha} AS DOUBLE) /
       |            CAST(u.cu + ${TextAnalysis.LmAlpha} * v.v AS DOUBLE)) AS logp
       |  FROM pairs p JOIN big b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN vocab v
       |), lm AS (
       |  SELECT doc_id, count(*) AS n_pairs,
       |    round(-list_reduce(list_prepend(0.0, list(logp ORDER BY pos)), (a, x) -> a + x)
       |          / count(*), ${TextAnalysis.LmScoreDp}) AS lm_score
       |  FROM scored GROUP BY doc_id)""".stripMargin

  private val sqlLangCtes =
    """lt AS (
           SELECT doc_id, source, lang AS declared_lang,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
           FROM documents),
         lsc AS (
           SELECT doc_id, source, declared_lang,
             len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
             len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein'])) AS s_de,
             len(list_intersect(toks, ['el','la','los','de','que','es','un'])) AS s_es
           FROM lt),
         lp AS (
           SELECT doc_id, source, declared_lang,
             CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 THEN 'unknown'
                  WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_es THEN 'de'
                  ELSE 'es' END AS pred_lang
           FROM lsc)"""

  private def sqlPii(c: String): String =
    """regexp_replace(
           regexp_replace(
             regexp_replace(COLREF,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
           '[0-9]{6,}', '<NUM>', 'g')""".replace("COLREF", c)

  /** Every catalog entry, each declared once. Lazy: the oracles read
    * the shared fragments above, and building the list checks it.
    */
  lazy val catalog: Seq[Entry] = checked(Seq(
    // §2.1 reference-derived relational operators
    Entry("q_normalize_status", "ns", TaskAnalytics.normalizeStatus _, Oracle(
      """SELECT o_orderkey,
         CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
              WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders ORDER BY o_orderkey""")),
    Entry("q_dedup_keep_last", "dk", TaskAnalytics.dedupKeepLast _, Oracle(
      """SELECT user_id, event_type, event_id, round(value, 2) AS value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id, event_type""")),
    Entry("q_filter_tags", "ft", TaskAnalytics.filterTags _, Oracle(
      """SELECT doc_id, lang, source FROM documents
         WHERE list_has_any(string_split(text, ' '),
                            ['spark', 'shuffle', 'partition'])
         ORDER BY doc_id""")),
    Entry("q_status_summary", "sts", TaskAnalytics.statusSummary _, Oracle(
      """SELECT count(*) AS total,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS finished,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS open,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS pending
         FROM orders""")),
    Entry("q_status_dist", "st", TaskAnalytics.statusDist _, Oracle(
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
              WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status,
         count(*) AS n
         FROM orders GROUP BY 1 ORDER BY status""")),
    Entry("q_priority_dist", "pd", TaskAnalytics.priorityDist _, Oracle(
      """SELECT o_orderpriority AS priority,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1, 2 ORDER BY prio_score""")),
    Entry("q_overdue", "ov", TaskAnalytics.overdue _, Oracle(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority AS priority, round(o_totalprice, 2) AS total_price
         FROM orders
         WHERE o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         ORDER BY order_date, o_orderkey""")),
    Entry("q_oldest_pending", "ol", TaskAnalytics.oldestPending _, Oracle(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority AS priority
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY order_date, o_orderkey LIMIT 5""")),
    Entry("q_backlog_rank", "bk", TaskAnalytics.backlogRank _, Oracle(
      """SELECT o_orderkey,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         round(o_totalprice, 2) AS total_price
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY prio_score, order_date, o_orderkey LIMIT 15""")),
    Entry("q_weekly_velocity", "wkv", TaskAnalytics.weeklyVelocity _, Oracle(
      """SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
         count(*) AS n_completed
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY 1 ORDER BY week""")),
    Entry("q_period_report", "pr", TaskAnalytics.periodReport _, Oracle(
      """SELECT o_orderpriority AS priority, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders
         WHERE o_orderstatus = 'F'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY 1 ORDER BY priority""")),
    Entry("q_parent_join", "pj", TaskAnalytics.parentJoin _, Oracle(
      """SELECT c_custkey, c_name, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY c_custkey""")),
    Entry("q_hierarchy_rollup", "hi", TaskAnalytics.hierarchyRollup _, Oracle(
      """SELECT r_name, n_name, count(DISTINCT c_custkey) AS n_customers,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY r_name, n_name""")),
    Entry("q_project_flags", "pf", TaskAnalytics.projectFlags _, Oracle(
      """SELECT c_custkey, c_name, coalesce(n_orders, 0) AS n_orders,
         coalesce(n_orders, 0) >= 12 AS is_project
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) t
           ON c_custkey = o_custkey
         ORDER BY c_custkey""")),
    Entry("q_clean_text", "clt", TaskAnalytics.cleanTruncate _, Oracle(
      """SELECT doc_id,
         CASE WHEN length(t) > 60 THEN left(t, 57) || '...' ELSE t END AS clean_text
         FROM (SELECT doc_id,
               replace(replace(replace(replace(replace(replace(replace(text,
                 '’', ''''), '‘', ''''), '“', '"'), '”', '"'),
                 '–', '-'), '—', '-'), '…', '...') AS t
               FROM documents)
         ORDER BY doc_id""")),
    Entry("q_uncategorized", "un", TaskAnalytics.uncategorized _, Oracle(
      """SELECT o_orderkey, o_orderstatus AS status FROM orders
         WHERE o_orderstatus NOT IN ('O', 'F') ORDER BY o_orderkey""")),
    Entry("q_markdown_runs", "md", TaskAnalytics.markdownRuns _, Oracle(
      """WITH md AS (
           SELECT doc_id,
             array_to_string(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+')[1:5],
               (x, i) -> CASE WHEN i % 2 = 0 THEN '**' || x || '**' ELSE x END), ' ') AS md
           FROM documents),
         segs AS (SELECT doc_id, string_split(md, '**') AS segs FROM md)
         SELECT doc_id, CAST(gs - 1 AS INTEGER) AS run_idx, segs[gs] AS run_text,
           (gs - 1) % 2 = 1 AS is_bold
         FROM segs, unnest(generate_series(1, len(segs))) AS g(gs)
         WHERE segs[gs] <> ''
         ORDER BY doc_id, run_idx""")),
    Entry("q_active_projects", "ap", TaskAnalytics.activeProjects _, Oracle(
      """SELECT c_custkey, c_name, n_orders, n_open, open_prios
         FROM customer JOIN (
           SELECT o_custkey, count(*) AS n_orders,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
             array_to_string(list_sort(list(DISTINCT o_orderpriority)
               FILTER (WHERE o_orderstatus = 'O')), ',') AS open_prios
           FROM orders GROUP BY 1) t ON c_custkey = o_custkey
         WHERE n_orders >= 12 AND n_open > 0
         ORDER BY c_custkey""")),
    // §2.2 headline analytics
    Entry("q1_pricing_summary", "q1", TaskAnalytics.q1PricingSummary _, Oracle(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""")),
    Entry("q3_top_revenue", "q3", TaskAnalytics.q3TopRevenue _, Oracle(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""")),
    Entry("q5_region_volume", "q5", TaskAnalytics.q5RegionVolume _, Oracle(
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE year(o_orderdate) = 1997
         GROUP BY 1, 2 ORDER BY r_name, n_name""")),
    // §2.3 events (batch variants)
    Entry("q_sessionize", "ssz", TaskAnalytics.sessionize _, Oracle(
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           round(sum(value), 2) AS value_sum
         FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""")),
    Entry("q_session_window", "ss", TaskAnalytics.sessionWindow _, Oracle(
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS value_sum
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_start""")),
    Entry("q_event_window_agg", "ev", TaskAnalytics.eventWindowAgg _, Oracle(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n, round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),
    Entry("q_json_props", "jp", TaskAnalytics.jsonProps _, Oracle(
      """SELECT event_type, count(*) AS n,
         CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
         FROM (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY 1 ORDER BY event_type""")),
    Entry("q_json_normalize", "jn", TaskAnalytics.jsonNormalize _, Oracle(
      """WITH toks AS (
           SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         page AS (
           SELECT doc_id, to_json({
             id: doc_id,
             properties: {
               Status: CASE WHEN doc_id % 7 <> 0 THEN {"select": {name: lang}} ELSE NULL END,
               Tags: CASE WHEN len(t) >= 2
                 THEN {multi_select: [{name: t[1]}, {name: t[2]}]} ELSE NULL END,
               Name: {title: list_transform(t[1:3],
                 (x, i) -> {plain_text: x, bold: i % 2 = 0})}
             }}) AS j
           FROM toks)
         SELECT doc_id,
           coalesce(json_extract_string(j, '$.properties.Status.select.name'), 'none') AS status,
           CAST(coalesce(json_array_length(j, '$.properties.Tags.multi_select'), 0) AS INTEGER) AS n_tags,
           coalesce(json_extract_string(j, '$.properties.Tags.multi_select[0].name'), '') AS first_tag,
           coalesce(json_extract_string(j, '$.properties.Name.title[0].plain_text'), '')
             || CASE WHEN json_extract(j, '$.properties.Name.title[1].bold') = 'true'
                  THEN '**' || json_extract_string(j, '$.properties.Name.title[1].plain_text') || '**'
                  ELSE coalesce(json_extract_string(j, '$.properties.Name.title[1].plain_text'), '') END
             || coalesce(json_extract_string(j, '$.properties.Name.title[2].plain_text'), '') AS title_md
         FROM page ORDER BY doc_id""")),
    // §2.4 deduplication
    Entry("q_dedup_exact", "dex", Dedup.exact _, Oracle(
      """SELECT md5(text) AS content_md5, count(*) AS n_docs, min(doc_id) AS rep_id
         FROM documents GROUP BY 1 ORDER BY content_md5""")),
    Entry("q_dedup_ngram_jaccard", "dn", Dedup.ngramJaccard _, Oracle(Dedup.sqlNgramJaccard)),
    Entry("q_dedup_minhash", "dm", ((s, d) => Dedup.minhashLsh(s, d)), Oracle(Dedup.sqlMinhashLsh)),
    // near-dup pairs rolled up to the (source, source) matrix
    Entry("q_dup_matrix", "dxm", Dedup.dupMatrix _, Oracle(Dedup.sqlDupMatrix)),
    Entry("q_dedup_simhash", "dsh", ((s, d) => Dedup.simhash(s, d)), Oracle(Dedup.sqlSimhash)),
    Entry("q_dedup_embedding", "de", Similarity.embeddingDup _, Oracle(Similarity.sqlEmbeddingDup)),
    Entry("q_dedup_containment", "dct", Dedup.containment _, Oracle(Dedup.sqlContainment)),
    Entry("q_dedup_incremental", "di", Dedup.incremental _, Oracle(Dedup.sqlIncremental)),
    // span-level (substring) dedup: maximal duplicated token spans
    Entry("q_dedup_span", "dsn", Dedup.spanDedup _, Oracle(Dedup.sqlSpanDedup)),
    // the cleaning ACTION: cut the located spans out of the stream
    Entry("q_span_scrub", "ssc", Dedup.spanScrub _, Oracle(Dedup.sqlSpanScrub)),
    // SemDeDup: cluster-restricted embedding near-dup prune
    Entry("q_dedup_semantic", "dse", Similarity.semanticDedup _,
      Oracle(Similarity.sqlSemanticDedup)),
    // cluster health card: size / cohesion / label purity per cell
    Entry("q_topic_clusters", "tcl", Clustering.topicClusters _,
      Oracle(Clustering.sqlTopicClusters)),
    // SSL-prototypes pruning: drop the most-prototypical quarter per cell
    Entry("q_prototype_prune", "ppr", Clustering.prototypePrune _,
      Oracle(Clustering.sqlPrototypePrune)),
    // diversity rebalancing: cap every cell at the uniform share
    Entry("q_cluster_mix", "cmx", Clustering.clusterMix _, Oracle(Clustering.sqlClusterMix)),
    // §2.5 similarity search
    Entry("q_ann_brute_topk", "ab", Similarity.annBruteTopK _, Oracle(Similarity.sqlAnnBruteTopK)),
    // embedding-quality audit: 1-NN leave-one-out label accuracy
    Entry("q_knn_label_acc", "kla", Similarity.knnLabelAcc _, Oracle(Similarity.sqlKnnLabelAcc)),
    // attribute-filtered search (WHERE label = …): brute + IVF paths
    Entry("q_ann_filtered_topk", "af", Similarity.annFilteredTopK _,
      Oracle(Similarity.sqlAnnFilteredTopK)),
    Entry("q_ann_ivf_filtered_topk", "aif", Similarity.annIvfFilteredTopK _,
      Gated("ann_ivf_filtered_recall5")),
    // contrastive hard-negative mining: nearest cross-label neighbors
    Entry("q_hard_negatives", "hng", Similarity.hardNegatives _,
      Oracle(Similarity.sqlHardNegatives)),
    // the IVF-probed scale path of the same mining
    Entry("q_hard_negatives_ivf", "hni", Similarity.hardNegativesIvf _,
      Gated("hard_negatives_ivf_recall5")),
    // SQ8 scalar quantization: the first accelerated path with a FULL
    // oracle — the integer fixed-point surrogate makes the candidate
    // cut engine-reproducible, so this one is hash-gated cell-exact
    Entry("q_ann_sq_topk", "asq", Similarity.annSqTopK _, Oracle(Similarity.sqlAnnSqTopK)),
    // sign-bit binary quantization: the second full-oracle accelerated
    // path — Hamming surrogate is xor+popcount integers in both
    // engines, and with no trained parameters the oracle holds at any
    // corpus size
    Entry("q_ann_bq_topk", "abq", Similarity.annBqTopK _, Oracle(Similarity.sqlAnnBqTopK)),
    Entry("q_ann_lsh_topk", "al", Similarity.annLshTopK _, Gated("ann_lsh_recall5")),
    Entry("q_ann_ivf_topk", "aiv", Similarity.annIvfTopK _, Gated("ann_ivf_recall5")),
    Entry("q_ann_ivf2_topk", "ai", Similarity.annIvfLearnedTopK _, Gated("ann_ivf2_recall5")),
    Entry("q_ann_pq_topk", "apq", Similarity.annPqTopK _, Gated("ann_pq_recall5")),
    Entry("q_ann_opq_topk", "ao", Similarity.annOpqTopK _, Gated("ann_opq_recall5")),
    Entry("q_ann_ivfpq_topk", "aip", Similarity.annIvfPqTopK _, Gated("ann_ivfpq_recall5")),
    // persisted-index twin: same ranking from the materialized
    // cell-partitioned artifact (sources.PqIndex; equality with
    // q_ann_ivfpq_topk is spec'd)
    Entry("q_ann_pq_indexed", "api", sources.PqIndex.annPqIndexed _,
      Gated("ann_pq_indexed_recall5")),
    // graph-based ANN (the SPANN/DiskANN split): driver-local NSW
    // beam routing over the bounded node set + distributed
    // bucket-pruned exact rerank
    Entry("q_ann_hnsw_topk", "ahn", GraphAnn.annHnswTopK _, Gated("ann_hnsw_recall5")),
    // persisted-artifact twin: same neighbors from the node-partitioned
    // SPANN posting table + graph sidecar (sources.GraphIndex)
    Entry("q_ann_hnsw_indexed", "ahx", sources.GraphIndex.annHnswIndexed _,
      Gated("ann_hnsw_indexed_recall5")),
    // full-oracle since r11: the participation ratio is computed via
    // trace identities (tr(C)²/(tr(C²)·d) — no eigenvalues), so the
    // whole decision pipeline is sequential-fold-reproducible in SQL
    Entry("q_ann_advisor", "aad", AnnAdvisor.advisorVerdict _, Oracle(AnnAdvisor.sqlAdvisor)),
    // third advisor axis: per-label filter selectivity → pre-filter
    // brute vs post-filtered IVF with a scaled probe budget
    Entry("q_ann_advisor_filtered", "adf", AnnAdvisor.advisorFilteredVerdict _,
      Oracle(AnnAdvisor.sqlAdvisorFiltered)),
    // driver-checked quality gate for every approximate entry above:
    // recall@5 vs the exact in-catalog baselines + sketch error bounds,
    // emitted as thresholded verdict rows against a generated VALUES
    // oracle — a recall/bound regression now hash-fails the round
    Entry("q_recall_report", "rcr", operators.RecallReport.report _,
      Oracle(operators.RecallReport.oracleSql)),
    // §2.6 text analysis
    Entry("q_token_count", "to", TextAnalysis.tokenCount _, Oracle(
      """SELECT doc_id,
         CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
         FROM documents ORDER BY doc_id""")),
    Entry("q_quality_score", "qsc", TextAnalysis.quality _, Oracle(
      s"""WITH $sqlQualityCtes
         SELECT doc_id, quality FROM qq ORDER BY doc_id""")),
    // quality-weighted (importance) sampling: keep-prob == score
    Entry("q_quality_sample", "qs", TextAnalysis.qualitySample _, Oracle(
      s"""WITH $sqlQualityCtes
         SELECT doc_id, quality FROM qq
         WHERE (doc_id * ${operators.TextAnalysis.QualitySampleA}) % 2147483648 % 10000
           < CAST(floor(quality * 10000.0 + 0.5) AS BIGINT)
         ORDER BY doc_id""")),
    Entry("q_lang_id", "ln", TextAnalysis.languageId _, Oracle(
      s"""WITH $sqlLangCtes
         SELECT doc_id, declared_lang, pred_lang FROM lp ORDER BY doc_id""")),
    Entry("q_doc_fingerprint", "fg", TextAnalysis.fingerprint _, Oracle(
      s"""SELECT doc_id, ${functions.TextFunctions.docFingerprintSql} AS fp
         FROM documents ORDER BY doc_id""")),
    Entry("q_pii_scrub", "pi", TextAnalysis.piiScrub _, Oracle(
      s"""SELECT doc_id, ${sqlPii("text")} AS scrubbed
         FROM documents ORDER BY doc_id""")),
    Entry("q_contamination", "ct", TextAnalysis.contamination _, Oracle(
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000000007) AS h
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   i -> array_to_string(t[i:i + 4], ' ')))) AS g
                 FROM toks WHERE len(t) >= 5)),
         ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < 5)
         SELECT DISTINCT doc_id FROM sh
         WHERE doc_id >= 5 AND h IN (SELECT h FROM ev)
         ORDER BY doc_id""")),
    Entry("q_contamination_score", "cts", ((s, d) => TextAnalysis.contaminationScore(s, d)),
      Oracle(TextAnalysis.contaminationScoreOracleSql)),
    Entry("q_tfidf_top_terms", "tf", TextAnalysis.tfidfTopTerms _, Oracle(
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             FROM documents)
           GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, token,
             round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
           FROM tf JOIN df USING (token) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, token, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, token) AS INTEGER) AS rank
           FROM scored)
         SELECT doc_id, rank, token, score FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""")),
    Entry("q_lm_score", "lms", TextAnalysis.lmScore _, Oracle(
      s"""WITH $sqlLmCtes
         |SELECT doc_id, n_pairs, lm_score FROM lm ORDER BY doc_id""".stripMargin)),
    Entry("q_gopher_filter", "go", TextAnalysis.gopherFilter _,
      Oracle(TextAnalysis.gopherOracleSql)),
    // compressibility gate: per-doc character Shannon entropy
    Entry("q_char_entropy", "ce", TextAnalysis.charEntropy _,
      Oracle(TextAnalysis.charEntropyOracleSql)),
    // per-stage corpus yield report over the cleaning gates
    // yield-report oracle: same gate fragments as q_clean_pipeline,
    // reduced to cumulative stage counts
    Entry("q_pipeline_yield", "py", TextAnalysis.pipelineYield _, Oracle(
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         g AS (
           SELECT d.doc_id, d.text,
             qq.quality >= ${operators.TextAnalysis.PipelineQualityMin} AS okq,
             lp.pred_lang <> 'unknown' AS okl
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN okq THEN 1 ELSE 0 END) AS BIGINT) AS nq,
             CAST(sum(CASE WHEN okq AND okl THEN 1 ELSE 0 END) AS BIGINT) AS nql
           FROM g),
         dd AS (SELECT CAST(count(*) AS BIGINT) AS nqld FROM (
             SELECT row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM g WHERE okq AND okl) WHERE rn = 1),
         st AS (
           SELECT 1 AS stage_no, 'quality' AS stage, total AS n_in, nq AS n_out FROM c, dd
           UNION ALL SELECT 2, 'language', nq, nql FROM c, dd
           UNION ALL SELECT 3, 'exact_dedup', nql, nqld FROM c, dd)
         SELECT stage_no, stage, n_in, n_out, n_in - n_out AS rejected,
           floor(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1) * 1e4 + 0.5) / 1e4
             AS reject_rate
         FROM st ORDER BY stage_no""")),
    // bad-word density gate (C4 blocklist family)
    Entry("q_blocklist_filter", "bf", TextAnalysis.blocklistFilter _,
      Oracle(TextAnalysis.blocklistFilterOracleSql)),
    Entry("q_repetition", "re", TextAnalysis.repetition _,
      Oracle(TextAnalysis.repetitionOracleSql)),
    Entry("q_chunk_docs", "ch", TextAnalysis.chunkDocs _,
      Oracle(TextAnalysis.chunkDocsOracleSql)),
    Entry("q_cooccur", "co", TextAnalysis.cooccur _, Oracle(TextAnalysis.cooccurOracleSql)),
    Entry("q_dedup_clusters", "dc", TextAnalysis.dedupClusters _, Oracle(
      s"""WITH RECURSIVE $sqlClusterCtes
         SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         FROM reach GROUP BY s ORDER BY doc_id""")),
    // the clustering ACTION: keep the best member per near-dup cluster
    Entry("q_cluster_reps", "crp", TextAnalysis.clusterReps _, Oracle(
      s"""WITH RECURSIVE $sqlClusterCtes,
         cl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                FROM reach GROUP BY s),
         $sqlQualityCtes,
         j AS (
           SELECT cl.cluster_id, cl.doc_id,
             CAST(floor(qq.quality * 1e4 + 0.5) AS BIGINT) AS qint
           FROM cl JOIN qq USING (doc_id)),
         r AS (
           SELECT cluster_id, doc_id, qint,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY qint DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS nm
           FROM j)
         SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
           doc_id AS rep_doc_id, CAST(qint AS DOUBLE) / 1e4 AS rep_quality,
           CAST(nm - 1 AS BIGINT) AS n_dropped
         FROM r WHERE rn = 1 ORDER BY cluster_id""")),
    Entry("q_clean_pipeline", "cl", TextAnalysis.cleanPipeline _, Oracle(
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         gated AS (
           SELECT d.doc_id, d.text, qq.quality, lp.pred_lang
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id
           WHERE qq.quality >= ${operators.TextAnalysis.PipelineQualityMin}
             AND lp.pred_lang <> 'unknown'),
         dd AS (
           SELECT doc_id, text, quality, pred_lang,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM gated)
         SELECT doc_id, pred_lang, quality, ${sqlPii("text")} AS scrubbed
         FROM dd WHERE rn = 1 ORDER BY doc_id""")),
    // the full corpus→training-sequences path as one composed query
    Entry("q_corpus_pipeline", "cor", TextAnalysis.corpusPipeline _, Oracle(
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         gated AS (
           SELECT d.doc_id, d.text, qq.quality, lp.pred_lang
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id
           WHERE qq.quality >= ${operators.TextAnalysis.PipelineQualityMin}
             AND lp.pred_lang <> 'unknown'),
         dd AS (
           SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM gated),
         surv AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(${sqlPii("text")}), '[a-z0-9]+')) AS BIGINT) AS ntok
           FROM dd WHERE rn = 1),
         pd AS (SELECT doc_id, ntok FROM surv WHERE ntok >= 1),
         pc AS (SELECT doc_id, ntok,
                  CAST(sum(ntok) OVER (ORDER BY doc_id) AS BIGINT) - ntok AS gstart
                FROM pd),
         px AS (SELECT doc_id, ntok, gstart,
                  gstart // ${operators.ExtendedAnalytics.PackSeqLen} AS first_seq,
                  (gstart + ntok - 1) // ${operators.ExtendedAnalytics.PackSeqLen} AS last_seq
                FROM pc)
         SELECT doc_id, CAST(sq AS BIGINT) AS seq_id,
           CAST(greatest(0, gstart - sq * ${operators.ExtendedAnalytics.PackSeqLen}) AS INTEGER) AS seq_off,
           CAST(greatest(0, sq * ${operators.ExtendedAnalytics.PackSeqLen} - gstart) AS INTEGER) AS tok_from,
           CAST(least(ntok, (sq + 1) * ${operators.ExtendedAnalytics.PackSeqLen} - gstart) AS INTEGER) AS tok_to
         FROM px, unnest(generate_series(first_seq, last_seq)) AS u(sq)
         ORDER BY doc_id, seq_id""")),
    // §2.6b corpus curation (round 7): data selection / mixture monitors
    // greedy best-quality-first selection under a corpus token budget
    Entry("q_token_budget", "tb", CorpusCuration.tokenBudget _, Oracle(
      s"""WITH $sqlQualityCtes,
         |tb AS (SELECT q.doc_id, q.quality, CAST(s.nwords AS BIGINT) AS ntok
         |       FROM qq q JOIN qs s USING (doc_id)),
         |tc AS (SELECT doc_id, quality, ntok,
         |         CAST(sum(ntok) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
         |           AS cum_tokens
         |       FROM tb),
         |bg AS (SELECT CAST(sum(ntok) AS BIGINT) // ${CorpusCuration.TokenBudgetDen}
         |         AS budget FROM tb)
         |SELECT doc_id, quality, ntok, cum_tokens FROM tc, bg
         |WHERE cum_tokens <= budget
         |ORDER BY quality DESC, doc_id""".stripMargin)),
    // CCNet head/middle/tail perplexity terciles per language
    Entry("q_ppl_buckets", "pp", CorpusCuration.pplBuckets _, Oracle(
      s"""WITH $sqlLmCtes,
         |ld AS (SELECT l.doc_id, d.lang, l.lm_score
         |       FROM lm l JOIN documents d USING (doc_id)),
         |thr AS (SELECT lang,
         |          floor(list_extract(quantile_cont(lm_score,
         |            [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]), 1)
         |            * 10000.0 + 0.5) / 10000.0 AS t1,
         |          floor(list_extract(quantile_cont(lm_score,
         |            [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]), 2)
         |            * 10000.0 + 0.5) / 10000.0 AS t2
         |        FROM ld GROUP BY lang)
         |SELECT doc_id, lang, lm_score,
         |  CASE WHEN lm_score <= t1 THEN 'head'
         |       WHEN lm_score <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM ld JOIN thr USING (lang) ORDER BY doc_id""".stripMargin)),
    Entry("q_source_sim", "ssm", CorpusCuration.sourceSim _,
      Oracle(CorpusCuration.sourceSimOracleSql)),
    Entry("q_source_overlap", "sov", CorpusCuration.sourceOverlap _,
      Oracle(CorpusCuration.sourceOverlapOracleSql)),
    // weighted PageRank over the content-sharing source graph (edges =
    // cross-source shared-shingle counts; 8 unrolled power iterations)
    Entry("q_source_rank", "srk", ((s, d) => CorpusCuration.sourceRank(s, d)),
      Oracle(CorpusCuration.sourceRankOracleSql)),
    Entry("q_kl_drift", "kl", CorpusCuration.klDrift _, Oracle(CorpusCuration.klDriftOracleSql)),
    Entry("q_epoch_shuffle", "ep", CorpusCuration.epochShuffle _,
      Oracle(CorpusCuration.epochShuffleOracleSql)),
    // quality-decile vs mean LM score: composes the shared LM + quality
    // CTE families (names are disjoint: d2..lm vs qt/qs/qq)
    Entry("q_quality_calibration", "qc", CorpusCuration.qualityCalibration _, Oracle(
      s"""WITH $sqlLmCtes, $sqlQualityCtes
         |SELECT CAST(floor(q.quality * 10.0) AS BIGINT) AS qbucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  floor(CAST(sum(CAST(l.lm_score AS DECIMAL(38,18))) AS DOUBLE)
         |        / count(*) * 1e6 + 0.5) / 1e6 AS mean_lm
         |FROM lm l JOIN qq q USING (doc_id)
         |GROUP BY 1 ORDER BY qbucket""".stripMargin)),
    Entry("q_novelty", "no", CorpusCuration.novelty _,
      Oracle(CorpusCuration.noveltyOracleSql)),
    // per-source declared-vs-predicted language audit (shared lang CTEs)
    Entry("q_lang_mismatch", "lm", CorpusCuration.langMismatch _, Oracle(
      s"""WITH $sqlLangCtes
         |SELECT source, n_docs, n_confident, n_mismatch,
         |  floor(CAST(n_mismatch AS DOUBLE) / greatest(n_confident, 1)
         |        * 10000.0 + 0.5) / 10000.0 AS mismatch_rate
         |FROM (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN pred_lang != 'unknown' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_confident,
         |    CAST(sum(CASE WHEN pred_lang != 'unknown'
         |                   AND pred_lang != declared_lang THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_mismatch
         |  FROM lp GROUP BY source)
         |ORDER BY source""".stripMargin)),
    // per-source dataset datasheet (docs/dups/tokens/quality/lang mix)
    Entry("q_corpus_card", "cc", CorpusCuration.corpusCard _,
      Oracle(CorpusCuration.corpusCardOracleSql)),
    Entry("q_term_search", "ts", CorpusCuration.termSearch _,
      Oracle(CorpusCuration.termSearchOracleSql)),
    // BM25 ranked search beside the boolean term search
    Entry("q_bm25_rank", "bm", ((s, d) => Retrieval.bm25Rank(s, d)),
      Oracle(Retrieval.bm25RankOracleSql)),
    // standing-search twin: same ranking served from the persisted
    // shard-partitioned postings index (sources.Bm25Index) — shares
    // bm25Rank's oracle, the q_bpe_persisted artifact-identity pattern
    Entry("q_bm25_indexed", "bmx", sources.Bm25Index.bm25Indexed _,
      Oracle(Retrieval.bm25RankOracleSql)),
    // time-travel index read: ranks AT pinned v1 (the %3≠2 slice)
    // while the v2 append exists — oracle recomputes v1's slice
    Entry("q_bm25_versioned", "bmv", sources.Bm25Index.bm25Versioned _,
      Oracle(sources.Bm25Index.bm25VersionedOracleSql)),
    // hybrid retrieval: integer-division reciprocal-rank fusion of the
    // BM25 and dense-cosine lists (full oracle — both lists are)
    Entry("q_hybrid_rrf", "rrf", ((s, d) => Retrieval.hybridRrf(s, d)),
      Oracle(Retrieval.hybridRrfOracleSql)),
    // MMR diversified rerank of the dense retrieval list (full oracle:
    // the greedy rounds unroll as generated CTEs)
    Entry("q_mmr_rerank", "mmr", ((s, d) => Retrieval.mmrRerank(s, d)),
      Oracle(Retrieval.mmrRerankOracleSql)),
    // exact-phrase ranked search (decontamination quote-lookup), and
    // its positional-postings standing twin — cell-equal, one oracle
    Entry("q_phrase_search", "ph", ((s, d) => Retrieval.phraseSearch(s, d)),
      Oracle(Retrieval.phraseSearchOracleSql)),
    Entry("q_phrase_indexed", "phx", sources.PhraseIndex.phraseIndexed _,
      Oracle(Retrieval.phraseSearchOracleSql)),
    // exchange-free co-located fact join from the bucketed layout
    Entry("q_bucketed_join", "bj", sources.Bucketed.bucketedJoin _,
      Oracle(sources.Bucketed.bucketedJoinOracleSql)),
    // time-travel read of a pinned snapshot version while a later
    // append exists (manifest-versioned dataset)
    Entry("q_snapshot_read", "snp", sources.Snapshots.snapshotRead _,
      Oracle(sources.Snapshots.snapshotReadOracleSql)),
    // append-only CDC over the same fixture: the 1→2 delta reads only
    // v2's new files (zero I/O against the standing corpus)
    Entry("q_snapshot_changes", "snc", sources.Snapshots.snapshotChanges _,
      Oracle(sources.Snapshots.snapshotChangesOracleSql)),
    // versioned keyed MERGE (keep-last upsert committed as a rewrite):
    // updates replace, inserts land, untouched rows carry forward —
    // the oracle recomputes the merged state closed-form
    Entry("q_snapshot_merge", "snm", sources.Snapshots.snapshotMerge _,
      Oracle(sources.Snapshots.snapshotMergeOracleSql)),
    // the merge CHANGE FEED (Delta CDF): the upsert delta across the
    // merge reads only the bounded changes/ files, never the corpus
    Entry("q_snapshot_merge_changes", "snx", sources.Snapshots.snapshotMergeChanges _,
      Oracle(sources.Snapshots.snapshotMergeChangesOracleSql)),
    // manifest-stats data skipping: the predicate prunes files at the
    // MANIFEST (zero footer I/O) and the oracle recomputes from the
    // predicate alone — skipping changes I/O, never results
    Entry("q_snapshot_read_pruned", "snq", sources.Snapshots.snapshotReadPruned _,
      Oracle(sources.Snapshots.snapshotReadPrunedOracleSql)),
    // planner-integrated skipping: the SAME predicate as an ordinary
    // DataFrame filter over a custom FileIndex — Catalyst's pushed
    // data filters reach the manifest stats prune, no StatsPred needed
    Entry("q_snapshot_scan_pruned", "sni", sources.Snapshots.snapshotScanPruned _,
      Oracle(sources.Snapshots.snapshotScanPrunedOracleSql)),
    // stats-pruned row-level DELETE (copy-on-write rewrites only the
    // stat-overlapping files) read back post-delete
    Entry("q_snapshot_delete", "snd", sources.Snapshots.snapshotDelete _,
      Oracle(sources.Snapshots.snapshotDeleteOracleSql)),
    // stats-pruned row-level UPDATE (copy-on-write with the Delta
    // pre+post change pair) read back post-update
    Entry("q_snapshot_update", "snu", sources.Snapshots.snapshotUpdate _,
      Oracle(sources.Snapshots.snapshotUpdateOracleSql)),
    // typed change feed: insert/delete rows attributed to their commits
    Entry("q_snapshot_change_feed", "snf", sources.Snapshots.snapshotChangeFeed _,
      Oracle(sources.Snapshots.snapshotChangeFeedOracleSql)),
    // per-file bloom membership skipping for point lookups on a
    // layout-uncorrelated column (min/max stats cannot prune those)
    Entry("q_snapshot_bloom_lookup", "snb", sources.Snapshots.snapshotBloomLookup _,
      Oracle(sources.Snapshots.snapshotBloomLookupOracleSql)),
    // Morton z-order layout: the SECOND z dimension pruned via
    // readWhere over a clusterZ'd artifact
    Entry("q_snapshot_zorder", "snz", sources.Snapshots.snapshotZorder _,
      Oracle(sources.Snapshots.snapshotZorderOracleSql)),
    // cross-version corpus drift: per version slice, unigram KL to the
    // union mixture (the JS decomposition) — the curation monitor
    // composed onto the versioned layer
    Entry("q_snapshot_drift", "snv", sources.Snapshots.snapshotDrift _,
      Oracle(sources.Snapshots.snapshotDriftOracleSql)),
    Entry("q_rate_anomaly", "rt", CorpusCuration.rateAnomaly _,
      Oracle(CorpusCuration.rateAnomalyOracleSql)),
    Entry("q_embed_drift", "em", CorpusCuration.embedDrift _,
      Oracle(CorpusCuration.embedDriftOracleSql)),
    Entry("q_pack_efficiency", "pke", CorpusCuration.packEfficiency _,
      Oracle(CorpusCuration.packEfficiencyOracleSql)),
    Entry("q_vocab_coverage", "vcv", CorpusCuration.vocabCoverage _,
      Oracle(CorpusCuration.vocabCoverageOracleSql)),
    // distributional-health monitors beside q_kl_drift: rank-frequency
    // slope (marginals) and conditional next-token entropy (transitions)
    Entry("q_zipf_fit", "zf", CorpusCuration.zipfFit _, Oracle(CorpusCuration.zipfFitOracleSql)),
    Entry("q_bigram_entropy", "bge", CorpusCuration.bigramEntropy _,
      Oracle(CorpusCuration.bigramEntropyOracleSql)),
    // Efraimidis-Spirakis exact-size quality-weighted sample
    Entry("q_weighted_sample", "ws", CorpusCuration.weightedSample _, Oracle(
      s"""WITH $sqlQualityCtes,
         |k AS (
         |  SELECT doc_id, quality,
         |    CAST(floor(ln(CAST(doc_id % ${CorpusCuration.WSampleP}
         |        * ${CorpusCuration.WSampleA} % ${CorpusCuration.WSampleP}
         |        + 1 AS DOUBLE) / ${CorpusCuration.WSampleP})
         |      / greatest(quality, ${CorpusCuration.WSampleMinW}) * 1e6)
         |      AS BIGINT) AS key_micro
         |  FROM qq)
         |SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id)
         |    AS INTEGER) AS rank, doc_id, quality, key_micro
         |FROM k ORDER BY key_micro DESC, doc_id
         |LIMIT ${CorpusCuration.WSampleK}""".stripMargin)),
    // §2.6c learned data-selection filters (round 8): NB curated-text
    // classifier (train/score/holdout-eval) + DSIR importance weights —
    // full DuckDB oracles down to the training computation itself
    Entry("q_nb_train", "nbt", operators.Classifier.nbTrain _,
      Oracle(operators.Classifier.nbTrainOracleSql)),
    Entry("q_nb_score", "nbs", operators.Classifier.nbScore _,
      Oracle(operators.Classifier.nbScoreOracleSql)),
    Entry("q_nb_eval", "nbe", operators.Classifier.nbEval _,
      Oracle(operators.Classifier.nbEvalOracleSql)),
    // threshold-free ranking quality: binned ROC-AUC on the holdout
    Entry("q_nb_auc", "nba", operators.Classifier.nbAuc _,
      Oracle(operators.Classifier.nbAucOracleSql)),
    Entry("q_dsir_weights", "dw", operators.Classifier.dsirWeights _,
      Oracle(operators.Classifier.dsirWeightsOracleSql)),
    Entry("q_dsir_select", "dws", operators.Classifier.dsirSelect _,
      Oracle(operators.Classifier.dsirSelectOracleSql)),
    // the cascade idiom: map-side heuristic gate prunes the stream
    // BEFORE the learned model's token join sees it
    // cascade oracle: the quality CTEs compose with the NB CTEs (CTE
    // names disjoint); the model is trained on the UNGATED fold — the
    // cascade gates scoring, not training
    Entry("q_filter_cascade", "fc", operators.Classifier.filterCascade _, Oracle(
      s"""WITH $sqlQualityCtes,
         |${operators.Classifier.nbSqlCtes}
         |SELECT b.doc_id, qq.quality,
         |  floor(CAST(coalesce(h.sx, 0) + p.p6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4
         |    AS nb_score,
         |  CASE WHEN coalesce(h.sx, 0) + p.p6 > 0 THEN 1 ELSE 0 END AS pred_cur
         |FROM base b JOIN qq USING (doc_id) LEFT JOIN hit h USING (doc_id), pri p
         |WHERE qq.quality >= ${operators.Classifier.CascadeQualityMin}
         |ORDER BY doc_id""".stripMargin)),
    // §2.7 multimodal metadata
    Entry("q_multimodal_meta", "mm", TextAnalysis.multimodalMeta _, Oracle(
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
         md5(text) AS content_md5, left(text, 16) AS prefix16
         FROM documents ORDER BY doc_id""")),
    // multimodal → embedding bridge: REAL ImageIO decode feeds a
    // pixel-statistic embedding; near-dup IMAGE pairs, full oracle
    // (closed-form generator recompute — the shard_balance contract)
    Entry("q_image_sim", "ims", sources.ImageSim.imageSim _, Oracle(sources.ImageSim.oracleSql)),
    // the audio mirror: REAL javax.sound sample decode feeds the
    // envelope+crossings embedding; near-dup CLIP pairs, full oracle
    Entry("q_audio_sim", "aus", sources.AudioSim.audioSim _, Oracle(sources.AudioSim.oracleSql)),
    // record linkage: blocked fuzzy join over planted dirty records —
    // blocking equi-join + levenshtein verify, full oracle
    Entry("q_entity_resolve", "ent", operators.EntityResolve.entityResolve _,
      Oracle(operators.EntityResolve.oracleSql)),
    // incremental twin: the arriving batch broadcasts into the blocked
    // standing store — O(batch x avg-block) work, never O(store^2)
    Entry("q_entity_resolve_incr", "eni", operators.EntityResolve.entityResolveIncremental _,
      Oracle(operators.EntityResolve.incrOracleSql)),
    // canonicalization: verified pairs -> connected components -> one
    // golden record per entity cluster (longest name, min-id tiebreak)
    Entry("q_entity_clusters", "enc", operators.EntityResolve.entityClusters _,
      Oracle(operators.EntityResolve.clustersOracleSql)),
    // §2.1b extended composed analytics
    Entry("q_anti_join", "an", ExtendedAnalytics.customersWithoutOrders _, Oracle(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")),
    Entry("q_semi_join", "se", ExtendedAnalytics.activeCustomers _, Oracle(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                       AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
         ORDER BY c_custkey""")),
    Entry("q_rollup", "rl", ExtendedAnalytics.rollupStatusPriority _, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""")),
    Entry("q_pivot", "pv", ExtendedAnalytics.pivotStatusPriority _, Oracle(
      """SELECT o_orderpriority AS priority,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
         FROM orders GROUP BY 1 ORDER BY priority""")),
    Entry("q_stratified_sample", "str", ExtendedAnalytics.stratifiedSample _, Oracle(
      """SELECT doc_id, lang, source FROM documents
         WHERE ((doc_id * 2654435761) % 2147483648) % 100 <
           CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 80 WHEN 'es' THEN 80
                     WHEN 'fr' THEN 80 WHEN 'zh' THEN 50 ELSE 0 END
         ORDER BY doc_id""")),
    Entry("q_data_split", "ds", ExtendedAnalytics.dataSplit _,
      Oracle(ExtendedAnalytics.dataSplitOracleSql)),
    Entry("q_keyed_sample", "ks", ExtendedAnalytics.keyedSample _, Oracle(
      s"""WITH h AS (
           SELECT lang, doc_id,
             (doc_id * ${operators.ExtendedAnalytics.KeyedSampleA}) % ${functions.TextFunctions.HashP} AS hkey
           FROM documents)
         SELECT lang, doc_id, hkey FROM h
         QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id)
           <= ${operators.ExtendedAnalytics.KeyedSampleK}
         ORDER BY lang, hkey, doc_id""")),
    // pretraining-mixture resampling: map-side hash filter against
    // broadcast per-lang thresholds from one aggregate scan
    Entry("q_domain_mix", "dmx", ExtendedAnalytics.domainMix _,
      Oracle(ExtendedAnalytics.domainMixOracleSql)),
    Entry("q_domain_mix_up", "dmu", ExtendedAnalytics.domainMixUpsample _,
      Oracle(ExtendedAnalytics.domainMixUpsampleOracleSql)),
    Entry("q_domain_mix_alpha", "dma", ExtendedAnalytics.domainMixAlpha _,
      Oracle(ExtendedAnalytics.domainMixAlphaOracleSql)),
    // GPT-style concat-and-chunk packing via two-phase prefix sum
    Entry("q_pack_sequences", "pc", ExtendedAnalytics.packSequences _,
      Oracle(ExtendedAnalytics.packSequencesOracleSql)),
    // distributed BPE vocabulary learning (operators.Bpe)
    Entry("q_bpe_merges", "bpm", operators.Bpe.bpeMerges _, Oracle(operators.Bpe.bpeOracleSql)),
    Entry("q_bpe_vocab", "bpv", operators.Bpe.bpeVocab _, Oracle(operators.Bpe.bpeVocabOracleSql)),
    // unigram-LM tokenizer (SentencePiece family): vocab, Viterbi
    // encode, E-step piece counts
    Entry("q_unigram_vocab", "uv", operators.Unigram.unigramVocab _,
      Oracle(operators.Unigram.unigramVocabOracleSql)),
    Entry("q_unigram_encode", "ue", operators.Unigram.unigramEncode _,
      Oracle(operators.Unigram.unigramEncodeOracleSql)),
    Entry("q_unigram_refit", "ur", operators.Unigram.unigramRefit _,
      Oracle(operators.Unigram.unigramRefitOracleSql)),
    Entry("q_bpe_encode", "bp", operators.Bpe.bpeEncode _,
      Oracle(operators.Bpe.bpeEncodeOracleSql)),
    // persisted-tokenizer round trip: save, reload, encode — the
    // artifact contract is output identity with q_bpe_encode, so the
    // two queries share one oracle
    Entry("q_bpe_persisted", "bpp", sources.TokenizerArtifact.encodePersisted _,
      Oracle(operators.Bpe.bpeEncodeOracleSql)),
    // sharded-export audit: the query reads the written artifact, the
    // oracle recomputes the portable-hash assignment from the corpus
    Entry("q_shard_balance", "shb", sources.Export.shardBalance _,
      Oracle(sources.Export.shardBalanceOracleSql)),
    Entry("q_bpe_fertility", "bpf", operators.Bpe.bpeFertility _,
      Oracle(operators.Bpe.bpeFertilityOracleSql)),
    // bloom runtime-filter pruning (plans.BloomMightContain)
    Entry("q_bloom_prefilter", "bl", operators.BloomPrune.prefilterRevenue _, Oracle(
      s"""SELECT o_orderpriority, count(*) AS n_items,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F'
           AND o_orderdate >= TIMESTAMP '${operators.BloomPrune.CutoffDate} 00:00:00'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")),
    // attachment-content extraction (sources.Attachments: binaryFile
    // tree round-trip — download stage + readable-content query)
    Entry("q_attachment_text", "at", sources.Attachments.attachmentText _,
      Oracle(sources.Attachments.oracleSql)),
    // block-tree + comments normalization (operators.BlockTree:
    // recursive page tree → ordered markdown lines, json_extract oracle)
    Entry("q_block_tree", "bt", operators.BlockTree.blockTree _,
      Oracle(operators.BlockTree.oracleSql)),
    // report-document assembly (operators.ReportDoc: the reference's
    // PDF-report sections/grouping/numbering as position-ordered lines)
    Entry("q_report_doc", "rd", operators.ReportDoc.reportDoc _,
      Oracle(operators.ReportDoc.oracleSql)),
    // paginated-API ingest (sources.PagedTasks: DataSource V2 over
    // response-envelope pages — parallel cursor chain, 429 retry,
    // pruned parse, keep-last merge)
    Entry("q_paged_ingest", "pg", sources.PagedTasks.pagedIngest _,
      Oracle(sources.PagedTasks.oracleSql)),
    Entry("q_vocab_topk", "vc", ExtendedAnalytics.vocabTopK _, Oracle(
      """SELECT token, count(*) AS df FROM (
           SELECT doc_id, unnest(list_distinct(
             regexp_extract_all(lower(text), '[a-z0-9]+'))) AS token
           FROM documents)
         GROUP BY token ORDER BY df DESC, token LIMIT 20""")),
    Entry("q_ngram_freq", "ng", ExtendedAnalytics.ngramFreqTopK _, Oracle(
      """SELECT ngram, count(*) AS df FROM (
           SELECT doc_id, unnest(sh) AS ngram FROM (
             SELECT doc_id, list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i + 2], ' '))) AS sh
             FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                   FROM documents)
             WHERE len(t) >= 3))
         GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""")),
    Entry("q_running_total", "rto", ExtendedAnalytics.runningTotal _, Oracle(
      """SELECT o_custkey, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2)
           AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""")),
    Entry("q_wow_change", "wo", ExtendedAnalytics.weekOverWeek _, Oracle(
      """WITH weekly AS (
           SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
             count(*) AS n
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT week, n,
           coalesce(n - lag(n, 1) OVER (ORDER BY week), 0) AS wow_change
         FROM weekly ORDER BY week""")),
    Entry("q_length_stats", "ls", ExtendedAnalytics.lengthStats _, Oracle(
      """SELECT lang, count(*) AS n, min(n_chars) AS min_chars,
         max(n_chars) AS max_chars,
         round(avg(n_chars), 4) AS avg_chars,
         round(quantile_cont(n_chars, 0.5), 4) AS median_chars
         FROM documents GROUP BY 1 ORDER BY lang""")),
    // custom whole-operator (plans.AsOfJoin: LogicalPlan+Strategy+Exec)
    Entry("q_asof_join", "as", ExtendedAnalytics.purchasesWithLastError _, Oracle(
      """SELECT p.event_id AS purchase_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         e.event_id AS error_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (
           -- pre-dedupe to one row per (user_id, ts): DuckDB's ASOF does
           -- not define which row wins a timestamp tie, so make the
           -- max-event_id tie-break (the Spark side's rightTieBreak)
           -- explicit here
           SELECT user_id, ts, max(event_id) AS event_id
           FROM events WHERE event_type = 'error' GROUP BY user_id, ts) e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY purchase_id""")),
    // bucketized range join (no nested loop: (user, ts-bucket) equi-join
    // with the probe exploded to its 2 covering buckets)
    Entry("q_interval_join", "it", ExtendedAnalytics.errorContext _, Oracle(
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, value,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events)
         |SELECT a.event_id, a.user_id,
         |  count(b.us) AS n_prior,
         |  round(coalesce(sum(b.value), 0), 2) AS prior_value
         |FROM (SELECT * FROM e WHERE event_type = 'error') a
         |LEFT JOIN e b ON b.user_id = a.user_id
         |  AND b.us >= a.us - ${operators.ExtendedAnalytics.IntervalUs}
         |  AND b.us < a.us
         |GROUP BY a.event_id, a.user_id
         |ORDER BY a.event_id""".stripMargin)),
    // SCD2 versioned-dimension build (keep-last dedup is the SCD1 half)
    Entry("q_scd2", "sc", ExtendedAnalytics.scd2Intervals _, Oracle(
      """SELECT user_id,
         |  CAST(row_number() OVER w AS INTEGER) AS version,
         |  event_type AS state,
         |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
         |  strftime(CAST(lead(ts, 1) OVER w AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS valid_to
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, version""".stripMargin)),
    // product-analytics staples over the event log
    Entry("q_funnel", "fu", ExtendedAnalytics.funnel _, Oracle(
      """WITH e AS (
         |  SELECT user_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events
         |), s1 AS (
         |  SELECT user_id, min(us) AS t FROM e
         |  WHERE event_type = 'signup' GROUP BY user_id
         |), s2 AS (
         |  SELECT e.user_id, min(us) AS t FROM e JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND us > s1.t GROUP BY e.user_id
         |), s3 AS (
         |  SELECT e.user_id, min(us) AS t FROM e JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND us > s2.t GROUP BY e.user_id
         |)
         |SELECT 1 AS stage_no, 'signup' AS stage,
         |       (SELECT count(*) FROM s1) AS users
         |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
         |ORDER BY stage_no""".stripMargin)),
    Entry("q_retention", "rtn", ExtendedAnalytics.retention _, Oracle(
      """WITH e AS (
         |  SELECT DISTINCT user_id,
         |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
         |  FROM events
         |), c AS (
         |  SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
         |)
         |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
         |  CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER) AS week_offset,
         |  count(DISTINCT e.user_id) AS users
         |FROM e JOIN c USING (user_id)
         |GROUP BY c.cohort_week, week_offset
         |ORDER BY cohort_week, week_offset""".stripMargin)),
    Entry("q_weekly_focus", "wk", TaskAnalytics.weeklyFocus _, Oracle(
      """WITH open_orders AS (
           SELECT o_orderkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN '1_IMMEDIATE'
                  WHEN o_orderdate < TIMESTAMP '1998-01-08 00:00:00' THEN '2_DUE_WEEK'
                  ELSE '3_BACKLOG' END AS section,
             CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                  WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
                  WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date
           FROM orders WHERE o_orderstatus = 'O'),
         ranked AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY section
             ORDER BY prio_score, order_date, o_orderkey) AS INTEGER) AS rank
           FROM open_orders)
         SELECT section, rank, o_orderkey, prio_score, order_date
         FROM ranked WHERE rank <= 15 ORDER BY section, rank""")),
    // sketches: both PORTABLE since r13 — q_approx_stats rides a KMV
    // bottom-k distinct sketch + integer-grid histogram median and
    // q_heavy_hitters a Count-Min sketch, each rebuilt bit-identically
    // by its DuckDB oracle (full hash gates; the relerr recall gates
    // additionally bound the estimates against exact answers)
    Entry("q_approx_stats", "apx", ExtendedAnalytics.approxStats _,
      Oracle(ExtendedAnalytics.approxStatsOracleSql)),
    Entry("q_heavy_hitters", "hh", operators.Sketches.heavyHitters _,
      Oracle(operators.Sketches.heavyHittersOracleSql)),
    Entry("q_schema_health", "sch", ExtendedAnalytics.schemaHealth _, Oracle(
      """SELECT 'o_orderkey' AS col_name, TRUE AS present,
             count(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct FROM orders
         UNION ALL
         SELECT 'o_orderstatus', TRUE,
             count(*) FILTER (WHERE o_orderstatus IS NULL),
             count(DISTINCT o_orderstatus) FROM orders
         UNION ALL
         SELECT 'o_orderdate', TRUE,
             count(*) FILTER (WHERE o_orderdate IS NULL),
             count(DISTINCT o_orderdate) FROM orders
         UNION ALL
         SELECT 'o_totalprice', TRUE,
             count(*) FILTER (WHERE o_totalprice IS NULL),
             count(DISTINCT o_totalprice) FROM orders
         UNION ALL
         SELECT 'o_comment_missing', FALSE, 0, 0
         ORDER BY col_name""")),
    // join-key skew diagnostic over the events fact
    Entry("q_skew_report", "sk", ExtendedAnalytics.skewReport _,
      Oracle(ExtendedAnalytics.skewReportOracleSql)),
    // first-order Markov transition matrix over event types
    Entry("q_event_transitions", "etr", ExtendedAnalytics.eventTransitions _,
      Oracle(ExtendedAnalytics.eventTransitionsOracleSql)),
    // top 3-step event-type paths (the multi-step habits a first-order
    // transition matrix flattens)
    Entry("q_event_paths", "epa", ExtendedAnalytics.eventPaths _,
      Oracle(ExtendedAnalytics.eventPathsOracleSql)),
    // log2-bucketed doc-length profile
    Entry("q_length_histogram", "lh", ExtendedAnalytics.lengthHistogram _,
      Oracle(ExtendedAnalytics.lengthHistogramOracleSql)),
    Entry("q_report_goals", "rg", ExtendedAnalytics.reportGoals _, Oracle(
      """SELECT o_orderkey,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders
         WHERE o_orderstatus = 'O'
           AND ((SELECT count(*) FROM orders WHERE o_orderstatus = 'O') <= 15
                OR o_orderdate <= TIMESTAMP '1998-01-15 00:00:00'
                OR CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                       WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
                       WHEN '5-LOW' THEN 4 ELSE 5 END <= 1)
         ORDER BY o_orderkey""")),
    Entry("q_moving_avg", "ma", ExtendedAnalytics.movingAvg _, Oracle(
      """WITH daily AS (
           SELECT date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS day_no,
             strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2)
         SELECT day, n,
           round(avg(n) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         FROM daily ORDER BY day""")),
    Entry("q_value_deciles", "dec", ExtendedAnalytics.valueDeciles _, Oracle(
      ("""WITH b AS (
           SELECT """ + (1 to 9).map(i =>
             s"floor(quantile_cont(o_totalprice, 0.$i) * 100 + 0.5) / 100 AS b$i")
             .mkString(", ") + """
           FROM orders),
         t AS (
           SELECT o_totalprice, CAST(1 """ + (1 to 9).map(i =>
             s"+ (CASE WHEN o_totalprice > b$i THEN 1 ELSE 0 END)").mkString(" ") + """
             AS INTEGER) AS decile
           FROM orders, b)
         SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
         FROM t GROUP BY 1 ORDER BY decile"""))),
    // custom bounded-heap operator (plans.TopKPerKey)
    Entry("q_topk_per_key", "tp", ExtendedAnalytics.topOrdersPerCustomer _, Oracle(
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) <= 3
         ORDER BY o_custkey, o_orderkey""")),
    Entry("q_cube", "cu", ExtendedAnalytics.cubeStatusPriority _, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""")),
    Entry("q_argmax", "am", ExtendedAnalytics.argmaxOrder _, Oracle(
      """SELECT o_custkey,
         max_by(o_orderkey,
           lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 15, '0')
             || lpad(CAST(o_orderkey AS VARCHAR), 15, '0'))
           AS best_orderkey,
         round(max(o_totalprice), 2) AS best_price
         FROM orders GROUP BY 1 ORDER BY o_custkey""")),
    Entry("q_string_funcs", "stf", ExtendedAnalytics.stringFuncs _, Oracle(
      """SELECT doc_id,
         CAST(levenshtein(left(text, 15), 'spark shuffle') AS INTEGER) AS lev,
         reverse(left(text, 8)) AS rev8,
         lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded,
         upper(left(text, 10)) AS up10
         FROM documents ORDER BY doc_id""")),
    Entry("q_date_funcs", "dt", ExtendedAnalytics.dateFuncs _, Oracle(
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(day(o_orderdate) AS INTEGER) AS d,
         CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
         CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
         CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
         strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
         strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
         FROM orders ORDER BY o_orderkey""")),
    Entry("q_set_ops", "so", ExtendedAnalytics.setOps _, Oracle(
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
              b AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
         SELECT (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS only_1996,
                (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)) AS only_1997,
                (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS both_years""")),
    // typed Aggregator (functions.WeightedMean)
    Entry("q_weighted_mean", "wm", ExtendedAnalytics.weightedMeanPrice _, Oracle(
      """SELECT l_returnflag,
         round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wmean
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),
  ), Bench.SharedBuilds)
}
