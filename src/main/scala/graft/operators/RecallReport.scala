package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Driver-checked quality gate for every approximate catalog entry
  * (`q_recall_report`). The ANN variants and the sketches are rows-only
  * by nature — their outputs are engine-specific policies, not
  * SQL-reproducible values — so until this operator their recall/error
  * bounds lived ONLY in ScalaTest specs, invisible to the per-round
  * `CORRECTNESS_r*.json` gate (the round-9 verdict's top ask). This
  * query recomputes each bound against its exact in-catalog baseline
  * and emits one integer-thresholded verdict row per gate; the DuckDB
  * oracle is the static expected-verdict table generated from the SAME
  * [[Gates]] constants, so ANY bound regression flips a `pass` to
  * false and hash-fails the driver's correctness gate for the round.
  *
  * Output stays deterministic across testdata regenerations by
  * construction: only (gate, threshold_pct, pass) is emitted — the
  * measured values (which may legitimately move with a new corpus while
  * staying above threshold) are printed by RecallGateSpec, not compared.
  *
  * Distributed shape: the heavy work is the ANN searches themselves
  * (each already a probe-pruned scale path); every comparison then
  * happens over the driver-bounded top-k outputs (≤ NumQueries·TopK =
  * 50 rows per variant — the documented bounded-collect class). The
  * sketch gates reuse the catalog operators' own outputs plus one
  * corpus-stats aggregate scan.
  *
  * Thresholds are integer PERCENT, set from values measured at the
  * three shipped SFs (sf0.001 / sf0.01 / sf0.1, printed by the spec)
  * with a safety margin — tight enough that a real regression (a probe
  * set that stops covering, a codebook that stops training, a sketch
  * bound violation) trips the gate, loose enough that corpus-to-corpus
  * recall jitter does not.
  */
object RecallReport {

  /** ANN gates: (gate name, variant frame, exact-baseline KEY).
    * Recall@k = |variant ∩ exact| / |exact| over (q_id, neighbor_id)
    * pairs, floored to integer percent. Baselines are keyed so each
    * exact search runs ONCE per report (seven gates share the
    * unfiltered brute — re-running its corpus-sized join per gate
    * measured 7× waste in Bench).
    */
  private[graft] def annGates(s: SparkSession, dir: String)
      : Seq[(String, DataFrame, String)] = Seq(
    ("ann_lsh_recall5", Similarity.annLshTopK(s, dir), "brute"),
    ("ann_ivf_recall5", Similarity.annIvfTopK(s, dir), "brute"),
    ("ann_ivf2_recall5", Similarity.annIvfLearnedTopK(s, dir), "brute"),
    ("ann_pq_recall5", Similarity.annPqTopK(s, dir), "brute"),
    ("ann_sq_recall5", Similarity.annSqTopK(s, dir), "brute"),
    ("ann_bq_recall5", Similarity.annBqTopK(s, dir), "brute"),
    ("ann_opq_recall5", Similarity.annOpqTopK(s, dir), "brute"),
    ("ann_ivfpq_recall5", Similarity.annIvfPqTopK(s, dir), "brute"),
    ("ann_pq_indexed_recall5", graft.sources.PqIndex.annPqIndexed(s, dir),
      "brute"),
    ("ann_hnsw_recall5", GraphAnn.annHnswTopK(s, dir), "brute"),
    ("ann_hnsw_bucketed_recall5", GraphAnn.annHnswBucketedTopK(s, dir),
      "brute"),
    ("ann_hnsw_indexed_recall5", graft.sources.GraphIndex.annHnswIndexed(s, dir),
      "brute"),
    ("ann_ivf_filtered_recall5", Similarity.annIvfFilteredTopK(s, dir),
      "filtered"),
    ("hard_negatives_ivf_recall5", Similarity.hardNegativesIvf(s, dir),
      "hardneg"))

  /** Sketch gates: (gate name, threshold pct). Semantics per gate:
    *  - approx_users_relerr: max per-group relative error of the HLL
    *    distinct count vs exact, must be ≤ threshold pct;
    *  - approx_median_relerr: max per-group relative error of the KLL
    *    approximate median vs the exact interpolated percentile, ≤
    *    threshold pct;
    *  - cms_bounds: percent of probed heavy-hitter tokens satisfying
    *    BOTH Count-Min bounds (exact ≤ estimate ≤ exact + ε·N) — must
    *    be the full 100 (the bounds are structural: never undercount,
    *    overcount ≤ ε·N w.h.p. at ε = [[Sketches.CmsEps]]).
    */
  val ApproxUsersMaxErrPct = 10
  val ApproxMedianMaxErrPct = 5

  /** Every gate with its threshold — the single source the oracle SQL
    * is generated from.
    */
  val GateThresholds: Seq[(String, Int)] = Seq(
    "ann_lsh_recall5" -> 60, "ann_ivf_recall5" -> 55,
    "ann_ivf2_recall5" -> 55, "ann_pq_recall5" -> 90,
    "ann_sq_recall5" -> 90, "ann_bq_recall5" -> 70,
    "ann_opq_recall5" -> 90, "ann_ivfpq_recall5" -> 55,
    "ann_pq_indexed_recall5" -> 55, "ann_hnsw_recall5" -> 90,
    "ann_hnsw_bucketed_recall5" -> 85,
    "ann_hnsw_indexed_recall5" -> 90,
    // r16: SPANN closure (IvfClosureRep=8) took both filtered-IVF
    // gates from 48/64 (sf0.1) to 100 at all 3 SFs — thresholds
    // tightened to the hnsw family's 10-pt margin rule
    "ann_ivf_filtered_recall5" -> 90,
    "hard_negatives_ivf_recall5" -> 90,
    "approx_users_relerr" -> ApproxUsersMaxErrPct,
    "approx_median_relerr" -> ApproxMedianMaxErrPct,
    "cms_bounds" -> 100)

  /** Measured values per gate (integer pct, floored), for the spec's
    * printout and the threshold audit. For recall gates: recall@5 pct.
    * For error gates: the measured max relative error pct. For
    * cms_bounds: pct of probed tokens inside both bounds.
    */
  private[graft] def measured(s: SparkSession, dir: String): Seq[(String, Int)] = {
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("q_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each exact baseline runs once; the ≤50-row pair sets memoize
    val baselines = scala.collection.mutable.HashMap.empty[String, Set[(Long, Long)]]
    def baseline(key: String): Set[(Long, Long)] =
      baselines.getOrElseUpdate(key, key match {
        case "brute"    => pairSet(Similarity.annBruteTopK(s, dir))
        case "filtered" => pairSet(Similarity.annFilteredTopK(s, dir))
        case _          => pairSet(Similarity.hardNegatives(s, dir))
      })
    // the three exact baselines materialize first (single-threaded —
    // they memoize into the shared map), then the variant searches run
    // CONCURRENTLY: each is an independent bounded job and the report
    // otherwise serializes ~11 sub-second searches into the catalog's
    // most expensive entry (measured 11 s at sf0.1). Spark actions are
    // thread-safe; every per-dir memo the variants touch goes through
    // graft.plans.Memo.
    val gates = annGates(s, dir)
    gates.map(_._3).distinct.foreach(baseline)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    // sketch gates join the SAME concurrent block as the ANN searches
    // (they were serialized after it — dead wall time), and the pool
    // widened 4→8: rcr's wall is max-path over ~17 independent
    // bounded jobs, not their sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val annF = Future.sequence(gates.map { case (gate, variant, exactKey) =>
        Future {
          val want = baseline(exactKey)
          val got = pairSet(variant)
          val pct =
            if (want.isEmpty) 100 else ((want & got).size * 100) / want.size
          (gate, pct)
        }
      })
      // sketch gate 1+2: KMV distinct / grid median vs exact, per type
      val relerrF = Future {
        val approx = ExtendedAnalytics.approxStats(s, dir)
          .select(col("event_type"), col("approx_users"), col("approx_median_value"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val exactRows = Tables.events(s, dir)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("users"),
            expr("percentile(value, 0.5)").as("median_value"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        def maxErrPct(f: String => (Double, Double)): Int =
          exactRows.keys.map { k =>
            val (est, ex) = f(k)
            if (ex == 0.0) (if (est == 0.0) 0 else 100)
            else math.ceil(math.abs(est - ex) / math.abs(ex) * 100).toInt
          }.foldLeft(0)(math.max)
        (maxErrPct(k => (approx(k)._1.toDouble, exactRows(k)._1.toDouble)),
          maxErrPct(k => (approx(k)._2, exactRows(k)._2)))
      }
      // sketch gate 3: CMS bounds over the probed heavy hitters — the
      // memoized per-dir computation the catalog query already paid
      // for (token total included: no separate tokenize pass)
      val cmsF = Future {
        val (hh, totalTokens) = Sketches.heavyHittersWithTotal(s, dir)
        val epsN = math.ceil(Sketches.CmsEps * totalTokens).toLong
        val inBounds = hh.count { case (_, est, ex) =>
          ex <= est && est <= ex + epsN
        }
        if (hh.isEmpty) 100 else (inBounds * 100) / hh.length
      }
      val ann = Await.result(annF, Duration.Inf)
      val (usersErr, medianErr) = Await.result(relerrF, Duration.Inf)
      val cmsPct = Await.result(cmsF, Duration.Inf)
      ann ++ Seq(("approx_users_relerr", usersErr),
        ("approx_median_relerr", medianErr), ("cms_bounds", cmsPct))
    } finally pool.shutdown()
  }

  /** Measurement memo: the measurements are a pure function of the
    * table dir (every gated operator is deterministic per dir — the
    * Similarity.pqCodebook contract), so one full pass per session
    * serves every consumer (the catalog query, the spec's margin
    * printout, repeat Verify/Bench invocations, the trip-mechanism
    * test) instead of re-running the whole ANN family per call.
    */
  private[graft] def measuredCached(s: SparkSession, dir: String): Seq[(String, Int)] =
    graft.plans.Memo.value(s, dir, "recall.measured")(measured(s, dir))

  /** Verdicts against an explicit threshold set — the injection seam
    * the spec uses to PROVE the gate trips (a threshold the corpus
    * cannot meet must flip `pass` to false, which hash-fails the
    * round); production callers go through [[verdicts]].
    */
  /** Gate direction in one place (the provenance spec audits the
    * committed GATES_r16.json measurements through the same rule):
    * error gates pass at-or-below their bound, recall/coverage gates
    * at-or-above.
    */
  private[graft] def passes(gate: String, measuredPct: Int, t: Int): Boolean =
    gate match {
      case "approx_users_relerr" | "approx_median_relerr" => measuredPct <= t
      case _ => measuredPct >= t
    }

  private[graft] def verdictsWith(s: SparkSession, dir: String,
      th: Map[String, Int]): Seq[(String, Int, Int, Boolean)] =
    measuredCached(s, dir).map { case (gate, pct) =>
      val t = th(gate)
      (gate, pct, t, passes(gate, pct, t))
    }

  /** (gate, measured pct, threshold pct, pass) — the full verdicts. */
  private[graft] def verdicts(s: SparkSession, dir: String)
      : Seq[(String, Int, Int, Boolean)] =
    verdictsWith(s, dir, GateThresholds.toMap)

  /** The catalog query: one (gate, threshold_pct, pass) row per gate,
    * ordered by gate name — identical shape to the generated VALUES
    * oracle, so a failed gate hash-fails the round.
    */
  def report(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    verdicts(s, dir).map { case (gate, _, t, ok) => (gate, t, ok) }
      .toDF("gate", "threshold_pct", "pass").orderBy("gate")
  }

  /** DuckDB twin: the expected verdict table, generated from the same
    * [[GateThresholds]] — every gate must pass.
    */
  def oracleSql: String =
    "SELECT * FROM (VALUES " +
      GateThresholds.map { case (g, t) => s"('$g', $t, true)" }.mkString(", ") +
      ") AS t(gate, threshold_pct, pass) ORDER BY gate"
}
