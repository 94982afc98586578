package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Short keys for the stdout JSON line. The driver tail-captures
    * ~2000 chars and parses the LAST line; at 88 queries the full
    * `q_*` names measured 1903 chars — five more queries would
    * overflow the window and kill bench visibility (memory: rounds
    * 1–4 recorded `parsed:null`). Keys are 2 chars where the prefix is
    * unambiguous, 3 on collision. At 139 queries even the 2-char map
    * overflowed (1538 chars worst-case), so the line now carries only
    * the [[LineTopK]] slowest queries plus every failure (negative
    * value = the alarm) and an "nq" count; the COMPLETE per-query
    * wall+cpu map with full names goes to the [[detailFile]]. The
    * budget is now catalog-size-INDEPENDENT — BenchLineSpec pins
    * uniqueness and the worst-case length.
    */
  private[graft] val ShortKey = Map(
    "q1_pricing_summary" -> "q1", "q3_top_revenue" -> "q3",
    "q5_region_volume" -> "q5", "q_active_projects" -> "ap",
    "q_ann_brute_topk" -> "ab", "q_ann_ivf2_topk" -> "ai",
    "q_ann_ivf_topk" -> "aiv", "q_ann_ivfpq_topk" -> "aip",
    "q_ann_lsh_topk" -> "al", "q_ann_pq_indexed" -> "api", "q_ann_advisor" -> "aad",
    "q_ann_advisor_filtered" -> "adf",
    "q_ann_pq_topk" -> "apq", "q_ann_opq_topk" -> "ao", "q_ann_sq_topk" -> "asq",
    "q_ann_bq_topk" -> "abq", "q_ann_hnsw_topk" -> "ahn",
    "q_ann_hnsw_indexed" -> "ahx",
    "q_anti_join" -> "an",
    "q_approx_stats" -> "apx", "q_argmax" -> "am",
    "q_asof_join" -> "as", "q_attachment_text" -> "at",
    "q_backlog_rank" -> "bk", "q_block_tree" -> "bt",
    "q_bloom_prefilter" -> "bl", "q_bpe_encode" -> "bp",
    "q_bpe_fertility" -> "bpf", "q_bpe_merges" -> "bpm",
    "q_bpe_vocab" -> "bpv", "q_chunk_docs" -> "ch",
    "q_clean_pipeline" -> "cl", "q_clean_text" -> "clt",
    "q_contamination" -> "ct", "q_contamination_score" -> "cts",
    "q_cooccur" -> "co", "q_corpus_pipeline" -> "cor",
    "q_cube" -> "cu", "q_data_split" -> "ds",
    "q_date_funcs" -> "dt", "q_dedup_clusters" -> "dc",
    "q_dedup_containment" -> "dct", "q_dedup_embedding" -> "de",
    "q_dedup_exact" -> "dex", "q_dedup_incremental" -> "di",
    "q_dedup_keep_last" -> "dk", "q_dedup_minhash" -> "dm",
    "q_dedup_ngram_jaccard" -> "dn", "q_dedup_semantic" -> "dse",
    "q_dedup_simhash" -> "dsh", "q_dedup_span" -> "dsn",
    "q_doc_fingerprint" -> "fg", "q_domain_mix" -> "dmx",
    "q_domain_mix_alpha" -> "dma", "q_domain_mix_up" -> "dmu",
    "q_embed_drift" -> "em", "q_epoch_shuffle" -> "ep",
    "q_event_window_agg" -> "ev", "q_filter_tags" -> "ft",
    "q_funnel" -> "fu", "q_gopher_filter" -> "go",
    "q_heavy_hitters" -> "hh", "q_hierarchy_rollup" -> "hi",
    "q_interval_join" -> "it", "q_json_normalize" -> "jn",
    "q_json_props" -> "jp", "q_keyed_sample" -> "ks",
    "q_kl_drift" -> "kl", "q_lang_id" -> "ln",
    "q_lang_mismatch" -> "lm", "q_length_stats" -> "ls",
    "q_lm_score" -> "lms", "q_markdown_runs" -> "md",
    "q_moving_avg" -> "ma", "q_multimodal_meta" -> "mm",
    "q_nb_train" -> "nbt", "q_nb_score" -> "nbs",
    "q_nb_eval" -> "nbe", "q_nb_auc" -> "nba",
    "q_dsir_weights" -> "dw", "q_dsir_select" -> "dws",
    "q_filter_cascade" -> "fc", "q_char_entropy" -> "ce",
    "q_pipeline_yield" -> "py", "q_blocklist_filter" -> "bf",
    "q_skew_report" -> "sk", "q_corpus_card" -> "cc",
    "q_event_transitions" -> "etr", "q_zipf_fit" -> "zf",
    "q_bigram_entropy" -> "bge", "q_bpe_persisted" -> "bpp",
    "q_bm25_rank" -> "bm", "q_bm25_indexed" -> "bmx", "q_hybrid_rrf" -> "rrf",
    "q_bm25_versioned" -> "bmv",
    "q_mmr_rerank" -> "mmr",
    "q_phrase_search" -> "ph", "q_phrase_indexed" -> "phx",
    "q_bucketed_join" -> "bj", "q_snapshot_read" -> "snp",
    "q_snapshot_changes" -> "snc", "q_snapshot_merge" -> "snm",
    "q_snapshot_read_pruned" -> "snq", "q_snapshot_merge_changes" -> "snx",
    "q_snapshot_scan_pruned" -> "sni",
    "q_snapshot_delete" -> "snd", "q_snapshot_change_feed" -> "snf",
    "q_snapshot_update" -> "snu",
    "q_snapshot_bloom_lookup" -> "snb", "q_snapshot_zorder" -> "snz",
    "q_snapshot_drift" -> "snv",
    "q_knn_label_acc" -> "kla", "q_dup_matrix" -> "dxm",
    "q_event_paths" -> "epa", "q_shard_balance" -> "shb",
    "q_weighted_sample" -> "ws", "q_cluster_reps" -> "crp",
    "q_length_histogram" -> "lh", "q_unigram_vocab" -> "uv",
    "q_unigram_encode" -> "ue", "q_unigram_refit" -> "ur",
    "q_ngram_freq" -> "ng", "q_normalize_status" -> "ns",
    "q_novelty" -> "no", "q_oldest_pending" -> "ol",
    "q_overdue" -> "ov", "q_pack_efficiency" -> "pke", "q_pack_sequences" -> "pc",
    "q_paged_ingest" -> "pg", "q_parent_join" -> "pj",
    "q_period_report" -> "pr", "q_pii_scrub" -> "pi",
    "q_pivot" -> "pv", "q_ppl_buckets" -> "pp",
    "q_priority_dist" -> "pd", "q_project_flags" -> "pf",
    "q_quality_calibration" -> "qc", "q_quality_sample" -> "qs",
    "q_quality_score" -> "qsc", "q_rate_anomaly" -> "rt",
    "q_repetition" -> "re", "q_report_doc" -> "rd",
    "q_report_goals" -> "rg", "q_retention" -> "rtn",
    "q_rollup" -> "rl", "q_running_total" -> "rto",
    "q_scd2" -> "sc", "q_schema_health" -> "sch",
    "q_semi_join" -> "se", "q_session_window" -> "ss",
    "q_sessionize" -> "ssz", "q_set_ops" -> "so",
    "q_source_overlap" -> "sov", "q_source_rank" -> "srk", "q_source_sim" -> "ssm",
    "q_span_scrub" -> "ssc", "q_status_dist" -> "st",
    "q_status_summary" -> "sts", "q_stratified_sample" -> "str",
    "q_string_funcs" -> "stf", "q_term_search" -> "ts",
    "q_tfidf_top_terms" -> "tf", "q_token_budget" -> "tb",
    "q_token_count" -> "to", "q_topk_per_key" -> "tp",
    "q_uncategorized" -> "un", "q_value_deciles" -> "dec",
    "q_vocab_coverage" -> "vcv", "q_vocab_topk" -> "vc", "q_weekly_focus" -> "wk",
    "q_weekly_velocity" -> "wkv", "q_weighted_mean" -> "wm",
    "q_wow_change" -> "wo",
    "q_topic_clusters" -> "tcl", "q_prototype_prune" -> "ppr",
    "q_cluster_mix" -> "cmx", "q_ann_filtered_topk" -> "af",
    "q_ann_ivf_filtered_topk" -> "aif", "q_hard_negatives" -> "hng",
    "q_hard_negatives_ivf" -> "hni", "q_recall_report" -> "rcr",
    "q_image_sim" -> "ims", "q_audio_sim" -> "aus", "q_entity_resolve" -> "ent",
    "q_entity_resolve_incr" -> "eni", "q_entity_clusters" -> "enc",
    "shared_bpe_learner" -> "Sbp", "shared_bpe_encode" -> "Sbe",
    "shared_curation_frames" -> "Scf",
    "shared_dedup_pairs" -> "Sdp", "shared_nb_model" -> "Snb",
    "shared_report_frames" -> "Srf", "shared_text_pipeline" -> "Stp",
    "shared_unigram_model" -> "Sug")

  /** Session-persisted shared frames, materialized BEFORE the query
    * loop as `shared_*` pseudo-entries. Without this, the build cost
    * lands on whichever consumer runs first — r8 measured
    * `q_cluster_reps` absorbing ~47 of its 49 cpu-s building the
    * dedup pair pipeline that three other queries then rode, and the
    * HashMap iteration order silently reassigned that cost between
    * rounds. With the builds attributed here and the catalog iterated
    * SORTED, per-query numbers compare round-over-round.
    */
  private[graft] val SharedBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "shared_bpe_learner" -> ((s, d) => graft.operators.Bpe.warmLearnedCache(s, d)),
    "shared_bpe_encode" -> ((s, d) => graft.operators.Bpe.warmEncodeCache(s, d)),
    "shared_curation_frames" -> ((s, d) => graft.operators.CorpusCuration.warmCurationCache(s, d)),
    "shared_dedup_pairs" -> ((s, d) => graft.operators.Dedup.warmSharedCaches(s, d)),
    "shared_nb_model" -> ((s, d) => graft.operators.Classifier.warmModelCache(s, d)),
    "shared_report_frames" -> ((s, d) => graft.operators.ReportDoc.warmReportCache(s, d)),
    "shared_text_pipeline" -> ((s, d) => graft.operators.TextAnalysis.warmPipelineCache(s, d)),
    "shared_unigram_model" -> ((s, d) => graft.operators.Unigram.warmModelCache(s, d)))

  /** Per-(sf, cpus) detail file, e.g. `bench_detail_sf0.1_c8.json`:
    * a capture never overwrites another scale's or core count's.
    */
  private[graft] def detailFile(sfName: String, cpus: Int): java.nio.file.Path =
    java.nio.file.Paths.get(s"bench_detail_${sfName}_c$cpus.json")

  private[graft] def shortKey(name: String): String =
    ShortKey.getOrElse(name, name.stripPrefix("q_"))

  /** Slowest-queries count carried on the stdout line (the heads anyone
    * reads first; the full map is in the detail file).
    */
  private[graft] val LineTopK = 12

  /** Failure entries carried on the stdout line. Failures always led
    * the line uncapped until r9 — but a mass failure (bad testdata dir
    * failing most of the catalog) then produced a >1500-char line and
    * killed driver-tail visibility exactly when the alarm mattered.
    * The first [[LineFailCap]] ride with their negative values; "nfail"
    * carries the true count.
    */
  private[graft] val LineFailCap = 12

  /** 1-min load-average ceiling for an honest capture. Above it the
    * bench marks its output contaminated ("ctm":1 on the line,
    * "contaminated": true in the detail file) rather than refusing:
    * the driver's per-round capture must always produce a line, but a
    * loaded-start capture must never be read as a comparable absolute
    * number (the r14/r15 cross-round comparisons were rescued only by
    * same-machine A/B reruns). 2.0 on a 32-core box is background
    * noise, not a competing workload.
    */
  private[graft] val LoadGate = 2.0

  /** Hard cap on the wait-for-idle loop below (ms). A 1-min load
    * average decays by ~half per idle minute, so three minutes is
    * enough for a finished contender's tail to clear the gate; a
    * contender still RUNNING at the cap won't clear it no matter how
    * long we wait — proceed flagged (the r16 lesson: BENCH_r16 started
    * timing straight into a load-4 window and the round's real ~0.72×
    * read as a 2× regression; the capture must still always produce a
    * line, so the gate waits bounded and then marks, never refuses).
    */
  private[graft] val WaitIdleCapMs = 180000L

  def main(args: Array[String]): Unit = {
    // AMBIENT load, sampled before the JVM/codegen warmup saturates
    // the cores: the gate must measure the machine we arrived on, not
    // our own warmup (a 32-thread warmup alone lifts the 1-min
    // average past 2 — measured 2.4 on a 0.05-idle box, which made
    // the gate flag every capture including truly idle ones)
    val osBean0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val entryLoad = osBean0.getSystemLoadAverage
    // Bounded wait-for-idle (r17): if we arrived on a loaded machine,
    // poll the ambient 1-min average until it clears [[LoadGate]] or
    // [[WaitIdleCapMs]] elapses — BEFORE the session/warmup work, so
    // the wait costs nothing but wall time. gateLoad is the load the
    // TIMED run actually started into; waitedSec records the pause
    // (both land in the detail file, "wt" on the line).
    var gateLoad = entryLoad
    val waitT0 = System.nanoTime()
    while (gateLoad > LoadGate &&
        (System.nanoTime() - waitT0) < WaitIdleCapMs * 1000000L) {
      Thread.sleep(5000)
      gateLoad = osBean0.getSystemLoadAverage
    }
    val waitedSec = (System.nanoTime() - waitT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.Cpus
    val spark = Session(cpus)
    // Warm the JVM/codegen paths once so the first measured query doesn't
    // absorb JIT + session initialization. The flagship alone leaves the
    // window/HOF/aggregate codegen paths cold, and the first measured
    // query then swings up to 3x run-to-run (observed 18 s vs 3.7 s for
    // the same query in BENCH_r05 trial runs) — touch each major path
    // against each table once, unmeasured. These are generic plans, not
    // catalog queries: per-query session state (caches, fixture trees)
    // still costs the query that builds it.
    locally {
      import org.apache.spark.sql.functions._
      // each warmup fails independently — one missing table must not
      // silently skip the rest and reintroduce the first-query swing
      def warm(df: => org.apache.spark.sql.DataFrame): Unit =
        try df.write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
      warm(SparkEntry.entry(spark))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts")
      warm(Tables.events(spark, sfDir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1))
      warm(Tables.documents(spark, sfDir)
        .select(aggregate(graft.functions.TextFunctions.tokens(col("text")),
          lit(0L), (a, x) => a + length(x)).as("n"))
        .agg(sum("n")))
      warm(Tables.embeddings(spark, sfDir)
        .select(graft.plans.ArrayOps.dotF(col("embedding"), col("embedding")).as("d"))
        .agg(sum("d")))
    }
    // per-query executor cpu, gc and bytes read (see Meter)
    val meter = new Meter(spark.sparkContext)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // noop sink forces the FULL plan (count() would let Catalyst prune
    // the projections being measured).
    // failed queries record NEGATIVE elapsed time — the JSON stays
    // machine-readable and a failure can't masquerade as a fast run
    // (clamped to [-9.9, -0.1]: the sign IS the failure signal, so the
    // magnitude caps at one digit to keep the worst-case line width
    // inside the driver's tail window as the catalog grows; a
    // sub-50-ms analysis failure survives the 1-dp trim as "-0.1",
    // never "-0", and the true elapsed time is in the detail file)
    def measure(name: String)(run: => Unit): (String, Double, Double, Double, Long) = {
      val m = meter.measure(run)
      m.error.foreach(e => System.err.println(s"[bench] $name: $e"))
      val dt = m.wallS
      // per-query value clamped to ±99.9: a >100 s query at sf0.1 is a
      // catastrophe either way, and the cap bounds the JSON line width
      // (the driver tail-captures ~2000 chars — BenchLineSpec)
      val clamped = math.min(dt, 99.9)
      (name, if (m.error.isEmpty) clamped else -math.min(math.max(dt, 0.1), 9.9),
        m.cpuS, m.gcS, m.readBytes)
    }
    // shared builds first (attributed pseudo-entries), then the catalog
    // in SORTED name order — deterministic attribution round-over-round
    // (HashMap order reassigned shared costs between rounds otherwise).
    val sharedResults = SharedBuilds.map { case (name, warmFn) =>
      measure(name)(warmFn(spark, sfDir))
    }
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      measure(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
    val results = sharedResults ++ queryResults
    // The one-line JSON must fit the driver's 2000-char tail-capture
    // window even as the catalog grows: short keys (ShortKey above),
    // per-query times at 1 dp with trailing zeros trimmed, total at
    // 2 dp. Aggregate cpu seconds + load averages ride the line as the
    // contention indicators; the per-query cpu detail (with FULL query
    // names) goes to the detail file beside the repo.
    def fmt(dp: Int)(v: Double): String = {
      val s = if (dp == 1) f"$v%.1f" else f"$v%.2f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    // At 139 queries even 2-char keys overflow the window (measured
    // 1538 chars worst-case at 139) — the line carries only the
    // slowest LineTopK plus the first LineFailCap failures (negative
    // value = the alarm; "nfail" carries the true count so a mass
    // failure still reads as one even when most names are elided —
    // an uncapped failure list at catalog scale was itself a window
    // overflow); the complete per-query map lives in
    // the detail file, and "nq" says how many catalog queries ran.
    val fails = results.filter(_._2 < 0)
    val lineEntries = fails.take(LineFailCap) ++
      results.filter(_._2 >= 0).sortBy(-_._2).take(LineTopK)
    val qs = lineEntries.map { case (k, v, _, _, _) => s"\"" + shortKey(k) + "\":" + fmt(1)(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(r => math.abs(r._2)).sum else 0.0
    val cpuTotal = results.map(_._3).sum
    // cache hygiene for any embedding process that keeps the session
    // alive: drop everything the run derived from the dir
    graft.plans.Memo.release(spark, sfDir)
    val load1 = osBean.getSystemLoadAverage
    // Idle-capture gate (r16): absolute bench numbers captured under
    // ambient machine load are not comparable round-over-round
    // (BENCH_r15 read +13% purely from a load-5.4 start window; the
    // same-machine A/B had to rescue the comparison). The bench must
    // still produce a line — the driver's capture can't be refused —
    // so a loaded start MARKS the capture instead: "ctm":1 on the
    // stdout line and "contaminated": true in the detail file are
    // the explicit do-not-compare flag.
    val contaminated = gateLoad > LoadGate
    // sf as the basename only ("sf0.1"), not the full path: every char
    // counts against the tail window.
    val sfName = new java.io.File(sfDir).getName
    val line = s"""{"metric":"total","value":${fmt(2)(total)},"unit":"sec","queries":$qs,""" +
      s""""nq":${queryResults.size},"nfail":${fails.size},"cpu":${fmt(1)(cpuTotal)},""" +
      s""""ld":[${fmt(2)(gateLoad)},${fmt(2)(load1)}],"ctm":${if (contaminated) 1 else 0},""" +
      s""""wt":${waitedSec.round},"sf":"$sfName"}"""
    // Full-name per-query wall+cpu record for contention forensics —
    // not budget-bound, so keep full precision here.
    val detail = results.map { case (k, v, c, g, rb) =>
      s"""  "$k": {"sec": ${f"$v%.3f"}, "cpu": ${f"$c%.3f"}, "gc": ${f"$g%.2f"}, "readMB": ${f"${rb / 1048576.0}%.1f"}}"""
    }.mkString(
      s"""{\n "sf": "$sfName", "cpus": $cpus, "load": [$gateLoad, $load1], "contaminated": $contaminated,""" +
      s""" "entry_load": $entryLoad, "wait_sec": ${f"$waitedSec%.1f"},\n "queries": {\n""",
      ",\n", "\n }\n}\n")
    try java.nio.file.Files.write(detailFile(sfName, cpus), detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write: $e") }
    // Stop Spark BEFORE printing so shutdown-time log lines can't land
    // after the JSON and push it out of a last-line/tail parse.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
