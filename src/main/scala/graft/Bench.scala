package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Session-persisted shared frames, materialized BEFORE the query
    * loop as `shared_*` pseudo-entries. Without this, the build cost
    * lands on whichever consumer runs first — r8 measured
    * `q_cluster_reps` absorbing ~47 of its 49 cpu-s building the
    * dedup pair pipeline that three other queries then rode, and the
    * HashMap iteration order silently reassigned that cost between
    * rounds. With the builds attributed here and the catalog iterated
    * SORTED, per-query numbers compare round-over-round. `short` keys
    * a build on the stdout line, as `SparkEntry.Entry.short` keys an
    * entry.
    */
  private[graft] final case class Shared(key: String, short: String,
                                         build: (SparkSession, String) => Unit)
  private[graft] val SharedBuilds: Seq[Shared] = Seq(
    Shared("shared_bpe_learner", "Sbp", graft.operators.Bpe.warmLearnedCache _),
    Shared("shared_bpe_encode", "Sbe", graft.operators.Bpe.warmEncodeCache _),
    Shared("shared_curation_frames", "Scf", graft.operators.CorpusCuration.warmCurationCache _),
    Shared("shared_dedup_pairs", "Sdp", graft.operators.Dedup.warmSharedCaches _),
    Shared("shared_nb_model", "Snb", graft.operators.Classifier.warmModelCache _),
    Shared("shared_report_frames", "Srf", graft.operators.ReportDoc.warmReportCache _),
    Shared("shared_text_pipeline", "Stp", graft.operators.TextAnalysis.warmPipelineCache _),
    Shared("shared_unigram_model", "Sug", graft.operators.Unigram.warmModelCache _))

  /** Per-(sf, cpus) detail file, e.g. `bench_detail_sf0.1_c8.json`:
    * a capture never overwrites another scale's or core count's.
    */
  private[graft] def detailFile(sfName: String, cpus: Int): java.nio.file.Path =
    java.nio.file.Paths.get(s"bench_detail_${sfName}_c$cpus.json")

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
    val sharedResults = SharedBuilds.map(b => measure(b.key)(b.build(spark, sfDir)))
    val entries = SparkEntry.catalog.sortBy(_.key)
    val queryResults = entries.map { e =>
      measure(e.key)(e.run(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
    val results = sharedResults ++ queryResults
    // The one-line JSON must fit the driver's 2000-char tail-capture
    // window even as the catalog grows: short keys (`Entry.short`),
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
    val short = (SharedBuilds.map(b => b.key -> b.short) ++ entries.map(e => e.key -> e.short)).toMap
    val qs = lineEntries.map { case (k, v, _, _, _) => s"\"" + short(k) + "\":" + fmt(1)(v) }
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
