package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.Bridge
import scala.collection.mutable

/** One benchmark run in a fresh JVM: builds the session, loads the
  * workload's tables, then runs the workload's op list in a fixed number of
  * closed-loop passes, one op at a time (pass 0 is the cold pass). Every
  * measurement is taken from outside graft, around calls into its public
  * entry points. Writes one JSON result (and, when traced, a span file)
  * for `run.py` to check and summarize.
  *
  * Usage: Harness <config.properties>
  */
object Harness {
  // ---- configuration --------------------------------------------------------

  final case class Conf(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
    def get(k: String, d: String): String = p.getProperty(k, d)
    def list(k: String): Seq[String] = get(k, "").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // ---- clock ----------------------------------------------------------------

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---- listener -------------------------------------------------------------

  final class JobRec(val id: Int, val group: String, val start: Double) {
    var end: Double = Double.NaN
    var ok = true
    val stages = mutable.ArrayBuffer.empty[Int]
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var lastTaskEnd = 0.0
    var tasks = 0
  }
  final class StageRec(val id: Int, val job: Int) {
    var submit = Double.NaN
    var complete = Double.NaN
    var firstLaunch = Double.PositiveInfinity
  }

  /** Records every job, stage and task end, keyed by the job group the
    * harness set before the call that launched the job.
    */
  final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    @volatile var blockPuts = 0L
    @volatile var blockDrops = 0L
    @volatile var liveCachedRdds: Set[Int] = Set.empty

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobRec(e.jobId, g, e.time.toDouble)
      e.stageInfos.foreach { si =>
        j.stages += si.stageId
        if (!stages.contains(si.stageId)) stages(si.stageId) = new StageRec(si.stageId, e.jobId)
      }
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach(s =>
        e.stageInfo.submissionTime.foreach(t => s.submit = t.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        e.stageInfo.submissionTime.foreach(t => if (s.submit.isNaN) s.submit = t.toDouble)
        e.stageInfo.completionTime.foreach(t => s.complete = t.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stages.get(e.stageId)
      st.foreach(s => s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime.toDouble))
      for (s <- st; j <- jobs.get(s.job)) {
        j.tasks += 1
        j.lastTaskEnd = math.max(j.lastTaskEnd, e.taskInfo.finishTime.toDouble)
        val t = e.taskMetrics
        if (t != null) {
          val m = j.m
          m("exec.cpu_s") += t.executorCpuTime / 1e9
          m("exec.run_s") += t.executorRunTime / 1e3
          m("exec.gc_s") += t.jvmGCTime / 1e3
          m("exec.deser_s") += (t.executorDeserializeTime / 1e3 + t.resultSerializationTime / 1e3)
          m("exec.peak_mem_mb") = math.max(m("exec.peak_mem_mb"), t.peakExecutionMemory / 1048576.0)
          m("shuffle.write_mb") += t.shuffleWriteMetrics.bytesWritten / 1048576.0
          m("shuffle.write_s") += t.shuffleWriteMetrics.writeTime / 1e9
          m("shuffle.read_mb") += t.shuffleReadMetrics.totalBytesRead / 1048576.0
          m("shuffle.fetch_wait_s") += t.shuffleReadMetrics.fetchWaitTime / 1e3
          m("spill.mem_mb") += t.memoryBytesSpilled / 1048576.0
          m("spill.disk_mb") += t.diskBytesSpilled / 1048576.0
          m("scan.input_mb") += t.inputMetrics.bytesRead / 1048576.0
          m("scan.rows") += t.inputMetrics.recordsRead.toDouble
          if (t.inputMetrics.bytesRead > 0) m("scan.tasks") += 1
          m("out.bytes") += t.outputMetrics.bytesWritten.toDouble
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case org.apache.spark.storage.RDDBlockId(rdd, _) =>
          if (b.storageLevel.isValid) blockPuts += 1
          else if (liveCachedRdds.contains(rdd)) blockDrops += 1
        case _ => ()
      }
    }
  }

  // ---- op records -----------------------------------------------------------

  final class OpRec(val pass: Int, val idx: Int, val name: String, val kind: String,
      val traced: Boolean) {
    var start = 0.0
    var end = 0.0
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    var ok = true
    var err = ""
    var rows = -1L
    var digest = 0L
    val m = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    def wallS: Double = (end - start) / 1e3
    def group(phase: String): String = s"$pass|$idx|$phase"
  }

  // ---- JSON -----------------------------------------------------------------

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jn(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")

  // ---- session --------------------------------------------------------------

  def session(c: Conf): SparkSession = {
    val cores = c("cores")
    val work = c("work")
    val spark = graft.ShuffleDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val Loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> graft.Tables.region _, "nation" -> graft.Tables.nation _,
    "customer" -> graft.Tables.customer _, "supplier" -> graft.Tables.supplier _,
    "part" -> graft.Tables.part _, "orders" -> graft.Tables.orders _,
    "lineitem" -> graft.Tables.lineitem _, "events" -> graft.Tables.events _,
    "documents" -> graft.Tables.documents _, "embeddings" -> graft.Tables.embeddings _)

  def dirBytes(root: java.io.File): Long =
    if (!root.exists) 0L
    else if (root.isFile) root.length
    else Option(root.listFiles).toSeq.flatten.map(dirBytes).sum

  /** Live heap: occupancy right after a full collection, forced between
    * passes (outside every timed span).
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def localPath(f: String): java.io.File = new java.io.File(new java.net.URI(f).getPath)

  def rowCrc(r: org.apache.spark.sql.Row): Long = {
    val crc = new java.util.zip.CRC32
    val s = Seq("doc_id", "rev", "text", "lang", "source", "n_chars")
      .map(c => String.valueOf(r.getAs[Any](c))).mkString("|")
    crc.update(s.getBytes("UTF-8"))
    crc.getValue
  }

  // ---- main -----------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val c = Conf(props)
    val launchMs = c("launch_ms").toDouble
    val dataDir = c("data")

    val spark = session(c)
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    c.list("tables").foreach(t => Loaders(t)(spark, dataDir).schema)
    val ops = c.list("ops")
    val catalog = graft.SparkEntry.queries
    val unknown = ops.filterNot(catalog.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[graftbench] unknown ops: ${unknown.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val snapshot = c.get("snap_root", "").nonEmpty
    val root = c.get("snap_root", "")
    if (snapshot) {
      // the workload's table: the base documents, range-clustered by key
      import org.apache.spark.sql.functions.col
      graft.sources.Snapshots.create(spark, root, spark.read.parquet(c("snap_base"))
        .repartitionByRange(c("cluster_parts").toInt, col("doc_id")).sortWithinPartitions("doc_id"))
    }
    val setupEnd = nowMs()
    val passes = c("passes").toInt
    val traceMode = c("trace") == "1"
    val records = mutable.ArrayBuffer.empty[OpRec]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val passGauges = mutable.Map.empty[Int, Map[String, Double]]
    val snapInfo = mutable.LinkedHashMap.empty[String, String]

    // A traced run traces the cold pass and warm passes in the order
    // traced, untraced, untraced, traced, ... so that the warm passes
    // still speeding up (JIT) do not bias the tracing overhead, which is
    // the traced passes' median wall over the untraced ones'.
    def tracedPass(p: Int): Boolean = traceMode && (p == 0 || p % 4 == 0 || p % 4 == 1)

    def gauges(): Map[String, Double] = {
      Bridge.drain(sc)
      val infos = sc.getRDDStorageInfo
      rec.liveCachedRdds = sc.getPersistentRDDs.keySet.toSet
      Map("memo.cached_mb" -> infos.map(i => (i.memSize + i.diskSize) / 1048576.0).sum,
        "memo.block_puts" -> rec.blockPuts.toDouble,
        "memo.evicted_blocks" -> rec.blockDrops.toDouble,
        "codegen.compile_s" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
        "codegen.classes" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    }

    /** Runs one op: `body` receives a phase function that times a named
      * phase under its own job group.
      */
    def op(pass: Int, idx: Int, name: String, kind: String)(
        body: ((String, => Any) => Any) => Unit): OpRec = {
      val r = new OpRec(pass, idx, name, kind, tracedPass(pass))
      if (r.traced) Bridge.drain(sc)
      r.start = nowMs()
      try body { (phase, f) =>
        sc.setJobGroup(r.group(phase), name)
        val t0 = nowMs()
        try f finally r.phases += ((phase, t0, nowMs()))
      } catch {
        case e: Throwable =>
          r.ok = false
          r.err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[graftbench] $name failed: ${r.err}")
      }
      r.end = nowMs()
      sc.clearJobGroup()
      records += r
      r
    }

    // ---- workloads ----------------------------------------------------------

    def catalogPass(p: Int): Unit =
      ops.zipWithIndex.foreach { case (name, i) =>
        var df: DataFrame = null
        var res = (-1L, 0L)
        val r = op(p, i, name, "read") { phase =>
          df = phase("construct", catalog(name)(spark, dataDir)).asInstanceOf[DataFrame]
          phase("plan", df.queryExecution.executedPlan)
          phase("execute", { res = Bridge.digest(df) })
        }
        r.rows = res._1
        r.digest = res._2
        if (r.ok) {
          val qe = df.queryExecution
          val ph = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach(k =>
            r.m(s"plan.${k}_s") = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0))
          if (r.traced) {
            val plan = qe.executedPlan.toString
            r.m("memo.hit") =
              if (plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation")) 1.0 else 0.0
          }
        }
      }

    // snapshot_upsert state
    import graft.sources.Snapshots
    import graft.sources.Snapshots.StatsPred
    val batches: IndexedSeq[(String, Seq[Long])] =
      if (!snapshot) IndexedSeq.empty
      else scala.io.Source.fromFile(c("snap_batches")).getLines().filter(_.nonEmpty).map { l =>
        val Array(path, keys) = l.split("\t")
        (path, keys.split(",").toSeq.map(_.toLong))
      }.toIndexedSeq
    var commits = 0
    def liveFiles(v: Int): Seq[String] = Snapshots.read(spark, root, v).inputFiles.toSeq
    def fileSize(f: String): Long = localPath(f).length

    def snapshotPass(p: Int): Unit = {
      if (p >= batches.size) sys.error(s"snapshot_upsert ran out of generated batches at $p")
      val (path, keys) = batches(p)
      var v = 0
      var idx = 0
      def next(): Int = { idx += 1; idx - 1 }
      val before = if (tracedPass(p)) liveFiles(Snapshots.latestVersion(spark, root)) else Nil
      val w = op(p, next(), "merge", "write") { phase =>
        phase("execute", {
          v = Snapshots.merge(spark, root, spark.read.parquet(path), Seq("doc_id"), "rev")
        })
      }
      if (!w.ok) return
      commits += 1
      w.info("version") = v.toString
      if (w.traced) {
        val after = liveFiles(v)
        val (bs, as) = (before.toSet, after.toSet)
        w.m("snap.files_touched") = (bs -- as).size
        w.m("snap.files_written") = (as -- bs).size
        val wb = (as -- bs).toSeq.map(fileSize).sum
        w.m("snap.write_mb") = wb / 1048576.0
        w.m("snap.write_amp") = wb.toDouble / math.max(1L, fileSize(path))
      }
      val live = if (tracedPass(p)) liveFiles(v).size else 0
      op(p, next(), "latest_version", "meta") { phase =>
        phase("execute", {
          val lv = Snapshots.latestVersion(spark, root)
          if (lv != v) sys.error(s"latestVersion $lv after merge committed $v")
        })
      }
      keys.foreach { k =>
        var got: Array[org.apache.spark.sql.Row] = Array.empty
        var df: DataFrame = null
        val r = op(p, next(), "lookup", "lookup") { phase =>
          df = phase("construct",
            Snapshots.readWhere(spark, root, v, Seq(StatsPred.Eq("doc_id", k)))).asInstanceOf[DataFrame]
          phase("execute", { got = df.collect() })
        }
        r.info("key") = k.toString
        r.info("found") = got.map(g => s"${g.getAs[Long]("rev")}:${rowCrc(g)}").mkString(";")
        if (r.traced && r.ok && live > 0) r.m("snap.prune_ratio") = df.inputFiles.length.toDouble / live
      }
      var changed: Array[org.apache.spark.sql.Row] = Array.empty
      val ch = op(p, next(), "changes", "changes") { phase =>
        phase("execute", {
          changed = Snapshots.changesBetween(spark, root, v - 1, v, upserts = true).collect()
        })
      }
      ch.rows = changed.length
      ch.digest = changed.map(rowCrc).sum
      if (commits % c("compact_every").toInt == 0) {
        op(p, next(), "compact", "compact") { phase =>
          phase("execute", Snapshots.compact(spark, root, c("cluster_parts").toInt))
        }
      }
    }

    // ---- timed loop -----------------------------------------------------------

    val gaugesBefore = gauges()
    var liveHeapPeak = liveHeapMb()
    val t0 = nowMs()
    (0 until passes).foreach { p =>
      val ps = nowMs()
      if (snapshot) snapshotPass(p) else catalogPass(p)
      passWalls += ((p, ps, nowMs()))
      passGauges(p) = gauges()
      liveHeapPeak = math.max(liveHeapPeak, liveHeapMb())
    }
    val loopEnd = nowMs()
    Bridge.drain(sc)

    // ---- result dumps for the oracle check (untimed) -----------------------------

    val checkT0 = nowMs()
    val checkDir = c.get("check_dir", "")
    if (checkDir.nonEmpty) {
      val checked = c.list("check_ops").toSet
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => checked(k) }
      oracle.keys.toSeq.sorted.foreach { name =>
        try catalog(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        catch { case e: Throwable => System.err.println(s"[graftbench] check dump $name: $e") }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
        jobj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> js(v) }))
    }
    val checkS = (nowMs() - checkT0) / 1e3

    // ---- snapshot end-of-run facts --------------------------------------------

    if (snapshot) {
      val v = Snapshots.latestVersion(spark, root)
      val files = liveFiles(v)
      val liveBytes = files.map(fileSize).sum
      val rows = Snapshots.read(spark, root, v).collect()
      snapInfo("version") = v.toString
      snapInfo("merges") = commits.toString
      snapInfo("table_rows") = rows.length.toString
      snapInfo("table_digest") = rows.map(rowCrc).sum.toString
      snapInfo("files_live") = files.size.toString
      snapInfo("live_bytes") = liveBytes.toString
      snapInfo("root_bytes") = dirBytes(new java.io.File(root)).toString
      snapInfo("manifest_bytes") = dirBytes(new java.io.File(s"$root/manifests")).toString
    }

    // ---- attribution ------------------------------------------------------------

    val jobs = rec.synchronized(rec.jobs.values.toVector)
    val stageMap = rec.synchronized(rec.stages.toMap)
    val byGroup = jobs.groupBy(j => j.group.split('|').take(2).mkString("|"))
    def opJobs(r: OpRec): Vector[JobRec] = {
      val grouped = byGroup.getOrElse(s"${r.pass}|${r.idx}", Vector.empty)
      val ungrouped = jobs.filter(j => j.group.isEmpty && j.start >= r.start && j.start <= r.end)
      grouped ++ ungrouped
    }
    def union(iv: Seq[(Double, Double)]): Double = {
      var total = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curS.isNaN) total += curE - curS
      total
    }
    def clip(iv: (Double, Double), lo: Double, hi: Double): (Double, Double) =
      (math.max(iv._1, lo), math.min(iv._2, hi))

    final case class Span(id: Int, parent: Int, name: String, kind: String, start: Double,
        end: Double, depth: Int) { var self = 0.0 }
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, kind: String, s: Double, e: Double, d: Int): Span = {
      val sp = Span(spans.size, parent, name, kind, s, math.max(s, e), d)
      spans += sp
      sp
    }
    /** Exclusive time: every instant of the op goes to the deepest span
      * active then (split evenly among concurrent siblings), so the self
      * times of an op's spans sum to the op's wall time.
      */
    def assignSelf(group: Seq[Span]): Unit = {
      val cuts = group.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val active = group.filter(s => s.start <= a && s.end >= b)
          if (active.nonEmpty) {
            val d = active.map(_.depth).max
            val top = active.filter(_.depth == d)
            top.foreach(s => s.self += (b - a) / top.size)
          }
        case _ => ()
      }
    }

    val wlSpan = span(-1, c("workload"), "workload", t0, loopEnd, 0)
    val passSpans = passWalls.map { case (pp, s, e) => pp -> span(wlSpan.id, s"pass$pp", "pass", s, e, 1) }.toMap
    records.foreach { r =>
      val js0 = opJobs(r)
      val jobIv = js0.map(j => clip((j.start, if (j.end.isNaN) r.end else j.end), r.start, r.end))
      r.m("driver.gap_s") = ((r.end - r.start) - union(jobIv)) / 1e3
      val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      js0.foreach(j => j.m.foreach { case (k, v) =>
        if (k == "exec.peak_mem_mb") sums(k) = math.max(sums(k), v) else sums(k) += v })
      sums.foreach { case (k, v) => if (k != "out.bytes") r.m(k) = v }
      r.m("sched.jobs") = js0.size
      val sts = js0.flatMap(_.stages).distinct.flatMap(stageMap.get).filter(s => !s.submit.isNaN)
      r.m("sched.stages") = sts.size
      r.m("sched.tasks") = js0.map(_.tasks).sum
      r.m("sched.delay_s") = sts.filter(_.firstLaunch.isFinite).map(s => math.max(0.0, s.firstLaunch - s.submit)).sum / 1e3
      r.phases.foreach { case (ph, s, e) => r.m(s"phase.${ph}_s") = (e - s) / 1e3 }
      r.phases.find(_._1 == "construct").foreach { case (_, s, e) =>
        r.m("construct_s") = (e - s) / 1e3
        r.m("construct_jobs") = js0.count(j => j.group.endsWith("|construct"))
      }
      if (r.kind == "write" || r.kind == "compact") {
        val (outJ, scanJ) = js0.partition(_.m("out.bytes") > 0)
        def iv(xs: Seq[JobRec]) = xs.map(j => clip((j.start, j.end), r.start, r.end))
        if (r.kind == "write") {
          r.m("snap.merge_scan_s") = union(iv(scanJ)) / 1e3
          r.m("snap.merge_write_s") = union(iv(outJ)) / 1e3
          r.m("snap.commit_s") = ((r.end - r.start) - union(iv(js0))) / 1e3
        } else r.m("snap.compact_s") = r.wallS
        r.m("fs.commit_s") = outJ.filter(j => !j.end.isNaN && j.lastTaskEnd > 0)
          .map(j => math.max(0.0, j.end - j.lastTaskEnd)).sum / 1e3
      }
      if (r.traced) {
        val parent = passSpans.get(r.pass).map(_.id).getOrElse(wlSpan.id)
        val os = span(parent, r.name, "op", r.start, r.end, 2)
        val group = mutable.ArrayBuffer(os)
        val phaseSpans = r.phases.map { case (ph, s, e) => ph -> span(os.id, ph, "phase", s, e, 3) }
        js0.foreach { j =>
          val ph = j.group.split('|').lift(2)
            .flatMap(n => phaseSpans.find(_._1 == n).map(_._2))
            .orElse(phaseSpans.map(_._2).find(p => j.start >= p.start && j.start <= p.end))
          val parentSp = ph.getOrElse(os)
          val (js, je) = clip((j.start, if (j.end.isNaN) r.end else j.end), parentSp.start, parentSp.end)
          val jsp = span(parentSp.id, s"job${j.id}", "job", js, je, parentSp.depth + 1)
          group += jsp
          j.stages.flatMap(stageMap.get).filter(s => s.job == j.id && !s.submit.isNaN).foreach { st =>
            val (ss, se) = clip((st.submit, if (st.complete.isNaN) je else st.complete), jsp.start, jsp.end)
            group += span(jsp.id, s"stage${st.id}", "stage", ss, se, jsp.depth + 1)
          }
        }
        group ++= phaseSpans.map(_._2)
        assignSelf(group.toSeq)
      }
    }
    // pass and workload self time: what their children do not cover
    passSpans.values.foreach { ps =>
      val kids = spans.filter(s => s.parent == ps.id)
      ps.self = (ps.end - ps.start) - kids.map(k => k.end - k.start).sum
    }
    wlSpan.self = (wlSpan.end - wlSpan.start) - passSpans.values.map(s => s.end - s.start).sum

    // ---- output -------------------------------------------------------------------

    if (traceMode) {
      val w = new java.io.PrintWriter(c("spans"), "UTF-8")
      try spans.foreach { s =>
        w.println(jobj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> js(s.name), "kind" -> js(s.kind), "start_ms" -> jn(s.start),
          "end_ms" -> jn(s.end), "self_ms" -> jn(s.self))))
      } finally w.close()
    }
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val opJson = records.map { r =>
      jobj(Seq("pass" -> r.pass.toString, "idx" -> r.idx.toString, "name" -> js(r.name),
        "kind" -> js(r.kind), "traced" -> r.traced.toString, "wall_s" -> jn(r.wallS),
        "ok" -> r.ok.toString, "err" -> js(r.err), "rows" -> r.rows.toString,
        "digest" -> js(r.digest.toString),
        "m" -> jobj(r.m.map { case (k, v) => k -> jn(v) }),
        "info" -> jobj(r.info.map { case (k, v) => k -> js(v) })))
    }
    val passJson = passWalls.map { case (pp, s, e) =>
      val cpu = records.filter(_.pass == pp).map(r => r.m.getOrElse("exec.cpu_s", 0.0)).sum
      jobj(Seq("pass" -> pp.toString, "wall_s" -> jn((e - s) / 1e3),
        "traced" -> tracedPass(pp).toString, "cpu_s" -> jn(cpu),
        "gauges" -> passGauges.get(pp).map(g => jobj(g.map { case (k, v) => k -> jn(v) })).getOrElse("null")))
    }
    val result = jobj(Seq(
      "setup_s" -> jn((setupEnd - launchMs) / 1e3),
      "loop_s" -> jn((loopEnd - t0) / 1e3),
      "check_dump_s" -> jn(checkS),
      "peak_rss_mb" -> jn(rss),
      "live_heap_peak_mb" -> jn(liveHeapPeak),
      "heap_committed_mb" -> jn(java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getCommitted / 1048576.0),
      "conf" -> jobj(conf.map { case (k, v) => k -> js(v) }),
      "passes" -> passJson.mkString("[", ",", "]"),
      "gauges_before" -> jobj(gaugesBefore.map { case (k, v) => k -> jn(v) }),
      "ops" -> opJson.mkString("[\n", ",\n", "]"),
      "snapshot" -> jobj(snapInfo.map { case (k, v) => k -> js(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c("out")), result)
    spark.stop()
  }
}
