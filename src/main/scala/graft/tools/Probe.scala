package graft.tools

/** Ad-hoc per-query timing probe for optimization work: runs the named
  * catalog queries (or `shared_*` builds) N times each against a dir,
  * printing wall / executor-cpu / gc / jobs per run — the Bench measurement
  * loop without the full catalog, for A/B isolation of one entry.
  *
  * Usage: Probe <sfDir> <reps> <name> [<name> ...]; the name `all`
  * stands for every catalog entry.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq.flatMap { n =>
      if (n == "all") graft.SparkEntry.catalog.map(_.key) else Seq(n)
    }
    val catalog = graft.SparkEntry.queries
    val shared = graft.Bench.SharedBuilds.map(b => b.key -> b.build).toMap
    val codegenDir = sys.env.get("PROBE_CODEGEN")
    val explainDir = sys.env.get("PROBE_EXPLAIN")
    // a typo'd name fails the run before the session starts, not
    // partway through it
    val unknown = names.filterNot(n => catalog.contains(n) || shared.contains(n))
    if (unknown.nonEmpty) {
      System.err.println(s"[probe] unknown names: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    // the dump modes plan catalog entries; a shared build has no plan
    val builds = names.filter(shared.contains)
    if ((codegenDir.nonEmpty || explainDir.nonEmpty) && builds.nonEmpty) {
      System.err.println(
        s"[probe] PROBE_EXPLAIN/PROBE_CODEGEN take catalog entries only: ${builds.mkString(", ")}")
      sys.exit(1)
    }
    val spark = graft.Session(graft.Session.Cpus)
    val meter = new graft.Meter(spark.sparkContext)
    // PROBE_CODEGEN=<dir>: dump each query's whole-stage generated
    // code to <dir>/<name>.codegen.txt instead of timing it.
    codegenDir.foreach { outDir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.foreach { name =>
        val df = catalog(name)(spark, dir)
        val code = org.apache.spark.sql.execution.debug.codegenString(
          df.queryExecution.executedPlan)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.codegen.txt"),
          code.getBytes("UTF-8"))
      }
      spark.stop()
      return
    }
    // PROBE_EXPLAIN=<dir>: write each query's formatted plan to
    // <dir>/<name>.txt instead of timing it.
    explainDir.foreach { outDir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.foreach { name =>
        val df = catalog(name)(spark, dir)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      }
      spark.stop()
      return
    }
    // PROBE_SPLIT=1: decompose each rep into frame construction
    // (Memo lookups + plan building), plan resolution (Catalyst
    // analysis + optimization + physical planning, via executedPlan),
    // and execution (noop write incl. AQE stage scheduling + any
    // remaining codegen) — the per-query fixed-tail forensics mode.
    val split = sys.env.get("PROBE_SPLIT").contains("1")
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val m = meter.measure {
          shared.get(name) match {
            case Some(fn) => fn(spark, dir)
            case None if split =>
              val tc0 = System.nanoTime()
              val df = catalog(name)(spark, dir)
              val tc1 = System.nanoTime()
              df.queryExecution.executedPlan
              val tc2 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              val tc3 = System.nanoTime()
              println(f"[split] $name rep$i construct=${(tc1 - tc0) / 1e9}%.3f " +
                f"plan=${(tc2 - tc1) / 1e9}%.3f exec=${(tc3 - tc2) / 1e9}%.3f")
            case None =>
              catalog(name)(spark, dir)
                .write.format("noop").mode("overwrite").save()
          }
        }
        m.error.foreach(e => println(s"[probe] $name FAILED: $e"))
        println(f"[probe] $name rep$i wall=${m.wallS}%.2f cpu=${m.cpuS}%.2f gc=${m.gcS}%.2f jobs=${m.jobs}")
      }
    }
    spark.stop()
  }
}
