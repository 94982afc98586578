package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** Manifest-layer microbench (SURVEY §5): builds a snapshot dataset
  * with N part files, then measures what a ONE-FILE append costs in
  * manifest bytes and wall time, what a CHECKPOINT costs (r15: past
  * `CheckpointParquetAt` files the full state serializes as a parquet
  * body + bloom sidecar instead of a driver-written text blob), and
  * what resolving the latest manifest costs cold (no memo) vs warm.
  * Run:
  *   sbt "runMain graft.tools.ManifestBench /tmp/mb 100000 24 bloom"
  * Prints one JSON line.
  */
object ManifestBench {
  def main(args: Array[String]): Unit = {
    val root = if (args.length > 0) args(0)
      else java.nio.file.Files.createTempDirectory("graft_mb").toString
    val nFiles = if (args.length > 1) args(1).toInt else 10000
    val nAppends = if (args.length > 2) args(2).toInt else 24
    val withBloom = args.length > 3 && args(3) == "bloom"
    val s = graft.Session(graft.Session.Cpus)
    def manifestBytes(v: Int): Long =
      new java.io.File(s"$root/manifests/v$v.txt").length()
    def dirBytes(d: java.io.File): Long =
      if (!d.exists) 0L
      else d.listFiles().map(f =>
        if (f.isDirectory) dirBytes(f) else f.length()).sum
    /** text + any referenced parquet body/sidecar dirs */
    def versionBytes(v: Int): Long = {
      val text = new java.io.File(s"$root/manifests/v$v.txt")
      val refs = scala.io.Source.fromFile(text, "UTF-8").getLines()
        .filter(l => l.startsWith("#cpq:") || l.startsWith("#bloomq:"))
        .map(_.split(":", 2)(1)).toList
      text.length() + refs.map(r =>
        dirBytes(new java.io.File(s"$root/manifests/$r"))).sum
    }
    val t0 = System.nanoTime()
    Snapshots.create(s, root,
      s.range(0L, nFiles.toLong * 4)
        .select(col("id").as("doc_id"), (col("id") % 17).cast("string").as("src"))
        .repartition(nFiles))
    val createMs = (System.nanoTime() - t0) / 1e6
    val columnar = scala.io.Source.fromFile(
      new java.io.File(s"$root/manifests/v1.txt"), "UTF-8")
      .getLines().exists(_.startsWith("#cpq:"))
    val fullBytes = versionBytes(1)
    val bloomMs =
      if (withBloom) {
        val b0 = System.nanoTime()
        Snapshots.analyzeBloom(s, root, Seq("doc_id"))
        (System.nanoTime() - b0) / 1e6
      } else 0.0
    import s.implicits._
    val appendStats = (1 to nAppends).map { i =>
      val a0 = System.nanoTime()
      Snapshots.append(s, root,
        Seq((100000000L + i, s"a$i")).toDF("doc_id", "src").coalesce(1))
      val ms = (System.nanoTime() - a0) / 1e6
      (manifestBytes(Snapshots.latestVersion(s, root)), ms)
    }
    // delta commits only (checkpoint versions re-serialize in full by
    // design — reported separately below)
    val latest = Snapshots.latestVersion(s, root)
    val deltas = (2 to latest).filterNot(_ % Snapshots.CheckpointEvery == 0)
      .filter(v => new java.io.File(s"$root/manifests/v$v.txt").length() > 0)
      .map(v => manifestBytes(v))
    val cpV = (2 to latest).filter(_ % Snapshots.CheckpointEvery == 0)
    val cpBytes = cpV.map(versionBytes).sum
    Snapshots.memoClearForBench()
    val r0 = System.nanoTime()
    val resolved = Snapshots.readManifest(s, root, latest)
    val coldMs = (System.nanoTime() - r0) / 1e6
    val r1 = System.nanoTime()
    Snapshots.readManifest(s, root, latest)
    val warmMs = (System.nanoTime() - r1) / 1e6
    println(
      s"""{"metric":"manifest_bench","n_files":$nFiles,""" +
      s""""columnar_checkpoint":$columnar,""" +
      s""""with_bloom":$withBloom,""" +
      s""""full_manifest_bytes":$fullBytes,""" +
      s""""checkpoint_bytes":$cpBytes,""" +
      s""""median_delta_commit_bytes":${deltas.sorted.apply(deltas.size / 2)},""" +
      s""""max_delta_commit_bytes":${deltas.max},""" +
      s""""median_append_ms":${appendStats.map(_._2).sorted.apply(appendStats.size / 2).round},""" +
      s""""create_ms":${createMs.round},""" +
      s""""analyze_bloom_ms":${bloomMs.round},""" +
      s""""resolve_latest_cold_ms":${coldMs.round},""" +
      s""""resolve_latest_warm_ms":${warmMs.round},""" +
      s""""resolved_files":${resolved.length},""" +
      s""""checkpoint_every":${Snapshots.CheckpointEvery}}""")
    s.stop()
  }
}
