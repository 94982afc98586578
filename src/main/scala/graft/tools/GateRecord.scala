package graft.tools

/** Records the measured value behind every RecallReport gate at each
  * shipped SF into a committed JSON (`GATES_r16.json`) — the
  * provenance artifact behind [[graft.operators.RecallReport
  * .GateThresholds]]: a threshold edit must come with re-measurement
  * evidence (GateProvenanceSpec asserts every committed measurement
  * PASSES the current thresholds, so tightening a threshold past the
  * recorded evidence — or editing a constant without regenerating the
  * file — fails the build).
  *
  * `runMain graft.tools.GateRecord [outPath] [sfDir...]`
  */
object GateRecord {
  val DefaultOut = "GATES_r16.json"
  val DefaultSfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(DefaultOut)
    val dirs = if (args.length > 1) args.drop(1).toSeq else DefaultSfDirs
    val spark = graft.Session(graft.Session.Cpus)
    val th = graft.operators.RecallReport.GateThresholds
    val bySf = dirs.map { d =>
      val name = new java.io.File(d).getName
      name -> graft.operators.RecallReport.measured(spark, d).toMap
    }
    val lines = th.map { case (gate, t) =>
      val vals = bySf.map { case (sf, m) =>
        s""""$sf": ${m.getOrElse(gate, -1)}"""
      }.mkString(", ")
      s"""  "$gate": {"threshold": $t, $vals}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      lines.getBytes("UTF-8"))
    println(s"[gates] wrote $out")
    spark.stop()
  }
}
