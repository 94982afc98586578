package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each catalog entry's result → parquet,
  * in key order, plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional 3rd+ args select a query subset (dev use: targeted sf1
  * re-checks without the ~20-min full sweep); the driver's 2-arg
  * invocation is unchanged and dumps everything.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // a typo'd subset name must not silently verify nothing — fail the
    // run, don't just warn (a fully typo'd subset would otherwise dump
    // nothing, write an empty oracle_sql.json, and exit 0)
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown queries in subset: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val entries = SparkEntry.catalog.filter(e => only.isEmpty || only(e.key)).sortBy(_.key)
    val spark = Session(Session.Cpus)
    new java.io.File(outDir).mkdirs()
    entries.foreach { e =>
      try e.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.key}")
      catch { case x: Throwable =>
        System.err.println(s"[verify] ${e.key} failed: ${x.getMessage}")
      }
    }
    graft.plans.Memo.release(spark, sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // in subset mode, dump only the selected oracles — parity.py walks
    // every oracle_sql.json entry, so unselected entries (with no
    // parquet dump beside them) would FAIL the very gate the subset
    // flow feeds
    val json = entries.collect { case SparkEntry.Entry(k, _, _, o: SparkEntry.Oracle) =>
      s"${q(k)}: ${q(o.sql)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
