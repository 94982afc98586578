package graft.tools

import graft.Tables
import graft.multimodal.Multimodal
import graft.operators.TaskAnalytics
import graft.plans.Unordered
import graft.sources.Export
import graft.streaming.EventStreams

/** Usage sample / smoke driver for the library surface beyond the
  * SparkEntry query contract: streaming ingest, export sinks, and
  * multimodal plumbing. `sbt "runMain graft.tools.SampleApp <sfDir>"`.
  */
object SampleApp {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session(graft.Session.Cpus)
    import spark.implicits._

    // streaming: file-source ingest -> watermarked windowed agg -> memory sink
    val stream = EventStreams.readEventStream(spark, sf)
    println(s"[sample] stream.isStreaming=${stream.isStreaming}")
    val q = EventStreams.windowedAgg(stream)
      .writeStream.format("memory").queryName("sample_win").outputMode("update").start()
    q.processAllAvailable(); q.stop()
    println(s"[sample] windowed rows=${spark.table("sample_win").count()}")
    spark.table("sample_win").orderBy("hour", "event_type").show(3, truncate = false)

    // export: csv round trip
    val dist = TaskAnalytics.statusDist(spark, sf)
    Export.writeCsv(dist, "/tmp/sample_csv")
    println(s"[sample] csv parts=${new java.io.File("/tmp/sample_csv").list().count(_.endsWith(".csv"))}")

    // incremental keep-last upsert
    val existing = Seq((1L, "old", 1L), (2L, "keep", 2L)).toDF("id", "v", "ver")
    val updates = Seq((1L, "new", 1L)).toDF("id", "v", "ver")
    Export.upsertKeepLast(existing, updates, Seq("id"), "ver").orderBy("id").show()

    // multimodal: decode + frame-sample the documents corpus
    val media = Multimodal.toMedia(Tables.documents(spark, sf))
    Multimodal.decodeMeta(media).show(3, truncate = false)
    println(s"[sample] frames=${Multimodal.frameSample(media, 4, 8).count()}")
    println(s"[sample] resized bytes=${Multimodal.resize(media, 8, 8).head().payload.length}")

    // bucketed layout: co-located join, no shuffle exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS s_orders"); spark.sql("DROP TABLE IF EXISTS s_lineitem")
    graft.sources.Bucketed.writeBucketed(Tables.orders(spark, sf), "s_orders", 4, "o_orderkey")
    graft.sources.Bucketed.writeBucketed(Tables.lineitem(spark, sf), "s_lineitem", 4, "l_orderkey")
    val bj = graft.sources.Bucketed.bucketedJoin(spark, "s_lineitem", "s_orders", "l_orderkey", "o_orderkey")
    println(s"[sample] bucketed join rows=${bj.count()} exchange-free=${!bj.queryExecution.executedPlan.toString.contains("Exchange")}")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // streaming dedup over the file-source event stream
    val dq = EventStreams.dedupStream(EventStreams.readEventStream(spark, sf))
      .groupBy().count()
      .writeStream.format("memory").queryName("sample_dedup").outputMode("complete").start()
    dq.processAllAvailable(); dq.stop()
    println(s"[sample] stream-deduped events=${spark.table("sample_dedup").head().getLong(0)}")

    // streaming incremental upsert cache (foreachBatch keep-last merge)
    val cachePath = "/tmp/sample_cache/events"
    val uq = graft.sources.Export.streamingUpsertSink(
      EventStreams.readEventStream(spark, sf)
        .select("event_id", "event_type", "ts"),
      cachePath, Seq("event_id"), "ts")
    uq.processAllAvailable(); uq.stop()
    println(s"[sample] upsert cache rows=${spark.read.parquet(cachePath).count()}")

    // streaming as-of enrichment over the real event stream
    val aq = EventStreams.asOfEnrich(
        EventStreams.readEventStream(spark, sf)
          .selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.Ev])
      .writeStream.format("memory").queryName("sample_asof").outputMode("append").start()
    aq.processAllAvailable(); aq.stop()
    val asofN = spark.table("sample_asof").count()
    val asofMatched = spark.table("sample_asof").filter("error_id IS NOT NULL").count()
    println(s"[sample] streaming asof purchases=$asofN matched=$asofMatched")

    // streaming minhash near-dup detection over the documents corpus
    implicit val sqlCtx = spark.sqlContext
    val dmem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ddq = graft.streaming.StreamingDedup.nearDupPairs(
        graft.streaming.StreamingDedup.banded(dmem.toDF().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("sample_sdedup").outputMode("append").start()
    val docRows = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toIndexedSeq
    dmem.addData(docRows: _*); ddq.processAllAvailable(); ddq.stop()
    println(s"[sample] streaming near-dup pairs=${spark.table("sample_sdedup").select("doc_a","doc_b").distinct().count()}")

    // optimizer rule from GraftExtensions: window top-k auto-rewrites to
    // the two-phase bounded-heap operator
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc)
    val topk = Tables.orders(spark, sf)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("rn") <= 2)
      .select("o_custkey", "o_orderkey")
    val topkPlan = topk.queryExecution.executedPlan.toString
    println(s"[sample] topk rewrite fired=${topkPlan.contains("TopKPerKey")} rows=${topk.count()}")

    // custom expressions registered for SQL via SparkSessionExtensions
    spark.sql(
      "SELECT graft_dot_f(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS dot, " +
      "graft_simhash64(array(5L, 7L)) AS sim").show()

    // round-3 surface: bloom prefilter, PQ/IVF-PQ ANN, cleaning
    // pipeline, z-order layout, compaction
    val bloomed = graft.operators.BloomPrune.prefilterRevenue(spark, sf)
    println(s"[sample] bloom-pruned revenue groups=${bloomed.count()}")
    println(s"[sample] ivfpq top-k rows=${graft.operators.Similarity.annIvfPqTopK(spark, sf).count()}")
    println(s"[sample] cleaning pipeline survivors=${graft.operators.TextAnalysis.cleanPipeline(spark, sf).count()}")
    val zdir = "/tmp/sample_zorder"
    graft.sources.Layout.writeZOrdered(
      Tables.events(spark, sf).selectExpr("event_id", "user_id", "CAST(ts AS LONG) AS tsl"),
      zdir, "user_id", "tsl", 8)
    Export.compact(spark, zdir, "/tmp/sample_compacted", 1L << 20, Seq("user_id"))
    println(s"[sample] zorder+compact rows=${spark.read.parquet("/tmp/sample_compacted").count()}")

    // round-5 surface: report-document assembly, paged-API ingest (DSv2)
    // learned data-selection: classifier gate + importance resampling
    val nbKept = Unordered.form(graft.operators.Classifier.nbScore(spark, sf))
      .filter(org.apache.spark.sql.functions.col("pred_cur") === 1).count()
    val dsirKept = Unordered.form(graft.operators.Classifier.dsirSelect(spark, sf)).count()
    println(s"[sample] nb-gate kept=$nbKept dsir-resample kept=$dsirKept")
    graft.plans.Memo.release(spark, sf)
    println(s"[sample] report lines=${graft.operators.ReportDoc.reportDoc(spark, sf).count()}")
    println(s"[sample] paged ingest tasks=${graft.sources.PagedTasks.pagedIngest(spark, sf).count()}")
    spark.stop()
  }
}
