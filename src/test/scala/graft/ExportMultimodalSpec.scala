package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.sources.Export

/** §2.7 multimodal plumbing + §2.8 sources/sinks. */
class ExportMultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def tmp(): String =
    Files.createTempDirectory("graft_test").toString

  test("csv round-trip preserves rows with explicit schema") {
    val out = tmp() + "/csv"
    val df = TaskAnalytics_normalize()
    Export.writeCsv(df, out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("status", StringType),
      StructField("prio_score", IntegerType), StructField("order_date", StringType)))
    val back = Export.readCsv(spark, out, schema)
    assert(back.count() === df.count())
    assert(back.exceptAll(df).isEmpty)
  }

  private def TaskAnalytics_normalize() =
    operators.TaskAnalytics.normalizeStatus(spark, sf)

  test("json round-trip preserves rows") {
    val out = tmp() + "/json"
    val df = operators.TaskAnalytics.statusDist(spark, sf)
    Export.writeJson(df, out)
    val schema = StructType(Seq(
      StructField("status", StringType), StructField("n", LongType)))
    val back = Export.readJson(spark, out, schema)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("csv quirks round-trip: embedded delimiters, quotes, and newlines") {
    import spark.implicits._
    val out = tmp() + "/csvq"
    val df = Seq(
      (1L, "plain"),
      (2L, "comma, inside"),
      (3L, "a \"quoted\" word"),
      (4L, "line\nbreak")).toDF("id", "v")
    Export.writeCsv(df, out)
    val back = Export.readCsv(spark, out, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("permissive json read captures corrupt rows, nulls missing fields") {
    val out = tmp()
    val f = new java.io.PrintWriter(out + "/data.json")
    f.println("""{"id": 1, "v": "ok", "extra": 9}""")  // extra field: ignored
    f.println("""{"id": 2}""")                          // missing v: null
    f.println("""{not json at all""")                   // corrupt: captured
    f.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val back = Export.readJson(spark, out, schema).cache()
    assert(back.count() === 3)
    assert(back.filter(col("id") === 1 && col("v") === "ok").count() === 1)
    assert(back.filter(col("id") === 2 && col("v").isNull).count() === 1)
    assert(back.filter(col("_corrupt_record").isNotNull).count() === 1)
    back.unpersist()
  }

  test("parquet mergeSchema reads additively-evolved directories") {
    import spark.implicits._
    val out = tmp() + "/evolve"
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(out)
    Seq((2L, "b", 7.5)).toDF("id", "v", "score").write.mode("append").parquet(out)
    val back = Export.readParquetMerged(spark, out)
    assert(back.columns.toSet === Set("id", "v", "score"))
    assert(back.filter(col("id") === 1 && col("score").isNull).count() === 1)
    assert(back.filter(col("id") === 2 && col("score") === 7.5).count() === 1)
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val out = tmp() + "/orc"
    val df = operators.TaskAnalytics.normalizeStatus(spark, sf)
    Export.writeOrc(df, out)
    val back = Export.readOrc(spark, out)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    val plan = back.filter(col("status") === "open")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(status,open)"),
      s"ORC scan must receive the pushed filter:\n$plan")
  }

  test("zstd parquet export round-trips and actually writes zstd parts") {
    val out = tmp() + "/zstd"
    val df = operators.TaskAnalytics.statusDist(spark, sf)
    Export.writeParquetZstd(df, out)
    val parts = new java.io.File(out).listFiles().map(_.getName)
    assert(parts.exists(_.endsWith(".zstd.parquet")), s"no zstd parts in ${parts.toSeq}")
    val back = spark.read.parquet(out)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("upsertKeepLast keeps newest row per key, favouring updates on ties") {
    import spark.implicits._
    val existing = Seq((1L, "old", 10L), (2L, "keep", 20L)).toDF("id", "v", "ver")
    val updates = Seq((1L, "new", 10L), (3L, "ins", 5L)).toDF("id", "v", "ver")
    val merged = Export.upsertKeepLast(existing, updates, Seq("id"), "ver")
      .orderBy("id").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("partitioned write prunes partitions on read") {
    val out = tmp() + "/part"
    val df = operators.TaskAnalytics.normalizeStatus(spark, sf)
    Export.writePartitioned(df, out, Seq("status"))
    val pruned = spark.read.parquet(out).filter(col("status") === "open")
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() > 0)
    assert(!scanned.contains("finished"), "partition pruning should drop other statuses")
  }

  test("multimodal decode pipeline: schema, determinism, frame shape") {
    val media = Multimodal.toMedia(Tables.documents(spark, sf))
    val meta = Multimodal.decodeMeta(media)
    assert(meta.count() === 500)
    val m1 = meta.filter(col("id") === 0).head()
    val m2 = Multimodal.decodeMeta(media).filter(col("id") === 0).head()
    assert(m1 === m2, "stub codec must be deterministic")
    val frames = Multimodal.frameSample(media, k = 4, frameBytes = 8)
    assert(frames.count() === 2000)
    assert(frames.filter(col("frame_no") >= 4).isEmpty)
    val emb = Multimodal.embed(media)
    assert(emb.head().embedding.length === Multimodal.EmbedDim)
    val resized = Multimodal.resize(media, 8, 8)
    assert(resized.filter(col("width") =!= 8).isEmpty)
    assert(resized.head().payload.length === 64)
  }

  test("decodePixels: real ImageIO decode, stats match reference, dims cross-check headers") {
    import spark.implicits._
    import graft.multimodal.Pixels
    import java.awt.image.BufferedImage
    // PNG 8x4: left half pure red, right half pure white — lossless, so
    // every decoded statistic is EXACT
    val pimg = new BufferedImage(8, 4, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      pimg.setRGB(x, y, if (x < 4) 0xff0000 else 0xffffff)
    val png = Pixels.encodePng(pimg)
    // GIF 5x5 solid blue — palettized, but a solid primary survives exactly
    val gimg = new BufferedImage(5, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 5) gimg.setRGB(x, y, 0x0000ff)
    val gbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg, "gif", gbos)
    val gif = gbos.toByteArray
    // JPEG 16x16 solid mid-gray — lossy, tolerance-checked
    val jimg = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) jimg.setRGB(x, y, 0x808080)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jimg, "jpg", jbos)
    val jpg = jbos.toByteArray
    val media = Seq(
      Multimodal.MediaRow(1L, "media/raw", png),
      Multimodal.MediaRow(2L, "media/raw", gif),
      Multimodal.MediaRow(3L, "media/raw", jpg),
      Multimodal.MediaRow(4L, "media/raw", "not an image".getBytes)).toDS()
    val st = Multimodal.decodePixels(media).collect().map(s => s.id -> s).toMap
    assert(st.keySet === Set(1L, 2L, 3L), "non-image payloads drop")
    val p = st(1L)
    assert(p.format === "png" && p.width === 8 && p.height === 4 && p.header_match)
    assert(p.mean_r === 255.0 && p.mean_g === 127.5 && p.mean_b === 127.5)
    // integer BT.601 luma: red -> 76 -> bin 4; white -> 254 -> bin 15
    assert(p.hist_luma(4) === 16L && p.hist_luma(15) === 16L)
    assert(p.hist_luma.sum === 32L)
    // mean_luma from the same integer channel sums the operator uses
    val (sr, sg, sb) = (32L * 255, 16L * 255, 16L * 255)
    assert(p.mean_luma === (299L * sr + 587L * sg + 114L * sb).toDouble / (1000.0 * 32))
    val gf = st(2L)
    assert(gf.format === "gif" && gf.width === 5 && gf.height === 5 && gf.header_match)
    assert(gf.mean_r === 0.0 && gf.mean_g === 0.0 && gf.mean_b === 255.0)
    val jp = st(3L)
    assert(jp.format === "jpeg" && jp.width === 16 && jp.height === 16 && jp.header_match)
    assert(math.abs(jp.mean_r - 128.0) < 4 && math.abs(jp.mean_g - 128.0) < 4 &&
      math.abs(jp.mean_b - 128.0) < 4, s"lossy gray drifted: ${jp.mean_r}")
  }

  test("resize really resamples images (bilinear + PNG re-encode), stubs the rest") {
    import spark.implicits._
    import graft.multimodal.Pixels
    import java.awt.image.BufferedImage
    val rimg = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) rimg.setRGB(x, y, 0xff0000)
    val media = Seq(
      Multimodal.MediaRow(1L, "media/raw", Pixels.encodePng(rimg)),
      Multimodal.MediaRow(2L, "media/raw", "plain text payload".getBytes)).toDS()
    val rs = Multimodal.resize(media, 4, 4).collect().map(r => r.id -> r).toMap
    // the image row: a real 4x4 PNG whose every pixel is still pure red
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs(1L).payload))
    assert(rs(1L).kind === "image/png")
    assert(out.getWidth === 4 && out.getHeight === 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((out.getRGB(x, y) & 0xffffff) === 0xff0000,
        s"resampled solid red must stay red at ($x,$y)")
    // the non-image row: the declared byte-subsample stub (16 bytes)
    assert(rs(2L).kind === "media/raw" && rs(2L).payload.length === 16)
  }

  test("decodeMeta parses real PNG/JPEG/GIF headers, stub-falls-back otherwise") {
    import spark.implicits._
    import graft.multimodal.ImageHeaders
    // minimal real containers, built byte-by-byte (no imaging library):
    // PNG signature + IHDR(width=640, height=480)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xe0, 8, 6, 0, 0, 0).map(_.toByte)
    // JPEG SOI + APP0(len 16) + SOF0(precision 8, height=33, width=257)
    val jpeg = (Array[Int](0xff, 0xd8, 0xff, 0xe0, 0, 16) ++ Array.fill(14)(0) ++
      Array[Int](0xff, 0xc0, 0, 11, 8, 0, 33, 1, 1, 1, 0x11, 0, 0)).map(_.toByte)
    // GIF89a, logical screen 320x200 little-endian
    val gif = ("GIF89a".getBytes.map(_.toInt) ++ Array[Int](0x40, 0x01, 0xc8, 0, 0, 0))
      .map(_.toByte)
    assert(ImageHeaders.parse(png) === Some(("png", 640, 480)))
    assert(ImageHeaders.parse(jpeg) === Some(("jpeg", 257, 33)))
    assert(ImageHeaders.parse(gif) === Some(("gif", 320, 200)))
    assert(ImageHeaders.parse("plain text".getBytes) === None)
    assert(ImageHeaders.parse(Array[Byte](0x89.toByte, 'P')) === None) // truncated
    // 0xFF fill bytes may pad between segments, and TEM (0x01) is a
    // standalone marker with no length field — both legal before the SOF
    val padded = (Array[Int](0xff, 0xd8, 0xff, 0xff, 0xff, 0x01,
      0xff, 0xff, 0xe0, 0, 16) ++ Array.fill(14)(0) ++
      Array[Int](0xff, 0xff, 0xff, 0xc0, 0, 11, 8, 0, 33, 1, 1, 1, 0x11, 0, 0))
      .map(_.toByte)
    assert(ImageHeaders.parse(padded) === Some(("jpeg", 257, 33)))
    // EOI before any SOF: dimensions are unfindable, not garbage
    assert(ImageHeaders.parse(Array[Int](0xff, 0xd8, 0xff, 0xd9, 0, 0, 0, 0, 0, 0)
      .map(_.toByte)) === None)
    val media = Seq(
      Multimodal.MediaRow(1L, "media/raw", png),
      Multimodal.MediaRow(2L, "media/raw", jpeg),
      Multimodal.MediaRow(3L, "media/raw", "not an image".getBytes)).toDS()
    val meta = Multimodal.decodeMeta(media).collect().map(m => m.id -> m).toMap
    assert(meta(1L).kind === "image/png" && meta(1L).width === 640 && meta(1L).height === 480)
    assert(meta(2L).kind === "image/jpeg" && meta(2L).width === 257 && meta(2L).height === 33)
    assert(meta(3L).kind === "media/raw") // stub fallback keeps declared kind
  }

  test("audioMeta parses real WAV/FLAC/MP3 headers, drops everything else") {
    import spark.implicits._
    import graft.multimodal.AudioHeaders
    // WAV: RIFF/WAVE, fmt(PCM stereo 44100 Hz 16-bit), data = 1 s
    def le32(v: Long) = Array((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
      ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
    val wav = ("RIFF".getBytes.map(_.toInt) ++ le32(36 + 176400) ++
      "WAVEfmt ".getBytes.map(_.toInt) ++ le32(16) ++
      Array(1, 0, 2, 0) ++ le32(44100) ++ le32(176400) ++ Array(4, 0, 16, 0) ++
      "data".getBytes.map(_.toInt) ++ le32(176400)).map(_.toByte)
    assert(AudioHeaders.parse(wav) ===
      Some(AudioHeaders.AudioInfo("wav", 44100, 2, 16, 1000L)))
    // FLAC: fLaC + STREAMINFO (48 kHz mono 16-bit, 96000 samples = 2 s)
    val streaminfo = Array.fill(34)(0)
    streaminfo(10) = 48000 >> 12
    streaminfo(11) = (48000 >> 4) & 0xff
    streaminfo(12) = ((48000 & 0xf) << 4) | (0 << 1) | 0 // channels-1=0, bits msb
    streaminfo(13) = (15 << 4) | 0                       // bits-1=15, total msb
    streaminfo(14) = (96000 >> 24) & 0xff
    streaminfo(15) = (96000 >> 16) & 0xff
    streaminfo(16) = (96000 >> 8) & 0xff
    streaminfo(17) = 96000 & 0xff
    val flac = ("fLaC".getBytes.map(_.toInt) ++
      Array(0x80, 0, 0, 34) ++ streaminfo).map(_.toByte)
    assert(AudioHeaders.parse(flac) ===
      Some(AudioHeaders.AudioInfo("flac", 48000, 1, 16, 2000L)))
    // MP3: ID3v2 tag (zero size) + MPEG1 Layer III 128 kbps 44.1 kHz
    // stereo frame; payload sized so the CBR estimate lands at ~1 s
    val mp3 = (Array[Int]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 0) ++
      Array[Int](0xff, 0xfb, 0x90, 0x00) ++ Array.fill(15996)(0xaa)).map(_.toByte)
    val m = AudioHeaders.parse(mp3).get
    assert(m.format === "mp3" && m.sampleRate === 44100 && m.channels === 2)
    assert(m.durationMs === 16000L * 8 / 128, "CBR duration estimate")
    // non-audio payloads: text, images, truncated WAV
    assert(AudioHeaders.parse("plain text".getBytes) === None)
    assert(AudioHeaders.parse(wav.take(20)) === None)
    // end-to-end: only the audio rows survive the typed decode
    val media = Seq(
      Multimodal.MediaRow(1L, "media/raw", wav),
      Multimodal.MediaRow(2L, "media/raw", flac),
      Multimodal.MediaRow(3L, "media/raw", mp3),
      Multimodal.MediaRow(4L, "media/raw", "not audio".getBytes)).toDS()
    val out = Multimodal.audioMeta(media).collect().map(a => a.id -> a).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L).format === "wav" && out(1L).duration_ms === 1000L)
    assert(out(2L).format === "flac" && out(2L).sample_rate === 48000)
  }

  test("sharded export: disjoint-exhaustive shards, hash-stable assignment, manifest agrees") {
    import graft.sources.Export
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = tmp() + "/shards"
    val n = 8
    Export.writeSharded(docs, dir, "doc_id", n)
    val back = spark.read.parquet(dir)
    // round-trip: nothing dropped, nothing duplicated
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // every shard dir populated and the assignment matches the algebra
    val byShard = back.groupBy("shard").count().collect()
      .map(r => r.getAs[Int]("shard").toLong -> r.getLong(1)).toMap
    assert(byShard.keySet === (0L until n).toSet, s"all $n shards populated")
    val wrong = back.filter(
      pmod(pmod(col("doc_id") * lit(Export.ShardHashA), lit(1000000007L)), lit(n.toLong))
        =!= col("shard")).count()
    assert(wrong === 0, "shard is the portable hash of the key")
    // balance: multiplicative hashing spreads uniform keys within ~3x
    assert(byShard.values.max <= byShard.values.min * 3, s"balance: $byShard")
    // manifest rows match the data (read as plain text: Spark's file
    // index hides _-prefixed files, which is what lets the manifest
    // coexist with the parquet dir)
    import spark.implicits._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifest.json"))
    val manifest = spark.read.json(spark.createDataset(
        scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.toSeq))
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("rows")).toMap
    assert(manifest === byShard)
  }

  test("shard balance audit reconciles with the corpus and the artifact") {
    import graft.sources.Export
    val rows = Export.shardBalance(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until Export.ShardCount).toSeq)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nDocs, "every doc in exactly one shard")
    val totTok = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(rows.map(_.getLong(2)).sum === totTok, "token mass conserved")
    // load factors average exactly 1/shard-count of the corpus each
    val lf = rows.map(_.getDouble(3))
    assert(lf.forall(f => f > 0.0 && f < Export.ShardCount),
      "no empty and no all-absorbing shard")
    assert(math.abs(lf.sum - Export.ShardCount) < 1e-2 * Export.ShardCount)
  }

  test("z-ordered layout confines a point filter to a fraction of the files") {
    import graft.sources.Layout
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("tsl"))
    val files = 16
    // time-sorted baseline: the layout every append-only ingest produces
    val naive = tmp() + "/ev_naive"
    ev.repartitionByRange(files, col("tsl")).sortWithinPartitions("tsl")
      .write.mode("overwrite").parquet(naive)
    val zdir = tmp() + "/ev_z"
    Layout.writeZOrdered(ev, zdir, "user_id", "tsl", files)
    assert(spark.read.parquet(zdir).count() === ev.count(), "re-layout must not drop rows")
    // most-active user = worst case for the time-sorted layout
    val uid = ev.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).head().getLong(0)
    def touched(dir: String): Long =
      spark.read.parquet(dir).filter(col("user_id") === uid)
        .select(input_file_name()).distinct().count()
    val (tz, tn) = (touched(zdir), touched(naive))
    info(s"user $uid: z-order touches $tz/$files files, time-sorted touches $tn/$files")
    assert(tz <= tn / 2,
      s"z-order should confine the user's rows to a fraction of the files ($tz vs $tn)")
    // interleave sanity: bits land in alternating positions
    val z = spark.range(1).select(
      Layout.zInterleave(lit(5L), lit(3L), 4).as("z")).head().getLong(0)
    // a=0101, b=0011 → z = b3 a3 b2 a2 b1 a1 b0 a0 = 00 01 10 11 = 27
    assert(z === 27L)
  }

  test("compaction merges a fragmented directory and preserves rows + sort pruning") {
    val frag = tmp() + "/frag"
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts")
    ev.repartition(64).write.mode("overwrite").parquet(frag) // micro-batch debris
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) === 64)
    val out = tmp() + "/compacted"
    Export.compact(spark, frag, out, targetFileBytes = 1L << 20, sortCols = Seq("user_id"))
    val back = spark.read.parquet(out)
    assert(back.count() === ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
    val n = parquetFiles(out)
    info(s"64 fragments -> $n compacted files")
    assert(n < 64)
    // range clustering: each user's rows live in exactly one file
    val spread = back.select(col("user_id"), input_file_name().as("f"))
      .distinct().groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(spread <= 2, s"range-clustered compaction should keep keys together (max $spread)")
  }

  test("sectioned export writes ordered truncated partition dirs") {
    val out = tmp() + "/sections"
    val df = operators.TaskAnalytics.normalizeStatus(spark, sf)
    Export.writeSectioned(df, out, "status", Seq("order_date", "o_orderkey"), 10)
    val back = spark.read.parquet(out)
    // truncation: every section capped at 10 rows
    val caps = back.groupBy("status").count().collect()
    assert(caps.nonEmpty && caps.forall(_.getLong(1) <= 10))
    // per-section content = global top-10 under the same ordering
    val expect = df.filter(col("status") === "open")
      .orderBy("order_date", "o_orderkey").limit(10)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val got = back.filter(col("status") === "open")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(got === expect)
    // layout: one partition dir per section value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("status=")))
  }

  test("metadata-only query prunes the payload column at the scan") {
    val out = tmp() + "/media"
    Multimodal.toMedia(Tables.documents(spark, sf)).write.mode("overwrite").parquet(out)
    val plan = Multimodal.metaOnly(spark, out).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"payload must be pruned from the scan:\n$plan")
  }
}

class BucketedStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf
  import org.apache.spark.sql.functions._

  test("bucketed join on the bucket key is exchange-free and correct") {
    import graft.sources.Bucketed
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Bucketed.writeBucketed(Tables.orders(spark, sf), "b_orders", 4, "o_orderkey")
    Bucketed.writeBucketed(Tables.lineitem(spark, sf), "b_lineitem", 4, "l_orderkey")
    // force the sort-merge path: with tiny test tables Spark would pick a
    // broadcast join (which bypasses bucketing entirely)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.bucketedJoin(spark, "b_lineitem", "b_orders", "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      val expected = Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("streaming dedup drops replayed event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.Ev]
    val q = graft.streaming.EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = new java.sql.Timestamp(1700000000000L)
      mem.addData(graft.streaming.Ev(1, t0, 1, "a", 1.0), graft.streaming.Ev(1, t0, 1, "a", 1.0),
        graft.streaming.Ev(2, t0, 1, "a", 2.0))
      q.processAllAvailable()
      mem.addData(graft.streaming.Ev(1, t0, 1, "a", 1.0))   // replay across batches
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").distinct().count() === 2)
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("CMS heavy hitters never undercount and respect the eps*N bound") {
    import graft.functions.TextFunctions._
    val hh = graft.operators.Sketches.heavyHitters(spark, sf).collect()
    assert(hh.length === graft.operators.Sketches.HeavyHittersK)
    val total = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        tokens(org.apache.spark.sql.functions.col("text")))).count()
    val slack = (graft.operators.Sketches.CmsEps * total).ceil.toLong
    hh.foreach { r =>
      val est = r.getAs[Long]("cms_estimate")
      val exact = r.getAs[Long]("exact_tf")
      assert(est >= exact, s"CMS undercounted ${r.getString(0)}: $est < $exact")
      assert(est <= exact + slack, s"CMS over eps bound for ${r.getString(0)}: $est > $exact + $slack")
    }
  }

  test("heavy-hitter candidates come from bounded summaries, superset of exact top-k") {
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.functions.{col, explode, count, lit}
    val toks = Tables.documents(spark, sf).select(explode(tokens(col("text"))).as("token"))
    val cand = graft.operators.Sketches.mgCandidates(spark, toks, toks.count())
    // plan shape: candidates are produced by the bounded mapPartitions
    // summary — the merge groupBy aggregates summary rows, never the
    // raw token stream (the full-vocabulary aggregate the CMS avoids)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"MG partition pass missing:\n$plan")
    val exactTop = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token"))
      .limit(graft.operators.Sketches.HeavyHittersK)
      .select("token").collect().map(_.getString(0)).toSet
    val candSet = cand.collect().map(_.getString(0)).toSet
    assert(exactTop.subsetOf(candSet),
      s"candidates miss true heavy hitters: ${(exactTop -- candSet).mkString(", ")}")
  }

  test("MG pigeonhole coverage margin: k-th heavy hitter clears N/m with headroom") {
    // q_heavy_hitters is hash-checked against an oracle that ranks the
    // FULL vocabulary, while the Spark side ranks only the Misra-Gries
    // candidates — the two agree because the true top-k provably
    // survives the summaries whenever the k-th frequency clears the
    // N/m pigeonhole threshold. That is a CORPUS property: a
    // regenerated testdata set whose k-th hitter sinks below N/m would
    // flip the hash gate from "approximation degraded" to a hard
    // parity failure. This spec measures the margin so a regeneration
    // re-measures it instead of failing mysteriously in parity.
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.functions.{col, explode, count, lit}
    val S = graft.operators.Sketches
    val toks = Tables.documents(spark, sf).select(explode(tokens(col("text"))).as("token"))
    val total = toks.count()
    val pigeonhole = (total + S.MgSummarySize - 1) / S.MgSummarySize // ⌈N/m⌉
    val kth = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token"))
      .limit(S.HeavyHittersK)
      .collect().map(_.getAs[Long]("tf")).min
    info(s"k-th exact tf = $kth, N/m pigeonhole = $pigeonhole " +
      f"(margin ${kth.toDouble / math.max(1L, pigeonhole)}%.1f×)")
    assert(kth > 2 * pigeonhole,
      s"MG coverage margin eroded: k-th heavy hitter tf $kth must clear " +
        s"2×⌈N/m⌉ = ${2 * pigeonhole} for the hash-checked top-k to be " +
        "candidate-complete with headroom — raise MgSummarySize or " +
        "re-measure before trusting q_heavy_hitters parity on this corpus")
  }

  test("attachment extraction: glob-filtered scan, truncation marker, ordered sections") {
    import org.apache.spark.sql.functions.{col, length => slen}
    val A = graft.sources.Attachments
    val root = A.materialize(spark, sf)
    // the skipped extensions exist on disk but never enter the scan
    // (exclude the `_`-prefixed completion marker — hidden to Spark)
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_")).count()
    assert(onDisk === 500, s"fixture tree should hold one file per document, got $onDisk")
    val readable = A.readableContent(spark, root)
    val out = A.attachmentText(spark, sf).collect()
    assert(out.nonEmpty)
    val all = out.map(_.getString(1)).mkString
    for (ext <- Seq(".csv", ".xlsx", ".bin", ".png"))
      assert(!all.contains(s"$ext ---"), s"skipped extension $ext leaked into the report")
    // truncation: every section body ≤ 1000 chars + marker; long files marked
    assert(all.contains(A.TruncatedMarker), "no section hit the truncation cap")
    // sections are in doc_id order within a task
    val ids = "doc_(\\d+)\\.".r.findAllMatchIn(out.head.getString(1)).map(_.group(1).toLong).toSeq
    assert(ids === ids.sorted, s"sections out of file-list order: $ids")
    // file-listing pushdown: the binaryFile relation only surfaces readable files
    val n = readable.select(org.apache.spark.sql.functions.sum(slen(col("attachment_text")))).head()
    assert(!n.isNullAt(0))
  }

  test("paged ingest: one partition per page, pruned scan, retry handled, merge wins") {
    import graft.sources.{PagedPartition, PagedReader, PagedTasks => P}
    val root = P.materialize(spark, sf)
    val raw = spark.read.format("graft.sources.PagedTasksSource")
      .option("path", root).load()
    // the cursor chain is read in parallel: one input partition per page
    assert(raw.rdd.getNumPartitions === P.NumPages)
    // column pruning reaches the source: a 1-column projection scans 1 field
    val pruned = raw.select("nid")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name) === Seq("nid"), scan.output.mkString(","))
    // every nid%7==0 task has its version-1 overlay in an update page
    val vmax = raw.groupBy("nid").agg(max("version").as("v")).collect()
    assert(vmax.forall(r => r.getInt(1) === (if (r.getLong(0) % 7 == 0) 1 else 0)))
    // update rows live in the trailing pages only
    assert(raw.filter(col("version") === 1 && col("page_no") < P.BasePages).isEmpty)
    // the reader consumes the 429 first attempt and still yields the page
    val retryPage = P.RetryEvery  // page 5: has a sidecar, 5 % 16 bucket is non-empty
    val part = PagedPartition(retryPage, s"$root/page-$retryPage.json",
      Some(s"$root/page-$retryPage.attempt0.json"), Some(P.cursorOf(retryPage + 1)))
    val reader = new PagedReader(part, P.Schema)
    var n = 0
    while (reader.next()) n += 1
    assert(reader.retried === 1 && n > 0)
    // a broken cursor chain fails loudly
    val bad = PagedPartition(retryPage, s"$root/page-$retryPage.json", None, None)
    intercept[IllegalArgumentException] { new PagedReader(bad, P.Schema).next() }
    // keep-last merge: every overlaid task reports the done status
    val merged = P.pagedIngest(spark, sf)
    assert(merged.filter(col("nid") % 7 === 0 && col("status") =!= P.DoneStatus).isEmpty)
    assert(merged.groupBy("nid").count().filter(col("count") > 1).isEmpty)
  }

  test("streaming paged ingest converges to the batch merge as pages arrive") {
    import graft.sources.{PagedTasks => P}
    val fixture = P.materialize(spark, sf)
    val streamDir = Files.createTempDirectory("graft_pstream").toString
    val cache = Files.createTempDirectory("graft_pcache").toString + "/cache"
    def copyPages(from: Int, until: Int): Unit =
      for (pg <- from until until) {
        val f = s"page-$pg.json"
        java.nio.file.Files.copy(java.nio.file.Paths.get(fixture, f),
          java.nio.file.Paths.get(streamDir, f))
        // 429 sidecars arrive too — they parse to zero rows
        val retry = java.nio.file.Paths.get(fixture, s"page-$pg.attempt0.json")
        if (java.nio.file.Files.exists(retry))
          java.nio.file.Files.copy(retry,
            java.nio.file.Paths.get(streamDir, s"page-$pg.attempt0.json"))
      }
    copyPages(0, P.BasePages)
    val q = P.pagedIngestStream(spark, streamDir, cache)
    try {
      q.processAllAvailable()
      val afterBase = spark.read.parquet(cache)
      assert(afterBase.filter(col("version") =!= 0).isEmpty,
        "no overlay rows may exist before the update pages arrive")
      copyPages(P.BasePages, P.NumPages)   // the incremental poll
      q.processAllAvailable()
      val streamed = spark.read.parquet(cache)
        .select("nid", "status", "priority", "created", "parent_nid", "total", "version")
        .collect().map(_.toSeq).toSet
      val batch = P.pagedIngest(spark, sf).collect().map(_.toSeq).toSet
      assert(streamed === batch, "streamed cache must equal the batch merge")
    } finally q.stop()
  }

  test("block tree flattens pre-order with checkbox state and trailing comments") {
    import org.apache.spark.sql.functions.col
    val rows = graft.operators.BlockTree.blockTree(spark, sf)
      .orderBy("doc_id", "pos").collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    for ((docId, rs) <- rows.take(50)) {
      val lines = rs.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getString(3)))
      // to_do checkbox reflects doc parity
      val todo = lines(1)._2
      assert(todo.startsWith(if (docId % 2 == 0) "[x] " else "[ ] "),
        s"doc $docId to_do line: $todo")
      // children (if any) sit directly after their bulleted parent,
      // before the code block — pre-order
      val codeIdx = lines.indexWhere(_._2.startsWith("[Code: "))
      assert(codeIdx === 3 || codeIdx === 5, s"doc $docId code at $codeIdx")
      // comments come last, kind-tagged
      assert(lines.takeRight(2).forall(_._1 == "comment"), s"doc $docId comment tail")
      assert(lines.dropRight(2).forall(_._1 == "block"))
      // heading styles: bold first run, italicized link second
      assert(lines.head._2.startsWith("**") && lines.head._2.contains("](https://x/"))
    }
  }

  test("Misra-Gries summary keeps every token above the n/m threshold") {
    // synthetic skewed stream: hot tokens must survive any ordering
    val m = 64
    val hot = (0 until 8).flatMap(i => Seq.fill(500 - i * 30)(s"hot$i"))
    val noise = (0 until 5000).map(i => s"noise${i % 2500}")
    val stream = new scala.util.Random(7).shuffle(hot ++ noise)
    val survivors = graft.operators.Sketches.misraGries(stream.iterator, m).map(_._1).toSet
    val n = stream.size
    val counts = stream.groupBy(identity).map { case (k, v) => k -> v.size }
    for ((t, c) <- counts if c > n / m)
      assert(survivors.contains(t), s"$t (count $c > ${n / m}) evicted from MG summary")
  }

  test("approx sketch stats are within error bounds of exact answers") {
    val approx = graft.operators.ExtendedAnalytics.approxStats(spark, sf)
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    val j = approx.join(exact, "event_type").collect()
    j.foreach { r =>
      val a = r.getAs[Long]("approx_users").toDouble
      val e = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(a - e) / e <= 0.1, s"approx $a vs exact $e")
    }
  }
}

class SnapshotsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf
  import org.apache.spark.sql.functions._
  import graft.sources.Snapshots

  test("a pinned version is unaffected by append; rewrite versions a drop; manifests are immutable") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val sliceA = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    assert(Snapshots.create(spark, root, sliceA) === 1)
    // pin BEFORE the append — the epoch-pinning contract
    val pinned = Snapshots.read(spark, root, 1)
    val wantA = ids(sliceA)
    assert(Snapshots.append(spark, root, sliceB) === 2)
    assert(ids(pinned) === wantA,
      "a reader pinned at v1 must see exactly v1's rows after the append")
    assert(ids(Snapshots.read(spark, root, 1)) === wantA)
    assert(ids(Snapshots.read(spark, root, 2)) === ids(docs),
      "v2 == v1 union the appended batch")
    // a curation drop lands as v3 from FRESH files; v1/v2 keep reading
    val kept = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    assert(Snapshots.rewrite(spark, root, kept) === 3)
    assert(ids(Snapshots.read(spark, root, 3)) === ids(kept))
    assert(ids(Snapshots.read(spark, root, 2)) === ids(docs),
      "old versions survive the rewrite")
    assert(Snapshots.latestVersion(spark, root) === 3)
    // versions are immutable: re-committing an existing manifest fails
    intercept[Exception] { Snapshots.create(spark, root, sliceA) }
  }

  test("expire reclaims exactly the unreachable files; pinned retained readers survive") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapexp").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def allDataFiles(): Set[String] = {
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val d = new org.apache.hadoop.fs.Path(s"$root/data")
      f.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) f.listStatus(st.getPath).toSeq else Seq(st)
      }.filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath.toString).toSet
    }
    val sliceA = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    val sliceB = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val kept = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    Snapshots.create(spark, root, sliceA)
    Snapshots.append(spark, root, sliceB)
    Snapshots.rewrite(spark, root, kept)
    val pinnedV2 = Snapshots.read(spark, root, 2) // planned BEFORE the expire
    val wantAll = ids(docs)
    Snapshots.expire(spark, root, retainMin = 2)
    // live versions keep every reachable file: the pinned reader and a
    // fresh read both still see exactly v2
    assert(ids(pinnedV2) === wantAll, "pinned retained reader survives expire")
    assert(ids(Snapshots.read(spark, root, 2)) === wantAll)
    assert(ids(Snapshots.read(spark, root, 3)) === ids(kept))
    // the expired version fails fast on its missing manifest
    intercept[Exception] { Snapshots.read(spark, root, 1) }
    // vacuum: on-disk files == union of live manifests, nothing else
    // the sanctioned accessor (raw line reads break on delta manifests,
    // whose bare file lines are only the commit's ADDS)
    def manifest(v: Int): Set[String] =
      Snapshots.readManifest(spark, root, v).toSet
    val live = manifest(2) ++ manifest(3)
    assert(allDataFiles() === live,
      "expire keeps every file reachable from live versions and drops the rest")
    // compaction: same rows, fresh single file, old files reclaimable
    val v4 = Snapshots.compact(spark, root, partitions = 1)
    assert(ids(Snapshots.read(spark, root, v4)) === ids(kept))
    assert(Snapshots.read(spark, root, v4).inputFiles.length === 1)
    Snapshots.expire(spark, root, retainMin = v4)
    assert(allDataFiles() === manifest(v4),
      "post-compaction expire leaves only the compacted files")
  }

  test("txn-keyed appends are exactly-once; streaming ingest survives restart without duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_snapstream").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // unit semantics first: a replayed txn id is a no-op
    Snapshots.create(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    val v2 = Snapshots.appendTxn(spark, root, 7L, docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    val replay = Snapshots.appendTxn(spark, root, 7L, docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    assert(replay === v2 && Snapshots.latestVersion(spark, root) === v2,
      "a committed txn id must be a no-op on replay")
    // crashed half-write: data dir exists, no manifest references it
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    docs.filter(pmod(col("doc_id"), lit(3)) === 2).limit(1)
      .write.mode("overwrite").parquet(s"$root/data/txn9")
    val v3 = Snapshots.appendTxn(spark, root, 9L, docs.filter(pmod(col("doc_id"), lit(3)) === 2))
    assert(ids(Snapshots.read(spark, root, v3)) === ids(docs),
      "the orphaned half-write never enters the manifest, no duplicate rows")
    // streaming end-to-end with a restart on the same checkpoint
    val sroot = java.nio.file.Files.createTempDirectory("graft_snapstream2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snapckpt").toString
    val rows = docs.select("doc_id", "source").as[(Long, String)].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val mem1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q1 = Snapshots.streamingSnapshotSink(
      mem1.toDF().toDF("doc_id", "source"), sroot)
      .option("checkpointLocation", ckpt).start()
    try { mem1.addData(h1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart: a NEW source on the SAME checkpoint, second half arrives
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem2.addData(h1: _*) // the source replays everything it has
    val q2 = Snapshots.streamingSnapshotSink(
      mem2.toDF().toDF("doc_id", "source"), sroot)
      .option("checkpointLocation", ckpt).start()
    try { mem2.addData(h2: _*); q2.processAllAvailable() } finally q2.stop()
    val got = ids(Snapshots.read(spark, sroot, Snapshots.latestVersion(spark, sroot)))
    assert(got === ids(docs),
      "restarted stream: the versioned dataset holds every row exactly once")
  }

  test("concurrent appends: every committer wins exactly one version, no rows lost") {
    val root = java.nio.file.Files.createTempDirectory("graft_snapconc").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val nWriters = 4
    Snapshots.create(spark, root, docs.filter(pmod(col("doc_id"), lit(nWriters + 1)) === nWriters))
    val threads = (0 until nWriters).map { r =>
      new Thread(() => {
        Snapshots.append(spark, root, docs.filter(pmod(col("doc_id"), lit(nWriters + 1)) === r))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshots.latestVersion(spark, root) === 1 + nWriters,
      "each racing append claims exactly one version (losers retried)")
    val finalIds = Snapshots.read(spark, root, 1 + nWriters)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(finalIds === docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      "the final version holds every batch exactly once")
    // versions grow monotonically: v_k has k batches' files
    (1 to nWriters).foreach { k =>
      val prev = Snapshots.read(spark, root, k).inputFiles.toSet
      val cur = Snapshots.read(spark, root, k + 1).inputFiles.toSet
      assert(prev.subsetOf(cur) && prev != cur, s"v${k + 1} strictly extends v$k")
    }
  }

  test("q_snapshot_read serves from v1's manifest files only") {
    val df = Snapshots.snapshotRead(spark, sf)
    df.collect()
    val root = Snapshots.snapRoot(spark, sf)
    val v1 = Snapshots.read(spark, root, 1).inputFiles.toSet
    val used = df.inputFiles.toSet
    assert(used.nonEmpty && used.subsetOf(v1),
      "the catalog query must read v1's manifest files alone")
    val v2 = Snapshots.read(spark, root, 2).inputFiles.toSet
    assert(v1.subsetOf(v2) && v1 != v2,
      "the append grew v2's file set without touching v1's")
    // the CDC twin reads ONLY the delta files — zero I/O against the
    // standing corpus
    val delta = Snapshots.snapshotChanges(spark, sf).inputFiles.toSet
    assert(delta.nonEmpty && delta.subsetOf(v2 -- v1),
      "q_snapshot_changes must scan exactly the appended files")
  }
}

class StreamingUpsertSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming upsert sink maintains a keep-last cache across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cache = java.nio.file.Files.createTempDirectory("graft_cache").toString + "/cache"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = graft.sources.Export.streamingUpsertSink(
      mem.toDF().toDF("id", "v", "ver"), cache, Seq("id"), "ver")
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      mem.addData((1L, "a2", 2L), (3L, "c", 1L))   // update id=1, insert id=3
      q.processAllAvailable()
      val out = spark.read.parquet(cache).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(out === Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }
}
