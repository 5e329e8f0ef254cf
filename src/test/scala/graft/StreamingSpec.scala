package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.job.{FixtureGen, PageTableIO}
import graft.streaming.ExtractStream

/** Structured Streaming e2e: file-source micro-batch extraction with
  * checkpointed exactly-once output. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  test("AvailableNow stream extracts the fixture corpus exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    val pagesDir = s"$base/pages"
    val rows = FixtureGen.fixtureRows("src/test/resources/fixtures")
    // plain (unpartitioned) parquet input for the file source
    spark.createDataset(rows).toDF().write.parquet(pagesDir)

    val q = ExtractStream.extractQuery(spark, pagesDir, s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 14)
    assert(out.where($"status" === "ok").count() == 14)

    // restart with same checkpoint: no new data → no duplicates
    val q2 = ExtractStream.extractQuery(spark, pagesDir, s"$base/out", s"$base/ckpt")
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$base/out").count() == 14)
  }

  test("WARC drop-dir stream: new files extracted exactly once across " +
    "checkpointed restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.charset.StandardCharsets.UTF_8
    val base = java.nio.file.Files.createTempDirectory("warcstream").toString
    val drop = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(base, "drop")).toString
    def warcFile(name: String, ids: Seq[Int]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(drop, name),
        graft.sources.Warc.writeWarc(ids.map(i =>
          (s"http://stream.example/doc/$i", f"2026-01-01T00:${i}%02d:00Z",
            s"<html><head><title>D$i</title></head><body><p>body text $i</p></body></html>"
              .getBytes(UTF_8))), gzipPerRecord = true))
    warcFile("a.warc.gz", Seq(1, 2, 3))

    def run(): Unit = {
      val q = graft.sources.Warc.readStream(spark, drop)
        .as[graft.extract.Page]
        .map(graft.extract.Extractor.extract)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    assert(spark.read.parquet(s"$base/out").count() == 3)
    // a new file lands in the drop dir; restart processes ONLY it
    warcFile("b.warc.gz", Seq(4, 5))
    run()
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 5)
    assert(out.select("url").distinct().count() == 5)
    // and an unchanged restart is a no-op
    run()
    assert(spark.read.parquet(s"$base/out").count() == 5)
  }

  test("streaming ingest-dedup: micro-batches run the index loop — " +
    "build, then catch a mirror page, replay is a no-op ingest") {
    import spark.implicits._
    import graft.extract.Page
    import graft.pipeline.Dedup
    val base = java.nio.file.Files.createTempDirectory("streamdedup").toString
    val pagesDir = s"$base/pages"
    val idx = s"$base/idx"

    def page(i: Long, text: String): Page =
      Page(s"stream://doc/$i", new java.sql.Timestamp(1767225600000L + i * 60000L),
        s"""<html><head><title>D$i</title></head><body><div class="article"><p>$text</p></div></body></html>"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "")
    def text(i: Long): String =
      s"document $i body " + (0 until 30).map(j => s"w${(i * 3 + j) % 7}").mkString(" ")

    // the dedup query CHAINS off extractQuery's output (extraction runs
    // once; the dedup leg streams only (url, extracted_text))
    val outDir = s"$base/extracted"
    def extractThenDedup(): Unit = {
      ExtractStream.extractQuery(spark, pagesDir, outDir, s"$base/ckptE")
        .awaitTermination(120000)
      ExtractStream.dedupIngestQuery(spark, outDir, idx, s"$base/dupes",
        s"$base/ckpt").awaitTermination(120000)
    }

    // drop 1: five distinct pages → index built, no pairs
    spark.createDataset((0L until 5L).map(i => page(i, text(i)))).toDF()
      .write.parquet(pagesDir)
    extractThenDedup()
    assert(Dedup.loadMinHashIndex(spark, idx)
      .shingles.select("id").distinct().count() == 5L)
    assert(spark.read.parquet(s"$base/dupes").count() == 0L)

    // drop 2: one new page + a mirror of corpus doc 2 → the pair surfaces
    spark.createDataset(Seq(page(10L, text(10L)),
      Page("stream://mirror/2", new java.sql.Timestamp(1767225600000L),
        page(2L, text(2L)).html, "", ""))).toDF()
      .write.mode("append").parquet(pagesDir)
    extractThenDedup()
    val pairs = spark.read.parquet(s"$base/dupes")
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    assert(pairs.contains(Seq("stream://doc/2", "stream://mirror/2")),
      s"expected the mirror pair, got $pairs")
    val metaAfter = spark.read.parquet(s"$idx/meta").head.getAs[Int]("ingests")
    val dupesAfter = spark.read.parquet(s"$base/dupes").count()
    assert(Dedup.loadMinHashIndex(spark, idx)
      .shingles.select("id").distinct().count() == 7L)

    // replay: a FRESH checkpoint re-delivers every file; the seen-url
    // anti-join makes the replay a no-op — same ids, same dupes, and no
    // ingest number burned
    ExtractStream.dedupIngestQuery(spark, outDir, idx, s"$base/dupes",
      s"$base/ckpt2").awaitTermination(120000)
    assert(Dedup.loadMinHashIndex(spark, idx)
      .shingles.select("id").distinct().count() == 7L)
    assert(spark.read.parquet(s"$base/dupes").count() == dupesAfter)
    assert(spark.read.parquet(s"$idx/meta").head.getAs[Int]("ingests") == metaAfter)
  }

  test("streaming profile sketches: a day arriving across micro-batches " +
    "ends with the FULL-day sketch; restart over new files upserts only " +
    "touched days") {
    import spark.implicits._
    import graft.extract.Page
    import graft.pipeline.{Dedup, Sketch}
    import org.apache.spark.sql.functions.{col, explode, length, to_date}
    val base = java.nio.file.Files.createTempDirectory("streamsketch").toString
    val pagesDir = s"$base/pages"
    val outDir = s"$base/extracted"
    val sk = s"$base/sk"
    def loaded(f: Sketch.Family, table: String) =
      Sketch.load(spark, f, Seq("warc_day"), s"$sk/$table")

    def page(i: Long): Page =
      Page(s"sk://doc/$i", new java.sql.Timestamp(1767225600000L + i * 3600L * 1000),
        s"""<html><head><title>D$i</title></head><body><div class="article"><p>doc $i words w${i % 5} w${i % 7} tail</p></div></body></html>"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "")

    def runBoth(): Unit = {
      ExtractStream.extractQuery(spark, pagesDir, outDir, s"$base/ckptE")
        .awaitTermination(120000)
      ExtractStream.profileSketchQuery(spark, outDir, sk, s"$base/ckptS")
        .awaitTermination(120000)
    }

    // drop 1: half of day 1 (hours 0-11)
    spark.createDataset((0L until 12L).map(page)).toDF().write.parquet(pagesDir)
    runBoth()
    // drop 2: rest of day 1 + start of day 2
    spark.createDataset((12L until 30L).map(page)).toDF()
      .write.mode("append").parquet(pagesDir)
    runBoth()

    // the persisted registers equal a direct build over the FULL
    // extracted table — day 1's second half was folded in by recompute,
    // not lost to a batch-local replace
    val all = spark.read.parquet(outDir).where(col("status") === "ok")
      .select(to_date(col("warc_ts")).cast("string").as("warc_day"),
        col("extracted_text"))
    val wantHll = Sketch.hllRegisters(
      all.select(col("warc_day"),
        explode(Dedup.tokens(col("extracted_text"))).as("tok")),
      Seq("warc_day"), col("tok")).collect().map(_.toSeq).toSet
    val (gotHll, Seq(p)) = loaded(Sketch.Hll, "hll_tokens")
    assert(p == 9)
    assert(gotHll.collect().map(_.toSeq).toSet == wantHll)
    val wantHist = Sketch.hist2Build(all, Seq("warc_day"),
      length(col("extracted_text")), sBits = 0).drop("sub")
      .collect().map(_.toSeq).toSet
    assert(loaded(Sketch.Hist, "len_hist")._1
      .collect().map(_.toSeq).toSet == wantHist)

    // drop 3 proves the fold is INCREMENTAL — no re-read of the day's
    // earlier files (VERDICT r5 #3): extract one more page for each day,
    // compute the expected full-corpus sketches while every file is
    // intact, then TRUNCATE the already-folded day-1 data files to zero
    // bytes. A fold that recomputed day 1 from its full slice (the r5
    // shape) would now rebuild it from only the new file and lose hours
    // 0–23; the batch-local fold never opens them.
    val day1Dir = new java.io.File(s"$outDir/warc_day=2026-01-01")
    def day1Files() = day1Dir.listFiles
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSet
    val oldDay1 = day1Files()
    spark.createDataset(Seq(page(23L), page(40L))).toDF()
      .write.mode("append").parquet(pagesDir)
    ExtractStream.extractQuery(spark, pagesDir, outDir, s"$base/ckptE")
      .awaitTermination(120000)
    val all3 = spark.read.parquet(outDir).where(col("status") === "ok")
      .select(to_date(col("warc_ts")).cast("string").as("warc_day"),
        col("extracted_text")).localCheckpoint(true)
    val wantHll3 = Sketch.hllRegisters(
      all3.select(col("warc_day"),
        explode(Dedup.tokens(col("extracted_text"))).as("tok")),
      Seq("warc_day"), col("tok")).collect().map(_.toSeq).toSet
    val wantHist3 = Sketch.hist2Build(all3, Seq("warc_day"),
      length(col("extracted_text")), sBits = 0).drop("sub")
      .collect().map(_.toSeq).toSet
    oldDay1.foreach(f =>
      new java.io.FileOutputStream(f).close()) // truncate to 0 bytes
    ExtractStream.profileSketchQuery(spark, outDir, sk, s"$base/ckptS")
      .awaitTermination(120000)
    assert(loaded(Sketch.Hll, "hll_tokens")._1
      .collect().map(_.toSeq).toSet == wantHll3,
      "day-1 registers must survive the earlier files' removal — the fold re-read them")
    assert(loaded(Sketch.Hist, "len_hist")._1
      .collect().map(_.toSeq).toSet == wantHist3)
  }

  test("streaming exact dedup keeps one row per content fingerprint " +
    "(watermark-bounded state)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("streamd").toString
    val pagesDir = s"$base/pages"
    // 12 rows, 4 distinct texts (each duplicated 3x across urls/hours)
    val rows = (0 until 12).map { i =>
      graft.extract.Page(s"https://h${i % 3}.example.org/p/$i",
        new java.sql.Timestamp(1767225600000L + i * 3600000L),
        Array.emptyByteArray, s"content variant ${i % 4}", "en")
    }
    spark.createDataset(rows).toDF().write.parquet(pagesDir)

    val q = graft.streaming.StatefulOps.dedupQuery(
      spark, pagesDir, s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 4)
    assert(out.select("fp").distinct().count() == 4)
  }

  test("per-host crawl stats via mapGroupsWithState (custom state)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("streams").toString
    val pagesDir = s"$base/pages"
    val rows = (0 until 10).map { i =>
      graft.extract.Page(s"https://h${i % 2}.example.org/p/$i",
        new java.sql.Timestamp(1767225600000L + i * 60000L),
        Array.fill(100 + i)(0x41.toByte), s"t$i", "en")
    }
    spark.createDataset(rows).toDF().write.parquet(pagesDir)

    val q = graft.streaming.StatefulOps.hostStatsQuery(
      spark, pagesDir, "host_stats_test", s"$base/ckpt")
    q.awaitTermination(120000)
    // update-mode memory sink: last row per host is the final state
    val stats = spark.sql(
      """SELECT host, max(docs) AS docs, max(bytes) AS bytes
        |FROM host_stats_test GROUP BY host""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats("h0.example.org")._1 == 5)
    assert(stats("h1.example.org")._1 == 5)
    // bytes: h0 gets pages 0,2,4,6,8 → sizes 100,102,104,106,108 = 520
    assert(stats("h0.example.org")._2 == 520)
    assert(stats("h1.example.org")._2 == 525)
  }

  test("stream-static enrichment join: each micro-batch picks up the " +
    "broadcast host dimension; unknown hosts survive via left join") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("streamj").toString
    val pagesDir = s"$base/pages"
    val rows = (0 until 9).map { i =>
      graft.extract.Page(s"https://h${i % 3}.example.org/p/$i",
        new java.sql.Timestamp(1767225600000L + i * 60000L),
        Array.emptyByteArray, s"t$i", "en")
    }
    spark.createDataset(rows).toDF().write.parquet(pagesDir)
    // dimension covers h0/h1 only — h2 is the unknown host
    val dim = Seq(("h0.example.org", "tier1", 1.0),
      ("h1.example.org", "tier2", 0.5)).toDF("host", "tier", "weight")

    val q = graft.streaming.StatefulOps.enrichQuery(
      spark, pagesDir, dim, s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 9)
    val byTier = out.groupBy("tier").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byTier(Some("tier1")) == 3)
    assert(byTier(Some("tier2")) == 3)
    assert(byTier(None) == 3) // unknown host: kept, dimension columns null
    // enrichment carries the numeric attribute through too
    assert(out.where(org.apache.spark.sql.functions.col("host") === "h1.example.org")
      .select("weight").distinct().head.getDouble(0) == 0.5)
  }

  test("watermarked window metrics aggregate per hour") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("streamw").toString
    val pagesDir = s"$base/pages"
    val rows = FixtureGen.fixtureRows("src/test/resources/fixtures")
    spark.createDataset(rows).toDF().write.parquet(pagesDir)

    val q = ExtractStream.metricsQuery(spark, pagesDir, s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$base/out")
    // append mode emits only windows sealed by the watermark — with rows
    // spread across 14 distinct hours, at least the earliest are sealed
    assert(out.count() >= 1)
    assert(out.select("docs").as[Long].collect().forall(_ >= 1L))
  }
}
