package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.extract.Page
import graft.job.{ExtractJob, PageTableIO}

/**
 * End-to-end spec for the production extraction job (ExtractJob.run):
 * fresh run, observed-metrics row count (no output re-read), metrics +
 * lineage sinks, one part file per crawl day, and checkpointed resume
 * (delta-only append, exactly-once per url, an unreadable prior output
 * fails the job instead of being overwritten).
 */
object ExtractJobSpec {
  /** Page i is stamped i hours after 2026-01-01T00:00Z, so ids 0..23
    * fill exactly one UTC day. */
  def page(i: Long): Page = {
    val html =
      s"""<html><head><title>Doc $i</title></head><body>
         |<div class="article"><p>Paragraph text for document $i, with some
         |commas, sentences, and enough words to score as content.</p></div>
         |</body></html>""".stripMargin
    Page(s"test://doc/$i", new java.sql.Timestamp(1767225600000L + i * 3600L * 1000),
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "")
  }

  def writePages(spark: org.apache.spark.sql.SparkSession, dir: String,
                 ids: Seq[Long]): Unit = {
    import spark.implicits._
    PageTableIO.write(spark.createDataset(ids.map(page)).toDF(), dir, numBuckets = 4)
  }
}

class ExtractJobSpec extends AnyFunSuite {
  import ExtractJobSpec._

  private lazy val spark = SparkSessionFixture.spark

  private def writePages(dir: String, ids: Seq[Long]): Unit =
    ExtractJobSpec.writePages(spark, dir, ids)

  test("fresh run: observed-metric count, metrics sink, lineage sink") {
    val tmp = java.nio.file.Files.createTempDirectory("extractjob").toString
    writePages(s"$tmp/pages", 0L until 20L)
    val n = ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = false)
    assert(n == 20L) // from the observe()d docs metric, not an output re-read
    val out = spark.read.parquet(s"$tmp/out/extracted")
    assert(out.count() == 20L)
    assert(out.where(col("status") === "ok").count() == 20L)
    // metrics sink captured the same pass
    val metrics = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/out/_metrics.json")))
    assert(metrics.contains("\"docs\":20"))
    assert(metrics.contains("\"ok_docs\":20"))
    assert(metrics.contains("bytes_in"))
    // per-partition lineage rows cover every input row exactly once
    val lineage = spark.read.parquet(s"$tmp/out/_lineage")
    assert(lineage.agg(sum(col("rows"))).head.getLong(0) == 20L)
  }

  test("--warc input: the production job ingests a crawl drop directly, " +
    "resume picks up only new WARC files' urls") {
    import java.nio.charset.StandardCharsets.UTF_8
    val tmp = java.nio.file.Files.createTempDirectory("extractjobwarc").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/drop"))
    def drop(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/drop/$name"),
        graft.sources.Warc.writeWarc(ids.map { i =>
          val html = page(i).html
          (s"test://doc/$i", java.time.Instant.ofEpochMilli(
            1767225600000L + i * 3600L * 1000).toString, html)
        }, gzipPerRecord = true))
    drop("a.warc.gz", 0L until 8L)
    val n1 = ExtractJob.run(spark, s"$tmp/drop/*.warc.gz", s"$tmp/out",
      partitions = 4, resume = false, warcInput = true)
    assert(n1 == 8L)
    drop("b.warc.gz", 8L until 12L)
    val n2 = ExtractJob.run(spark, s"$tmp/drop/*.warc.gz", s"$tmp/out",
      partitions = 4, resume = true, warcInput = true)
    assert(n2 == 4L, s"resume over the drop dir should extract only the 4 new urls, got $n2")
    val out = spark.read.parquet(s"$tmp/out/extracted")
    assert(out.count() == 12L)
    assert(out.where(col("status") === "ok").count() == 12L)

    // --warc-splits over the same drop: identical extracted output (the
    // sub-file-split ingest path feeding the REAL production job)
    val n3 = ExtractJob.run(spark, s"$tmp/drop/*.warc.gz", s"$tmp/out_splits",
      partitions = 4, resume = false, warcInput = true, warcSplits = true)
    assert(n3 == 12L)
    val outS = spark.read.parquet(s"$tmp/out_splits/extracted")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "status", "extracted_text")
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(canon(outS) == canon(out))

    // a typo'd/nonexistent glob must FAIL, not succeed with 0 rows
    val err = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, s"$tmp/no_such_dir/*.warc.gz", s"$tmp/out_err",
        partitions = 4, resume = false, warcInput = true, warcSplits = true)
    }
    assert(err.getMessage.contains("no files"))
    // a DIRECTORY path expands to its files, matching --warc's behavior
    val nDir = ExtractJob.run(spark, s"$tmp/drop", s"$tmp/out_dir",
      partitions = 4, resume = false, warcInput = true, warcSplits = true)
    assert(nDir == 12L)

    // NESTED drop layouts (drop/segment-NN/*.warc.gz, the Common-Crawl
    // shape) are walked recursively, and hidden/metadata entries
    // (_SUCCESS, .crc) are skipped — both as the binaryFile source does
    val seg = java.nio.file.Paths.get(s"$tmp/nested/segment-00")
    java.nio.file.Files.createDirectories(seg)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$tmp/drop/a.warc.gz"),
      seg.resolve("a.warc.gz"))
    java.nio.file.Files.write(seg.resolve("_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.write(seg.resolve(".a.warc.gz.crc"), "junk".getBytes)
    val nNested = ExtractJob.run(spark, s"$tmp/nested", s"$tmp/out_nested",
      partitions = 4, resume = false, warcInput = true, warcSplits = true)
    assert(nNested == 8L, s"nested layout should yield file a's 8 urls, got $nNested")
  }

  test("--dedup-index: first run builds the corpus index; the next run " +
    "dedups its batch against it and appends the ingest") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("extractjobdedup").toString
    val idx = s"$tmp/idx"

    writePages(s"$tmp/pages1", 0L until 10L)
    ExtractJob.run(spark, s"$tmp/pages1", s"$tmp/out1",
      partitions = 4, resume = false, dedupIndexPath = Some(idx))
    val built = Dedup.loadMinHashIndex(spark, idx)
    assert(built.shingles.select("id").distinct().count() == 10L)
    // the first ingest self-dedups too: distinct pages → empty pair set
    assert(spark.read.parquet(s"$tmp/out1/_dupes").count() == 0L)

    // second ingest: 4 new pages, one whose CONTENT duplicates corpus
    // doc 2, and a same-batch mirror of new doc 11
    def dupPage(u: String, contentOf: Long): Page = {
      val p = page(contentOf)
      Page(u, p.warc_ts, p.html, "", "")
    }
    PageTableIO.write(spark.createDataset(
      (10L until 15L).map(page) ++ Seq(
        dupPage("test://dup/2", 2L), dupPage("test://mirror/11", 11L))).toDF(),
      s"$tmp/pages2", numBuckets = 4)
    ExtractJob.run(spark, s"$tmp/pages2", s"$tmp/out2",
      partitions = 4, resume = false, dedupIndexPath = Some(idx))

    val dupes = spark.read.parquet(s"$tmp/out2/_dupes")
    val pairs = dupes.select("id_a", "id_b").collect().map(_.toSeq).toSet
    // batch-vs-INDEX near-dup (corpus id on the a-side)
    assert(pairs.contains(Seq("test://doc/2", "test://dup/2")),
      s"expected the planted corpus near-dup pair, got $pairs")
    // WITHIN-batch near-dup: both urls new in this ingest — only the
    // batch self-join can see this pair
    assert(pairs.contains(Seq("test://doc/11", "test://mirror/11")),
      s"expected the planted same-batch mirror pair, got $pairs")
    // and the batch joined the index as ingest 1 (17 distinct ids now)
    assert(Dedup.loadMinHashIndex(spark, idx)
      .shingles.select("id").distinct().count() == 17L)
    val meta = spark.read.parquet(s"$idx/meta").head
    assert(meta.getAs[Int]("ingests") == 2)
  }

  test("--profile-sketches: per-day sketch tables build on the first " +
    "run, gain new days on resume, and a re-run is idempotent") {
    import graft.pipeline.Sketch
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("extractjobsketch").toString
    val sk = s"$tmp/sketches"
    def loaded(f: Sketch.Family, table: String) =
      Sketch.load(spark, f, Seq("warc_day"), s"$sk/$table")
    // page(i) timestamps step by 1h → ids 0..23 fill exactly one UTC day
    writePages(s"$tmp/pages", 0L until 24L)
    ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = false, profileSketchPath = Some(sk))
    val (regs1, Seq(p1)) = loaded(Sketch.Hll, "hll_tokens")
    assert(p1 == 9)
    val day1Regs = regs1.collect().map(_.toSeq).toSet
    assert(regs1.select("warc_day").distinct().count() == 1)
    val hist1 = loaded(Sketch.Hist, "len_hist")._1
    assert(hist1.agg(org.apache.spark.sql.functions.sum(col("cnt")))
      .head.getLong(0) == 24L)

    // grow the input into a SECOND day; resume extracts the delta and
    // the sketch gains the new day without disturbing day 1
    writePages(s"$tmp/pages", 0L until 30L)
    ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = true, profileSketchPath = Some(sk))
    val (regs2, _) = loaded(Sketch.Hll, "hll_tokens")
    assert(regs2.select("warc_day").distinct().count() == 2)
    val hist2rows =
      loaded(Sketch.Hist, "len_hist")._1.collect().map(_.toSeq).toSet

    // re-running the same resume (no-op delta) leaves both sketches
    // byte-identical — the group-replace discipline is idempotent
    ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = true, profileSketchPath = Some(sk))
    val (regs3, _) = loaded(Sketch.Hll, "hll_tokens")
    assert(regs3.collect().map(_.toSeq).toSet ==
      regs2.collect().map(_.toSeq).toSet)
    assert(loaded(Sketch.Hist, "len_hist")._1
      .collect().map(_.toSeq).toSet == hist2rows)
    // day-1 registers specifically survived the day-2 upsert untouched
    assert(regs2.collect().map(_.toSeq).toSet.intersect(day1Regs) == day1Regs)
  }

  test("resume: appends only the missing urls (exactly-once per url)") {
    val tmp = java.nio.file.Files.createTempDirectory("extractjob").toString
    writePages(s"$tmp/pages", 0L until 10L)
    val n1 = ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = false)
    assert(n1 == 10L)
    // the input table grows by 5 new urls; resume extracts ONLY those
    writePages(s"$tmp/pages", 0L until 15L)
    val n2 = ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = true)
    assert(n2 == 5L, s"resume should extract only the 5 new urls, got $n2")
    val out = spark.read.parquet(s"$tmp/out/extracted")
    assert(out.count() == 15L)
    assert(out.select("url").distinct().count() == 15L)
    // resume over an unchanged input is a no-op
    val n3 = ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = true)
    assert(n3 == 0L)
    assert(spark.read.parquet(s"$tmp/out/extracted").count() == 15L)
  }

  test("one part file per warc_day: a 3-day input at 4 partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("extractjobdays").toString
    writePages(s"$tmp/pages", 0L until 72L)
    assert(ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out",
      partitions = 4, resume = false) == 72L)
    // the salted stage gives every task rows of every day; the rebalance
    // on warc_day before the write gives each day to one write task
    val days = new java.io.File(s"$tmp/out/extracted").listFiles()
      .filter(_.getName.startsWith("warc_day=")).sortBy(_.getName)
    assert(days.map(_.getName).toSeq ==
      Seq("warc_day=2026-01-01", "warc_day=2026-01-02", "warc_day=2026-01-03"))
    days.foreach { d =>
      val parts = d.list().filter(_.startsWith("part-")).toSeq
      assert(parts.size == 1, s"${d.getName}: ${parts.mkString(", ")}")
    }
    assert(spark.read.parquet(s"$tmp/out/extracted").count() == 72L)
  }

  test("--resume: an unreadable prior output fails the job and stays in " +
    "place; an extracted/ without data files is no prior output") {
    val tmp = java.nio.file.Files.createTempDirectory("extractjobcorrupt").toString
    writePages(s"$tmp/pages", 0L until 5L)
    val day = java.nio.file.Paths.get(s"$tmp/out/extracted/warc_day=2026-01-01")
    java.nio.file.Files.createDirectories(day)
    val corrupt = day.resolve("part-00000-corrupt.zstd.parquet")
    val junk = "not a parquet file".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(corrupt, junk)
    intercept[Exception] {
      ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out", partitions = 4, resume = true)
    }
    assert(java.nio.file.Files.exists(corrupt))
    assert(java.nio.file.Files.readAllBytes(corrupt).sameElements(junk))

    // only hidden/metadata entries (an aborted run's leftovers): resume
    // runs as a fresh extraction
    val empty = java.nio.file.Paths.get(s"$tmp/out2/extracted")
    java.nio.file.Files.createDirectories(empty.resolve("_temporary/0"))
    java.nio.file.Files.write(empty.resolve("_temporary/0/part-00000.parquet"), junk)
    java.nio.file.Files.write(empty.resolve("_SUCCESS"), Array.emptyByteArray)
    assert(ExtractJob.run(spark, s"$tmp/pages", s"$tmp/out2",
      partitions = 4, resume = true) == 5L)
    assert(spark.read.parquet(s"$tmp/out2/extracted").count() == 5L)
  }
}
