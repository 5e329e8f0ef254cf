package graft.job

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.extract.{Extracted, Extractor, Page}

/**
 * The production extraction job (reference lifecycle SURVEY.md §3.1):
 *
 *   scan pages (column-pruned, partition-pruned)
 *     → salted repartition (one shuffle; skew policy in Salting)
 *     → typed map Extractor.extract (whole-stage-codegen'd MapElements)
 *     → REBALANCE on warc_day (AQE only; see below)
 *     → partitioned Parquet write of Extracted rows
 *
 * The salted shuffle sends every crawl day to every task, so a write
 * straight off the map opens one Parquet file per (task, day). The
 * rebalance hint between the map and the write gives each write task
 * whole days instead: AQE coalesces small days and splits a large one at
 * spark.sql.adaptive.advisoryPartitionSizeInBytes, so a one-day ingest
 * still writes in parallel. The hint sits ABOVE the extraction map, so
 * extraction stays in the salted stage; it costs one shuffle of the
 * output rows. With AQE off Spark drops the hint and the write is
 * map-side, as before.
 *
 * Resumability: `--resume` left-anti-joins the input against the urls
 * already present in the output (done-manifest) and appends only the
 * missing rows; a fresh run uses dynamic partition overwrite so re-running
 * a day/bucket slice is idempotent. Together: checkpointed resume with
 * exactly-once output per url.
 *
 * Metrics: Dataset.observe aggregates extraction counters in the same
 * pass; per-partition lineage rows (partition id, rows, bytes) are
 * collected via an accumulator (no second pass over the data) and written
 * to `<out>/_lineage`.
 *
 * Usage: ExtractJob <pagesDir|warcGlob> <outDir> [--resume] [--warc]
 *          [--warc-splits] [--partitions N] [--dedup-index <path>]
 *          [--profile-sketches <path>]
 *
 * --warc-splits: read WARC input via member-aligned sub-file splits
 * (Warc.readWithSplits) instead of one task per file — for the slots ≫
 * files regime (a handful of 1 GB warc.gz files on a wide cluster).
 *
 * --dedup-index: run the ingest-dedup loop against a persisted
 * MinHash-LSH corpus index — first run builds it; later runs dedup their
 * batch against it (near-dup pairs → <out>/_dupes) and append the batch
 * as the next ingest (Dedup.appendToMinHashIndex; compact offline with
 * Dedup.compactMinHashIndex when re-ingests accumulate).
 *
 * --profile-sketches: continuous corpus profiling — upsert this run's
 * crawl days into running per-day sketch tables (HLL distinct-token
 * registers + log2 length histogram; Sketch.corpusProfile, Sketch.upsert).
 */
object ExtractJob {

  def main(args: Array[String]): Unit = {
    val pos = JobArgs.parse(args,
      valueFlags = Set("--partitions", "--dedup-index", "--profile-sketches"),
      boolFlags = Set("--resume", "--warc", "--warc-splits"),
      usage = "usage: ExtractJob <pagesDir|warcGlob> <outDir> [--resume] " +
        "[--warc|--warc-splits] [--partitions N] [--dedup-index <path>] " +
        "[--profile-sketches <path>]")
    require(pos.length >= 2,
      "usage: ExtractJob <pagesDir|warcGlob> <outDir> [flags]")
    val (pagesDir, outDir) = (pos(0), pos(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val partitions = args.sliding(2).collectFirst {
      case Array("--partitions", v) => v.toInt
    }.getOrElse(cpus.toInt * 2)
    val dedupIndex = args.sliding(2).collectFirst {
      case Array("--dedup-index", v) => v
    }
    val profileSketches = args.sliding(2).collectFirst {
      case Array("--profile-sketches", v) => v
    }

    val spark = SparkSession.builder()
      .appName("graft-extract")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val resume = args.contains("--resume")
    val n = run(spark, pagesDir, outDir, partitions, resume,
      warcInput = args.contains("--warc") || args.contains("--warc-splits"),
      warcSplits = args.contains("--warc-splits"),
      dedupIndexPath = dedupIndex,
      profileSketchPath = profileSketches)
    println(s"""{"extracted_rows":$n,"out":"$outDir"}""")
    spark.stop()
  }

  def run(spark: SparkSession, pagesDir: String, outDir: String,
          partitions: Int, resume: Boolean,
          warcInput: Boolean = false,
          warcSplits: Boolean = false,
          dedupIndexPath: Option[String] = None,
          profileSketchPath: Option[String] = None): Long = {
    import spark.implicits._

    // --warc: ingest straight from a crawl drop (WARC files) instead of
    // the curated parquet pages table — same job from there on.
    // --warc-splits additionally splits each file at gzip member
    // boundaries so a few large files still fill every slot.
    // Both modes resolve CONCRETE file paths up front: a typo'd glob
    // fails loudly instead of extracting 0 rows, and binaryFile never
    // sees a raw glob (whose FileStreamSink metadata probe logs a
    // crash-shaped FileNotFoundException into job output).
    def resolveWarcFiles(): Seq[String] = {
      val mode = if (warcSplits) "--warc-splits" else "--warc"
      val glob = new org.apache.hadoop.fs.Path(pagesDir)
      val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched = fs.globStatus(glob)
      if (matched == null || matched.isEmpty)
        throw new IllegalArgumentException(
          s"$mode: no files or directories match '$pagesDir'")
      // matched directories expand RECURSIVELY (binaryFile's own listing
      // descends into nested drop layouts like drop/segment-NN/*.warc.gz);
      // hidden/metadata entries (_SUCCESS, .*.crc) are skipped DURING
      // descent exactly as Spark's file index skips them — but never the
      // user-supplied roots themselves (Spark doesn't filter given
      // paths either, and a '/data/_staging' root must stay readable).
      // Depth-capped: a symlink cycle inside a drop must fail with a
      // clear error, not a StackOverflowError.
      def hidden(p: org.apache.hadoop.fs.Path): Boolean =
        p.getName.startsWith("_") || p.getName.startsWith(".")
      def walk(st: org.apache.hadoop.fs.FileStatus,
               depth: Int): Seq[org.apache.hadoop.fs.FileStatus] = {
        if (depth > 32)
          throw new IllegalArgumentException(
            s"$mode: directory nesting beyond depth 32 under '$pagesDir' — " +
              "symlink cycle in the drop?")
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filterNot(c => hidden(c.getPath))
            .flatMap(walk(_, depth + 1))
        else Seq(st)
      }
      matched.toSeq.flatMap(walk(_, 0)).map(_.getPath.toString).sorted
    }
    var input: DataFrame =
      if (warcSplits) graft.sources.Warc.readWithSplits(spark, resolveWarcFiles())
      else if (warcInput) graft.sources.Warc.read(spark, resolveWarcFiles())
      else spark.read.parquet(pagesDir)
        .select(PageTableIO.ExtractColumns.map(col): _*)

    var priorOutput = false
    if (resume) doneManifest(spark, outDir).foreach { done =>
      priorOutput = true
      input = input.join(done, Seq("url"), "left_anti")
    }

    val pages: Dataset[Page] = Salting.saltedRepartition(input, partitions)
      .select(col("url"), col("warc_ts"), col("html"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("lang"), lit("")).as("lang"))
      .as[Page]

    val lineageAcc: CollectionAccumulator[(Int, Long, Long)] =
      spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("lineage")

    // observed metrics via the Observation API: `getAsJava` blocks until
    // the write's query completes (no async-listener race; if the write
    // throws we never reach the read)
    val obs = new org.apache.spark.sql.Observation("extract_metrics")

    val extracted: Dataset[Extracted] = pages
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var rows = 0L
        var bytes = 0L
        val mapped = it.map { p =>
          rows += 1
          bytes += (if (p.html == null) 0L else p.html.length.toLong)
          Extractor.extract(p)
        }
        new Iterator[Extracted] {
          override def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h && rows >= 0) { lineageAcc.add((pid, rows, bytes)); rows = -1 }
            h
          }
          override def next(): Extracted = mapped.next()
        }
      }

    // the observation sits ABOVE the rebalance, in the write stage: when
    // AQE finds the rebalanced stage empty (a no-op resume) it replaces
    // the plan below the write with an empty relation, and a
    // CollectMetrics below the rebalance would drop out of the final
    // plan with its metrics
    val out = extracted.toDF()
      .withColumn("warc_day", to_date(col("warc_ts")))
      .hint("rebalance", col("warc_day"))
      .observe(obs,
        count(lit(1)).as("docs"),
        coalesce(sum(when(col("status") === "ok", 1L).otherwise(0L)), lit(0L)).as("ok_docs"),
        coalesce(sum(col("metrics.candidates_scored")), lit(0L)).as("candidates_scored"),
        coalesce(sum(col("metrics.nodes_pruned")), lit(0L)).as("nodes_pruned"),
        coalesce(sum(col("metrics.bytes_in")), lit(0L)).as("bytes_in"),
        coalesce(sum(col("metrics.bytes_out")), lit(0L)).as("bytes_out"),
        // day span of THIS run's rows, captured in the same write pass —
        // --profile-sketches derives its touched days from these instead
        // of re-scanning the input (a --warc input would re-parse the
        // whole drop just to list days)
        min(col("warc_day")).as("min_warc_day"),
        max(col("warc_day")).as("max_warc_day"))

    out.write
      .mode(if (priorOutput) SaveMode.Append else SaveMode.Overwrite)
      .partitionBy("warc_day")
      .parquet(s"$outDir/extracted")

    val observed: Map[String, Any] = {
      import scala.jdk.CollectionConverters._
      obs.getAsJava.asScala.toMap
    }
    if (observed.nonEmpty) {
      val json = observed.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          val jv = v match { // non-numeric observed values must be quoted
            case n: java.lang.Number => n.toString
            case other => "\"" + String.valueOf(other) + "\""
          }
          s""""$k":$jv"""
        }.mkString("{", ",", "}")
      writeTextFile(spark, s"$outDir/_metrics.json", json)
    }

    // lineage: one tuple per task, collected driver-side — write after the action
    val lineageRows = {
      import scala.jdk.CollectionConverters._
      lineageAcc.value.asScala.toSeq
    }
    if (lineageRows.nonEmpty) {
      lineageRows.toDF("partition_id", "rows", "bytes_in")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$outDir/_lineage")
    }

    // --dedup-index: the production ingest-dedup loop. The just-written
    // batch is deduped against the persisted MinHash-LSH corpus index
    // (near-dup pairs land in <out>/_dupes), then appended to the index
    // as the next ingest. The batch is re-read from the written output
    // (2-column pruned scan) rather than re-extracting; "the batch" =
    // ok rows whose url the index has not seen — on a resumed run that
    // is exactly this run's delta.
    dedupIndexPath.foreach { idxPath =>
      dedupIngest(spark,
        spark.read.parquet(s"$outDir/extracted")
          .where(col("status") === "ok")
          .select(col("url"), col("extracted_text")),
        idxPath, s"$outDir/_dupes")
    }

    // --profile-sketches: continuous corpus profiling. The days this run
    // touched are recomputed from their (partition-pruned) full day
    // slices and UPSERTED into the running sketch tables — group replace,
    // not counter add, so a resumed/re-run ingest is idempotent; distinct
    // days still combine via the associative merges at read time.
    // Artifacts: <path>/hll_tokens (distinct-token registers per day),
    // <path>/len_hist (log2 length histogram per day).
    profileSketchPath.foreach { skPath =>
      import graft.pipeline.{Mat, Sketch}
      // the day RANGE this run touched comes from the observed metrics
      // captured in the write pass — no input re-scan (a --warc input
      // would re-parse the whole drop just to list days). Upserting an
      // untouched day inside the span recomputes identical rows (group
      // replace is idempotent), so the contiguous range is safe; the
      // span is bounded by the ingest's crawl window.
      // the observed min/max arrive as java.sql.Date by default but as
      // java.time.LocalDate under spark.sql.datetime.java8API.enabled —
      // matching only the former silently no-ops the requested profiling
      // leg on a java8API session, so both encodings are accepted
      def asLocalDate(v: Any): Option[java.time.LocalDate] = v match {
        case d: java.sql.Date => Some(d.toLocalDate)
        case d: java.time.LocalDate => Some(d)
        case _ => None
      }
      val touchedDays = (observed.get("min_warc_day").flatMap(asLocalDate),
        observed.get("max_warc_day").flatMap(asLocalDate)) match {
        case (Some(lo), Some(hi)) =>
          Iterator.iterate(lo)(_.plusDays(1))
            .takeWhile(!_.isAfter(hi)).map(_.toString).toArray
        case _ => Array.empty[String]
      }
      if (touchedDays.isEmpty)
        // loud skip: rows were written (the leg was requested and there
        // was a run) but the day span could not be derived — never a
        // silent no-op of a requested feature
        System.err.println(
          "profile-sketches: no touched days derived from observed " +
            s"metrics (min=${observed.get("min_warc_day")}, " +
            s"max=${observed.get("max_warc_day")}) — sketch upserts skipped")
      if (touchedDays.nonEmpty) {
        val rows = spark.read.parquet(s"$outDir/extracted")
          .where(col("status") === "ok" &&
            col("warc_day").cast("string").isin(touchedDays.toSeq: _*))
          .select(col("warc_day").cast("string").as("warc_day"),
            col("extracted_text"))
        // one extraction scan feeds every sketch build
        Sketch.corpusProfile(Mat.small(rows)).foreach { t =>
          Sketch.upsert(spark, t.family, t.groupCols, t.sketch, t.params,
            s"$skPath/${t.name}")
        }
      }
    }

    // rows extracted THIS run, from the observed metrics captured in the
    // write pass — at 100 TB a verification re-read of the output is a
    // second full scan (even a footer-only count is a full listing). The
    // Observation API is synchronous, so this is always present.
    observed.get("docs") match {
      case Some(d: java.lang.Number) => d.longValue()
      case _ => throw new IllegalStateException(
        "observed metrics missing docs count") // unreachable: write succeeded
    }
  }

  /**
   * One step of the ingest-dedup loop, shared by the batch job
   * (--dedup-index) and the streaming face (ExtractStream
   * .dedupIngestQuery): dedup `extractedTbl` (url, extracted_text)
   * against the persisted MinHash-LSH index at `idxPath`, append near-dup
   * pairs to `dupesPath`, and join the new urls to the index as the next
   * ingest. Index growth is EXACTLY-ONCE per url: already-indexed urls
   * anti-join out, so a fully-committed batch replays as a no-op (it
   * does not even burn an ingest number). Crash-replay fine print: a
   * retry after a PARTIAL append re-appends exact-duplicate banded rows
   * (benign — candidate pairs dropDuplicate, compaction removes them;
   * see appendShingledToMinHashIndex), and the `dupesPath` report is
   * AT-LEAST-ONCE across such replays — consumers should distinct() on
   * (id_a, id_b).
   */
  def dedupIngest(spark: SparkSession, extractedTbl: DataFrame,
                  idxPath: String, dupesPath: String): Unit = {
    import graft.pipeline.Dedup
    // path-ABSENT via the FileSystem, not read-and-catch: a corrupt or
    // transiently unreadable meta on an EXISTING index must fail the
    // job loudly, never classify as "no index yet" and let the build
    // branch overwrite the accumulated corpus history with one batch
    val metaPath = new org.apache.hadoop.fs.Path(s"$idxPath/meta")
    val indexExists = metaPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(metaPath)
    if (!indexExists) {
      // first ingest: the corpus index IS this batch — near-dups
      // WITHIN it (mirror pages in the same crawl) still go to _dupes
      val index = Dedup.buildMinHashIndex(extractedTbl,
        "url", "extracted_text")
      Dedup.minhashLshPrepped(index.shingles)
        .write.mode(SaveMode.Append).parquet(dupesPath)
      Dedup.saveMinHashIndex(index, idxPath)
    } else {
      val index = Dedup.loadMinHashIndex(spark, idxPath)
      val batch = extractedTbl.join(
        index.shingles.select(col("id").as("url")).distinct(),
        Seq("url"), "left_anti")
      // ONE shingling pass feeds all three consumers (index join,
      // within-batch self-join, index append)
      val shB = Dedup.shingleTable(batch, "url", "extracted_text",
        index.shingleAlgo)
      // a fully-replayed batch is empty after the anti-join: skip the
      // writes so it does not burn an ingest number on zero rows
      if (!shB.isEmpty) {
        // batch vs accumulated corpus …
        Dedup.minhashLshJoinIndexedPrepped(index, shB)
          // … AND batch vs itself: two mirror pages arriving in the SAME
          // ingest are in neither side of the index join — without the
          // self-join they would both enter the index and the pair would
          // never surface in any later run
          .unionByName(Dedup.minhashLshPrepped(shB))
          .write.mode(SaveMode.Append).parquet(dupesPath)
        Dedup.appendShingledToMinHashIndex(spark, idxPath, shB)
      }
    }
  }

  /** Small-artifact text write through the OUTPUT's Hadoop FileSystem —
    * the data writes already go through it, so a remote outDir
    * (hdfs://, s3a://) must not make the job complete the expensive
    * pipeline and then throw on a java.nio local-path write at the very
    * last step (the report artifacts: _metrics.json, _funnel.json). */
  private[job] def writeTextFile(spark: SparkSession, path: String,
                                 content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Done-manifest: urls already extracted, None when there is no prior
    * output. Absence is decided through the FileSystem, as dedupIngest
    * decides it: a missing `extracted/`, or one holding no data files
    * (only hidden/metadata entries such as an aborted run's _temporary),
    * is no prior output. Any other read failure propagates — classifying
    * an unreadable `extracted/` as absent would turn the resume into an
    * Overwrite that deletes the prior output. */
  def doneManifest(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir/extracted")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden entries are skipped as Spark's file index skips them
    def hasDataFile(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".") &&
          (!st.isDirectory || hasDataFile(st.getPath))
      }
    if (!fs.exists(dir) || !hasDataFile(dir)) None
    else Some(spark.read.parquet(dir.toString).select("url").distinct())
  }
}
