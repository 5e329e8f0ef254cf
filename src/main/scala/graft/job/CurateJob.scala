package graft.job

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Dsir, LangModel, Quality, Sampling, TextOps}

/**
 * The COMPLETE crawl-to-training-set pipeline as one spark-submit job —
 * the composition a 100 TB deployment actually runs, built entirely from
 * the library's own operators:
 *
 *   1. extract     pages/WARC → extracted text (ExtractJob.run: salted
 *                  shuffle, map-only extraction, resumable, metrics)
 *   2. exact dedup fingerprint (md5 of normalized text) keep-first —
 *                  one shuffle on a 16-byte key
 *   3. near dedup  candidate pairs → connected components → keep each
 *                  cluster's min url (bucketed equi-joins, ids only
 *                  through every shuffle; components by driver-side
 *                  union-find while the pairs' id bytes fit the
 *                  broadcast threshold, O(log d) pointer-doubling
 *                  rounds above it).
 *                  `--near minhash` (default) banded MinHash-LSH;
 *                  `--near exact` the prefix-filtering set-similarity
 *                  join (PPJoin-family) — no false negatives at the
 *                  same threshold, for high-stakes corpora
 *   3b. substring  (--strip-substrings L) substring-level exact dedup
 *                  (ExactSubstr, Lee et al. 2022): REWRITE each
 *                  surviving doc with every token span of ≥ L tokens
 *                  whose 8-grams all occur ≥ 2 times corpus-wide
 *                  removed, keeping each span's globally-first copy
 *                  (keepFirst) — the boilerplate/license/quote pass
 *                  doc-level dedup cannot see. Per-doc
 *                  stripped_tokens rides the stage for audit; docs
 *                  stripped to nothing die at the quality gate next
 *   4. quality     qualityScore ≥ minQuality AND repetition gates
 *                  (dup_3gram_frac / top_2gram_frac below thresholds —
 *                  the Gopher-style degenerate-text drop); with
 *                  `--quality-model <labels>` additionally the LEARNED
 *                  gate: logistic regression over hashed token features
 *                  trained on the labeled (url, y) sample, drop below
 *                  minModelProb (scores ride stage_quality for audit)
 *   4b. perplexity (--lm-ref <parquet with url,text>) the CCNet-style
 *                  LM filter: a bigram stupid-backoff model trained on
 *                  the TRUSTED reference corpus scores every surviving
 *                  doc (LangModel.perplexity); drop above maxPerplexity.
 *                  Scores ride stage_ppl as `lm_ppl` for audit; the
 *                  trained model ships as `<out>/_lm` (count tables with
 *                  params stamped) the way tokenizer artifacts do
 *   5. decontam    drop docs whose 8-gram span containment against a
 *                  held-out eval set exceeds maxContamination (skipped
 *                  when no eval table is given); the dropped set's
 *                  attribution lands in `<out>/_decontam_report`
 *   5b. DSIR       (--dsir-ref <parquet with url,text> --dsir-n N)
 *                  importance-resample the survivors toward the trusted
 *                  reference corpus (Dsir.resample: hashed-n-gram
 *                  multinomials + deterministic Gumbel top-N) — the
 *                  domain-matching draw a pretraining pipeline runs when
 *                  it wants "more data shaped like the reference" out of
 *                  the crawl; each kept doc carries its `dsir_logw` for
 *                  audit
 *   6. sample      deterministic per-language stratified quota
 *                  (WindowGroupLimit partial top-n); with
 *                  `--quota-tokens B` instead the TOKEN-budget mixture
 *                  fill (Sampling.tokenBudget): B tokens per language,
 *                  best-quality-first — mixtures are specified in
 *                  tokens, not docs
 *   7. write       curated rows + a per-stage funnel report
 *                  (<out>/_funnel.json) so every drop is accounted for
 *   7b. pack       (--pack-chunks C [--pack-shards S]) sequence-packing
 *                  export metadata over the CURATED corpus
 *                  (Pack.packChunks): `<out>/_pack` = per-doc placement
 *                  (shard, tok_offset, chunk span) and
 *                  `<out>/_pack_manifest` = per-chunk occupancy — the
 *                  tables a training loader reads to cut fixed-context
 *                  sequences without re-scanning text
 *   8. tokenizer   (--bpe-merges N) learn N BPE merges over the CURATED
 *                  corpus via the batched learner (commuting merge
 *                  batches per recount — TextOps.bpeLearnBatched) and
 *                  write the tokenizer artifacts: `<out>/_bpe_merges`
 *                  (the ordered merge table) and `<out>/_bpe_vocab`
 *                  (piece, cnt, bpe_tokens under the learned merges) —
 *                  the vocabulary-sized tables a training pipeline ships
 *                  with the data
 *
 * Staging discipline (VERDICT r5 #2): every stage boundary is a DURABLE
 * parquet write under `<out>/stage_*` — the ExtractJob pattern — and the
 * funnel counts ride `Dataset.observe` on that same write pass, so each
 * stage is exactly ONE action, downstream stages read the durable output
 * (no executor-resident corpus copies that a lost executor would
 * invalidate — localCheckpoint is non-reliable at cluster scale), and
 * `--resume` restarts MID-FUNNEL: a stage whose `_SUCCESS` marker exists
 * is read back, not recomputed (its funnel count then comes from a
 * column-less count of the committed files — the only count-only job,
 * and only on the resume path).
 *
 * Usage: CurateJob <pagesDir> <outDir> [--eval <parquet with url,text>]
 *          [--quota N] [--min-quality Q] [--partitions N] [--warc]
 *          [--resume] [--bpe-merges N] [--near minhash|exact]
 *          [--quality-model <parquet with url,y>]
 *          [--lm-ref <parquet with url,text>] [--max-ppl X]
 *          [--dsir-ref <parquet with url,text>] [--dsir-n N]
 *          [--strip-substrings L]
 */
object CurateJob {

  final case class Thresholds(minQuality: Double = 0.3,
                              maxDup3Gram: Double = 0.5,
                              maxTop2Gram: Double = 0.2,
                              maxContamination: Double = 0.2,
                              quotaPerLang: Int = 1000,
                              nearThreshold: Double = 0.8,
                              minModelProb: Double = 0.5,
                              maxPerplexity: Double = 2000.0)

  /** Hashed-feature space and GD rounds for the optional learned quality
    * gate (`--quality-model`): fastText-shaped defaults — the weight
    * table stays a 64k-row broadcast, the gradient rounds iterate the
    * sample-sized labeled postings, never the corpus. */
  val QualityModelDim: Int = 1 << 16
  val QualityModelIters: Int = 5

  /** Feature-hash width for the optional DSIR stage: the two count
    * tables and the log-ratio table stay dim-bounded broadcasts. */
  val DsirDim: Int = 1 << 16

  def main(args: Array[String]): Unit = {
    val pos = JobArgs.parse(args,
      valueFlags = Set("--quota", "--min-quality", "--partitions", "--eval",
        "--bpe-merges", "--near", "--quality-model", "--lm-ref", "--max-ppl",
        "--dsir-ref", "--dsir-n", "--strip-substrings", "--quota-tokens",
        "--pack-chunks", "--pack-shards"),
      boolFlags = Set("--warc", "--resume"),
      usage = "usage: CurateJob <pagesDir> <outDir> [--eval <parquet>] " +
        "[--quota N] [--min-quality Q] [--partitions N] [--warc] " +
        "[--resume] [--bpe-merges N] [--near minhash|exact] " +
        "[--quality-model <labels parquet with url,y>] " +
        "[--lm-ref <parquet with url,text>] [--max-ppl X] " +
        "[--dsir-ref <parquet with url,text>] [--dsir-n N] " +
        "[--strip-substrings L] [--quota-tokens B] " +
        "[--pack-chunks C] [--pack-shards S]")
    require(pos.length >= 2,
      "usage: CurateJob <pagesDir> <outDir> [--eval <parquet>] [--quota N] " +
        "[--min-quality Q] [--partitions N] [--warc] [--resume] " +
        "[--bpe-merges N] [--near minhash|exact] " +
        "[--quality-model <labels parquet>] [--lm-ref <parquet>] " +
        "[--max-ppl X] [--dsir-ref <parquet>] [--dsir-n N] " +
        "[--strip-substrings L] [--quota-tokens B] " +
        "[--pack-chunks C] [--pack-shards S]")
    val (pagesDir, outDir) = (pos(0), pos(1))
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = SparkSession.builder()
      .appName("graft-curate")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val th = Thresholds(
      minQuality = opt("--min-quality").map(_.toDouble).getOrElse(0.3),
      quotaPerLang = opt("--quota").map(_.toInt).getOrElse(1000),
      maxPerplexity = opt("--max-ppl").map(_.toDouble).getOrElse(2000.0))
    val partitions = opt("--partitions").map(_.toInt).getOrElse(cpus.toInt * 2)
    val funnel = run(spark, pagesDir, outDir, partitions, th,
      evalPath = opt("--eval"),
      warcInput = args.contains("--warc"),
      resume = args.contains("--resume"),
      bpeMerges = opt("--bpe-merges").map(_.toInt).getOrElse(0),
      nearAlgo = opt("--near").getOrElse("minhash"),
      qualityModelPath = opt("--quality-model"),
      lmRefPath = opt("--lm-ref"),
      dsirRefPath = opt("--dsir-ref"),
      dsirN = opt("--dsir-n").map(_.toInt).getOrElse(0),
      stripSubstrings = opt("--strip-substrings").map(_.toInt).getOrElse(0),
      quotaTokens = opt("--quota-tokens").map(_.toLong).getOrElse(0L),
      packChunks = opt("--pack-chunks").map(_.toInt).getOrElse(0),
      packShards = opt("--pack-shards").map(_.toInt).getOrElse(64))
    println(funnel)
    spark.stop()
  }

  private def stageDone(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def observedRows(obs: Observation): Long = {
    import scala.jdk.CollectionConverters._
    obs.getAsJava.asScala("rows") match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalStateException(s"observed rows: $other")
    }
  }

  /** Write `build` to `dir` with its row count observed on the SAME write
    * action; on resume (committed `_SUCCESS` present) skip the recompute
    * and count the committed files instead. Returns (read-back frame,
    * rows) — downstream stages consume the durable read-back, never the
    * upstream plan. */
  private def stage(spark: SparkSession, dir: String, resume: Boolean,
                    partitionCols: Seq[String] = Nil)
                   (build: => DataFrame): (DataFrame, Long) = {
    // a 0-row PARTITIONED write leaves only _SUCCESS (dynamic partition
    // dirs never materialize), so reading it back throws
    // UNABLE_TO_INFER_SCHEMA; non-partitioned empty writes keep a
    // schema'd file and read fine. Guard both paths: the read-back of an
    // empty partitioned stage is replaced by an empty frame (its only
    // consumer is the funnel count — partitioned stages are terminal).
    def hasDataFiles: Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    if (resume && stageDone(spark, dir)) {
      if (partitionCols.nonEmpty && !hasDataFiles)
        (spark.emptyDataFrame, 0L)
      else {
        val df = spark.read.parquet(dir)
        (df, df.count())
      }
    } else {
      val obs = new Observation()
      val built = build
      val schema = built.schema
      val w = built.observe(obs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dir)
      val rows = observedRows(obs)
      val frame =
        if (rows == 0L && partitionCols.nonEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.parquet(dir)
      (frame, rows)
    }
  }

  /** The columns stage 4's gate reads (repetition fractions are null for
    * single-token docs, which pass). */
  final case class GateScores(quality: Double, dup_3gram_frac: Option[Double],
                              top_2gram_frac: Option[Double])

  /**
   * Stage 4's heuristic gate over (url, warc_ts, text): adds `quality`
   * and `lang` and keeps the docs with quality ≥ minQuality whose
   * repetition fractions (null below two tokens) are within their
   * maxima. One map-only pass: ONE textStats kernel evaluation per row
   * feeds qualityScore, langId and the repetition fractions (the
   * statistics are per row, so url must be a key — it is, after the
   * dedup stages). The gate is a TYPED filter on purpose: a Column
   * `where` is pushed below the projections with the kernel substituted
   * into its condition, evaluating it again per row (PlanShapeSpec pins
   * one kernel, no Exchange, no Window).
   */
  private[graft] def qualityGate(docs: DataFrame, th: Thresholds): DataFrame = {
    import docs.sparkSession.implicits._
    val st = col("__st")
    val (_, dup3, top2) = TextOps.repetitionFracsOf(st)
    val (minQ, maxDup3, maxTop2) = (th.minQuality, th.maxDup3Gram, th.maxTop2Gram)
    docs.withColumn("__st", TextOps.textStats(col("text")))
      .select(docs.columns.toSeq.map(col) ++ Seq(
        TextOps.qualityScoreOf(st).as("quality"),
        TextOps.langIdOf(st).as("lang"),
        dup3.as("dup_3gram_frac"), top2.as("top_2gram_frac")): _*)
      .as[GateScores]
      .filter(g => g.quality >= minQ && g.dup_3gram_frac.forall(_ <= maxDup3) &&
        g.top_2gram_frac.forall(_ <= maxTop2))
      .drop("dup_3gram_frac", "top_2gram_frac")
  }

  /** Runs the full pipeline; returns the funnel JSON (also written to
    * `<out>/_funnel.json`). */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
          partitions: Int, th: Thresholds = Thresholds(),
          evalPath: Option[String] = None,
          warcInput: Boolean = false,
          resume: Boolean = false,
          bpeMerges: Int = 0,
          nearAlgo: String = "minhash",
          qualityModelPath: Option[String] = None,
          lmRefPath: Option[String] = None,
          dsirRefPath: Option[String] = None,
          dsirN: Int = 0,
          stripSubstrings: Int = 0,
          quotaTokens: Long = 0L,
          packChunks: Int = 0,
          packShards: Int = 64): String = {
    require(nearAlgo == "minhash" || nearAlgo == "exact",
      s"--near $nearAlgo: expected 'minhash' (LSH, probabilistic recall) " +
        "or 'exact' (prefix-filtering set-similarity, NO false negatives)")
    require(dsirRefPath.isEmpty || dsirN > 0,
      "--dsir-ref requires --dsir-n > 0 (the resample size)")

    // 1. extraction (the engine itself; durable, resumable, observed
    // metrics). On --resume a committed extraction stage is left
    // untouched — the raw input need not even exist anymore.
    if (!(resume && stageDone(spark, s"$outDir/extracted")))
      ExtractJob.run(spark, pagesDir, outDir, partitions, resume = false,
        warcInput = warcInput)
    val extracted = spark.read.parquet(s"$outDir/extracted")
      .where(col("status") === "ok")
      .select(col("url"), col("warc_ts"), col("extracted_text").as("text"))

    // 2. exact dedup: fingerprint keep-first (min url per fingerprint).
    // The ok-row input count rides the SAME write action as the stage's
    // output count (a second CollectMetrics node in the plan) — the
    // "extracted" funnel line never needs its own job.
    val exactResumed = resume && stageDone(spark, s"$outDir/stage_exact")
    val obsIn = new Observation()
    val (exactKeep, nExact) = stage(spark, s"$outDir/stage_exact", resume) {
      extracted.observe(obsIn, count(lit(1)).as("rows"))
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp")).orderBy(col("url"))))
        .where(col("__r") === 1).drop("__r", "fp")
    }
    val nExtracted =
      if (exactResumed) extracted.count() else observedRows(obsIn)

    // 3. near dedup: candidate pairs → clusters → keep each cluster's
    // min url. `--near minhash` (default) banded MinHash-LSH —
    // probabilistic recall, cheapest at web scale; `--near exact` the
    // prefix-filtering set-similarity join — NO false negatives at the
    // same verify threshold, for high-stakes corpora where a missed
    // near-dup costs more than the extra prefix-postings shuffle. The
    // pairs become clusters by Dedup.duplicateClusters: a driver-side
    // union-find when their id bytes fit the session's broadcast
    // threshold (the usual case: a few KB of urls), distributed
    // pointer-doubling rounds above it. Both consumers of the
    // exact-dedup output (shingling and the keep anti-join) read the
    // durable stage_exact files.
    val (nearKeep, nNear) = stage(spark, s"$outDir/stage_near", resume) {
      val pairs = nearAlgo match {
        case "minhash" =>
          Dedup.minhashLsh(exactKeep, "url", "text",
            threshold = th.nearThreshold)
        case "exact" =>
          Dedup.prefixJaccardJoin(exactKeep, "url", "text",
            threshold = th.nearThreshold, n = 3)
      }
      val clusters = Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
      exactKeep.join(
        clusters.where(col("id") =!= col("component"))
          .select(col("id").as("url")),
        Seq("url"), "left_anti")
    }

    // 3b. substring-level exact dedup (--strip-substrings): REWRITE the
    // survivors with every duplicated span of ≥ stripSubstrings tokens
    // removed, keeping the globally-first copy (Lee et al. 2022's
    // ExactSubstr recipe at their 50-token dial). The span matching is
    // case-folded; the rebuilt text preserves casing. Docs stripped to
    // nothing are dropped by the quality gate next — their token loss
    // is auditable via stripped_tokens on this stage.
    val (strippedKeep, nStrip) =
      if (stripSubstrings <= 0) (nearKeep, nNear)
      else stage(spark, s"$outDir/stage_strip", resume) {
        // LEFT join: a doc whose extracted text has no tokens is absent
        // from the rewrite (nothing to strip) — it must survive to the
        // quality gate with its original text, not vanish here
        nearKeep.join(
          Dedup.stripDupSpans(nearKeep, "url", "text", k = 8,
            minSpanTokens = stripSubstrings, keepFirst = true)
            .select(col("id").as("url"), col("text_clean"),
              col("removed_tokens")),
          Seq("url"), "left")
          .withColumn("text", coalesce(col("text_clean"), col("text")))
          .withColumn("stripped_tokens",
            coalesce(col("removed_tokens"), lit(0L)))
          .drop("text_clean", "removed_tokens")
      }

    // 4. quality + repetition gates (qualityGate: one map-only pass);
    // with `--quality-model <labels>` an additional LEARNED gate —
    // logistic regression over hashed token features trained on the
    // caller's labeled sample (url, y) — scores every surviving doc and
    // drops below minModelProb. The score rides the stage output
    // (`quality_model_prob`) so operators can audit model drops the way
    // they audit decontamination drops.
    val (qualityKeep, nQuality) = stage(spark, s"$outDir/stage_quality", resume) {
      val base = qualityGate(strippedKeep.drop("stripped_tokens"), th)
      qualityModelPath match {
        case None => base
        case Some(p) =>
          val labels = spark.read.parquet(p)
            .select(col("url").as("id"), col("y"))
          // materialized ONCE: the label semi-join, the gradient rounds
          // and the scoring join all consume the postings (r8 — the q54
          // triple-featurize fix, same shape here)
          val feats = graft.pipeline.Mat.corpus(
            Quality.hashedFeatures(strippedKeep, "url", "text",
              QualityModelDim, bias = true))
          val w = Quality.trainLogReg(feats, labels, QualityModelDim,
            iters = QualityModelIters)
          // bias posting ⇒ every doc is scored; inner join is total
          base.join(
            Quality.scoreLogReg(feats, w)
              .select(col("id").as("url"),
                col("score").as("quality_model_prob")),
            Seq("url"))
            .where(col("quality_model_prob") >= th.minModelProb)
      }
    }

    // 4b. perplexity gate (CCNet-style, --lm-ref): a bigram
    // stupid-backoff LM trained on the TRUSTED reference corpus scores
    // every surviving doc; drop above maxPerplexity. Training is one
    // reference pass + two aggregations; scoring is the doc pair stream
    // joined against the two vocabulary-keyed count tables — nothing
    // corpus-sized reaches the driver. Docs with < 2 tokens carry no
    // score and are kept (the repetition-gate null convention). The
    // model ships as `<out>/_lm` BEFORE the stage commits, so a crash
    // between the two writes recomputes both on resume.
    val (pplKeep, nPpl) = lmRefPath match {
      case None => (qualityKeep, nQuality)
      case Some(p) =>
        stage(spark, s"$outDir/stage_ppl", resume) {
          val ref = spark.read.parquet(p).select(col("url"), col("text"))
          val m = LangModel.train(ref, "url", "text")
          LangModel.saveLm(m, s"$outDir/_lm")
          qualityKeep
            .join(LangModel.perplexity(qualityKeep, m, "url", "text")
              .select(col("id").as("url"), col("ppl").as("lm_ppl")),
              Seq("url"), "left")
            .where(coalesce(col("lm_ppl") <= th.maxPerplexity, lit(true)))
        }
    }

    // 5. decontamination vs a held-out eval set. The fraction is
    // normalized by the BENCHMARK doc's span count — "does this training
    // candidate contain ≥ X of some eval doc" — NOT by the candidate's
    // own length: a 10,000-span page that verbatim embeds a 500-span
    // benchmark must be dropped even though the overlap is only 5% of
    // the page (the candidate-normalized fraction would wave it through).
    // The dropped set's attribution (which benchmark, how many spans) is
    // itself an artifact: operators of a real pipeline audit WHY a doc
    // was dropped, so the report is written first and the drop list is
    // derived FROM it — one corpus-scale span join total.
    val (decontamKeep, nDecontam) = evalPath match {
      case None => (pplKeep, nPpl)
      case Some(p) =>
        val reportDir = s"$outDir/_decontam_report"
        if (!(resume && stageDone(spark, s"$outDir/stage_decontam"))) {
          val eval = spark.read.parquet(p).select(col("url"), col("text"))
          val benchSpanCounts = eval.select(col("url").as("bench_id"),
            size(Dedup.shingleHashes(col("text"), n = 8)).as("bench_spans"))
          // pairs: (eval_id = benchmark id, train_id = candidate id, shared)
          val shared = Dedup.spanContaminationPairs(
            train = pplKeep, eval = eval, idCol = "url", textCol = "text")
          shared
            .join(benchSpanCounts, shared("eval_id") === benchSpanCounts("bench_id"))
            .where(col("shared_spans").cast("double") / col("bench_spans")
              > th.maxContamination)
            .select(col("train_id"), col("eval_id"), col("shared_spans"),
              col("bench_spans"))
            .write.mode(SaveMode.Overwrite).parquet(reportDir)
        }
        val contaminated = spark.read.parquet(reportDir)
          .select(col("train_id").as("url")).distinct()
        stage(spark, s"$outDir/stage_decontam", resume) {
          pplKeep.join(contaminated, Seq("url"), "left_anti")
        }
    }

    // 5b. DSIR importance resampling toward a trusted reference corpus
    // (--dsir-ref/--dsir-n): the domain-matching draw — keep the dsirN
    // survivors maximizing logw + Gumbel(u) ≡ sampling ∝ importance
    // weight without replacement, deterministically. Feature/count
    // tables are dim-bounded; the draw is a distributed TakeOrdered.
    // Each kept doc carries `dsir_logw` (audit: WHY it was drawn).
    val (dsirKeep, nDsir) = dsirRefPath match {
      case None => (decontamKeep, nDecontam)
      case Some(p) =>
        stage(spark, s"$outDir/stage_dsir", resume) {
          val ref = spark.read.parquet(p).select(col("url"), col("text"))
          decontamKeep.join(
            Dsir.resample(decontamKeep, ref, "url", "text",
              dim = DsirDim, n = dsirN)
              .select(col("id").as("url"),
                round(col("logw"), 6).as("dsir_logw")),
            Seq("url"))
        }
    }

    // 6. deterministic per-language sample + 7. curated output. Default:
    // stratified doc quota (WindowGroupLimit partial top-n). With
    // --quota-tokens: the token-budget mixture fill — best-quality-first
    // until the per-language TOKEN budget is reached (mix_rank rides the
    // schema's sample_rank slot).
    val (curated, nFinal) = stage(spark, s"$outDir/curated", resume,
      partitionCols = Seq("lang")) {
      val base = dsirKeep.drop("dsir_logw")
      val sampled =
        if (quotaTokens > 0L)
          Sampling.tokenBudget(base, strataCols = Seq("lang"),
              idCol = "url", tokensCol = TextOps.tokenCount(col("text")),
              rankCol = col("quality"), budget = quotaTokens)
            .withColumnRenamed("mix_rank", "sample_rank")
            .drop("cum_tokens")
        else
          Sampling.stratifiedQuota(base,
            strataCols = Seq("lang"), idCol = "url", n = th.quotaPerLang)
      sampled
        .withColumn("bpe_tokens", TextOps.bpeTokenCount(col("text")))
        .select(col("url"), col("warc_ts"), col("lang"), col("quality"),
          col("sample_rank"), col("bpe_tokens"), col("text"))
    }

    // the funnel report commits BEFORE the (potentially long) tokenizer
    // leg: a stage-8 failure must not lose the accounting artifact of an
    // otherwise fully successful curation. Written through the output's
    // Hadoop FileSystem (remote outDir-safe).
    val funnel =
      s"""{"extracted":$nExtracted,"after_exact_dedup":$nExact,""" +
        s""""near_algo":"$nearAlgo","after_near_dedup":$nNear,""" +
        s""""strip_substrings":$stripSubstrings,"after_strip":$nStrip,""" +
        s""""quality_model":${qualityModelPath.isDefined},""" +
        s""""after_quality":$nQuality,""" +
        s""""lm_ref":${lmRefPath.isDefined},"after_ppl":$nPpl,""" +
        s""""after_decontam":$nDecontam,""" +
        s""""dsir":${dsirRefPath.isDefined},"after_dsir":$nDsir,""" +
        s""""quota_tokens":$quotaTokens,"curated":$nFinal}"""
    ExtractJob.writeTextFile(spark, s"$outDir/_funnel.json", funnel)

    // 7b. sequence-packing export metadata over the CURATED corpus
    // (--pack-chunks): per-doc placement + per-chunk occupancy manifest.
    // Placement is recomputable from the curated table, so both
    // artifacts commit after the funnel; a crash between the two writes
    // recomputes both on resume (the tokenizer-leg discipline).
    if (packChunks > 0) {
      if (nFinal == 0)
        System.err.println("curate: --pack-chunks requested but the " +
          "curated corpus is empty — pack artifacts skipped")
      else if (resume && stageDone(spark, s"$outDir/_pack") &&
        stageDone(spark, s"$outDir/_pack_manifest"))
        ()
      else {
        graft.pipeline.Pack.packChunks(curated, "url", "text",
            chunkTokens = packChunks, shards = packShards)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/_pack")
        graft.pipeline.Pack.chunkStats(
            spark.read.parquet(s"$outDir/_pack"), packChunks)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/_pack_manifest")
      }
    }

    // 8. tokenizer artifacts over the CURATED corpus (what the model
    // will actually train on): batched BPE learn (identical output to
    // the sequential loop, O(merges/64) Spark rounds) + the segmented
    // vocabulary. Both tables are vocabulary-sized; the merge list is
    // the only driver-resident state. Same resume discipline as the
    // funnel stages: both artifacts committed → skip the relearn
    // (a crash between the two writes recomputes both, so they can
    // never stay inconsistent with each other).
    if (bpeMerges > 0) {
      if (nFinal == 0)
        System.err.println("curate: --bpe-merges requested but the " +
          "curated corpus is empty — tokenizer artifacts skipped")
      else if (resume && stageDone(spark, s"$outDir/_bpe_merges") &&
        stageDone(spark, s"$outDir/_bpe_vocab"))
        () // committed tokenizer artifacts survive the resume untouched
      else {
        val pieces = TextOps.bpePieces(curated, col("text"))
          .localCheckpoint(true) // feeds the iterated learn AND the segment
        // artifact layout shared with the standalone TokenizerJob — one
        // definition, the two entry points cannot drift apart
        TokenizerJob.writeArtifacts(spark, pieces,
          TextOps.bpeLearnBatched(pieces, bpeMerges), outDir)
      }
    }
    funnel
  }
}
