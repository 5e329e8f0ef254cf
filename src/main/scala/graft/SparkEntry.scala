package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.extract.{Extractor, Page}
import graft.pipeline.{AsOf, Dedup, Dsir, LangModel, Mat, Multimodal, Pack, Quality, Sampling, Search, Similarity, TextOps}

/**
 * Driver contract (SURVEY.md §7): `entry` = flagship extraction over a
 * synthesized pages table; `queries` = one entry per operator family
 * (extraction-stage analogues, relational/job-level ops, and the
 * training-data pipeline operators: dedup / similarity / text analysis /
 * multimodal); `oracleSql` = DuckDB equivalents where the semantics are
 * SQL-expressible (the rest get the driver's rows-only check and are
 * verified by the scalatest goldens instead).
 */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic HTML wrapping of the documents table — the sandbox
    * stand-in for Common-Crawl page bytes (no external data). Shared by
    * the direct pages path (q22) and the WARC ingest path (q32) so both
    * hit the same q22-shaped oracle. */
  private def synthHtml(id: Long, text: String): String =
    s"""<html><head><title>Document $id</title></head><body>
       |<div class="article"><p>$text</p></div>
       |</body></html>""".stripMargin

  private def synthPages(s: SparkSession, dir: String) = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        Page(s"synth://doc/$id", new java.sql.Timestamp(1767225600000L + id * 60000L),
          synthHtml(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8), text, lang)
      }
  }

  /** Flagship: full extraction pipeline over the synthesized pages table.
    * Driver contract runs it at sf0.001; overridable via env. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synthPages(spark,
      sys.env.getOrElse("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001"))
      .map(Extractor.extract)
      .toDF()
      .select(col("url"), col("status"), col("title"),
        length(col("extracted_text")).as("text_len"))
  }

  // Reference regex alternations, verbatim (breadability/scoring.py:19-38)
  private val ReUnlikely = "(?i)combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|perma|popup|tweet|twitter|social|breadcrumb"
  private val ReMaybe = "(?i)and|article|body|column|main|shadow|entry"
  private val RePos = "(?i)article|body|content|entry|main|page|pagination|post|text|blog|story"
  private val ReNeg = "(?i)combx|comment|com-|contact|foot|footer|footnote|head|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget"

  /** Synthetic class/id strings so the class-weight regexes exercise all
    * branches on the vocabulary-limited testdata corpus. */
  private val ClsChoices = Seq(
    "article main", "comment footer", "sidebar widget", "content body",
    "menu nav", "entry post", "masthead head", "story page")
  private def synthCls(id: Column): Column =
    element_at(typedlit(ClsChoices), (pmod(id, lit(ClsChoices.length)) + 1).cast("int"))
  private val SqlClsList = ClsChoices.map(c => s"'$c'").mkString("[", ", ", "]")
  private def sqlSynthCls(id: String) = s"($SqlClsList)[($id % ${ClsChoices.length}) + 1]"

  /** Messy-URL templates for q27 (url = prefix + doc_id + suffix). */
  private val UrlPrefixes = Seq(
    "HTTP://Example.COM:80/a/", "https://News.Example.org:443/p/",
    "https://blog.test.net/p/", "http://example.com/p/",
    "ftp://Files.Example.com:21/f/", "not a url ",
    "https://example.com:8443/p/", "http://EXAMPLE.com/p/")
  private val UrlSuffixes = Seq(
    "?utm_source=x&id=1#frag", "?id=2&utm_campaign=z", "?gclid=abc", "",
    "", "", "?a=1&fbclid=x&b=2", "?utm_medium=email")

  /** q16/q26 shared pair generation: blocked n-gram Jaccard over every-5th
    * doc, same-lang postings, with a document-frequency cap on shingles
    * (stop-shingle removal — the fix for the quadratic posting bucket a
    * common 3-gram creates at web scale). The cap is deliberately low (2)
    * on the tiny synthetic corpus so the drop path actually fires and the
    * DuckDB oracle verifies its semantics; production default is
    * Dedup.ngramJaccard's maxDf=1000. Jaccard is over the post-cap shingle
    * space (per-doc sizes recomputed after the drop). */
  private val JaccardMaxDf = 2
  private def cappedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val sub = docs(s, dir).where(pmod(col("doc_id"), lit(5)) === 0)
    val sh = sub.select(col("doc_id").as("id"), col("lang"),
      Dedup.shingleHashes(col("text")).as("sh"))
    val postings = sh.select(col("id"), col("lang"), explode(col("sh")).as("s"))
    // df cap as ONE window over the (s, lang) partitioning instead of a
    // groupBy + semi-join back (guide §2.4 — the count and the join-back
    // share the same key): one postings shuffle, not two, and one
    // checkpoint instead of two (r8; shingling still runs exactly once —
    // inside the kept checkpoint job). kept feeds three consumers (both
    // self-join sides + the post-cap sizes).
    val wDf = Window.partitionBy(col("s"), col("lang"))
    val kept = Mat.corpus(postings
      .withColumn("__df", count(lit(1)).over(wDf))
      .where(col("__df") <= JaccardMaxDf)
      .drop("__df"))
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = kept.select(col("s"), col("lang"), col("id").as("id_a"))
    val b = kept.select(col("s"), col("lang"), col("id").as("id_b"))
    a.join(b, Seq("s", "lang"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= 0.02)
  }

  /** DuckDB mirror of cappedJaccardPairs through the `pairs` CTE stage. */
  private def sqlJaccardCtes: String =
    s"""toks AS (
       |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents WHERE doc_id % 5 = 0),
       |sh AS (
       |  SELECT doc_id, lang,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [hash(array_to_string(t[i:i+2], ' ')) for i in range(1, len(t) - 1)]
       |      ELSE [hash(array_to_string(t, ' '))] END) AS s
       |  FROM toks),
       |post AS (SELECT doc_id, lang, unnest(s) AS h FROM sh),
       |rare AS (SELECT h, lang FROM post GROUP BY h, lang HAVING count(*) <= $JaccardMaxDf),
       |kept AS (SELECT post.* FROM post JOIN rare USING (h, lang)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |jpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
       |    round(count(*)::DOUBLE / (any_value(sa.n) + any_value(sb.n) - count(*)), 4) AS jaccard
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  JOIN sizes sa ON sa.doc_id = a.doc_id
       |  JOIN sizes sb ON sb.doc_id = b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING round(count(*)::DOUBLE / (any_value(sa.n) + any_value(sb.n) - count(*)), 4) >= 0.02)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational / job-level ops ----------------------------------
    "q01_pricing_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_broadcast_join" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("order_cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    "q03_anti_join" -> ((s, dir) => {
      // the resume pattern (ExtractJob done-manifest): anti-join the input
      // against a partial "done" set
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val done = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("1997-06-01"))
      customer.join(done, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    "q04_topk_window" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    "q05_monthly_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("month"))
    }),

    "q06_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("sessions"), count(lit(1)).as("events"))
        .orderBy(col("user_id"))
    }),

    // ---- extraction-stage analogues (documents) -----------------------
    "q07_normalize_ws" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.normalizeWs(col("text")).as("norm_text"))
        .orderBy(col("doc_id"))
    }),

    "q08_token_count" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("tokens"))
        .orderBy(col("doc_id"))
    }),

    "q09_comma_score" -> ((s, dir) => {
      // E7 scoring arithmetic (scoring.py:177-196): 1 + 0.25/comma −
      // 0.5/quote + min(len/100, 3)
      val t = col("text")
      val commas = length(t) - length(regexp_replace(t, ",", ""))
      val quotes = length(t) - length(regexp_replace(t, "\"", ""))
      docs(s, dir).select(col("doc_id"),
        round(lit(1.0) + commas * 0.25 - quotes * 0.5 +
          least(length(t) / lit(100.0), lit(3.0)), 4).as("content_score"))
        .orderBy(col("doc_id"))
    }),

    "q10_class_weight" -> ((s, dir) => {
      // get_class_weight (scoring.py:107-125) over synthetic class strings
      val cls = synthCls(col("doc_id"))
      val weight = when(cls.rlike(ReNeg), -25).otherwise(0) +
        when(cls.rlike(RePos), 25).otherwise(0)
      docs(s, dir).select(col("doc_id"), cls.as("cls"), weight.as("weight"))
        .orderBy(col("doc_id"))
    }),

    "q11_unlikely_filter" -> ((s, dir) => {
      // is_unlikely_node (scoring.py:128-138) as a corpus filter
      val cls = synthCls(col("doc_id"))
      docs(s, dir).select(col("doc_id"), cls.as("cls"))
        .where(cls.rlike(ReUnlikely) && !cls.rlike(ReMaybe))
        .orderBy(col("doc_id"))
    }),

    "q12_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "q13_quality_score" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q14_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup family --------------------------------------------------
    "q15_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    "q16_ngram_jaccard" -> ((s, dir) =>
      cappedJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    "q53_prefix_jaccard" -> ((s, dir) =>
      // prefix-filtering set-similarity join (ssjoin/PPJoin family):
      // exact shingle-set Jaccard with the principled no-false-negative
      // candidate bound — candidates key on each set's RAREST elements
      // under a global (df, element) order, never an arbitrary df cap
      // (q16's stop-shingle cap can drop qualifying pairs; this cannot)
      Dedup.prefixJaccardJoin(docs(s, dir), "doc_id", "text",
        threshold = 0.5, n = 3)
        .orderBy(col("id_a"), col("id_b"))),

    "q54_quality_logreg" -> ((s, dir) => {
      // learned quality gate: logistic regression over hashed token
      // features, trained RELATIONALLY (gradient rounds are bounded
      // aggregations over the labeled postings). Gate shape iters=1
      // from the prior-intercept init: the one mean-gradient step is
      // (n·Σy·tf − npos·Σtf)·lr/n² — exact integer sums, order-
      // independent — so the model is cross-engine reproducible (the
      // q28 iters=0 precedent); iters>1 learning is pinned by
      // QualitySpec's planted separable corpora. Labels: fastText-style
      // weak supervision y = (heuristic q13 quality ≥ 0.6) over the
      // doc_id % 3 = 0 third — the learned model generalizes the
      // heuristic to the held-out two thirds (measured AUC 0.78 at
      // sf0.01). md5-60bit feature hashing so DuckDB lands tokens in
      // the same buckets.
      val d = docs(s, dir)
      val dim = 256
      // materialized ONCE: the label semi-join, the gradient aggregation
      // and the scoring join all consume the postings — unmaterialized,
      // the tokenize+md5 featurize pass ran three times per query (r8)
      val feats = Mat.corpus(Quality.hashedFeatures(d, "doc_id", "text", dim,
        Dedup.AlgoMd5, bias = true))
      val labels = d.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("id"),
          when(TextOps.qualityScore(col("text")) >= 0.6, 1L)
            .otherwise(0L).as("y"))
      val w = Quality.trainLogReg(feats, labels, dim, iters = 1, lr = 1.0)
      Quality.scoreLogReg(feats, w)
        .select(col("id").as("doc_id"),
          round(col("score"), 4).as("quality_prob"))
        .orderBy(col("doc_id"))
    }),

    "q55_semantic_dedup" -> ((s, dir) => {
      // SemDeDup composition: kmeans clusters (iters=0 deterministic
      // init — the q28 gate shape) → within-cluster cosine near-dup →
      // drop every member beaten by a closer-to-centroid neighbor;
      // eps mirrors q19's corpus-wide near-dup threshold
      Similarity.semDedup(emb(s, dir), "vec_id", "embedding",
        eps = 0.45, nlist = 16, iters = 0)
        .select(col("id").as("vec_id"), col("cl"), col("cdot"),
          col("dropped"))
        .orderBy(col("vec_id"))
    }),

    "q56_lm_perplexity" -> ((s, dir) => {
      // CCNet-style perplexity filter: a bigram stupid-backoff LM
      // trained on the doc_id % 2 = 0 reference half scores EVERY doc
      // (held-out docs exercise the backoff path — unseen bigrams AND
      // unseen words). Every probability is a ratio of exact integer
      // counts; ln/sum ulps absorbed by round(·, 4) on the per-doc
      // mean (the q37 precedent).
      val d = docs(s, dir)
      val m = LangModel.train(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
      LangModel.perplexity(d, m, "doc_id", "text")
        .select(col("id").as("doc_id"), col("pairs"),
          col("avg_logp"), col("ppl"))
        .orderBy(col("doc_id"))
    }),

    "q57_dsir_resample" -> ((s, dir) => {
      // DSIR domain matching (Xie et al. 2023): resample the crawl
      // toward the trusted doc_id % 4 = 1 slice by hashed-n-gram
      // importance weights + deterministic Gumbel top-k. Counts are
      // exact integers; the Gumbel key is rounded to 6 BEFORE ranking
      // (the q55 precedent) so the (key desc, id asc) order is
      // cross-engine total; logw rounds to 4 for display (q37).
      val d = docs(s, dir)
      // target = the doc_id % 4 = 1 SUBSET of the raw corpus: the subset
      // entry point featurizes the corpus ONCE and derives the target
      // count table by filtering the postings on id — identical counts
      // (feature extraction is per-doc), one tokenize+md5 pass (r8)
      Dsir.resampleSubset(d, pmod(col("id"), lit(4)) === 1,
        "doc_id", "text", dim = 512, n = 100,
        algo = Dedup.AlgoMd5)
        .select(col("id").as("doc_id"),
          round(col("logw"), 4).as("logw"), col("key"), col("rank"))
        .orderBy(col("rank"))
    }),

    "q58_substring_spans" -> ((s, dir) =>
      // substring-level exact dedup (Lee et al. 2022): maximal token
      // spans whose every 8-gram occurs ≥ 2 times corpus-wide — the
      // boilerplate/license/quote pass doc-level dedup cannot see.
      // Gram hashes only need EQUALITY (the q16/q26 convention), so the
      // engine keeps the fast xx64 kernel; the oracle groups by the
      // gram string itself.
      Dedup.substringDupSpans(docs(s, dir), "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_grams"), col("span_tokens"))
        .orderBy(col("doc_id"), col("span_start"))),

    "q59_substring_strip" -> ((s, dir) =>
      // the apply side of q58: rebuild each doc with every token covered
      // by a duplicated span removed (single-space rejoin); per-doc
      // kept/removed accounting rides the same aggregation
      Dedup.stripDupSpans(docs(s, dir), "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"), col("kept_tokens"),
          col("removed_tokens"), col("text_clean"))
        .orderBy(col("doc_id"))),

    "q60_pack_chunks" -> ((s, dir) =>
      // fixed-context sequence packing (training-data export): which
      // 256-token chunks each doc lands in, packed per-shard (8 shards
      // here; thousands at cluster scale — the parallelism dial).
      // md5-60 shard hash so DuckDB lands every doc in the same shard.
      Pack.packChunks(docs(s, dir), "doc_id", "text",
        chunkTokens = 256, shards = 8, algo = Dedup.AlgoMd5)
        .select(col("id").as("doc_id"), col("shard"), col("tokens"),
          col("tok_offset"), col("chunk_first"), col("chunk_last"))
        .orderBy(col("doc_id"))),

    "q61_chunk_stats" -> ((s, dir) =>
      // the manifest side of q60: per-chunk occupancy — every chunk but
      // each shard's last is exactly full
      Pack.chunkStats(
        Pack.packChunks(docs(s, dir), "doc_id", "text",
          chunkTokens = 256, shards = 8, algo = Dedup.AlgoMd5), 256)
        .orderBy(col("shard"), col("chunk"))),

    "q62_token_budget" -> ((s, dir) =>
      // data-mixture selection: fill a 2000-token budget per language,
      // best-quality-first (mixtures are specified in TOKENS; doc
      // quotas under/over-fill with skewed doc lengths). quality is
      // the rounded-4 heuristic score — a cross-engine total order
      // under (quality desc, doc_id asc).
      Sampling.tokenBudget(docs(s, dir), Seq("lang"), "doc_id",
        tokensCol = TextOps.tokenCount(col("text")),
        rankCol = TextOps.qualityScore(col("text")), budget = 2000L)
        .select(col("lang"), col("mix_rank"), col("doc_id"),
          col("cum_tokens"))
        .orderBy(col("lang"), col("mix_rank"))),

    "q63_containment_join" -> ((s, dir) =>
      // quote/partial-copy detection: pairs whose shared 8-gram spans
      // cover ≥ half of the smaller doc's span set — the asymmetric
      // overlap Jaccard misses by design. Hash equality only (q58's
      // convention): engine on xx64, oracle groups by the gram string.
      Dedup.spanContainmentJoin(docs(s, dir), "doc_id", "text",
        n = 8, minContainment = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    "q17_minhash_lsh" -> ((s, dir) => {
      // md5Hash60 shingle hashes so DuckDB reproduces the exact minhash
      // signatures (band-bucket equality is value-dependent)
      Dedup.minhashLsh(
        docs(s, dir).where(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", k = 32, bands = 32, threshold = 0.02,
        shingleAlgo = Dedup.AlgoMd5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q29_minhash_incremental" -> ((s, dir) => {
      // incremental ingest dedup: new batch (doc_id%5=2) against the
      // existing corpus (doc_id%5=0) — cross-side pairs only, the corpus
      // is never re-paired against itself
      val d = docs(s, dir)
      Dedup.minhashLshJoin(
        d.where(pmod(col("doc_id"), lit(5)) === 0),
        d.where(pmod(col("doc_id"), lit(5)) === 2),
        "doc_id", "text", k = 32, bands = 32, threshold = 0.02,
        shingleAlgo = Dedup.AlgoMd5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q18_simhash" -> ((s, dir) => {
      // md5Hash60 token hashes (oracle-replicable signatures)
      val withSig = docs(s, dir).where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").as("id"),
          Dedup.tokenHashes(col("text"), Dedup.AlgoMd5).as("hs"))
        .select(col("id"), Dedup.simhashFromHashes(col("hs")).as("sig"))
      // maxBucket = 0 EXPLICITLY: the DuckDB oracle is uncapped, so byte
      // parity must not depend on corpus size (the production default of
      // 1000 would silently drop over-full blocking buckets at larger
      // scale factors and break the gate by accident, not by choice)
      Dedup.simhashPairsFromSigs(withSig, maxDist = 16, maxBucket = 0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q19_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45, planes = 6, tables = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity search ---------------------------------------------
    "q20_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteKnn(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    "q21_knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfKnn(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 10, planes = 6, tables = 4)
        .orderBy(col("qid"), col("rank"))
    }),

    "q28_knn_ivf_kmeans" -> ((s, dir) => {
      // true IVF (learned coarse quantizer), gate shape at iters=0: the
      // deterministic init (nlist lowest-id vectors, unit-normalized) IS
      // the quantizer, so centroids/assignment/probes/re-rank are all
      // bit-reproducible in DuckDB → full hash oracle. Lloyd refinement
      // (iters>0) averages floats in distributed order — not
      // cross-engine-reproducible — and is pinned by the planted
      // duplicate-recall test in PipelineOpsSpec instead.
      val e = emb(s, dir)
      Similarity.ivfKmeansKnn(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 10, nlist = 16, nprobe = 4,
        iters = 0)
        .orderBy(col("qid"), col("rank"))
    }),

    "q46_sketch_merge" -> ((s, dir) => {
      // sketch lifecycle: the associative merge law
      // merge(build(A), build(B)) ≡ build(A ∪ B) for all three sketch
      // families, proven cross-engine — Spark builds per-half sketches
      // (doc_id parity split) and MERGES them (HLL: max-per-register,
      // CMS: counter add, Bloom: position union) while the oracle
      // computes each sketch over the FULL table in one pass; identical
      // hashes mean the merge law held exactly
      import graft.pipeline.Sketch
      val d = docs(s, dir)
      // materialized ONCE: five consumers (two HLL builds, two CMS
      // builds, the exact top-10) each re-ran the tokenize+explode pass
      // before r8
      val toks = Mat.corpus(d.select(col("doc_id"), col("lang"),
        explode(Dedup.tokens(col("text"))).as("tok")))
      val ta = toks.where(pmod(col("doc_id"), lit(2)) === 0)
      val tb = toks.where(pmod(col("doc_id"), lit(2)) === 1)
      val hllRows = Sketch.hllEstimate(
        Sketch.merge(Sketch.Hll,
          Sketch.hllRegisters(ta, Seq("lang"), col("tok")),
          Sketch.hllRegisters(tb, Seq("lang"), col("tok")), Seq("lang")),
        Seq("lang"))
        .select(lit("hll").as("kind"), col("lang").as("key"),
          col("hll_estimate").cast("double").as("value"))
      val cmsMerged = Sketch.merge(Sketch.Cms,
        Sketch.cmsBuild(ta, col("tok")), Sketch.cmsBuild(tb, col("tok")))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(10)
      val cmsRows = Sketch.cmsLookup(cmsMerged, top, col("tok"))
        .select(lit("cms").as("kind"), col("v").as("key"),
          col("cms_estimate").cast("double").as("value"))
      val url = concat(lit("https://example.com/p/"), col("doc_id"))
      val corpus = d.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), url.as("url"))
      val bloomMerged = Sketch.merge(Sketch.Bloom,
        Sketch.bloomBuild(corpus.where(pmod(col("doc_id"), lit(4)) === 0), col("url")),
        Sketch.bloomBuild(corpus.where(pmod(col("doc_id"), lit(4)) === 2), col("url")))
      val probes = d.where(col("doc_id") < 250).select(url.as("url"))
      val bloomRows = Sketch.bloomProbe(bloomMerged, probes, col("url"))
        .select(lit("bloom").as("kind"), col("v").as("key"),
          when(col("bloom_hit"), 1.0).otherwise(0.0).as("value"))
      hllRows.unionByName(cmsRows).unionByName(bloomRows)
        .orderBy(col("kind"), col("key"))
    }),

    "q47_quantile_sketch" -> ((s, dir) => {
      // mergeable quantile sketch next to q45's exact percentiles: log2
      // histogram (bucket = bit-length, ≤64 buckets/group of state vs a
      // full per-group sort), built per-half and MERGED (counter add) —
      // the oracle builds the histogram over the full table, so the hash
      // also pins the histogram merge law
      import graft.pipeline.Sketch
      val lens = docs(s, dir).select(col("lang"), col("doc_id"),
        length(col("text")).cast("long").as("l"))
      val merged = Sketch.merge(Sketch.Hist,
        Sketch.hist2Build(lens.where(pmod(col("doc_id"), lit(2)) === 0),
          Seq("lang"), col("l"), sBits = 0),
        Sketch.hist2Build(lens.where(pmod(col("doc_id"), lit(2)) === 1),
          Seq("lang"), col("l"), sBits = 0),
        Seq("lang"))
      Sketch.hist2Quantiles(merged, Seq("lang"),
        Seq(("s50", 0.5), ("s90", 0.9), ("s99", 0.99)), sBits = 0)
        .orderBy(col("lang"))
    }),

    "q48_bpe_merges" -> ((s, dir) => {
      // the actual BPE merge loop (3 oracled rounds) over lowercase word
      // pieces: pair-count shuffle → deterministic top pair → greedy
      // leftmost merge, vocabulary-sized state per round
      TextOps.bpeLearn(TextOps.bpePieces(docs(s, dir), col("text")),
        rounds = 3).orderBy(col("round"))
    }),

    "q49_bpe_apply" -> ((s, dir) => {
      // the APPLY side of q48: learn 3 merges, segment the DISTINCT
      // piece vocabulary once under them, and join token counts back to
      // documents by piece — per-doc BPE token counts under a learned
      // vocab (the tokenizer-budget number a trained tokenizer yields,
      // vs q38's pre-tokenizer ceiling)
      // materialized ONCE: the piece-count aggregation (BPE training
      // input) and the final per-doc join-back both consume the token
      // postings — unmaterialized, the corpus tokenized twice (r8)
      val toks = Mat.corpus(docs(s, dir)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("piece"))
        .where(col("piece").rlike("^[a-z]+$")))
      val pieces = toks.groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
      val merges = TextOps.bpeLearn(pieces, rounds = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val seg = TextOps.bpeSegmentCounts(pieces.select(col("piece")), merges)
      toks.join(seg, Seq("piece"))
        .groupBy(col("doc_id"))
        .agg(sum(col("bpe_tokens")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q45_length_quantiles" -> ((s, dir) => {
      // corpus distribution profiling: EXACT interpolated percentiles of
      // document length per language (Spark's percentile aggregate vs
      // DuckDB's quantile_cont — both (n−1)·q linear interpolation on
      // doubles)
      // the percentile array computes ONCE per group (Spark does not
      // dedupe identical aggregate expressions — three inline copies
      // would triple the sort-based percentile work)
      docs(s, dir)
        .select(col("lang"), length(col("text")).cast("double").as("l"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          expr("percentile(l, array(0.5D, 0.9D, 0.99D))").as("__ps"))
        .select(col("lang"), col("docs"),
          round(element_at(col("__ps"), 1), 4).as("p50"),
          round(element_at(col("__ps"), 2), 4).as("p90"),
          round(element_at(col("__ps"), 3), 4).as("p99"))
        .orderBy(col("lang"))
    }),

    "q44_bloom_frontier" -> ((s, dir) => {
      // crawl-frontier membership: Bloom filter over the crawled urls
      // (even doc_ids), probed with a mixed batch — no false negatives
      // by construction; false positives show as in_corpus=false,
      // bloom_hit=true
      import graft.pipeline.Sketch
      val url = concat(lit("https://example.com/p/"), col("doc_id"))
      val corpus = docs(s, dir).where(pmod(col("doc_id"), lit(2)) === 0)
        .select(url.as("url"))
      val filter = Sketch.bloomBuild(corpus, col("url"))
      val probes = docs(s, dir).where(col("doc_id") < 250)
        .select(col("doc_id"), url.as("url"),
          (pmod(col("doc_id"), lit(2)) === 0).as("in_corpus"))
      val hit = Sketch.bloomProbe(filter, probes, col("url"))
      probes.join(hit, probes("url") === hit("v")) // payloads re-join by value
        .select(col("doc_id"), col("in_corpus"), col("bloom_hit"))
        .orderBy(col("doc_id"))
    }),

    "q43_cms_freq" -> ((s, dir) => {
      // heavy-hitter frequency estimation: a 4×1024 count-min sketch
      // over the token stream, point-queried for the exact top-20 tokens
      // (estimate ≥ exact always; the d-row min bounds the overcount)
      import graft.pipeline.Sketch
      val toks = docs(s, dir).select(explode(Dedup.tokens(col("text"))).as("tok"))
      val cms = Sketch.cmsBuild(toks, col("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
      val est = Sketch.cmsLookup(cms, top, col("tok"))
      top.join(est, top("tok") === est("v")) // payloads re-join by value
        .withColumn("overcount", col("cms_estimate") - col("exact_cnt"))
        .select(col("tok"), col("exact_cnt"), col("cms_estimate"), col("overcount"))
        .orderBy(col("exact_cnt").desc, col("tok").asc)
    }),

    "q42_weighted_sample" -> ((s, dir) => {
      // quality-weighted curation draw (Efraimidis–Spirakis A-ES,
      // deterministic): 25 docs per language, draw probability
      // proportional to document length
      Sampling.weightedSample(docs(s, dir), Seq("lang"), "doc_id",
        length(col("text")), n = 25)
        .select(col("lang"), col("sample_rank"), col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    }),

    "q41_hll_distinct" -> ((s, dir) => {
      // cardinality profiling a 100 TB pipeline runs continuously:
      // per-language distinct-token estimate via the deterministic HLL
      // sketch, next to the exact count and the realized error
      val toks = docs(s, dir)
        .select(col("lang"), explode(Dedup.tokens(col("text"))).as("tok"))
      val est = graft.pipeline.Sketch.hllDistinct(toks, Seq("lang"), col("tok"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      est.join(exact, Seq("lang"))
        .withColumn("rel_err_pct",
          round(abs(col("hll_estimate") - col("exact_distinct")) /
            col("exact_distinct") * 100, 2))
        .orderBy(col("lang"))
    }),

    "q40_pq_adc" -> ((s, dir) => {
      // product-quantized ANN: 64-dim vectors → 8 codes (32× memory
      // compression); ADC search scans ONLY the codes. Gate shape at
      // iters=0 (deterministic lowest-id codebook init, as q28) so
      // codebooks, code assignment and ADC sums are all bit-reproducible
      // in DuckDB; Lloyd refinement is pinned by the planted recall test.
      val e = emb(s, dir)
      val cb = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 0)
      Similarity.pqAdcSearch(
        Similarity.pqEncode(e, "vec_id", "embedding", cb),
        e.where(col("vec_id") < 10), "vec_id", "embedding", cb, k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // ---- extraction (the engine itself) --------------------------------
    "q22_extract_docs" -> ((s, dir) => {
      import s.implicits._
      synthPages(s, dir)
        .map(Extractor.extract)
        .toDF()
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("status"), col("title"),
          col("extracted_text"))
        .orderBy(col("doc_id"))
    }),

    "q24_grouping_rollup" -> ((s, dir) => {
      // grouping-sets coverage (SURVEY.md §2.3 aggregations): metrics
      // report with subtotals per priority and a grand total
      s.read.parquet(s"$dir/orders.parquet")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("orders"), col("total"))
        .orderBy(col("priority"), col("status"))
    }),

    "q25_url_parse" -> ((s, dir) => {
      // URL normalization ops a crawl pipeline needs: host + path depth
      val hosts = typedlit(Seq("example.com", "news.example.org", "blog.test.net", "docs.spark.io"))
      val url = concat(lit("https://"),
        element_at(hosts, (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
        lit("/p/"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^https?://([^/]+)/", 1).as("host"),
          (length(col("url")) - length(regexp_replace(col("url"), "/", ""))).as("slashes"))
        .orderBy(col("doc_id"))
    }),

    "q26_dup_clusters" -> ((s, dir) => {
      // near-dup pairs collapsed to duplicate clusters (connected
      // components via iterative min-label propagation)
      val pairs = cappedJaccardPairs(s, dir).select(col("id_a"), col("id_b"))
      Dedup.duplicateClusters(pairs).orderBy(col("id"))
    }),

    "q27_url_canonical" -> ((s, dir) => {
      // crawl-level URL dedup prerequisite: canonicalization over messy
      // synthetic URLs (mixed-case hosts, default ports, tracking params,
      // fragments, non-URL junk)
      val pre = typedlit(UrlPrefixes)
      val suf = typedlit(UrlSuffixes)
      val idx = (pmod(col("doc_id"), lit(UrlPrefixes.length)) + 1).cast("int")
      val raw = concat(element_at(pre, idx), col("doc_id").cast("string"),
        element_at(suf, idx))
      docs(s, dir).select(col("doc_id"), raw.as("url"),
        TextOps.canonicalizeUrl(raw).as("canonical"))
        .orderBy(col("doc_id"))
    }),

    "q30_stratified_sample" -> ((s, dir) => {
      // curation shape: cheap deterministic bernoulli pre-filter (pure
      // filter, no shuffle), then a per-language quota (rank-filter
      // window → WindowGroupLimit partial top-n before the shuffle)
      val half = Sampling.bernoulli(docs(s, dir), "doc_id", 0.5)
      Sampling.stratifiedQuota(half, Seq("lang"), "doc_id", n = 25)
        .select(col("lang"), col("sample_rank"), col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    }),

    "q32_warc_extract" -> ((s, dir) => {
      // the full Common-Crawl-shaped ingest: synthesize per-record-gzip
      // WARC files DISTRIBUTED (one file per partition — files are the
      // parallel unit, as in a real crawl drop), then the real path:
      // binaryFile scan → WARC record parse → pages table → extraction.
      // Oracle is the q22 shape: any ingest defect breaks the hash.
      import s.implicits._
      // staging dir unique per Spark session (applicationId) so parallel
      // JVMs on the same dataset (tools/run_graft.sh, interleaved bench)
      // never race delete-against-read; cleaned on entry, so repeated
      // invocations within one session reuse the path without leaking.
      // Written through the Hadoop FileSystem API with the SESSION's
      // hadoopConfiguration broadcast to executors (spark.hadoop.* and
      // credentials apply), so on a real cluster the staging path can be
      // any shared FS the session is configured for (here: file:/ under
      // java.io.tmpdir — fine at local[*] where executors share the node)
      val prefix = "graft_q32_warc_" + Integer.toHexString(dir.hashCode) + "_"
      val tmpBase = System.getProperty("java.io.tmpdir")
      val tmp = s"$tmpBase/$prefix${s.sparkContext.applicationId}"
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val fs = tmpPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(tmpPath, true)
      fs.mkdirs(tmpPath)
      // no leak across sessions: this session's dir goes on JVM exit, and
      // stale siblings from crashed/killed JVMs are swept once they are
      // old enough that no live interleaved bench can still be reading
      // them (age gate avoids re-introducing the delete-vs-read race)
      fs.deleteOnExit(tmpPath)
      val staleBefore = System.currentTimeMillis() - 3600L * 1000
      val siblings = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmpBase/$prefix*"))
      if (siblings != null) siblings.foreach { st =>
        if (st.getPath.toString != tmpPath.toString &&
            st.getModificationTime < staleBefore)
          try fs.delete(st.getPath, true) catch { case _: Exception => }
      }
      // Configuration isn't Serializable and Spark's SerializableConfiguration
      // wrapper is private[spark] — broadcast the entries and rebuild
      val bcConf = s.sparkContext.broadcast(
        graft.sources.Warc.confEntries(s.sparkContext.hadoopConfiguration))
      docs(s, dir).select(col("doc_id"), col("text"))
        .repartition(8, col("doc_id"))
        .as[(Long, String)]
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          // records STREAM to the gzip member writer one at a time — no
          // full-partition buffer (the production ingest memory profile)
          if (it.hasNext) {
            val recs = it.map { case (id, text) =>
              (s"http://synth.example/doc/$id",
                java.time.Instant.ofEpochMilli(1767225600000L + id * 60000L).toString,
                synthHtml(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val part = new org.apache.hadoop.fs.Path(tmp, f"part-$pid%05d.warc.gz")
            val pfs = part.getFileSystem(
              graft.sources.Warc.confFromEntries(bcConf.value))
            val os = pfs.create(part, true)
            try graft.sources.Warc.writeWarcTo(os, recs, gzipPerRecord = true)
            finally os.close()
          }
        }
      // resolve concrete file paths via the FileSystem API instead of
      // handing `load` a raw glob: FileStreamSink.hasMetadata probes the
      // literal path and logs a crash-shaped FileNotFoundException stack
      // for globs (benign but it polluted BENCH_r03's captured tail)
      val warcFiles = fs.listStatus(tmpPath).toSeq
        .map(_.getPath.toString).filter(_.endsWith(".warc.gz")).sorted
      graft.sources.Warc.read(s, warcFiles)
        .select(col("url"), col("warc_ts"), col("html"),
          col("text"), col("lang"))
        .as[Page]
        .map(Extractor.extract)
        .toDF()
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("status"), col("title"),
          col("extracted_text"))
        .orderBy(col("doc_id"))
    }),

    "q31_pdf_extract" -> ((s, dir) => {
      // PDF/layout-parse leg: deterministic PDFs synthesized from the
      // documents table (≤50 words on page 1, rest on page 2), then the
      // REAL byte-level parse (object scan → page tree → FlateDecode →
      // text operators). Oracle = the source text re-chunked in SQL, so
      // any parse defect breaks the hash.
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          // limit -1: keep trailing empty tokens, matching DuckDB's
          // string_split semantics in the oracle (Java split drops them)
          val words = text.split(" ", -1)
          val pages =
            if (words.length > 50)
              Seq(words.take(50).mkString(" "), words.drop(50).mkString(" "))
            else Seq(text)
          val parsed = graft.pipeline.Pdf.extract(graft.pipeline.Pdf.synthesize(pages))
          (id, parsed.length, parsed.mkString("\n\n"))
        }.toDF("doc_id", "n_pages", "pdf_text")
        .orderBy(col("doc_id"))
    }),

    "q33_vocab_topk" -> ((s, dir) => {
      // corpus-level vocabulary analysis (stopword/df profiling before
      // filtering): distinct-token document frequency, top 20
      docs(s, dir)
        .select(explode(array_distinct(Dedup.tokens(col("text")))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(20)
    }),

    "q34_asof_join" -> ((s, dir) => {
      // backward as-of join: each event picks up its user's latest hourly
      // snapshot at or before the event time (feature-store lookup shape)
      val ev = s.read.parquet(s"$dir/events.parquet")
      val snapshots = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("snap_ts"))
        .agg(min(col("event_id")).as("marker"),
          round(sum(col("value")), 4).as("hour_value"))
      AsOf.joinBackward(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        snapshots, key = "user_id", leftTs = "ts", rightTs = "snap_ts",
        payload = Seq("marker", "hour_value"))
        .select(col("event_id"), col("user_id"), col("marker"), col("hour_value"))
        .orderBy(col("event_id"))
    }),

    "q36_span_dedup" -> ((s, dir) => {
      // exact-substring contamination signal: fraction of each document's
      // 8-gram spans occurring in ≥1 other document (the per-doc stat
      // suffix-array dedup pipelines act on). md5Hash60 spans so DuckDB
      // reproduces the hash values; no pairwise join anywhere.
      Dedup.spanDupStats(docs(s, dir), "doc_id", "text", n = 8,
        algo = Dedup.AlgoMd5)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_spans"),
          col("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    "q51_repetition_stats" -> ((s, dir) => {
      // Gopher-style repetition filter signals per document: duplicate
      // word/3-gram fractions + most-frequent-2-gram coverage — the
      // degenerate-text gate next to q13's quality score
      TextOps.repetitionStats(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dup_word_frac"),
          col("dup_3gram_frac"), col("top_2gram_frac"))
        .orderBy(col("doc_id"))
    }),

    "q52_quantile_sketch2" -> ((s, dir) => {
      // two-level quantile sketch (q47's refinement): each log2 bucket
      // splits into 2^3 equal-width sub-buckets — ≤ 512 rows/group of
      // state, in-bucket error shrinks 8×, merge stays counter-add. As
      // q47, built per-half and MERGED while the oracle builds over the
      // full table, so the hash pins the merge law too
      import graft.pipeline.Sketch
      val lens = docs(s, dir).select(col("lang"), col("doc_id"),
        length(col("text")).cast("long").as("l"))
      val merged = Sketch.merge(Sketch.Hist2,
        Sketch.hist2Build(lens.where(pmod(col("doc_id"), lit(2)) === 0),
          Seq("lang"), col("l")),
        Sketch.hist2Build(lens.where(pmod(col("doc_id"), lit(2)) === 1),
          Seq("lang"), col("l")),
        Seq("lang"))
      Sketch.hist2Quantiles(merged, Seq("lang"),
        Seq(("s50", 0.5), ("s90", 0.9), ("s99", 0.99)))
        .orderBy(col("lang"))
    }),

    "q50_decontamination" -> ((s, dir) => {
      // benchmark decontamination: every 10th doc plays the EVAL set;
      // per eval doc, the fraction of its 8-gram spans found anywhere in
      // the TRAIN corpus (no pairwise join — train collapses to its
      // distinct span set). md5 spans so DuckDB reproduces the hashes.
      val d = docs(s, dir)
      Dedup.spanContamination(
        d.where(pmod(col("doc_id"), lit(10)) =!= 0),
        d.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", n = 8, algo = Dedup.AlgoMd5)
        .select(col("id").as("doc_id"), col("n_spans"), col("hit_spans"),
          col("contamination"))
        .orderBy(col("doc_id"))
    }),

    "q37_bm25" -> ((s, dir) => {
      // corpus search primitive (targeted retrieval / leakage checks):
      // Okapi BM25 of every document against a fixed term bag
      Search.bm25(docs(s, dir), "doc_id", "text",
        terms = Seq("window", "merge", "spark", "stream"))
        .select(col("id").as("doc_id"), col("bm25"))
        .orderBy(col("doc_id"))
    }),

    "q38_bpe_tokens" -> ((s, dir) => {
      // tokenizer budgeting: whitespace count next to the GPT-2-style
      // pre-tokenizer piece count (the count BPE merges start from)
      docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q39_winnow_fp" -> ((s, dir) => {
      // winnowing (MOSS) document fingerprints — the rolling-hash
      // fingerprint artifact a plagiarism/contamination index stores;
      // md5-60bit grams so DuckDB reproduces the exact selected hashes
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
        k = 4, w = 5, algo = Dedup.AlgoMd5)
        .select(col("id").as("doc_id"), col("fp"))
        .orderBy(col("doc_id"), col("fp"))
    }),

    "q35_image_decode" -> ((s, dir) => {
      // REAL image decode through the real multimodal plumbing: plant a
      // PNG per document whose dimensions are a deterministic function of
      // the md5-60bit text hash (16 + h % 120, 16 + (h >> 7) % 120),
      // actually ENCODE it (javax.imageio), run it through
      // Multimodal.extractFeatures whose decoder actually DECODES it
      // (ImageIO.read), and emit the decoded width/height. DuckDB
      // predicts the dimensions from md5 alone — any defect in the
      // encode → decode → feature path breaks the hash (the stub
      // fallback's formula is 64 + h % 1920, so a silent fallback
      // mismatches too).
      import s.implicits._
      val rows = docs(s, dir)
        .select(col("doc_id"), Dedup.md5Hash60(col("text")).as("h"))
        .as[(Long, Long)]
        .map { case (id, h) =>
          val w = 16 + (h % 120).toInt
          val ht = 16 + ((h >> 7) % 120).toInt
          Multimodal.MediaRow(id, "image", Multimodal.encodePng(w, ht, h))
        }
      Multimodal.extractFeatures(s, rows)
        .toDF()
        .select(col("media_id").as("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal plumbing -------------------------------------------
    "q23_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.synthesize(s, docs(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(s, media)
        .toDF()
        .select(col("media_id"), col("kind"), col("bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.durationMs").as("duration_ms"),
          round(element_at(col("features"), 1), 4).as("f0"),
          round(element_at(col("features"), 8), 4).as("f7"))
        .orderBy(col("media_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_broadcast_join" ->
      """SELECT c_mktsegment, count(*) AS order_cnt,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q03_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= '1997-06-01')
        |ORDER BY c_custkey""".stripMargin,

    "q04_topk_window" ->
      """SELECT o_orderpriority, rnk, o_orderkey, price FROM (
        |  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    "q05_monthly_rollup" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS orders, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "q06_sessionize" ->
      """SELECT user_id, sum(new_sess)::BIGINT AS sessions, count(*)::BIGINT AS events FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q07_normalize_ws" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q08_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q09_comma_score" ->
      """SELECT doc_id,
        |  round(1.0 + (length(text) - length(replace(text, ',', ''))) * 0.25
        |            - (length(text) - length(replace(text, '"', ''))) * 0.5
        |            + least(length(text) / 100.0, 3.0), 4) AS content_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q10_class_weight" -> {
      val cls = sqlSynthCls("doc_id")
      s"""SELECT doc_id, $cls AS cls,
         |  (CASE WHEN regexp_matches($cls, '(?i)$ReNegSql') THEN -25 ELSE 0 END
         | + CASE WHEN regexp_matches($cls, '(?i)$RePosSql') THEN 25 ELSE 0 END) AS weight
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q11_unlikely_filter" -> {
      val cls = sqlSynthCls("doc_id")
      s"""SELECT doc_id, $cls AS cls FROM documents
         |WHERE regexp_matches($cls, '(?i)$ReUnlikelySql')
         |  AND NOT regexp_matches($cls, '(?i)$ReMaybeSql')
         |ORDER BY doc_id""".stripMargin
    },

    "q12_lang_id" -> {
      def hits(words: Seq[String]) = words
        .map(w => s"(len(string_split_regex(padded, '\\s$w\\s')) - 1)")
        .mkString("(", " + ", ")")
      val en = hits(Seq("the", "and", "of", "a", "to", "is"))
      val de = hits(Seq("der", "die", "und", "das", "ist", "ein"))
      val fr = hits(Seq("le", "la", "et", "les", "des", "est"))
      val es = hits(Seq("el", "de", "y", "que", "los", "una"))
      s"""WITH n AS (
         |  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, ' ' || lower(norm) || ' ' AS padded,
         |    regexp_replace(norm, '\\s', '', 'g') AS ns
         |  FROM n),
         |sc AS (SELECT doc_id, padded,
         |    length(ns)::DOUBLE AS total,
         |    length(ns) - length(regexp_replace(ns, '[\\p{Hiragana}\\p{Katakana}]', '', 'g')) AS kana,
         |    length(ns) - length(regexp_replace(ns, '[\\p{Hangul}]', '', 'g')) AS hangul,
         |    length(ns) - length(regexp_replace(ns, '[\\p{Han}]', '', 'g')) AS han,
         |    length(ns) - length(regexp_replace(ns, '[\\p{Cyrillic}]', '', 'g')) AS cyr
         |  FROM p),
         |h AS (SELECT doc_id, total, kana, hangul, han, cyr,
         |             $en AS en, $de AS de, $fr AS fr, $es AS es FROM sc)
         |SELECT doc_id,
         |  CASE WHEN total <= 0 THEN 'und'
         |       WHEN kana / total > 0.05 THEN 'ja'
         |       WHEN hangul / total > 0.25 THEN 'ko'
         |       WHEN han / total > 0.25 THEN 'zh'
         |       WHEN cyr / total > 0.25 THEN 'ru'
         |       WHEN greatest(en, de, fr, es) <= 0 THEN 'und'
         |       WHEN en = greatest(en, de, fr, es) THEN 'en'
         |       WHEN de = greatest(en, de, fr, es) THEN 'de'
         |       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "q13_quality_score" ->
      """WITH n0 AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    length(norm)::DOUBLE AS len,
        |    len(string_split_regex(trim(norm), '\s+'))::DOUBLE AS words,
        |    length(regexp_replace(norm, '[^.!?]', '', 'g'))::DOUBLE AS punct,
        |    length(regexp_replace(norm, '[\p{L}\p{N}\s.,;:!?''"()-]', '', 'g'))::DOUBLE AS symbols,
        |    (len(string_split_regex(' ' || lower(norm) || ' ', '\s(the|and|of|a|to|is)\s')) - 1)::DOUBLE AS stop_hits
        |  FROM n0),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN len >= 200 AND len <= 20000 THEN 1.0
        |         WHEN len >= 50 THEN 0.5 ELSE 0.0 END AS length_band,
        |    CASE WHEN (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) >= 3
        |          AND (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) <= 12
        |         THEN 1.0 ELSE 0.3 END AS word_shape,
        |    least(punct / greatest(words, 1.0) * 10.0, 1.0) AS punct_rate,
        |    least(stop_hits / greatest(words, 1.0) * 5.0, 1.0) AS stop_rate,
        |    least(symbols / greatest(len, 1.0) * 20.0, 1.0) AS noise
        |  FROM m)
        |SELECT doc_id,
        |  round((length_band * 0.3 + word_shape * 0.2 + punct_rate * 0.2
        |         + stop_rate * 0.3) * (1.0 - noise * 0.5), 4) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "q14_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q15_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "q16_ngram_jaccard" ->
      s"""WITH $sqlJaccardCtes
         |SELECT id_a, id_b, inter, jaccard FROM jpairs
         |ORDER BY id_a, id_b""".stripMargin,

    // prefix filtering over 3-gram shingle sets: rank each doc's
    // distinct shingles under a global (df asc, element asc) order; only
    // ranks ≤ sz − floor(t·sz) + 1 enter the candidate self-join (floor,
    // not ceil: a float product landing epsilon above an integer makes
    // ceil overshoot and the prefix one element too short — a silent
    // false negative; floor errs only longer, which the exact verify
    // absorbs). The Spark side ranks its own KERNEL HASH elements — the
    // prefix lemma holds under ANY total order and the verified output
    // is candidate-independent, so the engines may rank differently and
    // still hash-match (the q16/q26 hash-equality precedent).
    "q53_prefix_jaccard" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM t0),
        |tk AS (SELECT doc_id, unnest(s) AS tok FROM sh),
        |dfc AS (SELECT tok, count(*) AS tdf FROM tk GROUP BY tok),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tk GROUP BY doc_id),
        |rk AS (SELECT tk.doc_id, tk.tok,
        |         row_number() OVER (PARTITION BY tk.doc_id
        |                            ORDER BY dfc.tdf ASC, tk.tok ASC) AS rk
        |       FROM tk JOIN dfc USING (tok)),
        |pre AS (SELECT rk.doc_id, rk.tok FROM rk JOIN sz USING (doc_id)
        |        WHERE rk <= sz - floor(0.5 * sz) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM pre a JOIN pre b
        |           ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |iv AS (SELECT id_a, id_b, count(*) AS inter
        |       FROM cand JOIN tk ta ON ta.doc_id = id_a
        |                 JOIN tk tb ON tb.doc_id = id_b AND tb.tok = ta.tok
        |       GROUP BY id_a, id_b),
        |j AS (SELECT id_a, id_b, iv.inter,
        |        iv.inter::DOUBLE / (sa.sz + sb.sz - iv.inter) AS jac
        |      FROM iv JOIN sz sa ON sa.doc_id = id_a
        |              JOIN sz sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, inter::BIGINT AS inter, round(jac, 4) AS jaccard
        |FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // One logistic-regression mean-gradient step from the prior-
    // intercept init (w = 0, bias b₀ = logit(ȳ) ⇒ every initial
    // prediction is exactly ȳ): w_f = lr·(n·Σy·tf − npos·Σtf)/n² — a
    // ratio of EXACT INTEGER sums, order-independent, so the model is
    // bit-reproducible; the bias gradient n·npos − npos·n is exactly 0.
    // Weak labels come from the (already-oracled, round(4)) q13
    // heuristic at the 0.6 threshold over the doc_id % 3 = 0 third.
    // Scoring ulps (ln in b₀, reordered float sums) are absorbed by
    // round(·, 4) (the q37 float-sum precedent). Features unseen in the
    // labeled postings carry w = 0 on the Spark side and are simply
    // absent here — adding exact zeros to the score sum changes
    // nothing; the bias posting (f = −1, tf = 1 on every doc) keeps
    // every doc present in z on both sides.
    "q54_quality_logreg" ->
      """WITH n0 AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    length(norm)::DOUBLE AS len,
        |    len(string_split_regex(trim(norm), '\s+'))::DOUBLE AS words,
        |    length(regexp_replace(norm, '[^.!?]', '', 'g'))::DOUBLE AS punct,
        |    length(regexp_replace(norm, '[\p{L}\p{N}\s.,;:!?''"()-]', '', 'g'))::DOUBLE AS symbols,
        |    (len(string_split_regex(' ' || lower(norm) || ' ', '\s(the|and|of|a|to|is)\s')) - 1)::DOUBLE AS stop_hits
        |  FROM n0),
        |qual AS (
        |  SELECT doc_id,
        |    round(((CASE WHEN len >= 200 AND len <= 20000 THEN 1.0
        |            WHEN len >= 50 THEN 0.5 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) >= 3
        |              AND (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) <= 12
        |         THEN 1.0 ELSE 0.3 END) * 0.2
        |      + least(punct / greatest(words, 1.0) * 10.0, 1.0) * 0.2
        |      + least(stop_hits / greatest(words, 1.0) * 5.0, 1.0) * 0.3)
        |      * (1.0 - least(symbols / greatest(len, 1.0) * 20.0, 1.0) * 0.5), 4) AS quality
        |  FROM m),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id,
        |    (('0x' || substring(md5(tok), 1, 15))::UBIGINT % 256)::INT AS f,
        |    count(*)::BIGINT AS tf
        |  FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
        |  UNION ALL SELECT doc_id, -1, 1 FROM documents),
        |labels AS (
        |  SELECT doc_id, CASE WHEN quality >= 0.6 THEN 1 ELSE 0 END AS y
        |  FROM qual WHERE doc_id % 3 = 0),
        |stats AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS npos FROM labels),
        |sums AS (
        |  SELECT f, sum(y * tf)::BIGINT AS syt, sum(tf)::BIGINT AS stf
        |  FROM feats JOIN labels USING (doc_id) GROUP BY f),
        |w AS (
        |  SELECT f,
        |    CASE WHEN f = -1 THEN ln(npos::DOUBLE / (n - npos)::DOUBLE) ELSE 0.0 END
        |    + 1.0 * (n * syt - npos * stf)::DOUBLE / (n * n)::DOUBLE AS w
        |  FROM sums CROSS JOIN stats),
        |z AS (
        |  SELECT feats.doc_id, sum(w.w * feats.tf) AS z
        |  FROM feats JOIN w USING (f) GROUP BY feats.doc_id)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS quality_prob
        |FROM z ORDER BY doc_id""".stripMargin,

    // SemDeDup at the deterministic gate shape: iters=0 centroids are
    // the 16 lowest-id vectors unit-normalized (q28's init), assignment
    // tie-breaks on the lowest centroid index (array_position-first-max
    // ⟷ rn ORDER BY dot DESC, cidx ASC), centroid affinity is rounded
    // to 6 BEFORE the keep/drop comparison so the strict total order
    // (cdot desc, id asc) is cross-engine reproducible.
    "q55_semantic_dedup" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT id, v, row_number() OVER (ORDER BY id) - 1 AS cidx
        |         FROM e ORDER BY id LIMIT 16),
        |cent AS (SELECT cidx,
        |           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        |         FROM init),
        |asgn AS (
        |  SELECT id, cidx, list_dot_product(e.v, cent.cv) AS dot,
        |         row_number() OVER (PARTITION BY id
        |             ORDER BY list_dot_product(e.v, cent.cv) DESC, cidx ASC) AS rn
        |  FROM e CROSS JOIN cent),
        |a AS (SELECT id, cidx AS cl, round(dot, 6) AS cdot FROM asgn WHERE rn = 1),
        |pairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b
        |  FROM a x JOIN a y ON x.cl = y.cl AND x.id < y.id
        |       JOIN e ea ON ea.id = x.id JOIN e eb ON eb.id = y.id
        |  WHERE list_dot_product(ea.v, eb.v)
        |        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
        |        >= 0.45),
        |nbr AS (SELECT id_a AS id, id_b AS nb FROM pairs
        |        UNION ALL SELECT id_b, id_a FROM pairs),
        |drp AS (SELECT DISTINCT n.id
        |        FROM nbr n JOIN a ax ON ax.id = n.id JOIN a ay ON ay.id = n.nb
        |        WHERE ay.cdot > ax.cdot OR (ay.cdot = ax.cdot AND n.nb < n.id))
        |SELECT a.id AS vec_id, a.cl, a.cdot,
        |  (drp.id IS NOT NULL) AS dropped
        |FROM a LEFT JOIN drp ON drp.id = a.id
        |ORDER BY vec_id""".stripMargin,

    // Bigram stupid-backoff LM: train on the doc_id % 2 = 0 half, score
    // every document. Probabilities are exact integer-count ratios;
    // (0.4 · x) / nv mirrors the Spark expression's operation order.
    "q56_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |    SELECT doc_id,
        |      unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS u
        |    FROM toks)
        |  WHERE len(u.w1) > 0 AND len(u.w2) > 0),
        |uni AS (
        |  SELECT tok AS w, count(*)::BIGINT AS c1
        |  FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 2 = 0)
        |  WHERE len(tok) > 0 GROUP BY tok),
        |big AS (
        |  SELECT w1, w2, count(*)::BIGINT AS c2
        |  FROM pairs WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |stats AS (SELECT (sum(c1) + count(*))::DOUBLE AS nv FROM uni),
        |lp AS (
        |  SELECT p.doc_id,
        |    ln(CASE WHEN b.c2 IS NOT NULL
        |         THEN b.c2::DOUBLE / u1.c1::DOUBLE
        |         ELSE (0.4 * (coalesce(u2.c1, 0) + 1)::DOUBLE) / nv END) AS lp
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  LEFT JOIN uni u1 ON p.w1 = u1.w
        |  LEFT JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN stats)
        |SELECT doc_id, count(*)::BIGINT AS pairs,
        |  round(sum(lp) / count(*), 4) AS avg_logp,
        |  round(exp(-(sum(lp) / count(*))), 4) AS ppl
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR: hashed unigram+bigram multinomials (add-one smoothed over
    // the 512 buckets), per-doc log importance weight toward the
    // doc_id % 4 = 1 target slice, Gumbel top-100 on the md5-derived
    // uniform (the q42 key idiom). Feature hashing is md5-60 so DuckDB
    // lands every n-gram in the same bucket.
    "q57_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, tok AS g
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |  WHERE len(tok) > 0
        |  UNION ALL
        |  SELECT doc_id, u.w1 || ' ' || u.w2 AS g FROM (
        |    SELECT doc_id,
        |      unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS u
        |    FROM toks)
        |  WHERE len(u.w1) > 0 AND len(u.w2) > 0),
        |feats AS (
        |  SELECT doc_id,
        |    ((('0x' || substring(md5(g), 1, 15))::UBIGINT::BIGINT) % 512)::INT AS f,
        |    count(*)::BIGINT AS tf
        |  FROM grams GROUP BY 1, 2),
        |tgt AS (SELECT f, sum(tf)::BIGINT AS ctgt
        |        FROM feats WHERE doc_id % 4 = 1 GROUP BY f),
        |raw AS (SELECT f, sum(tf)::BIGINT AS craw FROM feats GROUP BY f),
        |stats AS (SELECT
        |    (SELECT coalesce(sum(ctgt), 0) FROM tgt)::BIGINT AS ntgt,
        |    (SELECT coalesce(sum(craw), 0) FROM raw)::BIGINT AS nraw),
        |lr AS (
        |  SELECT raw.f,
        |    ln((coalesce(ctgt, 0) + 1)::DOUBLE / (ntgt + 512)::DOUBLE)
        |    - ln((craw + 1)::DOUBLE / (nraw + 512)::DOUBLE) AS lr
        |  FROM raw LEFT JOIN tgt USING (f) CROSS JOIN stats),
        |lw AS (
        |  SELECT feats.doc_id, sum(feats.tf * lr.lr) AS logw
        |  FROM feats JOIN lr USING (f) GROUP BY feats.doc_id),
        |keyed AS (
        |  SELECT doc_id, logw,
        |    round(logw - ln(-ln(
        |      (('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT::DOUBLE + 1)
        |        / pow(2.0, 60))), 6) AS key
        |  FROM lw),
        |top AS (SELECT doc_id, logw, key,
        |          row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rank
        |        FROM keyed)
        |SELECT doc_id, round(logw, 4) AS logw, key, rank::INTEGER AS rank
        |FROM top WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // Substring-level exact dedup: positional 8-grams, corpus-wide df,
    // gaps-and-islands merge of consecutive duplicated positions. The
    // oracle groups by the gram STRING (hash equality only — the
    // q16/q26 convention), so the engine's xx64 kernel needs no md5
    // mirror here.
    "q58_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id,
        |      unnest([{'pos': i-1, 'g': array_to_string(t[i:i+7], ' ')}
        |              for i in range(1, len(t) - 6)]) AS u
        |    FROM toks WHERE len(t) >= 8)),
        |dfh AS (SELECT g, count(*)::BIGINT AS hdf FROM grams GROUP BY g),
        |dup AS (SELECT doc_id, pos FROM grams JOIN dfh USING (g)
        |        WHERE hdf >= 2),
        |runs AS (SELECT doc_id, pos,
        |           pos - row_number() OVER (PARTITION BY doc_id
        |                                    ORDER BY pos) AS grp
        |         FROM dup)
        |SELECT doc_id, min(pos)::INTEGER AS span_start,
        |  count(*)::BIGINT AS span_grams,
        |  (count(*) + 7)::BIGINT AS span_tokens
        |FROM runs GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    "q59_substring_strip" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id,
        |      unnest([{'pos': i-1, 'g': array_to_string(t[i:i+7], ' ')}
        |              for i in range(1, len(t) - 6)]) AS u
        |    FROM toks WHERE len(t) >= 8)),
        |dfh AS (SELECT g, count(*)::BIGINT AS hdf FROM grams GROUP BY g),
        |dup AS (SELECT doc_id, pos FROM grams JOIN dfh USING (g)
        |        WHERE hdf >= 2),
        |runs AS (SELECT doc_id, pos,
        |           pos - row_number() OVER (PARTITION BY doc_id
        |                                    ORDER BY pos) AS grp
        |         FROM dup),
        |spans AS (SELECT doc_id, min(pos) AS s, count(*) + 7 AS st
        |          FROM runs GROUP BY doc_id, grp),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT doc_id, unnest(range(s, s + st)) AS pos FROM spans)),
        |toks_o AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id,
        |      unnest([{'pos': i-1, 'tok': t[i]}
        |              for i in range(1, len(t) + 1)]) AS u
        |    FROM toks_o)
        |  WHERE len(u.tok) > 0)
        |SELECT tk.doc_id,
        |  sum(CASE WHEN cov.pos IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept_tokens,
        |  sum(CASE WHEN cov.pos IS NULL THEN 0 ELSE 1 END)::BIGINT AS removed_tokens,
        |  coalesce(string_agg(CASE WHEN cov.pos IS NULL THEN tk.tok END,
        |    ' ' ORDER BY tk.pos), '') AS text_clean
        |FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    // Sequence packing: per-shard ordered prefix sum over q08 token
    // counts; chunk ids are exact integer floor-divisions.
    "q60_pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    ((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT) % 8)::INT AS shard,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, shard, tokens,
        |    coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS tok_offset
        |  FROM t)
        |SELECT doc_id, shard, tokens, tok_offset,
        |  (tok_offset // 256)::BIGINT AS chunk_first,
        |  ((tok_offset + tokens - 1) // 256)::BIGINT AS chunk_last
        |FROM o ORDER BY doc_id""".stripMargin,

    "q61_chunk_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    ((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT) % 8)::INT AS shard,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, shard, tokens,
        |    coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS tok_offset
        |  FROM t),
        |e AS (
        |  SELECT shard, tokens, tok_offset,
        |    unnest(range(tok_offset // 256, (tok_offset + tokens - 1) // 256 + 1)) AS chunk
        |  FROM o)
        |SELECT shard, chunk,
        |  count(*)::BIGINT AS docs,
        |  sum(least(tok_offset + tokens, (chunk + 1) * 256)
        |      - greatest(tok_offset, chunk * 256))::BIGINT AS tokens
        |FROM e GROUP BY shard, chunk
        |ORDER BY shard, chunk""".stripMargin,

    // Token-budget mixture selection: the q54 quality CTE gives the
    // rounded heuristic score; the fill is a per-language running sum
    // under (quality desc, doc_id asc).
    "q62_token_budget" ->
      """WITH n0 AS (
        |  SELECT doc_id, lang, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tokens
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, tokens,
        |    length(norm)::DOUBLE AS len,
        |    len(string_split_regex(trim(norm), '\s+'))::DOUBLE AS words,
        |    length(regexp_replace(norm, '[^.!?]', '', 'g'))::DOUBLE AS punct,
        |    length(regexp_replace(norm, '[\p{L}\p{N}\s.,;:!?''"()-]', '', 'g'))::DOUBLE AS symbols,
        |    (len(string_split_regex(' ' || lower(norm) || ' ', '\s(the|and|of|a|to|is)\s')) - 1)::DOUBLE AS stop_hits
        |  FROM n0),
        |qual AS (
        |  SELECT doc_id, lang, tokens,
        |    round(((CASE WHEN len >= 200 AND len <= 20000 THEN 1.0
        |            WHEN len >= 50 THEN 0.5 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) >= 3
        |              AND (CASE WHEN words > 0 THEN len / words ELSE 0.0 END) <= 12
        |         THEN 1.0 ELSE 0.3 END) * 0.2
        |      + least(punct / greatest(words, 1.0) * 10.0, 1.0) * 0.2
        |      + least(stop_hits / greatest(words, 1.0) * 5.0, 1.0) * 0.3)
        |      * (1.0 - least(symbols / greatest(len, 1.0) * 20.0, 1.0) * 0.5), 4) AS quality
        |  FROM m),
        |r AS (
        |  SELECT doc_id, lang, tokens,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id ASC) AS mix_rank,
        |    coalesce(sum(tokens) OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS before
        |  FROM qual)
        |SELECT lang, mix_rank::INTEGER AS mix_rank, doc_id,
        |  (before + tokens)::BIGINT AS cum_tokens
        |FROM r WHERE before < 2000 ORDER BY lang, mix_rank""".stripMargin,

    // Containment join: distinct 8-gram spans (q36's short-doc rule),
    // shared-span equi-join, sizes re-joined; the gate filters on the
    // ROUNDED containment exactly as the Spark side does.
    "q63_containment_join" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 8
        |    THEN [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]
        |    ELSE [array_to_string(t, ' ')] END)) AS g
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS ns FROM sp GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared_spans
        |  FROM sp a JOIN sp b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_spans,
        |  round(shared_spans::DOUBLE / least(za.ns, zb.ns)::DOUBLE, 4) AS containment
        |FROM pr JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
        |WHERE round(shared_spans::DOUBLE / least(za.ns, zb.ns)::DOUBLE, 4) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // The engine's own E1→E16 pipeline on synthesized single-article pages
    // reduces to whitespace normalization of the payload text (every doc is
    // ≥25 chars ⇒ candidate path; title lives in <head>) — giving DuckDB an
    // exact oracle over the REAL extraction output.
    "q22_extract_docs" ->
      """SELECT doc_id, 'ok' AS status,
        |  'Document ' || doc_id AS title,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q17_minhash_lsh" -> {
      // identical affine constants as Dedup.minhashSignatureFromHashes
      val k = 32; val bands = 32; val rows = k / bands
      val mins = Dedup.hashParams(k).zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * (h % 2147483647) + $b) % ${Dedup.MersennePrime}) AS m$i"
      }.mkString(",\n    ")
      val sigList = (0 until k).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents WHERE doc_id % 5 = 0),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(t) >= 3
         |      THEN [('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::UBIGINT::BIGINT
         |            for i in range(1, len(t) - 1)]
         |      ELSE [('0x' || substring(md5(array_to_string(t, ' ')), 1, 15))::UBIGINT::BIGINT]
         |      END) AS s
         |  FROM toks),
         |post AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |mh AS (SELECT doc_id,
         |    $mins
         |  FROM post GROUP BY doc_id),
         |sig AS (SELECT doc_id, $sigList AS sig FROM mh),
         |bands AS (SELECT doc_id, b, array_to_string(sig[$rows*b+1 : $rows*b+$rows], ',') AS key
         |          FROM sig, range($bands) r(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
         |j AS (SELECT id_a, id_b,
         |        len(list_intersect(sa.s, sb.s))::DOUBLE
         |          / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.02
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q29_minhash_incremental" -> {
      // same signature math as q17; candidates restricted to
      // corpus-side × batch-side (incremental ingest shape)
      val k = 32; val bands = 32; val rows = k / bands
      val mins = Dedup.hashParams(k).zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * (h % 2147483647) + $b) % ${Dedup.MersennePrime}) AS m$i"
      }.mkString(",\n    ")
      val sigList = (0 until k).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents WHERE doc_id % 5 = 0 OR doc_id % 5 = 2),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(t) >= 3
         |      THEN [('0x' || substring(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::UBIGINT::BIGINT
         |            for i in range(1, len(t) - 1)]
         |      ELSE [('0x' || substring(md5(array_to_string(t, ' ')), 1, 15))::UBIGINT::BIGINT]
         |      END) AS s
         |  FROM toks),
         |post AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |mh AS (SELECT doc_id,
         |    $mins
         |  FROM post GROUP BY doc_id),
         |sig AS (SELECT doc_id, $sigList AS sig FROM mh),
         |bands AS (SELECT doc_id, b, array_to_string(sig[$rows*b+1 : $rows*b+$rows], ',') AS key
         |          FROM sig, range($bands) r(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.key = b.key
         |          AND a.doc_id % 5 = 0 AND b.doc_id % 5 = 2
         |          AND a.doc_id <> b.doc_id),
         |j AS (SELECT id_a, id_b,
         |        len(list_intersect(sa.s, sb.s))::DOUBLE
         |          / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.02
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q18_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |h AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::UBIGINT::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones, count(*) AS n
        |  FROM h, range(64) r(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, sum(CASE WHEN ones * 2 >= n THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sig
        |        FROM bits GROUP BY doc_id),
        |q AS (SELECT doc_id, sig, b AS q, (sig >> (b * 16)) & 65535 AS qv FROM sig, range(4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM q a JOIN q b ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::INTEGER AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 16
        |ORDER BY id_a, id_b""".stripMargin,

    "q24_grouping_rollup" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS orders, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "q25_url_parse" -> {
      val hostsList = "['example.com', 'news.example.org', 'blog.test.net', 'docs.spark.io']"
      s"""SELECT doc_id,
         |  'https://' || $hostsList[(doc_id % 4) + 1] || '/p/' || doc_id AS url,
         |  regexp_extract('https://' || $hostsList[(doc_id % 4) + 1] || '/p/' || doc_id,
         |                 '^https?://([^/]+)/', 1) AS host,
         |  length('https://' || $hostsList[(doc_id % 4) + 1] || '/p/' || doc_id)
         |    - length(replace('https://' || $hostsList[(doc_id % 4) + 1] || '/p/' || doc_id, '/', '')) AS slashes
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q27_url_canonical" -> {
      val preList = UrlPrefixes.map(p => s"'$p'").mkString("[", ", ", "]")
      val sufList = UrlSuffixes.map(p => s"'$p'").mkString("[", ", ", "]")
      val n = UrlPrefixes.length
      s"""WITH u AS (SELECT doc_id,
         |  ($preList)[(doc_id % $n) + 1] || doc_id || ($sufList)[(doc_id % $n) + 1] AS url
         |  FROM documents),
         |p AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nf FROM u),
         |x AS (SELECT doc_id, url,
         |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host0,
         |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1) AS rest
         |  FROM p),
         |y AS (SELECT doc_id, url, scheme,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(host0, ':443$$', '')
         |       ELSE host0 END AS host,
         |  regexp_extract(rest, '^([^?]*)', 1) AS path,
         |  regexp_extract(rest, '\\?(.*)$$', 1) AS query
         |  FROM x),
         |z AS (SELECT doc_id, url, scheme, host, path,
         |  array_to_string(list_filter(string_split(query, '&'),
         |    q -> NOT regexp_matches(q, '${TextOps.TrackingParamRe}')), '&') AS kept
         |  FROM y)
         |SELECT doc_id, url,
         |  CASE WHEN scheme = '' THEN url
         |       ELSE scheme || '://' || host || path ||
         |            (CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END) END AS canonical
         |FROM z ORDER BY doc_id""".stripMargin
    },

    "q26_dup_clusters" ->
      s"""WITH RECURSIVE $sqlJaccardCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
         |          UNION SELECT id_b, id_a FROM jpairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q19_embedding_neardup" -> {
      val planes = 6; val tables = 8
      // the exact hyperplane doubles the Spark side uses (toString
      // round-trips, so DuckDB parses identical values)
      val sigList = (0 until tables).map { t =>
        (0 until planes).map { p =>
          val pv = Dedup.hyperplane(t, p).mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $pv) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString("(", " + ", ")")
      }.mkString("[", ",\n    ", "]")
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT id, r.b AS t, ($sigList)[r.b + 1] AS sig
         |        FROM e, range($tables) r(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.id < b.id),
         |j AS (SELECT id_a, id_b,
         |        list_dot_product(ea.v, eb.v)
         |          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
         |      FROM cand JOIN e ea ON ea.id = id_a JOIN e eb ON eb.id = id_b)
         |SELECT id_a, id_b, round(cos, 4) AS cos FROM j WHERE cos >= 0.45
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q21_knn_ivf" -> {
      val planes = 6; val tables = 4; val dim = 64
      def sigList(vcol: String) = (0 until tables).map { t =>
        (0 until planes).map { p =>
          val pv = Similarity.ivfPlane(t, p, dim).mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product($vcol, $pv) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString("(", " + ", ")")
      }.mkString("[", ",\n    ", "]")
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
         |csig AS (SELECT id, r.b AS t, (${sigList("v")})[r.b + 1] AS bucket
         |         FROM e, range($tables) r(b)),
         |qsig AS (SELECT qid, r.b AS t, (${sigList("qv")})[r.b + 1] AS bucket
         |         FROM q, range($tables) r(b)),
         |cand AS (SELECT DISTINCT qid, id
         |         FROM csig JOIN qsig ON csig.t = qsig.t AND csig.bucket = qsig.bucket
         |         WHERE id <> qid),
         |scored AS (SELECT cand.qid, cand.id,
         |    round(list_dot_product(e.v, q.qv)
         |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
         |  FROM cand JOIN e ON e.id = cand.id JOIN q ON q.qid = cand.qid),
         |ranked AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
         |  FROM scored)
         |SELECT qid, rank, id, cos FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },

    "q20_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |    round(list_dot_product(e.embedding::DOUBLE[], q.qv)
        |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |       * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, id, cos FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "q33_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS df FROM toks GROUP BY tok
        |ORDER BY df DESC, tok ASC LIMIT 20""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for our composed
    // union+window implementation
    "q34_asof_join" ->
      """WITH snap AS (
        |  SELECT user_id, date_trunc('hour', ts) AS snap_ts,
        |         min(event_id) AS marker, round(sum(value), 4) AS hour_value
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, s.marker, s.hour_value
        |FROM events e ASOF LEFT JOIN snap s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts
        |ORDER BY e.event_id""".stripMargin,

    // WARC ingest lands on the same extraction output as q22
    "q32_warc_extract" ->
      """SELECT doc_id, 'ok' AS status,
        |  'Document ' || doc_id AS title,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_pdf_extract" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN len(t) > 50 THEN 2 ELSE 1 END)::INTEGER AS n_pages,
        |  CASE WHEN len(t) > 50
        |       THEN array_to_string(t[1:50], ' ') || chr(10) || chr(10)
        |            || array_to_string(t[51:], ' ')
        |       ELSE text END AS pdf_text
        |FROM w ORDER BY doc_id""".stripMargin,

    "q30_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT AS hv
        |  FROM documents),
        |half AS (SELECT lang, doc_id, hv FROM h WHERE hv % 1000000 < 500000),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS sample_rank
        |      FROM half)
        |SELECT lang, sample_rank::INTEGER AS sample_rank, doc_id
        |FROM r WHERE sample_rank <= 25
        |ORDER BY lang, sample_rank""".stripMargin,

    "q36_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
        |    THEN [('0x' || substring(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::UBIGINT::BIGINT
        |          for i in range(1, len(t) - 6)]
        |    ELSE [('0x' || substring(md5(array_to_string(t, ' ')), 1, 15))::UBIGINT::BIGINT]
        |    END) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(s) AS h FROM sh),
        |dfh AS (SELECT h, count(*) AS hdf FROM post GROUP BY h)
        |SELECT doc_id, count(*) AS n_spans,
        |  sum(CASE WHEN hdf >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_spans,
        |  round(sum(CASE WHEN hdf >= 2 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 4) AS dup_frac
        |FROM post JOIN dfh USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // list-comprehension 2-grams + distinct 3-gram strings (the Spark
    // side's distinct-hash count ≡ distinct grams, 64-bit collision odds)
    "q51_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |fl AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS d FROM toks),
        |tg AS (SELECT doc_id,
        |         unnest([{'g': t[i] || ' ' || t[i+1]} for i in range(1, len(t))]) AS u
        |       FROM toks),
        |tgc AS (SELECT doc_id, u.g, count(*) AS c FROM tg GROUP BY doc_id, u.g),
        |tga AS (SELECT doc_id, sum(c) AS n2, max(c) AS top FROM tgc GROUP BY doc_id),
        |d3 AS (SELECT doc_id, len(t) AS n,
        |         CASE WHEN len(t) >= 3
        |           THEN len(list_distinct([array_to_string(t[i:i+2], ' ')
        |                                   for i in range(1, len(t) - 1)]))
        |           ELSE 1 END AS d3
        |       FROM toks)
        |SELECT fl.doc_id,
        |  round(1.0 - fl.d / fl.n::DOUBLE, 4) AS dup_word_frac,
        |  round(CASE WHEN fl.n >= 3 THEN 1.0 - d3.d3 / (fl.n - 2)::DOUBLE
        |        ELSE 0.0 END, 4) AS dup_3gram_frac,
        |  round(tga.top / tga.n2::DOUBLE, 4) AS top_2gram_frac
        |FROM fl JOIN tga USING (doc_id) JOIN d3 USING (doc_id)
        |ORDER BY fl.doc_id""".stripMargin,

    // same md5 span construction as q36; train side is a DISTINCT span
    // set (containment, not multiplicity)
    "q50_decontamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
        |    THEN [('0x' || substring(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::UBIGINT::BIGINT
        |          for i in range(1, len(t) - 6)]
        |    ELSE [('0x' || substring(md5(array_to_string(t, ' ')), 1, 15))::UBIGINT::BIGINT]
        |    END) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(s) AS h FROM sh),
        |trainh AS (SELECT DISTINCT h FROM post WHERE doc_id % 10 <> 0),
        |ev AS (SELECT doc_id, h FROM post WHERE doc_id % 10 = 0)
        |SELECT ev.doc_id, count(*) AS n_spans,
        |  sum(CASE WHEN trainh.h IS NULL THEN 0 ELSE 1 END)::BIGINT AS hit_spans,
        |  round(sum(CASE WHEN trainh.h IS NULL THEN 0 ELSE 1 END)
        |        / count(*)::DOUBLE, 4) AS contamination
        |FROM ev LEFT JOIN trainh USING (h)
        |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin,

    "q37_bm25" -> {
      val terms = Seq("window", "merge", "spark", "stream")
        .map(t => s"'$t'").mkString("(", ", ", ")")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, count(*)::DOUBLE AS tf
         |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
         |  WHERE tok IN $terms GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
         |w AS (
         |  SELECT tf.doc_id,
         |    ln((n - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1)
         |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS w
         |  FROM tf JOIN dfq USING (tok) JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats)
         |SELECT doc_id, round(sum(w), 4) AS bm25
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q38_bpe_tokens" -> {
      // identical pattern string; RE2 (DuckDB) and Java (Spark) agree on
      // this lookahead-free subset with leftmost-first alternation.
      // DuckDB single-quoted literals keep backslashes raw — only the
      // contraction apostrophe needs SQL escaping
      val re = TextOps.BpeTokenRe.replace("'", "''")
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
         |  len(regexp_extract_all(text, '$re')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q39_winnow_fp" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 4
        |    THEN [('0x' || substring(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::UBIGINT::BIGINT
        |          for i in range(1, len(t) - 2)]
        |    ELSE [('0x' || substring(md5(array_to_string(t, ' ')), 1, 15))::UBIGINT::BIGINT]
        |    END AS s
        |  FROM toks),
        |pos AS (SELECT doc_id, len(s) AS n,
        |          unnest([{'p': i - 1, 'h': s[i]} for i in range(1, len(s) + 1)]) AS u
        |        FROM sh),
        |win AS (SELECT doc_id, u.p AS pos, n,
        |          min(u.h) OVER (PARTITION BY doc_id ORDER BY u.p
        |                         ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS minh
        |        FROM pos)
        |SELECT DISTINCT doc_id, minh AS fp FROM win WHERE pos <= n - 5
        |ORDER BY doc_id, fp""".stripMargin,

    // real encode→decode round-trip: DuckDB predicts the TRUE pixel
    // dimensions of the planted PNGs from the md5-60bit hash alone
    "q35_image_decode" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(text), 1, 15))::UBIGINT::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id,
        |  (16 + (h % 120))::INTEGER AS width,
        |  (16 + ((h >> 7) % 120))::INTEGER AS height
        |FROM h ORDER BY doc_id""".stripMargin,

    // the stub decoder is built from oracle-reproducible primitives
    // (md5-60bit sizes, high-nibble hex histogram) — see Multimodal.scala
    "q23_multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |    text, octet_length(encode(text)) AS nbytes
        |  FROM documents),
        |h AS (
        |  SELECT media_id, kind, nbytes,
        |    CASE WHEN nbytes = 0 THEN 0
        |         ELSE ('0x' || substring(md5(text), 1, 15))::UBIGINT::BIGINT END AS h,
        |    CASE WHEN nbytes = 0 THEN ''
        |         ELSE regexp_replace(lower(hex(encode(text))), '(.).', '\1', 'g') END AS nb
        |  FROM m)
        |SELECT media_id, kind, nbytes::BIGINT AS bytes,
        |  (CASE WHEN nbytes = 0 THEN 0
        |        WHEN kind = 'image' THEN 64 + (h % 1920)
        |        WHEN kind = 'video' THEN 320 + (h % 1600)
        |        ELSE 0 END)::INTEGER AS width,
        |  (CASE WHEN nbytes = 0 THEN 0
        |        WHEN kind = 'image' THEN 64 + ((h >> 11) % 1080)
        |        WHEN kind = 'video' THEN 240 + ((h >> 7) % 840)
        |        ELSE 0 END)::INTEGER AS height,
        |  (CASE WHEN nbytes = 0 THEN 0
        |        WHEN kind = 'audio' THEN 1000 + (h % 600000)
        |        WHEN kind = 'video' THEN 1000 + ((h >> 13) % 3600000)
        |        ELSE 0 END)::BIGINT AS duration_ms,
        |  CASE WHEN nbytes = 0 THEN 0.0 ELSE
        |    round((length(nb) - length(replace(nb, '0', ''))) / length(nb)::DOUBLE, 4) END AS f0,
        |  CASE WHEN nbytes = 0 THEN 0.0 ELSE
        |    round((length(nb) - length(replace(nb, '7', ''))) / length(nb)::DOUBLE, 4) END AS f7
        |FROM h ORDER BY media_id""".stripMargin,

    // merge(build(A), build(B)) ≡ build(A ∪ B): the oracle computes each
    // sketch over the FULL table; Spark merged per-half sketches — equal
    // hashes prove the associative merge exact (max / add / union)
    "q46_sketch_merge" -> {
      def pos(i: Int, v: String, m: Int): String =
        s"(('0x' || substring(md5($v || '#$i'), 1, 15))::UBIGINT::BIGINT % $m)"
      val fUnion = (0 until 4).map(i =>
        s"SELECT ${pos(i, "url", 16384)} AS pos FROM corp").mkString("\n  UNION ALL ")
      val pUnion = (0 until 4).map(i =>
        s"SELECT url, ${pos(i, "url", 16384)} AS pos FROM pr").mkString("\n  UNION ALL ")
      val rbUnion = (0 until 4).map(i =>
        s"SELECT $i AS r, ${pos(i, "tok", 1024)} AS bucket FROM toks").mkString("\n  UNION ALL ")
      val trbUnion = (0 until 4).map(i =>
        s"SELECT tok, $i AS r, ${pos(i, "tok", 1024)} AS bucket FROM top")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT lang, ('0x' || substring(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
         |      FROM toks),
         |br AS (SELECT lang, h >> 51 AS bucket,
         |         CASE WHEN (h & ((1::BIGINT << 51) - 1)) = 0 THEN 52
         |              ELSE 52 - length(bin(h & ((1::BIGINT << 51) - 1))) END AS rho
         |       FROM h),
         |regs AS (SELECT lang, bucket, max(rho) AS r FROM br GROUP BY lang, bucket),
         |agg AS (SELECT lang, sum(pow(2.0, -r)) AS sinv, count(*) AS used
         |        FROM regs GROUP BY lang),
         |est AS (SELECT lang,
         |   0.7213 / (1 + 1.079 / 512) * 512 * 512 / (sinv + (512 - used)) AS rawE,
         |   512 - used AS zeros FROM agg),
         |hll AS (SELECT 'hll' AS kind, lang AS "key",
         |   round(CASE WHEN rawE <= 2.5 * 512 AND zeros > 0
         |         THEN 512 * ln(512 / zeros) ELSE rawE END, 2)::DOUBLE AS value
         |   FROM est),
         |rb AS (
         |  $rbUnion),
         |cms AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket),
         |top AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok
         |        ORDER BY c DESC, tok ASC LIMIT 10),
         |trb AS (
         |  $trbUnion),
         |cmsrows AS (SELECT 'cms' AS kind, tok AS "key",
         |   min(coalesce(cms.cnt, 0))::DOUBLE AS value
         |   FROM trb LEFT JOIN cms USING (r, bucket) GROUP BY tok),
         |corp AS (SELECT 'https://example.com/p/' || doc_id AS url
         |         FROM documents WHERE doc_id % 2 = 0),
         |fpos AS (SELECT DISTINCT pos FROM (
         |  $fUnion)),
         |pr AS (SELECT 'https://example.com/p/' || doc_id AS url
         |       FROM documents WHERE doc_id < 250),
         |prb AS (
         |  $pUnion),
         |bloomrows AS (SELECT 'bloom' AS kind, url AS "key",
         |   CASE WHEN sum(CASE WHEN fpos.pos IS NULL THEN 0 ELSE 1 END) = 4
         |        THEN 1.0 ELSE 0.0 END AS value
         |   FROM prb LEFT JOIN fpos USING (pos) GROUP BY url)
         |SELECT kind, "key", value FROM hll
         |UNION ALL SELECT kind, "key", value FROM cmsrows
         |UNION ALL SELECT kind, "key", value FROM bloomrows
         |ORDER BY kind, "key"""".stripMargin
    },

    // log2-histogram quantiles: integer-exact buckets via bin() length
    // (both engines emit minimal-length binary strings, as q41's rho),
    // (n−1)·q rank convention with in-bucket linear interpolation — all
    // double math identical cross-engine
    "q47_quantile_sketch" ->
      """WITH l AS (SELECT lang, length(text)::BIGINT AS v FROM documents),
        |hb AS (SELECT lang,
        |         CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS bucket,
        |         count(*) AS cnt
        |       FROM l GROUP BY lang, bucket),
        |c AS (SELECT lang, bucket, cnt::DOUBLE AS cntd,
        |        (sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) - cnt)::DOUBLE AS cum0,
        |        (sum(cnt) OVER (PARTITION BY lang))::DOUBLE AS n
        |      FROM hb),
        |e AS (SELECT lang, n, cum0, cntd,
        |        CASE WHEN bucket <= 0 THEN 0.0 ELSE pow(2.0, bucket - 1) END AS lo,
        |        CASE WHEN bucket <= 0 THEN 0.0 ELSE pow(2.0, bucket) - 1 END AS hi
        |      FROM c)
        |SELECT lang, max(n)::BIGINT AS docs,
        |  max(CASE WHEN cum0 <= (n-1)*0.5 AND (n-1)*0.5 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.5 - cum0) / cntd), 4) END) AS s50,
        |  max(CASE WHEN cum0 <= (n-1)*0.9 AND (n-1)*0.9 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.9 - cum0) / cntd), 4) END) AS s90,
        |  max(CASE WHEN cum0 <= (n-1)*0.99 AND (n-1)*0.99 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.99 - cum0) / cntd), 4) END) AS s99
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    // two-level refinement of q47: sub = floor((v − 2^(b−1)) / 2^shift)
    // with shift = max(b−1−3, 0) — double math over exact powers of two
    // (pow/floor agree bit-for-bit cross-engine for |v| < 2^53); segment
    // bounds lo + sub·2^shift, read-off as q47
    "q52_quantile_sketch2" ->
      """WITH l AS (SELECT lang, length(text)::BIGINT AS v FROM documents),
        |hb AS (SELECT lang, bucket, sub, count(*) AS cnt FROM (
        |  SELECT lang,
        |    CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS bucket,
        |    CASE WHEN v <= 0 THEN 0
        |      ELSE floor((v::DOUBLE - pow(2.0, length(bin(v)) - 1)) /
        |           pow(2.0, greatest(length(bin(v)) - 1 - 3, 0)))::BIGINT
        |      END AS sub
        |  FROM l) GROUP BY lang, bucket, sub),
        |c AS (SELECT lang, bucket, sub, cnt::DOUBLE AS cntd,
        |        (sum(cnt) OVER (PARTITION BY lang ORDER BY bucket, sub) - cnt)::DOUBLE AS cum0,
        |        (sum(cnt) OVER (PARTITION BY lang))::DOUBLE AS n
        |      FROM hb),
        |e AS (SELECT lang, n, cum0, cntd,
        |        CASE WHEN bucket <= 0 THEN 0.0
        |          ELSE pow(2.0, bucket - 1) +
        |               sub * pow(2.0, greatest(bucket - 1 - 3, 0)) END AS lo,
        |        CASE WHEN bucket <= 0 THEN 0.0
        |          ELSE pow(2.0, bucket - 1) +
        |               (sub + 1) * pow(2.0, greatest(bucket - 1 - 3, 0)) - 1 END AS hi
        |      FROM c)
        |SELECT lang, max(n)::BIGINT AS docs,
        |  max(CASE WHEN cum0 <= (n-1)*0.5 AND (n-1)*0.5 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.5 - cum0) / cntd), 4) END) AS s50,
        |  max(CASE WHEN cum0 <= (n-1)*0.9 AND (n-1)*0.9 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.9 - cum0) / cntd), 4) END) AS s90,
        |  max(CASE WHEN cum0 <= (n-1)*0.99 AND (n-1)*0.99 < cum0 + cntd
        |      THEN round(lo + (hi - lo) * (((n-1)*0.99 - cum0) / cntd), 4) END) AS s99
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    // three BPE rounds unrolled: adjacent-pair counts over delimiter-
    // wrapped symbol sequences, deterministic top-pair tie-break
    // (count desc, pair asc), greedy-leftmost merge via replace() —
    // non-overlapping leftmost in BOTH engines
    "q48_bpe_merges" -> {
      val mkPairs = (seq: String, p: String, t: String) =>
        s"""$p AS (SELECT cnt, unnest([{'l': ss[i], 'r': ss[i+1]} for i in range(1, len(ss))]) AS u
           |  FROM (SELECT string_split(rtrim(ltrim(seq, chr(1)), chr(2)), chr(2) || chr(1)) AS ss, cnt
           |        FROM $seq)),
           |$t AS (SELECT u.l AS lft, u.r AS rgt, sum(cnt)::BIGINT AS pair_count
           |  FROM $p GROUP BY u.l, u.r
           |  ORDER BY pair_count DESC, lft ASC, rgt ASC LIMIT 1)""".stripMargin
      val mkMerge = (prev: String, t: String, next: String) =>
        // LEFT JOIN, not CROSS JOIN: when a round finds no pair (early
        // stop) the empty top-pair CTE must pass sequences through
        // unchanged, not annihilate the chain (bpeLearn stops early the
        // same way, so the engines stay consistent on ANY corpus)
        s"""$next AS (SELECT seq, sum(cnt)::BIGINT AS cnt FROM (
           |  SELECT CASE WHEN t.lft IS NULL THEN seq
           |         ELSE replace(seq, chr(1) || t.lft || chr(2) || chr(1) || t.rgt || chr(2),
           |                      chr(1) || t.lft || t.rgt || chr(2)) END AS seq, cnt
           |  FROM $prev LEFT JOIN $t t ON true) GROUP BY seq)""".stripMargin
      s"""WITH pieces AS (
         |  SELECT piece, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS piece
         |    FROM documents) t
         |  WHERE regexp_matches(piece, '^[a-z]+$$')
         |  GROUP BY piece),
         |seq1 AS (
         |  SELECT regexp_replace(piece, '(.)', chr(1) || '\\1' || chr(2), 'g') AS seq,
         |         cnt
         |  FROM pieces),
         |${mkPairs("seq1", "pr1", "t1")},
         |${mkMerge("seq1", "t1", "seq2")},
         |${mkPairs("seq2", "pr2", "t2")},
         |${mkMerge("seq2", "t2", "seq3")},
         |${mkPairs("seq3", "pr3", "t3")}
         |SELECT 1 AS round, lft AS left_sym, rgt AS right_sym, pair_count FROM t1
         |UNION ALL SELECT 2, lft, rgt, pair_count FROM t2
         |UNION ALL SELECT 3, lft, rgt, pair_count FROM t3
         |ORDER BY round""".stripMargin
    },

    // q48's learn chain + one more merge application = the segmented
    // vocabulary; per-doc counts are a piece-keyed join-back (the
    // vocabulary is segmented once, not per occurrence)
    "q49_bpe_apply" -> {
      val mkPairs = (seq: String, p: String, t: String) =>
        s"""$p AS (SELECT cnt, unnest([{'l': ss[i], 'r': ss[i+1]} for i in range(1, len(ss))]) AS u
           |  FROM (SELECT string_split(rtrim(ltrim(seq, chr(1)), chr(2)), chr(2) || chr(1)) AS ss, cnt
           |        FROM $seq)),
           |$t AS (SELECT u.l AS lft, u.r AS rgt, sum(cnt)::BIGINT AS pair_count
           |  FROM $p GROUP BY u.l, u.r
           |  ORDER BY pair_count DESC, lft ASC, rgt ASC LIMIT 1)""".stripMargin
      val mkMerge = (prev: String, t: String, next: String) =>
        // LEFT JOIN, not CROSS JOIN: when a round finds no pair (early
        // stop) the empty top-pair CTE must pass sequences through
        // unchanged, not annihilate the chain (bpeLearn stops early the
        // same way, so the engines stay consistent on ANY corpus)
        s"""$next AS (SELECT seq, sum(cnt)::BIGINT AS cnt FROM (
           |  SELECT CASE WHEN t.lft IS NULL THEN seq
           |         ELSE replace(seq, chr(1) || t.lft || chr(2) || chr(1) || t.rgt || chr(2),
           |                      chr(1) || t.lft || t.rgt || chr(2)) END AS seq, cnt
           |  FROM $prev LEFT JOIN $t t ON true) GROUP BY seq)""".stripMargin
      s"""WITH doctoks AS (
         |  SELECT doc_id, piece FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS piece
         |    FROM documents) t
         |  WHERE regexp_matches(piece, '^[a-z]+$$')),
         |pieces AS (SELECT piece, count(*)::BIGINT AS cnt FROM doctoks GROUP BY piece),
         |seq1 AS (
         |  SELECT regexp_replace(piece, '(.)', chr(1) || '\\1' || chr(2), 'g') AS seq,
         |         cnt
         |  FROM pieces),
         |${mkPairs("seq1", "pr1", "t1")},
         |${mkMerge("seq1", "t1", "seq2")},
         |${mkPairs("seq2", "pr2", "t2")},
         |${mkMerge("seq2", "t2", "seq3")},
         |${mkPairs("seq3", "pr3", "t3")},
         |${mkMerge("seq3", "t3", "seq4")},
         |vocab AS (
         |  SELECT replace(replace(seq, chr(1), ''), chr(2), '') AS piece,
         |    len(string_split(rtrim(ltrim(seq, chr(1)), chr(2)), chr(2) || chr(1)))::BIGINT AS bpe_tokens
         |  FROM seq4)
         |SELECT doc_id, sum(bpe_tokens)::BIGINT AS bpe_tokens
         |FROM doctoks JOIN vocab USING (piece)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q45_length_quantiles" ->
      """SELECT lang, count(*) AS docs,
        |  round(quantile_cont(l, 0.5), 4) AS p50,
        |  round(quantile_cont(l, 0.9), 4) AS p90,
        |  round(quantile_cont(l, 0.99), 4) AS p99
        |FROM (SELECT lang, length(text)::DOUBLE AS l FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // same salted-md5 position construction as the CMS; membership is a
    // positions-set left join — all integer/bit math, exact cross-engine
    "q44_bloom_frontier" -> {
      def pos(i: Int, v: String): String =
        s"(('0x' || substring(md5($v || '#$i'), 1, 15))::UBIGINT::BIGINT % 16384)"
      val fUnion = (0 until 4).map(i => s"SELECT ${pos(i, "url")} AS pos FROM corp")
        .mkString("\n  UNION ALL ")
      val pUnion = (0 until 4).map(i =>
        s"SELECT doc_id, in_corpus, ${pos(i, "url")} AS pos FROM pr")
        .mkString("\n  UNION ALL ")
      s"""WITH corp AS (
         |  SELECT 'https://example.com/p/' || doc_id AS url
         |  FROM documents WHERE doc_id % 2 = 0),
         |fpos AS (SELECT DISTINCT pos FROM (
         |  $fUnion)),
         |pr AS (SELECT doc_id, (doc_id % 2 = 0) AS in_corpus,
         |        'https://example.com/p/' || doc_id AS url
         |      FROM documents WHERE doc_id < 250),
         |prb AS (
         |  $pUnion),
         |j AS (SELECT prb.doc_id, prb.in_corpus,
         |        CASE WHEN fpos.pos IS NULL THEN 0 ELSE 1 END AS s
         |      FROM prb LEFT JOIN fpos USING (pos))
         |SELECT doc_id, in_corpus, (sum(s) = 4) AS bloom_hit
         |FROM j GROUP BY doc_id, in_corpus ORDER BY doc_id""".stripMargin
    },

    // pure integer math over salted md5 positions (independent rows) —
    // the sketch reproduces EXACTLY (no float anywhere)
    "q43_cms_freq" -> {
      def bucket(i: Int, v: String): String =
        s"(('0x' || substring(md5($v || '#$i'), 1, 15))::UBIGINT::BIGINT % 1024)"
      val rbUnion = (0 until 4).map(i =>
        s"SELECT $i AS r, ${bucket(i, "tok")} AS bucket FROM toks").mkString("\n  UNION ALL ")
      val trbUnion = (0 until 4).map(i =>
        s"SELECT tok, exact_cnt, $i AS r, ${bucket(i, "tok")} AS bucket FROM top")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |rb AS (
         |  $rbUnion),
         |cms AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket),
         |top AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
         |        ORDER BY exact_cnt DESC, tok ASC LIMIT 20),
         |trb AS (
         |  $trbUnion),
         |j AS (SELECT trb.tok, trb.exact_cnt, coalesce(cms.cnt, 0) AS cnt
         |      FROM trb LEFT JOIN cms USING (r, bucket))
         |SELECT tok, exact_cnt::BIGINT AS exact_cnt,
         |  min(cnt)::BIGINT AS cms_estimate,
         |  (min(cnt) - exact_cnt)::BIGINT AS overcount
         |FROM j GROUP BY tok, exact_cnt
         |ORDER BY exact_cnt DESC, tok ASC""".stripMargin
    },

    // A-ES keys u^(1/w) in doubles over the md5-60 uniform — both
    // engines compute identical values; ranks tie-break by doc_id
    "q42_weighted_sample" ->
      """WITH k AS (
        |  SELECT lang, doc_id,
        |    pow((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::UBIGINT::BIGINT::DOUBLE + 1)
        |          / pow(2.0, 60),
        |        1.0 / length(text)) AS key
        |  FROM documents WHERE length(text) > 0),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY key DESC, doc_id ASC) AS sample_rank
        |      FROM k)
        |SELECT lang, sample_rank::INTEGER AS sample_rank, doc_id
        |FROM r WHERE sample_rank <= 25
        |ORDER BY lang, sample_rank""".stripMargin,

    // the HLL register math is deterministic end-to-end: md5-60 hashes,
    // integer-exact rho via bin()-length (both engines emit minimal
    // binary strings), fixed alpha/m constants
    "q41_hll_distinct" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT lang, tok,
        |        ('0x' || substring(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
        |      FROM toks),
        |br AS (SELECT lang, h >> 51 AS bucket,
        |         CASE WHEN (h & ((1::BIGINT << 51) - 1)) = 0 THEN 52
        |              ELSE 52 - length(bin(h & ((1::BIGINT << 51) - 1))) END AS rho
        |       FROM h),
        |regs AS (SELECT lang, bucket, max(rho) AS r FROM br GROUP BY lang, bucket),
        |agg AS (SELECT lang, sum(pow(2.0, -r)) AS sinv, count(*) AS used
        |        FROM regs GROUP BY lang),
        |est AS (SELECT lang,
        |   0.7213 / (1 + 1.079 / 512) * 512 * 512 / (sinv + (512 - used)) AS rawE,
        |   512 - used AS zeros FROM agg),
        |fin AS (SELECT lang,
        |   round(CASE WHEN rawE <= 2.5 * 512 AND zeros > 0
        |         THEN 512 * ln(512 / zeros) ELSE rawE END, 2) AS hll_estimate
        |   FROM est),
        |ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct
        |       FROM toks GROUP BY lang)
        |SELECT fin.lang, hll_estimate, exact_distinct,
        |  round(abs(hll_estimate - exact_distinct) / exact_distinct * 100, 2) AS rel_err_pct
        |FROM fin JOIN ex USING (lang) ORDER BY lang""".stripMargin,

    // PQ at iters=0: codebook j = subvectors [j*8+1 .. j*8+8] of the 16
    // lowest-id vectors; code = argmax dot (ties → lowest k); ADC =
    // sum over subspaces of the query-side dot table entries
    "q40_pq_adc" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |initk AS (SELECT row_number() OVER (ORDER BY id) - 1 AS k, v
        |          FROM (SELECT id, v FROM e ORDER BY id LIMIT 16) t),
        |cb AS (SELECT r.j, initk.k, v[r.j*8+1 : r.j*8+8] AS c
        |       FROM initk, range(8) r(j)),
        |enc AS (
        |  SELECT e.id, cb.j, cb.k,
        |    row_number() OVER (PARTITION BY e.id, cb.j
        |      ORDER BY list_dot_product(e.v[cb.j*8+1 : cb.j*8+8], cb.c) DESC,
        |               cb.k ASC) AS rn
        |  FROM e CROSS JOIN cb),
        |codes AS (SELECT id, j, k AS code FROM enc WHERE rn = 1),
        |adc AS (
        |  SELECT q.qid, codes.id,
        |    round(sum(list_dot_product(q.qv[codes.j*8+1 : codes.j*8+8], cb.c)), 6) AS adc
        |  FROM codes JOIN cb ON cb.j = codes.j AND cb.k = codes.code
        |  CROSS JOIN q
        |  WHERE codes.id <> q.qid
        |  GROUP BY q.qid, codes.id),
        |ranked AS (SELECT qid, id, adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id ASC) AS rank
        |  FROM adc)
        |SELECT qid, rank, id, adc FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // iters=0 gate shape: centroids = the 16 lowest-id vectors, unit-
    // normalized — fully deterministic, so assignment/probes/re-rank are
    // bit-reproducible (list_dot_product accumulates in the same index
    // order as VectorKernels.dotConst; proven by q19/q21)
    "q28_knn_ivf_kmeans" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |init AS (SELECT id, v, row_number() OVER (ORDER BY id) - 1 AS cidx
        |         FROM e ORDER BY id LIMIT 16),
        |cent AS (SELECT cidx,
        |           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        |         FROM init),
        |asgn AS (
        |  SELECT id, cidx, row_number() OVER (PARTITION BY id
        |      ORDER BY list_dot_product(e.v, cent.cv) DESC, cidx ASC) AS rn
        |  FROM e CROSS JOIN cent),
        |lists AS (SELECT id, cidx AS cl FROM asgn WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cl FROM (
        |    SELECT qid, cidx AS cl, row_number() OVER (PARTITION BY qid
        |        ORDER BY list_dot_product(q.qv, cent.cv) DESC, cidx DESC) AS rn
        |    FROM q CROSS JOIN cent) t WHERE rn <= 4),
        |cand AS (SELECT DISTINCT p.qid, l.id
        |         FROM lists l JOIN probes p ON l.cl = p.cl WHERE l.id <> p.qid),
        |scored AS (SELECT cand.qid, cand.id,
        |    round(list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM cand JOIN e ON e.id = cand.id JOIN q ON q.qid = cand.qid),
        |ranked AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, id, cos FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,
  )

  // regexes with single quotes escaped for SQL embedding (none contain ')
  private def ReUnlikelySql = ReUnlikely.stripPrefix("(?i)")
  private def ReMaybeSql = ReMaybe.stripPrefix("(?i)")
  private def RePosSql = RePos.stripPrefix("(?i)")
  private def ReNegSql = ReNeg.stripPrefix("(?i)")
}
