package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed sketches for corpus profiling. At 10^12 rows, exact
 * distinct counts (vocabulary size, distinct urls/hosts per slice) need
 * a full shuffle of every distinct value; a HyperLogLog register table
 * is a few KB per group and merges associatively — the standard way a
 * crawl pipeline tracks cardinalities continuously.
 *
 * This HLL is built from DETERMINISTIC, cross-engine-reproducible
 * primitives (md5-60bit hashes, integer-exact rank-of-first-set-bit via
 * bin()-string length, fixed register math) so the whole sketch — not
 * just its contract — verifies against DuckDB (q41). Spark's built-in
 * approx_count_distinct (HLL++) uses engine-private hashing and cannot
 * be oracled; this one can, at the same O(m) state cost.
 */
object Sketch {

  /** Row-i bucket of a value: md5-60 over the SALTED value ("value#i") —
    * k fully independent hash functions (an affine family over one base
    * hash collapses: a*h+b mod 2^14 depends only on h's low bits, so all
    * k positions correlate and the Bloom FP rate degenerated to
    * n/m — caught by the FP-rate unit test). Oracle SQL computes the
    * identical salted md5. */
  private def saltedBucket(value: Column, i: Int, w: Int): Column =
    pmod(Dedup.md5Hash60(concat(value.cast("string"), lit(s"#$i"))), lit(w.toLong))

  /**
   * Count-min sketch over a value stream: d×w integer counters; an
   * item's estimate is the MIN of its d row counters — always ≥ the true
   * count, within εN with probability 1−δ for w = e/ε, d = ln(1/δ).
   * The fixed-size counter table is the frequency/heavy-hitter state a
   * pipeline keeps where exact per-token counts would be another
   * full-vocabulary shuffle. Pure integer math end-to-end — the sketch
   * reproduces EXACTLY cross-engine (q43).
   */
  def cmsBuild(df: DataFrame, valueCol: Column,
               d: Int = 4, w: Int = 1024): DataFrame = {
    df.select(explode(array((0 until d).map { i =>
        struct(lit(i).as("row"), saltedBucket(valueCol, i, w).as("bucket"))
      }: _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates against a built sketch: one row per DISTINCT value
    * of `valueCol` in `queries` — (v, cms_estimate), min over the d row
    * counters (0 when a counter row is absent). VALUE-keyed by design:
    * callers re-join wider payloads by value (the ids-only discipline —
    * the exploded probe shuffle carries values, never row payloads). */
  def cmsLookup(cms: DataFrame, queries: DataFrame, valueCol: Column,
                d: Int = 4, w: Int = 1024): DataFrame = {
    queries.select(valueCol.as("v")).distinct()
      .withColumn("__rb", explode(array((0 until d).map { i =>
        struct(lit(i).as("row"), saltedBucket(col("v"), i, w).as("bucket"))
      }: _*)))
      .join(broadcast(cms),
        col("__rb.row") === cms("row") && col("__rb.bucket") === cms("bucket"),
        "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  /**
   * Bloom filter over a value column — the "have we crawled this url"
   * membership structure a frontier keeps at bits-per-key cost. k
   * independent salted-md5 positions per value (as the CMS rows); the
   * filter is the DISTINCT set-position table, the
   * relational form of the bitmap (a deployment packs it into m/64
   * longs via groupBy(pos >> 6) + bit_or — same information, same
   * math). Membership = ALL k positions present: no false negatives,
   * false positives at ~(1 − e^(−kn/m))^k. Pure integer math —
   * reproduces exactly cross-engine (q44).
   */
  def bloomBuild(df: DataFrame, valueCol: Column,
                 m: Int = 16384, k: Int = 4): DataFrame = {
    df.select(explode(array((0 until k).map(i =>
        saltedBucket(valueCol, i, m)): _*)).as("pos"))
      .distinct()
  }

  /** Membership probe against a built filter: one row per DISTINCT value
    * — (v, bloom_hit), true iff all k positions are set. VALUE-keyed as
    * cmsLookup; the exploded probe join is broadcastable at any filter
    * size that fits m bits. */
  def bloomProbe(filter: DataFrame, probes: DataFrame, valueCol: Column,
                 m: Int = 16384, k: Int = 4): DataFrame = {
    val hits = filter.select(col("pos"), lit(1).as("__set"))
    probes.select(valueCol.as("v")).distinct()
      .withColumn("__pos", explode(array((0 until k).map(i =>
        saltedBucket(col("v"), i, m)): _*)))
      .join(broadcast(hits), col("__pos") === hits("pos"), "left")
      .groupBy(col("v"))
      .agg((sum(coalesce(col("__set"), lit(0))) === k).as("bloom_hit"))
  }

  /**
   * Per-group HyperLogLog distinct estimate of `valueCol`.
   *
   * Register construction over the 60-bit md5 hash: bucket = top p bits;
   * rho = 1-based position of the first set bit in the remaining
   * (60−p) bits, or (60−p)+1 when they are all zero — computed
   * integer-exactly as (61−p) − length(bin(rest)) (no float log2).
   * Estimate = α·m²/Σ2^(−r) with empty registers contributing 2⁰, plus
   * the standard small-range linear-counting correction
   * (E ≤ 2.5m ∧ zeros > 0 ⇒ m·ln(m/zeros)).
   *
   * Plan shape: one partial-aggregating shuffle to (group, bucket) —
   * at most m rows per group survive — then a tiny per-group rollup.
   */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                  p: Int = 9): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol, p), groupCols, p)

  /** The MERGEABLE form of the HLL: the per-group register table
    * (group…, bucket, r). This — not the estimate — is what a continuous
    * pipeline persists: registers from independent ingests merge
    * associatively (max per register) into the registers of the union,
    * so cardinality tracks across days without re-scanning history. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                   p: Int = 9): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p out of range")
    val width = 60 - p
    val h = Dedup.md5Hash60(valueCol)
    val bucket = shiftrightunsigned(h, width)
    val rest = h.bitwiseAND(lit((1L << width) - 1))
    val rho = when(rest === 0, lit(width + 1))
      .otherwise(lit(width + 1) - length(bin(rest)))
    df.select((groupCols.map(col) :+ bucket.as("bucket") :+ rho.as("rho")): _*)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("rho")).as("r"))
  }

  /** Registers → estimate (α·m²/Σ2^(−r) + linear-counting correction). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
                  p: Int = 9): DataFrame = {
    val m = 1 << p
    val alpha = 0.7213 / (1 + 1.079 / m)
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(sum(pow(lit(2.0), -col("r"))).as("sinv"), count(lit(1)).as("used"))
      .withColumn("rawE",
        lit(alpha * m.toDouble * m) / (col("sinv") + (lit(m) - col("used"))))
      .withColumn("zeros", lit(m) - col("used"))
      .withColumn("hll_estimate",
        round(when(col("rawE") <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("rawE")), 2))
      .select((groupCols.map(col) :+ col("hll_estimate")): _*)
  }

  // ---- sketch families --------------------------------------------------
  //
  // The whole point of a sketch at 100 TB is ASSOCIATIVE MERGE: build one
  // per ingest/day, persist it, fold it into the running sketch — never
  // re-scan history. Each family is declared ONCE below: the key columns
  // its rows carry after the caller's group columns, its merge law (which
  // names the merged value column, if any) and the parameters stamped on
  // every persisted row. The merge and the persistence lifecycle (save /
  // load / upsert / fold) are written once over those declarations.
  // Parameters ride on EVERY row (the declared-shape discipline of the PQ
  // codebooks): two sketches built with different (d, w) or (m, k) or p
  // silently merging would corrupt estimates, so load / upsert / fold
  // fail loudly on a mismatch instead (readParams).

  /** How two sketches of one family combine per (group…, key…) row. */
  sealed trait Law
  /** Register-MAX over `value` (HLL): max is idempotent, commutative and
    * associative, so merge(build(A), build(B)) ≡ build(A ∪ B) exactly. */
  final case class RegisterMax(value: String) extends Law
  /** Counter-ADD over `value` (CMS, histograms). */
  final case class CounterAdd(value: String) extends Law
  /** Position-UNION (Bloom): the rows are the state; no false negative
    * survives a merge, since a key inserted into either side has all k
    * positions in the union. */
  case object PositionUnion extends Law

  /** A sketch family: key columns, merge law, parameter columns. */
  final case class Family(keys: Seq[String], law: Law, params: Seq[String]) {
    /** The persisted sketch columns (parameters excluded). */
    def columns(groupCols: Seq[String]): Seq[String] =
      groupCols ++ keys ++ (law match {
        case RegisterMax(v) => Seq(v)
        case CounterAdd(v) => Seq(v)
        case PositionUnion => Nil
      })
  }

  val Hll = Family(Seq("bucket"), RegisterMax("r"), Seq("p"))
  val Cms = Family(Seq("row", "bucket"), CounterAdd("cnt"), Seq("d", "w"))
  val Bloom = Family(Seq("pos"), PositionUnion, Seq("m", "k"))
  val Hist2 = Family(Seq("bucket", "sub"), CounterAdd("cnt"), Seq("sbits"))
  /** hist2 at sBits = 0, where every sub is 0: persisted without the
    * constant sub and sbits columns (the `len_hist` layout). Build with
    * hist2Build(…, sBits = 0); read off with hist2Quantiles(…, sBits = 0). */
  val Hist = Family(Seq("bucket"), CounterAdd("cnt"), Nil)

  /** Associative merge of two same-family, same-parameter sketches under
    * the family's law. Exact, not approximate: q46/q47/q52 compute the
    * sketch over the full table in DuckDB and compare hashes with the
    * merged halves. */
  def merge(f: Family, a: DataFrame, b: DataFrame,
            groupCols: Seq[String] = Nil): DataFrame = {
    val cols = f.columns(groupCols).map(col)
    val both = a.select(cols: _*).unionByName(b.select(cols: _*))
    val keys = (groupCols ++ f.keys).map(col)
    f.law match {
      case RegisterMax(v) => both.groupBy(keys: _*).agg(max(col(v)).as(v))
      case CounterAdd(v) => both.groupBy(keys: _*).agg(sum(col(v)).as(v))
      case PositionUnion => both.distinct()
    }
  }

  // ---- persistence lifecycle --------------------------------------------

  /** Sketch-ABSENT probe via the FileSystem, not a blanket read-and-catch:
    * a corrupt footer / permission error / FS hiccup on an existing
    * sketch must propagate from the subsequent read, never silently
    * classify as "absent" and let an upsert overwrite the accumulated
    * state with one run's data. An existing EMPTY directory deliberately
    * counts as present for the same reason: a crashed overwrite can
    * leave one behind, and the operator must see the loud read failure,
    * not a quiet restart from this run's data. */
  private[pipeline] def pathExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = hadoopFs(spark, path)
    fs.exists(p)
  }

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def withParams(df: DataFrame, f: Family, params: Seq[Int]): DataFrame = {
    require(params.length == f.params.length,
      s"expected parameters ${f.params.mkString("/")}, got ${params.mkString("/")}")
    f.params.zip(params).foldLeft(df) { case (d, (n, v)) => d.withColumn(n, lit(v)) }
  }

  /** The one value of each `names` column that every row of the table at
    * `path` carries; fails loudly when rows mix values (or there are no
    * rows to read them from). Shared with the PQ codebook loader. */
  private[pipeline] def readParams(df: DataFrame, path: String,
                                   names: Seq[String]): Seq[Int] =
    if (names.isEmpty) Nil else {
      val rows = df.select(names.map(col): _*).distinct().collect()
      require(rows.nonEmpty,
        s"table at $path has no rows to read ${names.mkString("/")} from")
      require(rows.length == 1,
        s"table at $path mixes parameters ${names.mkString("/")}: " +
          rows.map(_.toSeq.mkString("(", ",", ")")).mkString(" vs "))
      names.indices.map(rows.head.getInt)
    }

  private def requireSameParams(f: Family, path: String, found: Seq[Int],
                                params: Seq[Int]): Unit = {
    def show(ps: Seq[Int]) =
      f.params.zip(ps).map { case (n, v) => s"$n=$v" }.mkString(", ")
    require(found == params,
      s"sketch at $path has ${show(found)}, ingest has ${show(params)}")
  }

  /** Persist a sketch: the family's columns plus its parameters on every
    * row. A plain parquet overwrite — running tables are maintained by
    * `upsert` (batch) or `fold` (streaming), never by appending here. */
  def save(f: Family, groupCols: Seq[String], sketch: DataFrame,
           params: Seq[Int], path: String): Unit =
    withParams(sketch.select(f.columns(groupCols).map(col): _*), f, params)
      .write.mode("overwrite").parquet(path)

  /** Load a persisted sketch; returns (sketch, params) and fails loudly on
    * a parameter mix. Resolves the newest complete fold generation when
    * the table is fold-owned (the flat layout otherwise). */
  def load(spark: SparkSession, f: Family, groupCols: Seq[String],
           path: String): (DataFrame, Seq[Int]) = {
    val df = spark.read.parquet(newestGen(spark, path).map(_._2).getOrElse(path))
    (df.select(f.columns(groupCols).map(col): _*), readParams(df, path, f.params))
  }

  /**
   * Upsert whole GROUPS into the persisted sketch table at `path` (create
   * it if absent): incoming groups REPLACE their old rows, other groups
   * are kept. This is the continuous-profiling discipline ExtractJob
   * --profile-sketches runs per ingest: a crawl day is the natural ingest
   * unit, each run recomputes the sketches of the days it touched from
   * those days' full partitions and swaps them in — so the operation is
   * IDEMPOTENT across resumes/retries (counter-ADD merge double-counts a
   * re-run; group replace cannot), while different days still combine
   * associatively at read time via `merge`. The merged frame is
   * materialized before the overwrite so the save never reads the files
   * it is replacing.
   */
  def upsert(spark: SparkSession, f: Family, groupCols: Seq[String],
             sketch: DataFrame, params: Seq[Int], path: String): Unit = {
    requireNotFoldOwned(spark, path)
    val incoming = sketch.select(f.columns(groupCols).map(col): _*)
    val merged = if (!pathExists(spark, path)) incoming else {
      val (old, oldParams) = load(spark, f, groupCols, path)
      requireSameParams(f, path, oldParams, params)
      old.join(incoming.select(groupCols.map(col): _*).distinct(),
        groupCols, "left_anti").unionByName(incoming)
    }
    save(f, groupCols, Mat.small(merged), params, path)
  }

  // ---- incremental folds (streaming) ------------------------------------
  //
  // The STREAMING counterpart of upsert: a micro-batch folds its
  // BATCH-LOCAL sketch into the persisted table via the family's merge —
  // O(batch), never a re-scan of the day's earlier files (the r5
  // recompute-the-day shape cost O(triggers × day) when a crawl day
  // arrived across T triggers). Replay safety comes from a per-GROUP,
  // per-TABLE high-water mark: every row carries `folded_batch` = the id
  // of the last micro-batch folded into its group, and a fold with
  // batchId ≤ the group's mark is a no-op for that group (Structured
  // Streaming replays a crashed batch under the SAME id, and foreachBatch
  // ids are monotonic). The mark lives in the table itself, so "sketch
  // updated" and "batch consumed" commit in ONE write — a crash between
  // two sketch tables' folds replays the batch, and each table's own mark
  // decides (counter-ADD would double-count exactly the already-folded
  // one without it). That one write is a GENERATION commit (below): a
  // crash inside the write itself leaves the previous generation intact,
  // never a half-deleted table.
  //
  // A sketch table is owned by ONE discipline: batch jobs group-REPLACE
  // via upsert, streams fold via fold — mixing them on one path would
  // let a fold ADD rows an upsert already replaced (rows written by
  // upsert carry no mark and read as -1: any fold may touch them).

  // Fold COMMIT protocol: the fold rewrites the whole (tiny) sketch
  // table, and parquet overwrite is delete-then-write — a crash in that
  // window would silently lose the accumulated state, which a fold (O(batch)
  // by design, never re-reading history) can NEVER rebuild. Folds
  // therefore commit GENERATIONS: each fold writes a fresh, complete
  // `_gen-<batchId>` subdir (carrying its own _SUCCESS) and readers take
  // the newest COMPLETE generation — a partial write lacks _SUCCESS and
  // is invisible, the old generation stays intact, and the replayed
  // batch overwrites the same gen dir. Older generations are pruned
  // best-effort AFTER the commit (a crash between commit and prune
  // leaves an extra dir the next fold removes). Tables written by
  // upsert keep their flat layout; a fold over one migrates it to
  // generations on its first commit (the flat data files are pruned with
  // the old gens). `load` resolves generations first, so reads work over
  // either layout.

  private val GenRe = "_gen-(\\d+)".r

  /** Newest COMPLETE (has _SUCCESS) generation under `path`, if any. */
  private[pipeline] def newestGen(spark: SparkSession,
                                  path: String): Option[(Long, String)] = {
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case GenRe(id)
            if fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
            Some((id.toLong, st.getPath.toString))
          case _ => None
        }
      }
      .sortBy(_._1).lastOption
  }

  /** The fold's view of the current table: newest complete generation,
    * else the flat layout when it holds data files, else absent. */
  private def foldCurrent(spark: SparkSession, path: String): Option[DataFrame] =
    newestGen(spark, path) match {
      case Some((_, genPath)) => Some(spark.read.parquet(genPath))
      case None =>
        val (fs, p) = hadoopFs(spark, path)
        val hasFlat = fs.exists(p) && fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        if (hasFlat) Some(spark.read.parquet(path)) else None
    }

  /** Commit `merged` as generation `batchId` and prune older state.
    * `merged` is BY-NAME: when `_gen-<batchId>` is already COMPLETE (has
    * _SUCCESS — a replayed fold whose first run committed and then
    * crashed before/after pruning), the high-water mark has made the
    * replay's merge a content no-op, and rewriting the dir in place
    * would first DELETE the only complete generation (overwrite
    * semantics; older gens were pruned after the first commit) — a
    * crash mid-rewrite would then lose the accumulated sketch state,
    * which is unrebuildable by design (folds never re-read history). So
    * a committed gen is never rewritten: skip straight to pruning (and
    * skip computing `merged` at all). A PARTIAL gen dir (no _SUCCESS —
    * crash mid-first-write) is overwritten normally; the previous
    * complete generation still exists because pruning only runs after a
    * successful commit. Pinned by SketchLifecycleSpec's replay test. */
  private def commitFoldGen(spark: SparkSession, path: String, batchId: Long,
                            merged: => DataFrame): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_gen-$batchId/_SUCCESS")))
      merged.write.mode("overwrite").parquet(s"$path/_gen-$batchId")
    // best-effort prune: older generations + legacy flat data files
    try {
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val staleGen = st.isDirectory && (n match {
          case GenRe(id) => id.toLong < batchId
          case _ => false
        })
        val flatData = st.isFile && !n.startsWith("_") && !n.startsWith(".")
        if (staleGen || flatData) fs.delete(st.getPath, true)
      }
    } catch { case _: Exception => () } // pruning never fails the fold
  }

  private def hwmFilter(old: DataFrame, batch: DataFrame,
                        groupCols: Seq[String], batchId: Long)
  : (DataFrame, DataFrame, DataFrame) = {
    // (fresh batch rows, old rows of untouched groups, old rows of
    // touched groups) — "touched" = groups with batch rows NOT yet folded
    val hwm = old.groupBy(groupCols.map(col): _*)
      .agg(max(col("folded_batch")).as("__hwm"))
    val fresh = batch.join(hwm, groupCols, "left")
      .where(coalesce(col("__hwm"), lit(-1L)) < batchId).drop("__hwm")
    val touched = fresh.select(groupCols.map(col): _*).distinct()
    (fresh, old.join(touched, groupCols, "left_anti"),
      old.join(touched, groupCols, "left_semi"))
  }

  /** upsert writes FLAT overwrites; on a fold-owned (generation-layout)
    * table that flat data would be INVISIBLE to readers (loads prefer the
    * newest generation) — a silent no-op of a requested upsert. The
    * ownership mix is a caller bug: fail loudly. */
  private def requireNotFoldOwned(spark: SparkSession, path: String): Unit =
    require(newestGen(spark, path).isEmpty,
      s"sketch at $path is fold-owned (generation layout, written by " +
        "fold) — upserts would be invisible to readers; one table, one " +
        "discipline")

  private def withFoldMark(df: DataFrame): DataFrame =
    if (df.columns.contains("folded_batch"))
      df.withColumn("folded_batch", coalesce(col("folded_batch"), lit(-1L)))
    else df.withColumn("folded_batch", lit(-1L))

  /** Fold one micro-batch's sketch into the persisted table at `path`
    * (create it if absent): the family's merge per touched group, skipped
    * for groups whose high-water mark already covers `batchId`. `load`
    * reads the folded table unchanged (the mark is an extra column its
    * projection drops). */
  def fold(spark: SparkSession, f: Family, groupCols: Seq[String],
           sketch: DataFrame, params: Seq[Int], path: String,
           batchId: Long): Unit = {
    val marked = f.columns(groupCols).map(col) :+ col("folded_batch")
    val stamped = sketch.select(f.columns(groupCols).map(col): _*)
      .withColumn("folded_batch", lit(batchId))
    val merged = foldCurrent(spark, path) match {
      case None => stamped
      case Some(df) =>
        requireSameParams(f, path, readParams(df, path, f.params), params)
        val old = withFoldMark(df).select(marked: _*)
        val (fresh, untouched, touchedOld) =
          hwmFilter(old, stamped, groupCols, batchId)
        untouched.unionByName(merge(f, touchedOld, fresh, groupCols)
          .withColumn("folded_batch", lit(batchId)))
    }
    // materialized: a REPLAYED fold reads and rewrites the same gen dir
    commitFoldGen(spark, path, batchId,
      withParams(Mat.small(merged).select(marked: _*), f, params))
  }

  /** One table of the corpus profile: its name under the sketch root, its
    * family, group columns and parameters, and the sketch to persist. */
  final case class ProfileTable(name: String, family: Family,
                                groupCols: Seq[String], params: Seq[Int],
                                sketch: DataFrame)

  /** The corpus-profile recipe over (warc_day, extracted_text) rows, shared
    * by ExtractJob --profile-sketches (which upserts it per run) and
    * ExtractStream.profileSketchQuery (which folds it per micro-batch):
    * `hll_tokens`, HLL registers at p = 9 over the Dedup.tokens of the
    * text, and `len_hist`, the log2 histogram of length(extracted_text),
    * both per warc_day. `rows` feeds both builds: materialize it first. */
  def corpusProfile(rows: DataFrame): Seq[ProfileTable] = {
    val day = Seq("warc_day")
    val toks = rows.select(col("warc_day"),
      explode(Dedup.tokens(col("extracted_text"))).as("tok"))
    Seq(
      ProfileTable("hll_tokens", Hll, day, Seq(9),
        hllRegisters(toks, day, col("tok"), p = 9)),
      ProfileTable("len_hist", Hist, day, Nil,
        hist2Build(rows, day, length(col("extracted_text")), sBits = 0)))
  }

  // ---- deterministic mergeable quantile sketch --------------------------
  //
  // Exact per-group percentiles (q45) are a full per-group SORT at scale.
  // The production shape next to them is a fixed-boundary histogram:
  // bucket = bit-length of the value (integer-exact — length(bin(v)) in
  // both engines, which emit minimal-length binary strings), and each
  // bucket splits into 2^sBits equal-width sub-buckets: (bucket, sub) with
  // sub = floor((v − 2^(b−1)) / 2^shift), shift = max(b−1−sBits, 0).
  // State is ≤ 64·2^sBits rows per group, the merge is counter-ADD, and a
  // quantile reads off the cumulative counts with linear interpolation
  // inside the (bucket, sub) segment. sBits = 0 is the plain log2
  // histogram (q47, `len_hist`: every sub is 0, error ~2× at the bucket
  // edges); the default sBits = 3 (q52) shrinks the in-bucket error 8×.
  // All boundaries are powers of two, so the double math (pow/floor,
  // division by an exact power of two) reproduces bit-for-bit cross-engine
  // for integral values within double precision (|v| < 2^53 — far above
  // any text-length/count column) — oracled end-to-end by q47 and q52.

  /** Two-level histogram of a non-negative integral column:
    * (group…, bucket, sub, cnt); bucket = bit_length(v) (0 for v ≤ 0,
    * with sub 0), sub = the value's 2^sBits-way split of the bucket. */
  def hist2Build(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                 sBits: Int = 3): DataFrame = {
    require(sBits >= 0 && sBits <= 6, s"sBits=$sBits out of range")
    val v = valueCol.cast("long")
    val b = when(v <= 0, lit(0)).otherwise(length(bin(v)))
    val staged = df.select(
      (groupCols.map(col) :+ v.as("__v") :+ b.as("__b")): _*)
    val shift = greatest(col("__b") - 1 - sBits, lit(0))
    val sub = when(col("__v") <= 0, lit(0L))
      .otherwise(floor((col("__v").cast("double") -
        pow(lit(2.0), col("__b") - 1)) / pow(lit(2.0), shift)).cast("long"))
    staged
      .select((groupCols.map(col) :+ col("__b").as("bucket") :+
        sub.as("sub")): _*)
      .groupBy((groupCols.map(col) :+ col("bucket") :+ col("sub")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a (possibly merged) histogram. For each
    * (name, q): t = (n−1)·q; the (bucket, sub) segment
    * [lo + sub·2^shift, lo + (sub+1)·2^shift − 1] with cum0 ≤ t < cum0+cnt
    * yields lo' + (hi'−lo')·(t−cum0)/cnt — the same (n−1)·q rank
    * convention as the exact percentile (q45), deterministic double math
    * cross-engine. Output: (group…, docs, <name>…) with estimates rounded
    * to 4. `sBits` must match the build (as p for HLL); at sBits = 0 the
    * `Hist` layout (no sub column) reads as sub = 0. */
  def hist2Quantiles(hist: DataFrame, groupCols: Seq[String],
                     qs: Seq[(String, Double)], sBits: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = if (hist.columns.contains("sub")) col("sub") else {
      require(sBits == 0, s"a histogram without sub columns is sBits=0, not $sBits")
      lit(0L)
    }
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("bucket"), sub)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cnt = col("cnt").cast("double")
    val cum0 = (sum(col("cnt")).over(w) - col("cnt")).cast("double")
    val n = sum(col("cnt")).over(wAll).cast("double")
    val width = pow(lit(2.0), greatest(col("bucket") - 1 - sBits, lit(0)))
    val lo = when(col("bucket") <= 0, lit(0.0))
      .otherwise(pow(lit(2.0), col("bucket") - 1) + sub * width)
    val hi = when(col("bucket") <= 0, lit(0.0))
      .otherwise(pow(lit(2.0), col("bucket") - 1) + (sub + 1) * width - 1)
    val staged = hist.select(
      (groupCols.map(col) :+ cnt.as("__cnt") :+ cum0.as("__cum0") :+
        n.as("__n") :+ lo.as("__lo") :+ hi.as("__hi")): _*)
    val qAggs = qs.map { case (name, q) =>
      val t = (col("__n") - 1) * q
      max(when(col("__cum0") <= t && t < col("__cum0") + col("__cnt"),
        round(col("__lo") + (col("__hi") - col("__lo")) *
          ((t - col("__cum0")) / col("__cnt")), 4))).as(name)
    }
    staged.groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).cast("long").as("docs"), qAggs: _*)
  }
}
