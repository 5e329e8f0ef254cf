package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType, TimestampNTZType,
  TimestampType}

/**
 * Deduplication operators for web-scale corpora. All are expressed as
 * DataFrame transformations whose physical plans are the ones you want at
 * 10^12 rows:
 *
 *  - exact:   one hash-aggregate on a 16-byte key (map-side partial agg)
 *  - minhash: shingle→signature→band explode→bucket self-join; the join is
 *             an equi-join on (band, band_hash) so buckets co-locate in one
 *             shuffle; candidate pairs verified with true Jaccard
 *  - simhash: 64-bit signature via bitwise column math, Hamming-ball pairs
 *  - ngram:   blocked n-gram Jaccard (inverted-index style equi-join)
 *  - cosine:  embedding near-dup via random-hyperplane LSH buckets
 *
 * Everything is built-in Catalyst expressions (codegen'd); no Python. The
 * one driver-side loop is duplicateClusters' union-find, taken only when
 * the observed edge list fits the session's broadcast threshold.
 */
object Dedup {

  // ---- shingling ------------------------------------------------------

  /** Java∩RE2 whitespace class (NO U+000B): Java's `\s` includes the
    * vertical tab, RE2's — which every DuckDB oracle tokenizes with —
    * does not. Every oracled tokenizer path splits on this EXPLICIT
    * class so both engines split identically on ANY input (the same
    * dodge TextOps.BpeTokenRe documents; previously a document
    * containing U+000B would tokenize differently per engine). */
  val WsClass = " \\t\\n\\f\\r"

  /** Lowercase whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), s"[$WsClass]+")

  /** Word n-gram shingles (n=3): sliding windows via sequence+transform. */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** Shingle-hash algorithms: xxhash64 (production default) and the
    * DuckDB-replicable md5-60bit used by oracled paths. */
  val AlgoXx64 = "xx64"
  val AlgoMd5 = "md5-60"

  private def algoIsMd5(algo: String): Boolean = algo match {
    case AlgoXx64 => false
    case AlgoMd5  => true
    case other    => throw new IllegalArgumentException(
      s"unknown shingle algo '$other' (expected $AlgoXx64 or $AlgoMd5)")
  }

  /** Distinct shingle hashes — native codegen kernel (one compiled pass),
    * bit-identical to array_distinct(transform(shingles(text, n), hash))
    * (KernelParitySpec). */
  def shingleHashes(text: Column, n: Int = 3, algo: String = AlgoXx64): Column =
    graft.plans.VectorKernels.shingleHash(text, n, algoIsMd5(algo))

  /** NON-deduplicated token hashes (SimHash's majority vote needs token
    * frequency) — kernel form of transform(tokens(text), hash), same
    * parity pin. */
  def tokenHashes(text: Column, algo: String = AlgoXx64): Column =
    graft.plans.VectorKernels.shingleHash(text, 1, algoIsMd5(algo), distinct = false)

  /**
   * Winnowing document fingerprints (the Schleimer–Wilkerson–Aiken / MOSS
   * algorithm — the classic "rolling" fingerprint scheme): hash every
   * word k-gram IN POSITION ORDER (non-distinct), slide a window of `w`
   * consecutive positions, select each window's minimum hash; the
   * distinct selected hashes are the document's fingerprint set. The
   * winnowing guarantee: any two documents sharing a token run of length
   * ≥ w + k − 1 share at least one fingerprint, while only ~2/(w+1) of
   * all k-grams are kept — the storage/recall dial real fingerprint
   * indexes use.
   *
   * Scale shape: one kernel pass per doc for the hashes, one window over
   * (doc, position) — partitioned BY DOCUMENT, so it parallelizes
   * per-doc with no cross-doc shuffle beyond the per-doc grouping;
   * fingerprints then feed an inverted index exactly like shingle
   * postings. Documents with fewer than w windows emit nothing (mirror
   * the rule in any consumer).
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5,
                         algo: String = AlgoXx64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = df.select(col(idCol).as("id"),
      posexplode(graft.plans.VectorKernels.shingleHash(
        col(textCol), k, algoIsMd5(algo), distinct = false)))
      .withColumnRenamed("col", "h")
    val perDoc = Window.partitionBy(col("id"))
    val wMin = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    hs.withColumn("n", count(lit(1)).over(perDoc))
      .withColumn("minh", min(col("h")).over(wMin))
      .where(col("pos") <= col("n") - w) // full windows only
      .select(col("id"), col("minh").as("fp"))
      .distinct()
  }

  /** Oracle-replicable 60-bit hash: decimal value of the first 15 hex
    * digits of md5. Slower than xxhash64 (use it for verification paths);
    * DuckDB computes the identical value via
    * `('0x' || substring(md5(x),1,15))::UBIGINT`. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The interpreted higher-order formulation of shingleHashes — kept as
    * the independent reference the kernel is pinned against
    * (KernelParitySpec); NOT for hot paths. */
  def shingleHashesHof(text: Column, hashFn: Column => Column, n: Int = 3): Column =
    array_distinct(transform(shingles(text, n), hashFn))

  // ---- exact ----------------------------------------------------------

  /**
   * Exact dedup: group on the md5 fingerprint of normalized text; emit one
   * row per distinct content with the keeper (min id) and duplicate count.
   * Single shuffle on a small key; partial aggregation map-side.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol).as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dup_count"))

  // ---- minhash + LSH --------------------------------------------------

  /** Deterministic affine hash family over a base xxhash64 (Carter-Wegman
    * style): h_i(x) = (a_i*x + b_i) mod 2^31-1 with x first reduced mod
    * 2^31-1 — the Spark MLlib MinHashLSH construction. The modulus MUST
    * be ~the domain size: an earlier build used mod 2^61-1 with a,x <
    * 2^31, making a·x+b wrap at most twice over the domain, so every
    * h_i was near-monotone in x and the k orderings were heavily
    * correlated — measured 9% LSH false-negatives at J=0.93 where
    * independent bands promise 0.001%. With the modulus at 2^31-1 the
    * map wraps ~a times and the measured miss rate matches the
    * (1-J^r)^b theory (LshRecallSpec pins both). */
  val MersennePrime: Long = (1L << 31) - 1

  /** splitmix64's finalizer: the one deterministic hash stream behind
    * the MinHash constants and the LSH/IVF hyperplanes (oracle SQL embeds
    * the values it produces). */
  private[pipeline] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Public so oracle SQL generators can embed the identical constants. */
  def hashParams(k: Int): Seq[(Long, Long)] = {
    // mix64 stream from seed 42 — deterministic, no RNG object;
    // a,b < 2^31 so a*h' + b stays within signed-64 when h' < 2^31
    (0 until k).map { i =>
      val a = math.abs(mix64(42L + 2L * i)) % (Int.MaxValue.toLong - 1) + 1
      val b = math.abs(mix64(43L + 2L * i)) % Int.MaxValue.toLong
      (a, b)
    }
  }

  /** MinHash signature over an ALREADY-MATERIALIZED shingle-hash array
    * column (overflow-safe: base hash reduced mod 2^31-1 before the affine
    * map). Native codegen kernel — one compiled pass computing all k mins;
    * bit-identical to the k× array_min(transform(...)) formulation
    * (KernelParitySpec). */
  def minhashSignatureFromHashes(hashes: Column, k: Int = 32): Column =
    graft.plans.VectorKernels.minhash(hashes, hashParams(k))

  /**
   * MinHash-LSH near-dup candidate pairs with verified Jaccard.
   * k minhashes in `bands` bands of k/bands rows: docs sharing any full
   * band land in a bucket; bucket equi-join yields candidates; true
   * n-gram Jaccard filters to `threshold`.
   *
   * Scale shape: the band self-join carries ONLY (band, band_hash, id) —
   * candidate pairs are ids; the shingle arrays needed for Jaccard
   * verification are re-joined by id afterwards. At web scale the pair
   * stage dominates shuffle volume, so its payload must not include the
   * (large) shingle arrays. `shingleAlgo` selects xxhash64 (default) or
   * the DuckDB-replicable md5-60bit for oracled queries.
   */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8,
                 shingleAlgo: String = AlgoXx64): DataFrame =
    // materialized once: the signature path and both verification re-joins
    // consume the shingle arrays, and shingling is the expensive step
    minhashLshPrepped(shingleTable(df, idCol, textCol, shingleAlgo),
      k, bands, threshold)

  /** Self-join near-dup pairs from an already-shingled (id, sh) frame —
    * the entry point for callers that shingle once and feed several
    * consumers (see shingleTable). */
  def minhashLshPrepped(withSh: DataFrame, k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.8): DataFrame = {
    // materialized ONCE: the a/b self-join branches are separate scans,
    // so an unmaterialized banded table runs the k-min minhash kernel +
    // band hashing TWICE over the (checkpointed) shingle table (r8)
    val banded = Mat.corpus(bandedSignature(withSh, k, bands))

    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // verification payload joined back by id (ids-only pair shuffle above)
    verifyJaccard(pairs, withSh, withSh, threshold).drop("inter")
  }

  /** (band, band_hash, id) from an (id, sh) frame: minhash signature in
    * `bands` bands of k/bands rows, each band keyed by a 64-bit hash of
    * its signature slice (+band index so identical slices in different
    * bands never collide). Shared by the self-join (minhashLsh) and the
    * corpus×batch incremental join (minhashLshJoin). */
  private def bandedSignature(withSh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    withSh.select(
      col("id"),
      minhashSignatureFromHashes(col("sh"), k).as("sig"))
      .select(
        col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(
            concat_ws(",", transform(slice(col("sig"), b * lit(rows) + lit(1), lit(rows)),
              x => x.cast("string"))),
            b))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /**
   * INCREMENTAL MinHash-LSH: near-dup pairs BETWEEN an existing corpus and
   * a new batch — the shape a training-data pipeline runs per ingest
   * (dedup today's crawl against the accumulated corpus WITHOUT
   * re-pairing the corpus against itself). Output: (id_a = corpus id,
   * id_b = batch id, jaccard).
   *
   * Scale shape: the corpus side's banded signatures are a pure function
   * of (id, text) — on a real deployment they are computed once and
   * persisted as the LSH index (bucketed by band_hash), so each ingest
   * only computes signatures for the batch and runs one equi-join against
   * the index. Candidate pairs carry ids only; shingle arrays re-join by
   * id for the Jaccard verify (same discipline as minhashLsh).
   */
  def minhashLshJoin(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String,
                     k: Int = 32, bands: Int = 8,
                     threshold: Double = 0.8,
                     shingleAlgo: String = AlgoXx64): DataFrame = {
    val index = buildMinHashIndex(corpus, idCol, textCol, k, bands, shingleAlgo)
    minhashLshJoinIndexed(index, batch, idCol, textCol, threshold)
  }

  // ---- persistable MinHash-LSH corpus index (index once, ingest many) --

  /**
   * The corpus-side LSH artifact a real deployment computes ONCE per
   * corpus snapshot and joins every daily ingest against: the banded
   * signatures (candidate generation; ids only) plus the shingle arrays
   * (Jaccard verification payload, re-joined by id). `k`/`bands`/the
   * shingle algo are carried in the index so a later batch cannot be
   * shingled or banded with mismatched parameters.
   */
  final case class MinHashIndex(k: Int, bands: Int, shingleAlgo: String,
                                banded: DataFrame,   // (id, band, band_hash)
                                shingles: DataFrame) // (id, sh)

  /** The (id, sh) shingle table, checkpoint-materialized — the one
    * shingling pass of an ingest. Public so a caller driving several
    * consumers (index join, batch self-join, index append — the
    * ExtractJob --dedup-index loop) shingles ONCE and hands the same
    * frame to each, instead of every entry point re-running ShingleHash
    * over the batch text. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
                   shingleAlgo: String = AlgoXx64, n: Int = 3): DataFrame =
    Mat.corpus(df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n, shingleAlgo).as("sh")))

  def buildMinHashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8,
                        shingleAlgo: String = AlgoXx64): MinHashIndex = {
    val sh = shingleTable(corpus, idCol, textCol, shingleAlgo)
    MinHashIndex(k, bands, shingleAlgo, bandedSignature(sh, k, bands), sh)
  }

  /** Persist: banded signatures partitioned by band (an ingest's
    * candidate join prunes per band), shingles plain, parameters in a
    * one-row meta table. Every row is stamped with an ingest sequence
    * number (0 for the initial save); appendToMinHashIndex adds later
    * ingests, and compactMinHashIndex resolves a re-ingested id to its
    * LATEST version. */
  def saveMinHashIndex(index: MinHashIndex, path: String): Unit = {
    val spark = index.banded.sparkSession
    import spark.implicits._
    Seq((index.k, index.bands, index.shingleAlgo, 1))
      .toDF("k", "bands", "algo", "ingests")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    index.banded.withColumn("ingest", lit(0))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/banded")
    index.shingles.withColumn("ingest", lit(0))
      .write.mode("overwrite").parquet(s"$path/shingles")
  }

  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Int, String, Int) = {
    val df = spark.read.parquet(s"$path/meta")
    val meta = df.select(col("k"), col("bands"), col("algo"),
      // pre-maintenance indexes (no ingests column) count as one ingest
      (if (df.columns.contains("ingests")) col("ingests") else lit(1))
        .as("ingests")).head
    (meta.getInt(0), meta.getInt(1), meta.getString(2), meta.getInt(3))
  }

  def loadMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): MinHashIndex = {
    val (k, bands, algo, _) = readIndexMeta(spark, path)
    MinHashIndex(k, bands, algo,
      spark.read.parquet(s"$path/banded")
        .select(col("id"), col("band").cast("int").as("band"), col("band_hash")),
      spark.read.parquet(s"$path/shingles").select(col("id"), col("sh")))
  }

  /**
   * Append one ingest's documents to a saved index — the daily step of
   * the production ingest-dedup loop. The batch is shingled and banded
   * with the INDEX's own parameters (carried in meta — a caller cannot
   * mismatch them), stamped with the next ingest sequence number, and
   * appended to the partitioned layout (a band's new files land inside
   * its existing partition directory — the ingest never rewrites corpus
   * history). A re-ingested id now exists at two sequence numbers; reads
   * through loadMinHashIndex see both until compactMinHashIndex resolves
   * the id to its latest version. Returns the ingest number assigned.
   */
  def appendToMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, batch: DataFrame,
                           idCol: String, textCol: String): Int = {
    val (_, _, algo, _) = readIndexMeta(spark, path)
    appendShingledToMinHashIndex(spark, path,
      shingleTable(batch, idCol, textCol, algo))
  }

  /** As appendToMinHashIndex, from an already-shingled (id, sh) frame
    * (which MUST have been produced with the index's own shingle algo —
    * pair with shingleTable(batch, …, index.shingleAlgo)).
    *
    * Crash-replay semantics (a retried append after a partial write):
    * the banded append runs FIRST and the ingest-loop's "seen" anti-join
    * keys on SHINGLES — so a crash between the two writes makes the
    * replay re-append the banded rows (exact duplicates; candidate
    * generation dropDuplicates the pair output, and compaction dedupes
    * them away) rather than ever leaving ids that silently never become
    * candidates. The ingest number derives from the DATA (max stamped
    * ingest + 1), not from meta, so a crash before the meta bump cannot
    * make two different batches share a number. */
  def appendShingledToMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                                   path: String, sh: DataFrame): Int = {
    import spark.implicits._
    val (k, bands, algo, metaIngests) = readIndexMeta(spark, path)
    // mergeSchema: an r4 (ingest-less) index that already received stamped
    // appends holds MIXED file schemas — without it, which footer Spark
    // samples decides whether the ingest column is visible, and sampling
    // an old file after a crash that appended data but not the meta bump
    // would re-issue an already-used ingest number to a different batch.
    // Same hazard compactMinHashIndex guards; coalesce the old files'
    // nulls to ingest 0 (the initial save's number) before taking max+1.
    val shinglesDf = spark.read.option("mergeSchema", "true")
      .parquet(s"$path/shingles")
    val next =
      if (!shinglesDf.columns.contains("ingest")) metaIngests // pure r4 layout
      else {
        val m = shinglesDf.agg(max(coalesce(col("ingest"), lit(0)))).head
        if (m.isNullAt(0)) metaIngests else m.getInt(0) + 1 // null: empty index
      }
    bandedSignature(sh, k, bands).withColumn("ingest", lit(next))
      .write.mode("append").partitionBy("band").parquet(s"$path/banded")
    sh.withColumn("ingest", lit(next))
      .write.mode("append").parquet(s"$path/shingles")
    Seq((k, bands, algo, next + 1)).toDF("k", "bands", "algo", "ingests")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    next
  }

  /**
   * Compaction: resolve every id to its LATEST ingest and write a fresh
   * single-ingest index at `dstPath` (src is left untouched — parquet
   * cannot be rewritten in place while being read). Latest-wins is one
   * max-per-id aggregation + an equi-join per table — no pairwise work.
   * Invariant (pinned by MinHashIndexSpec): ingest(A) then ingest(B) then
   * compact ≡ one-shot index over A's non-re-ingested ids ∪ B.
   */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                          srcPath: String, dstPath: String): Unit = {
    require(srcPath != dstPath, "compaction must write to a fresh path")
    val (k, bands, algo, _) = readIndexMeta(spark, srcPath)
    // an r4 (ingest-less) index that later received stamped appends holds
    // MIXED file schemas: read with mergeSchema so the ingest column is
    // always present, and coalesce the old files' nulls to ingest 0 — a
    // bare columns-contains check would either null-key the latest join
    // (dropping every original id) or collapse all versions to 0,
    // depending on which file Spark sampled for the schema
    def ingestOf(df: DataFrame): DataFrame =
      if (!df.columns.contains("ingest")) df.withColumn("ingest", lit(0))
      else df.withColumn("ingest", coalesce(col("ingest"), lit(0)))
    val shingles = ingestOf(
      spark.read.option("mergeSchema", "true").parquet(s"$srcPath/shingles"))
    val banded = ingestOf(
      spark.read.option("mergeSchema", "true").parquet(s"$srcPath/banded"))
    val latest = shingles.groupBy(col("id"))
      .agg(max(col("ingest")).as("ingest"))
    // dropDuplicates: a crash-replayed append leaves exact-duplicate
    // banded rows (see appendShingledToMinHashIndex) — compaction is
    // where they disappear
    saveMinHashIndex(MinHashIndex(k, bands, algo,
      banded.join(latest, Seq("id", "ingest"))
        .select(col("id"), col("band").cast("int").as("band"), col("band_hash"))
        .dropDuplicates("id", "band", "band_hash"),
      shingles.join(latest, Seq("id", "ingest"))
        .select(col("id"), col("sh"))
        .dropDuplicates("id")), dstPath)
  }

  /** One ingest against a (built or loaded) corpus index: only the BATCH
    * is shingled and banded; candidates = one equi-join on
    * (band, band_hash) against the index; Jaccard verify re-joins the
    * index's shingle arrays by id. Output: (id_a = corpus id,
    * id_b = batch id, jaccard). */
  def minhashLshJoinIndexed(index: MinHashIndex, batch: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double = 0.8): DataFrame =
    minhashLshJoinIndexedPrepped(index,
      shingleTable(batch, idCol, textCol, index.shingleAlgo), threshold)

  /** As minhashLshJoinIndexed, from an already-shingled batch frame
    * (produced with the index's shingle algo — see shingleTable). */
  def minhashLshJoinIndexedPrepped(index: MinHashIndex, shB: DataFrame,
                                   threshold: Double = 0.8): DataFrame = {
    val a = index.banded
      .select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = bandedSignature(shB, index.k, index.bands)
      .select(col("band"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") =!= col("id_b")) // a url can sit in both sides
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(pairs, index.shingles, shB, threshold).drop("inter")
  }

  // ---- simhash --------------------------------------------------------

  /**
   * 64-bit SimHash as pure column math: for each bit position, count
   * token hashes with that bit set vs total, set the bit when the majority
   * has it. Near-dups = pairs within Hamming distance `maxDist`, found by
   * 4-way table-split blocking (any identical 16-bit quarter → candidate).
   */
  /** SimHash over an already-materialized token-hash array column (same
    * projection discipline as minhashSignatureFromHashes). Native codegen
    * kernel; bit-identical to the 64× aggregate(...) majority-vote
    * formulation (KernelParitySpec). */
  def simhashFromHashes(hs: Column): Column =
    graft.plans.VectorKernels.simhash(hs)

  def simhash(text: Column): Column =
    simhashFromHashes(tokenHashes(text))

  /**
   * Blocking keys for `maxDist <= 2`: the 6 quarter-PAIRS (32-bit values).
   * Pigeonhole: dist<=2 flips bits in at most 2 of the 4 quarters, so at
   * least 2 quarters are equal — the pair (i,j) of equal quarters matches.
   * 32-bit keys give ~4×10^9 bucket values, so at 10^9+ docs the expected
   * bucket holds O(1) docs where the 16-bit keys (65,536 values) would
   * hold ~15k–15M and make in-bucket pair generation quadratic.
   */
  private def quarterPairKeys(sig: Column): Column = {
    def quarter(i: Int): Column =
      shiftrightunsigned(sig, i * 16).bitwiseAND(lit(0xFFFFL))
    val pairs = for { i <- 0 until 4; j <- i + 1 until 4 } yield
      quarter(i) * lit(65536L) + quarter(j)
    array(pairs: _*)
  }

  /**
   * Near-dup pairs within Hamming distance `maxDist` of the 64-bit SimHash.
   *
   *  - maxDist <= 2: 6 tables keyed by 32-bit quarter-pairs (exact recall,
   *    bounded buckets at web scale).
   *  - maxDist == 3: 4 tables keyed by 16-bit quarters (exact recall, but
   *    16-bit keys go quadratic at 10^9+ docs); `maxBucket > 0` caps the
   *    bucket size by dropping over-full blocking buckets (recall trade-off,
   *    logged via the returned plan's filter, never silently quadratic).
   *    The DEFAULT is a real bound (1000) so no call site silently goes
   *    quadratic; pass maxBucket = 0 to consciously opt into uncapped.
   *  - maxDist > 3: same 16-bit blocking, approximate by construction
   *    (a pair can differ in all 4 quarters); kept for exploratory use.
   */
  val DefaultMaxBucket: Int = 1000

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val withSig = df
      .select(col(idCol).as("id"),
        transform(tokens(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), simhashFromHashes(col("hs")).as("sig"))
    simhashPairsFromSigs(withSig, maxDist, maxBucket)
  }

  /** Pair generation from a prebuilt (id, sig) frame — shared by the
    * xxhash64 production path and the md5-based oracled path. */
  def simhashPairsFromSigs(withSig: DataFrame, maxDist: Int,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val keys =
      if (maxDist <= 2) quarterPairKeys(col("sig"))
      else array((0 until 4).map(q =>
        shiftrightunsigned(col("sig"), q * 16).bitwiseAND(lit(0xFFFFL))): _*)
    // the bucket-size cap rides ONE window over the (q, qv) partitioning
    // instead of a groupBy + semi-join back (guide §2.4; r8), and the
    // CAPPED table is the one materialized — the a/b self-join branches
    // are separate scans, so an unmaterialized table re-ran the simhash
    // kernel per consumer
    val blocked0 = withSig.select(col("id"), col("sig"), posexplode(keys))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qv")
    val blocked = Mat.corpus(
      if (maxBucket > 0) {
        import org.apache.spark.sql.expressions.Window
        blocked0
          .withColumn("__bsz",
            count(lit(1)).over(Window.partitionBy(col("q"), col("qv"))))
          .where(col("__bsz") <= maxBucket)
          .drop("__bsz")
      } else blocked0)
    val a = blocked.select(col("q"), col("qv"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(col("q"), col("qv"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("q", "qv"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---- blocked n-gram Jaccard ----------------------------------------

  /**
   * Inverted-index n-gram Jaccard: explode distinct shingle hashes, join
   * postings on the shingle (equi-join, one shuffle), count shared
   * shingles per pair, derive Jaccard from |A|+|B|−|A∩B|. Blocking comes
   * free from the postings join (pairs sharing nothing never meet).
   *
   * `maxDf` caps the posting-list length per shingle: a stop-shingle shared
   * by d documents contributes d² candidate rows to the self-join, so one
   * 3-gram appearing in 1% of a 10^9-doc corpus is a 10^14-row skew bomb.
   * Shingles with document frequency > maxDf are dropped BEFORE the join
   * (standard stop-shingle removal) and Jaccard is computed over the
   * surviving shingle space (per-doc sizes recomputed post-cap, so the
   * measure stays a true Jaccard on the reduced universe).
   */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))
    val postings = sh.select(col("id"), explode(col("sh")).as("s"))
    // df cap as ONE window over the shingle partitioning instead of a
    // groupBy + semi-join back (guide §2.4 — count and join-back share
    // the key): one postings shuffle, not two; shingling runs exactly
    // once, inside the kept checkpoint job. kept feeds three consumers
    // (both self-join sides + the post-cap sizes) — materialized once.
    val kept = Mat.corpus(postings
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .where(col("__df") <= maxDf)
      .drop("__df"))
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = kept.select(col("s"), col("id").as("id_a"))
    val b = kept.select(col("s"), col("id").as("id_b"))
    a.join(b, Seq("s"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- set-similarity core: rarest-first prefix and pair verify --------
  //
  // One implementation each, shared by MinHash-LSH, prefixJaccardJoin (q53)
  // and spanContainmentJoin (q63). Candidate generation stays per measure:
  // each needs its own lemma (band join; prefix × prefix with length and
  // positional prunes; prefix × full postings).

  /**
   * The rarest-first PREFIX of every set (PPJoin's prefix filter, Xiao et
   * al., "Efficient Similarity Joins for Near Duplicate Detection", WWW
   * 2008). Fix one GLOBAL element order — document frequency ascending,
   * then element. If a set x must share at least ⌈t·|x|⌉ of its elements
   * with another set, one of them lies within x's first
   * |x| − ⌈t·|x|⌉ + 1 elements: had all of them sat past that prefix,
   * they could not fit in the remaining ⌈t·|x|⌉ − 1 positions. The lemma
   * holds under ANY total order (so an oracle may rank its own elements
   * and still verify the identical pairs); rarest first makes the
   * candidate join key on the shortest posting lists, and a corpus-wide
   * boilerplate element ranks last and sits in almost no prefix.
   *
   * The prefix length is |x| − ⌊t·|x|⌋ + 1, floor not ceil: under
   * floating point, ceil(t·|x|) can EXCEED the exact ceiling when the
   * product lands an ulp above an integer (0.035·200 =
   * 7.000000000000001 → ceil 8), silently shortening the prefix below the
   * no-false-negative bound; floor errs only toward a LONGER prefix (at
   * most one extra element per set), which the exact verify absorbs.
   * Lowering `t` only lengthens the prefix, so a caller whose verify
   * admits pairs slightly below its threshold passes a slacked `t` (q63;
   * pinned with q53 in PipelineOpsSpec).
   *
   * Input: postings (id, elem), DISTINCT per id so an element's count is
   * its document frequency, and sizes (id, sz). Output (elem, id, rk, sz)
   * for the prefix rows, rk the 1-based rank within the set. The df rides
   * ONE window over the element partitioning instead of a groupBy +
   * join-back (guide §2.4 — both legs share the key; r8), feeding the
   * per-set rank window directly.
   */
  private[graft] def rarestFirstPrefix(postings: DataFrame, sizes: DataFrame,
                                       t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    postings
      .withColumn("edf", count(lit(1)).over(Window.partitionBy(col("elem"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("edf").asc, col("elem").asc)))
      .join(sizes, Seq("id"))
      .where(col("rk") <= col("sz") - floor(lit(t) * col("sz")) + 1)
      .select(col("elem"), col("id"), col("rk"), col("sz"))
  }

  /** (id, elem) postings and (id, sz) sizes of an (id, sh) table: the
    * explode is cheap codegen over the checkpoint scan, and a size is a
    * map-side array length (no postings groupBy shuffle). */
  private def postingsAndSizes(sh: DataFrame): (DataFrame, DataFrame) =
    (sh.select(col("id"), explode(col("sh")).as("elem")),
      sh.select(col("id"), size(col("sh")).cast("long").as("sz")))

  /** Pair verify: the (id, sh) arrays re-join by id onto the (id_a, id_b)
    * candidates, which carry ids only (at web scale the pair shuffle must
    * not carry the arrays), and one codegen array_intersect pass counts
    * the overlap. Output (id_a, id_b, inter, n_a, n_b). inter is |A∩B|
    * and n_a + n_b − inter is |A∪B| only because shingleHashes arrays are
    * DISTINCT; a non-distinct table must not feed this verify. */
  private def pairOverlap(pairs: DataFrame, shA: DataFrame,
                          shB: DataFrame): DataFrame =
    pairs
      .join(shA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))

  /** Jaccard verify, one implementation for MinHash-LSH (q17, q29,
    * CurateJob's near stage, --dedup-index) and prefixJaccardJoin (q53):
    * keeps pairs whose UNROUNDED J = inter / (n_a + n_b − inter) reaches
    * `threshold`; output (id_a, id_b, inter, jaccard), jaccard rounded
    * to 4. The q17, q29 and q53 oracles all derive from this math. */
  private def verifyJaccard(pairs: DataFrame, shA: DataFrame, shB: DataFrame,
                            threshold: Double): DataFrame =
    pairOverlap(pairs, shA, shB)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("jaccard"), 4).as("jaccard"))

  // ---- prefix-filtering set-similarity join (ssjoin / PPJoin family) ---

  /**
   * Exact set-similarity Jaccard self-join via PREFIX FILTERING (the
   * ssjoin/PPJoin family): J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥ t·|A|, so
   * every qualifying pair shares an element inside BOTH sets'
   * rarest-first prefixes (`rarestFirstPrefix` at t), and only prefix
   * elements enter the candidate self-join. Versus ngramJaccard's
   * stop-shingle df-cap this is the principled bound: NO false negatives
   * at any threshold in (0, 1] (the cap drops qualifying pairs whose only
   * shared shingles are frequent), and the candidate join keys on each
   * set's RAREST elements instead of an arbitrary cutoff. Candidates
   * carry ids only; `verifyJaccard` re-joins the element arrays by id.
   *
   * Set elements are the KERNEL shingle hashes (8-byte postings through
   * every shuffle, codegen shingling — never the interpreted HOF
   * shingles or full n-gram strings), which is sound because every use
   * is element EQUALITY: candidates, the intersection count, and the
   * per-engine (df, element) order — the q53 oracle ranks its own string
   * elements and still produces the identical verified output (the
   * q16/q26 hash-EQUALITY precedent).
   *
   * Two further PPJoin prunes run BETWEEN candidate generation and the
   * verify (the verify joins dominate the query's cost — every candidate
   * they never see is a shuffle row saved), both sound — they drop only
   * pairs that provably cannot reach t:
   *
   *  - LENGTH filter: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|B| (from i ≥ t(a+b−i)
   *    and b ≥ i) and |A| ≥ |A∩B|, so |A| ≥ t·|B| and symmetrically
   *    |B| ≥ t·|A|. Sizes ride the prefix rows, so the filter costs zero
   *    extra joins.
   *  - POSITIONAL filter (per-pair counting form, r8): aggregate the
   *    matching prefix rows per pair; with e* the LAST common prefix
   *    element under the global order at ranks (ra, rb) — one row,
   *    since within-doc ranks follow the single global (df, element)
   *    order — every common element below e* lies in BOTH prefixes
   *    (ranks < ra and < rb) and is already among the pcnt counted
   *    matches, and every common element above e* has rank > ra and
   *    > rb, so |A∩B| ≤ pcnt + min(|A|−ra, |B|−rb). J ≥ t ⟺
   *    (1+t)·|A∩B| ≥ t·(|A|+|B|), so a pair failing that test on the
   *    bound cannot qualify. A qualifying pair always has ≥ 1 common
   *    element inside both prefixes, so the aggregate sees every
   *    qualifying pair. This is strictly stronger than r7's any-row
   *    first-match test, with the same no-false-negative guarantee.
   *
   * Both filters compare in doubles with a multiplicative 1e−9 slack on
   * the t-product side (t·|B|, t·(|A|+|B|)): the exact comparisons hold
   * at integer boundaries (a containment pair at J = t exactly meets
   * |A| = t·|B|), and a double product can land a few ulps ABOVE the
   * exact value — the slack (≫ the ~3e−16 relative rounding of two
   * flops, ≪ the 1/|x| gap to the next integer at any realistic set
   * size) errs only toward admitting a boundary candidate, which the
   * exact verify absorbs (pinned by boundary tests in PipelineOpsSpec).
   *
   * Plan shape: one df-count shuffle, one per-doc window (rank under the
   * global order), the prefix-postings self-join with the two prunes
   * aggregated per pair, and an array-intersect verify over the
   * materialized element arrays — every join a bounded equi-join, no
   * pairwise scan.
   *
   * @param n set elements: 1 = word tokens, ≥2 = word n-gram shingles.
   *          Pick the element space to match the corpus: a corpus with
   *          a small shared vocabulary makes every token SET similar
   *          (50%+ of all pairs qualify — a result-size explosion no
   *          join strategy fixes), while n-grams keep sets
   *          discriminative.
   */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.6, n: Int = 1,
                        algo: String = AlgoXx64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold outside (0, 1]: at 0 every disjoint pair " +
        "qualifies by definition and no postings join can produce it")
    // the distinct element ARRAYS, materialized once: the prefix explodes
    // them, sizes are array lengths, and the verify intersects them
    val sh = shingleTable(df, idCol, textCol, algo, n)
    val (elems, sizes) = postingsAndSizes(sh)
    // materialized ONCE: the candidate self-join's two branches are
    // separate scans — unmaterialized, the df and rank windows ran twice
    val prefix = Mat.corpus(rarestFirstPrefix(elems, sizes, threshold))
    // slack errs only toward keeping a boundary candidate (see scaladoc)
    val tSlack = lit(threshold * (1.0 - 1e-9))
    val cand = prefix.select(col("elem"), col("id").as("id_a"),
        col("rk").as("rk_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("elem"), col("id").as("id_b"),
        col("rk").as("rk_b"), col("sz").as("sz_b")), Seq("elem"))
      .where(col("id_a") < col("id_b"))
      // length filter: |A| ≥ t·|B| and |B| ≥ t·|A|
      .where(col("sz_a") >= tSlack * col("sz_b") &&
        col("sz_b") >= tSlack * col("sz_a"))
      // POSITIONAL filter, per-PAIR counting form (scaladoc): (ra, rb) =
      // (max rk_a, max rk_b) is the LAST common prefix element — the same
      // row, because within-doc ranks follow the ONE global (df, elem)
      // order — so |A∩B| ≤ pcnt + min(sz_a − ra, sz_b − rb). Counting
      // all matches and evaluating at the last one cut the probe
      // corpus's 124k surviving r7 candidates to the low thousands for
      // the same 256 verified pairs.
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("pcnt"),
        max(col("rk_a")).as("ra"), max(col("rk_b")).as("rb"),
        max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
      .where((col("pcnt") +
          least(col("sz_a") - col("ra"), col("sz_b") - col("rb"))) *
        lit(1.0 + threshold) >= tSlack * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b"))
    verifyJaccard(cand, sh, sh, threshold)
  }

  // ---- cross-doc repeated spans (exact-substring contamination) --------

  /**
   * Per-document repeated-span statistics: the fraction of a document's
   * word n-gram spans (default n=8, ~the granularity suffix-array
   * dedup pipelines use for exact-substring dedup) that also occur in at
   * least one OTHER document. High dup_frac = boilerplate / mirrored /
   * eval-contaminated content — the per-doc curation signal used to drop
   * or trim documents before training.
   *
   * Scale shape: NO pairwise join at all — ONE postings shuffle (the
   * span-hash window that both counts each span's document frequency
   * and carries it on the row — count and join-back share the key, so
   * the r7 join-back shuffle bought nothing), one per-doc aggregation.
   * A span shared by d documents costs d posting rows, not d² pair
   * rows, so stop-spans need no cap here (unlike ngramJaccard).
   *
   * @param algo span-hash algo (AlgoXx64 default; AlgoMd5 for oracled paths)
   */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8,
                   algo: String = AlgoXx64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct span hashes per doc, so a span's count(*) over postings IS
    // its document frequency; the df rides ONE window over the span-hash
    // partitioning instead of a groupBy + join-back (guide §2.4 — the
    // count and the join-back shared the h key, so the second shuffle of
    // the full postings bought nothing; r8) — with a single consumer the
    // checkpoint goes too, shingling runs once into the window shuffle
    df.select(col(idCol).as("id"),
        explode(shingleHashes(col(textCol), n, algo)).as("h"))
      .withColumn("hdf", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("hdf") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_frac",
        round(col("dup_spans").cast("double") / col("n_spans").cast("double"), 4))
  }

  /**
   * Cross-corpus DECONTAMINATION: for each eval/benchmark document, the
   * fraction of its n-gram word spans that occur ANYWHERE in the
   * training corpus — the overlap check a training pipeline runs against
   * held-out sets before training (the published recipe: n-gram overlap
   * at 8–13-gram granularity). Same no-pairwise-join shape as
   * spanDupStats: the train side collapses to its DISTINCT span-hash
   * set (multiplicity is irrelevant to containment), the eval side
   * joins against it — cost is |eval spans| + |distinct train spans|,
   * never |eval| × |train|. Output per eval id: (id, n_spans,
   * hit_spans, contamination). For per-train-doc attribution use
   * spanContaminationPairs.
   */
  def spanContamination(train: DataFrame, eval: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 8, algo: String = AlgoXx64): DataFrame = {
    val trainSpans = train
      .select(explode(shingleHashes(col(textCol), n, algo)).as("h"))
      .distinct()
    eval.select(col(idCol).as("id"),
        explode(shingleHashes(col(textCol), n, algo)).as("h"))
      .join(trainSpans.withColumn("__hit", lit(1)), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0))).as("hit_spans"))
      .withColumn("contamination",
        round(col("hit_spans").cast("double") / col("n_spans").cast("double"), 4))
  }

  /** Attribution variant: (eval_id, train_id, shared_spans) for eval docs
    * whose span sets intersect a train doc's — ids only through the span
    * join (the candidate-shuffle discipline); payloads re-join by id.
    *
    * SCALE ASSUMPTION (document, not guard — VERDICT r7): the span-hash
    * join has no df bound, so a gram occurring in t train docs and e
    * eval docs emits t·e candidate rows. This is safe ONLY because the
    * eval side is a benchmark suite (thousands of docs, so e is small
    * and t·e ≈ t — the postings cost the no-pairwise spanContamination
    * already pays); do NOT call it with a second corpus-scale table as
    * `eval` — that is spanContainmentJoin's job, which bounds hot grams
    * with the containment prefix filter. */
  def spanContaminationPairs(train: DataFrame, eval: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 8, algo: String = AlgoXx64,
                             minShared: Int = 1): DataFrame = {
    val t = train.select(col(idCol).as("train_id"),
      explode(shingleHashes(col(textCol), n, algo)).as("h"))
    val e = eval.select(col(idCol).as("eval_id"),
      explode(shingleHashes(col(textCol), n, algo)).as("h"))
    e.join(t, Seq("h"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared_spans"))
      .where(col("shared_spans") >= minShared)
  }

  /**
   * SUBSTRING-level exact dedup (the ExactSubstr recipe of Lee et al.
   * 2022, "Deduplicating Training Data Makes Language Models Better"):
   * find, per document, the MAXIMAL token spans every k-gram of which
   * occurs ≥ `minDf` times corpus-wide. Doc- and near-dup passes keep
   * whole documents; this is the pass that catches boilerplate,
   * licenses, and quoted passages duplicated INSIDE otherwise-unique
   * documents. The reference implementation builds a corpus suffix
   * array; the Spark-native shape is the positional k-gram postings
   * table — one corpus pass for the grams (positional ShingleHash
   * kernel), one shuffle on the gram hash (a window carrying the df
   * count on each posting row — no join-back, r8),
   * one per-doc window for the gaps-and-islands merge
   * of consecutive duplicated positions. No pairwise joins anywhere;
   * a gram shared by d docs costs d posting rows.
   *
   * A run of `g` consecutive duplicated gram positions starting at
   * `span_start` covers `span_tokens` = g + k − 1 tokens (0-based token
   * positions [span_start, span_start + span_tokens)). Spans shorter
   * than `minSpanTokens` are dropped — Lee et al. use 50; the default
   * keeps every duplicated k-gram (minSpanTokens = k). Documents with
   * fewer than k tokens carry no k-gram span and are absent (the
   * kernel would emit a single whole-doc gram for them, which has no
   * positional span semantics).
   *
   * `keepFirst = true` exempts each gram's globally FIRST occurrence
   * (min (id, pos)) — "remove all but one copy"; the default marks
   * every occurrence ("drop duplicated text everywhere").
   */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, minSpanTokens: Int = 0,
                        minDf: Int = 2, keepFirst: Boolean = false,
                        algo: String = AlgoXx64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df
      .where(size(tokens(col(textCol))) >= k)
      .select(col(idCol).as("id"),
        posexplode(graft.plans.VectorKernels.shingleHash(
          col(textCol), k, algoIsMd5(algo), distinct = false)))
      .select(col("id"), col("pos"), col("col").as("h"))
    // the gram df (and keepFirst's global first occurrence) ride ONE
    // window over the gram-hash partitioning instead of a groupBy +
    // join-back (guide §2.4 — both legs shared the h key, so the second
    // full-postings shuffle bought nothing; r8). Single consumer now, so
    // the checkpoint goes too: the positional kernel runs once, feeding
    // the window shuffle directly.
    val wH = Window.partitionBy(col("h"))
    val dup0 = (if (keepFirst)
        grams.withColumn("hdf", count(lit(1)).over(wH))
          .withColumn("first", min(struct(col("id"), col("pos"))).over(wH))
      else grams.withColumn("hdf", count(lit(1)).over(wH)))
      .where(col("hdf") >= minDf)
    val dup =
      if (keepFirst)
        dup0.where(!(col("first.id") === col("id") &&
          col("first.pos") === col("pos")))
      else dup0
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dup.select(col("id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("span_grams"))
      .select(col("id"), col("span_start"), col("span_grams"),
        (col("span_grams") + lit(k - 1)).as("span_tokens"))
      .where(col("span_tokens") >= math.max(minSpanTokens, k))
  }

  /** Apply substring dedup: rebuild each document's text with every
    * token covered by a qualifying duplicated span REMOVED (single-space
    * rejoin — substring dedup is lossy on original whitespace by
    * design). Output (id, kept_tokens, removed_tokens, text_clean) for
    * every doc with ≥ 1 token; a doc whose every token is covered keeps
    * an empty string. Coverage expansion is span-sized (sequence
    * explode), the rebuild one per-doc sorted aggregation — the only
    * corpus-scale shuffles are the gram-df count and the final group
    * by id. Span MATCHING is case-folded (the gram hashes lowercase,
    * as every dedup path here does); the REBUILT text preserves the
    * original casing — token positions align because lowercasing never
    * changes whitespace boundaries. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minSpanTokens: Int = 0,
                    minDf: Int = 2, keepFirst: Boolean = false,
                    algo: String = AlgoXx64): DataFrame = {
    val covered = substringDupSpans(df, idCol, textCol, k, minSpanTokens,
      minDf, keepFirst, algo)
      .select(col("id"), explode(sequence(col("span_start"),
        col("span_start") + col("span_tokens").cast("int") - 1)).as("pos"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(trim(col(textCol)), s"[$WsClass]+")))
      .where(length(col("col")) > 0)
    // rebuild via ONE ordered per-doc window (collect_list over the
    // pos-ordered unbounded frame preserves order) — NOT the
    // struct-sort + transform() formulation: interpreted HOFs cost
    // ~µs per array element and this pass touches every kept token in
    // the corpus (the CLAUDE.md hot-path ban)
    import org.apache.spark.sql.expressions.Window
    val wOrder = Window.partitionBy(col("id")).orderBy(col("pos"))
    val wFull = wOrder.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    toks.join(covered.withColumn("__cov", lit(1)), Seq("id", "pos"), "left")
      .withColumn("kept_tokens",
        sum(when(col("__cov").isNull, 1L).otherwise(0L)).over(wFull))
      .withColumn("removed_tokens",
        sum(when(col("__cov").isNull, 0L).otherwise(1L)).over(wFull))
      .withColumn("text_clean", concat_ws(" ",
        collect_list(when(col("__cov").isNull, col("col"))).over(wFull)))
      .withColumn("__rn", row_number().over(wOrder))
      .where(col("__rn") === 1)
      .select(col("id"), col("kept_tokens"), col("removed_tokens"),
        col("text_clean"))
  }

  /**
   * Within-corpus CONTAINMENT join (quote / partial-copy detection):
   * pairs whose shared distinct n-gram spans cover ≥ `minContainment`
   * of the SMALLER document's span set. Jaccard misses these by design
   * (a 500-span quote inside a 10,000-span page is J ≈ 0.05 but
   * containment 1.0 of the quote); this is the symmetric in-corpus
   * variant of the decontamination check. Output (id_a, id_b,
   * shared_spans, containment) with id_a < id_b, containment rounded
   * to 4.
   *
   * Candidate generation (`containmentCandidates`) is the containment
   * form of q53's prefix filter (VERDICT r7 #1: the bare span-hash
   * self-join minted d(d−1)/2 pair rows per gram of document frequency
   * d, and a web-scale license/nav 8-gram has df ~10^6): containment
   * ≥ c over the smaller set S (|S| = m) means |A∩B| ≥ c·m, so S's
   * rarest-first prefix at c holds a shared span. Which side of a pair
   * is smaller isn't known at generation time, so every doc's prefix
   * joins the FULL postings of the other side (both orientations): the
   * smaller side contributes the prefix row, the larger side the full
   * posting row — no false negatives. A gram of df d with p prefix
   * occurrences mints p·d candidate rows instead of d²; a corpus-wide
   * boilerplate gram ranks LAST and sits in almost no doc's prefix, so
   * p ≈ 0 exactly where d explodes (pinned by the planted hot-gram test
   * in SubstringDedupSpec).
   *
   * The verify admits a pair at round(|A∩B|/m, 4) ≥ c, i.e. at
   * |A∩B|/m ≥ c − 5e-5, so the prefix runs at c' = (c − 5e-5)·(1 − 1e-9):
   * the rounding slack, then q53's 1e-9 slack toward admission (a pair at
   * 0.499975, which rounds to 0.5, is pinned in SubstringDedupSpec).
   * Verify: `pairOverlap` with containment = inter / min(n_a, n_b).
   */
  def spanContainmentJoin(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minContainment: Double = 0.5,
                          algo: String = AlgoXx64): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment=$minContainment outside (0, 1]: at 0 every pair " +
        "qualifies by definition and no postings join can produce it")
    val sh = shingleTable(df, idCol, textCol, algo, n)
    val (spans, sizes) = postingsAndSizes(sh)
    pairOverlap(containmentCandidates(spans, sizes, minContainment), sh, sh)
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"), 4))
      .where(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("inter").as("shared_spans"),
        col("containment"))
  }

  /** The containment-prefix candidate generator (see spanContainmentJoin
    * scaladoc): (id_a, id_b) distinct, id_a < id_b, from each doc's
    * rarest-first prefix at the rounding-slacked threshold joined against
    * the FULL postings (id, elem). private[graft] so the spec can pin the
    * candidate-count collapse on a planted hot-gram corpus directly. */
  private[graft] def containmentCandidates(spans: DataFrame, sizes: DataFrame,
                                           minContainment: Double): DataFrame = {
    // one consumer: not materialized
    val prefix = rarestFirstPrefix(spans, sizes,
      (minContainment - 5e-5) * (1.0 - 1e-9))
    // prefix × full postings, both orientations in one symmetric join;
    // candidates carry ids only
    prefix.select(col("elem"), col("id").as("pid"))
      .join(spans.select(col("elem"), col("id").as("oid")), Seq("elem"))
      .where(col("pid") =!= col("oid"))
      .select(least(col("pid"), col("oid")).as("id_a"),
        greatest(col("pid"), col("oid")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  // ---- duplicate clusters (connected components) -----------------------

  /**
   * Collapse near-dup PAIRS into duplicate CLUSTERS: connected components,
   * labelled by the min id under Spark's ordering of the id type.
   *
   * The edges (both directions of every pair, from ONE scan of the pair
   * source) are checkpointed once; that checkpoint job also observes the
   * pairs' id bytes (strings by octet_length, fixed-width types by their
   * default size), so sizing the graph costs no pass. The plan follows
   * the observed size:
   *  - at or below the session's `spark.sql.autoBroadcastJoinThreshold`
   *    (the bound Spark already trusts to ship a relation to every
   *    executor), the edges are collected and union-find runs on the
   *    driver: one job, no rounds, always converges. The result is a
   *    local relation. A negative threshold disables this branch.
   *  - above it, min-label propagation with pointer doubling runs as
   *    distributed rounds (`distributedComponents`); it fails loudly if
   *    `maxIter` rounds do not converge.
   *
   * Input: pairs (id_a, id_b); output: (id, component) with component =
   * min id in the node's component.
   */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    // No distinct on the edges: min-label propagation and union-find are
    // both duplicate-edge-insensitive, so the dedup shuffle bought
    // nothing (r8).
    // edges are STATIC across rounds but re-joined every round on dst:
    // hash-partition + sort them by dst BEFORE the checkpoint
    // (Dataset.checkpoint preserves outputPartitioning/outputOrdering
    // through LogicalRDD), so in the SORT-MERGE regime each round's
    // edges⋈labels join needs neither an exchange nor a sort on the
    // edges side (r8). Partition count from the session's
    // shuffle.partitions: scale-adaptive, never a local constant.
    val conf = pairs.sparkSession.sessionState.conf
    val idType = pairs.schema("id_a").dataType
    val idBytes = idType match {
      case _: StringType => octet_length(col("src")).cast("long")
      case t => lit(t.defaultSize.toLong)
    }
    val size = new Observation("cc_edges")
    val edges = Mat.corpus(
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .observe(size, count(lit(1)).as("n"),
          coalesce(sum(idBytes), lit(0L)).as("bytes"))
        .repartition(conf.numShufflePartitions, col("dst"))
        .sortWithinPartitions(col("dst")))
    // every pair contributes its two ids once as a src: the sum is the
    // pair list's id bytes
    val observed = size.get
    if (driverKeyed(idType) &&
        observed("bytes").asInstanceOf[Long] <= conf.autoBroadcastJoinThreshold)
      driverComponents(edges, idType)
    else distributedComponents(edges, observed("n").asInstanceOf[Long], maxIter)
  }

  /** Id types whose catalyst values are JVM-equal exactly when Spark
    * groups them together, so union-find can key a HashMap by them (not
    * binary: arrays compare by reference; not floats: NaN ≠ NaN on the
    * JVM; not collations without binary equality). Any other id type
    * takes the distributed rounds at every size. */
  private def driverKeyed(t: DataType): Boolean = t match {
    case StringType => true // the default UTF8_BINARY collation only
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Union-find over the collected edges; every root is its component's
    * min under Spark's ordering of `idType` (for strings UTF8String byte
    * order, which differs from String.compareTo on non-BMP code points),
    * because a union always hangs the larger root under the smaller. */
  private def driverComponents(edges: DataFrame, idType: DataType): DataFrame = {
    val ord = PhysicalDataType.ordering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var a = x
      while (parent(a) != a) { val g = parent(parent(a)); parent(a) = g; a = g }
      a
    }
    // one direction suffices; `<=` keeps self-pairs
    edges.where(col("src") <= col("dst")).collect().foreach { r =>
      val a = toCatalyst(r.get(0))
      val b = toCatalyst(r.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val rows = parent.keys.toVector.map(k => Row(toScala(k), toScala(find(k))))
    edges.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(StructField("id", idType), StructField("component", idType))))
  }

  /**
   * Min-label propagation WITH pointer doubling. Each round every node
   * (a) adopts the smallest label among itself and its neighbors, then
   * (b) shortcuts to its label's own label (labels are always node ids, so
   * the hop is an equi-join). Doubling makes convergence O(log diameter)
   * rounds instead of O(diameter) — a 1000-node duplicate chain converges
   * in ~10 rounds, not 1000. Each round is EXACTLY two bounded equi-join
   * jobs over eagerly-checkpointed inputs: the convergence probe rides
   * the shortcut job as an observed metric (CollectMetrics) instead of a
   * third scan — at scale, driver cost is rounds × jobs, so the probe
   * must not be its own job. The init aggregation already applies one
   * propagation step (label₀ = min(id, min neighbor) — the same shuffle a
   * distinct-nodes init pays), so the loop starts a round ahead (r8).
   * Throws IllegalStateException when round `maxIter` still changed a
   * label: unconverged labels would silently split clusters.
   */
  private def distributedComponents(edges: DataFrame, nEdges: Long,
                                    maxIter: Int): DataFrame = {
    var labels = Mat.corpus(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nbmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nbmin")).as("component")))
    var iter = 0
    var changed = -1L
    while (iter < maxIter && changed != 0L) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2").withColumnRenamed("component", "nc"),
          col("dst") === col("dst2"))
        .groupBy(col("src"))
        .agg(min(col("nc")).as("neighbor_component"))
      val prop = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(labels("id"),
          labels("component").as("old_component"),
          least(labels("component"),
            coalesce(col("neighbor_component"), labels("component")))
            .as("component"))
      val propM = Mat.corpus(prop)
      // pointer doubling: component ← label(component); labels only ever
      // decrease (label(x) <= x invariant), so changed ⟺ new < old.
      // The changed-count rides the checkpoint job as an observed metric
      // (fresh Observation per round — listener is per-query).
      // (r8 note: fusing the two per-round checkpoints into one was
      // tried and REVERTED — ReuseExchange does not fire across the
      // self-join's two prop references (0 reused of 9 exchanges
      // measured), so the fusion re-ran every join twice.)
      val obs = new Observation(s"cc_changed_$iter")
      val shortcut = Mat.corpus(propM.alias("p")
        .join(propM.select(col("id").as("cid"), col("component").as("cc")).alias("c"),
          col("p.component") === col("c.cid"), "left")
        .select(col("p.id").as("id"),
          coalesce(col("c.cc"), col("p.component")).as("component"),
          (coalesce(col("c.cc"), col("p.component")) < col("p.old_component"))
            .as("changed"))
        .observe(obs, coalesce(sum(col("changed").cast("long")), lit(0L)).as("n"))
        .select(col("id"), col("component")))
      // metric is available once the eager checkpoint job finishes
      changed = obs.get("n").asInstanceOf[Long]
      labels = shortcut
      iter += 1
    }
    if (changed != 0L)
      throw new IllegalStateException(s"duplicateClusters did not converge " +
        s"within maxIter=$maxIter rounds over $nEdges edges: the last round " +
        s"still changed $changed labels")
    labels
  }

  // ---- embedding cosine near-dup --------------------------------------

  /** Cosine similarity of two float-array columns in double precision.
    * Native codegen kernel; bit-identical to the three-fold
    * aggregate/zip_with formulation (KernelParitySpec). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.VectorKernels.cosine(a, b)

  /** Deterministic hyperplane: component c of plane p in table `table`,
    * uniform in [-1,1]. Public so oracle SQL can embed the exact doubles
    * (Double.toString round-trips, so DuckDB parses identical values). */
  def hyperplane(table: Int, p: Int, dim: Int = 64): Seq[Double] =
    (0 until dim).map(c => mix64(table * 1009L + p * 131L + c).toDouble / Long.MaxValue)

  /**
   * Embedding near-dup via random-hyperplane LSH: `planes` sign bits per
   * table, `tables` tables; docs sharing a full sign pattern in any table
   * are candidates; verified by exact cosine.
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.95,
                       planes: Int = 12, tables: Int = 4): DataFrame = {
    val sigCols = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val dot = graft.plans.VectorKernels.dotConst(col("v"), hyperplane(t, p))
        when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce((x, y) => x.bitwiseOR(y)).as(s"sig_$t")
    }

    // ids-only pair join; vectors re-joined by id for the cosine verify
    // (same payload discipline as minhashLsh — at web scale the candidate
    // shuffle must not carry the embedding arrays)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withSig = base.select((Seq(col("id")) ++ sigCols): _*)
    // materialized ONCE: the a/b self-join branches are separate scans,
    // so an unmaterialized signature table runs the planes×tables dot
    // kernels TWICE over the corpus (r8)
    val exploded = Mat.corpus(withSig.select(col("id"),
      posexplode(array((0 until tables).map(t => col(s"sig_$t")): _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig"))
    val a = exploded.select(col("t"), col("sig"), col("id").as("id_a"))
    val b = exploded.select(col("t"), col("sig"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("t", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }
}
