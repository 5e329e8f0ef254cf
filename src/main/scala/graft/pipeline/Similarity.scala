package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`). Two paths:
 *
 *  - bruteKnn: exact top-k by cosine — broadcast the (small) query set,
 *    one pass over the corpus, per-query top-k via window rank. The
 *    baseline and the verifier for the ANN path. Scales linearly in corpus
 *    size with NO shuffle of the corpus (queries are broadcast).
 *
 *  - ivfKnn: IVF-style two-stage search — k-means-free variant using
 *    deterministic hyperplane buckets (same LSH family as
 *    Dedup.embeddingNearDup): probe only the query's bucket (+multi-probe
 *    tables), so the corpus join touches a 1/2^planes fraction per table.
 *    At 10^12 rows this is the path: bucket ids partition the corpus, and
 *    the search is an equi-join on bucket id instead of a cross join.
 */
object Similarity {

  import Dedup.cosine

  /** Exact brute-force cosine top-k: queries × corpus via broadcast. */
  def bruteKnn(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, qidCol: String,
               k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q))
      .withColumn("cos", round(cosine(col("v"), col("qv")), 6))
      .where(col("id") =!= col("qid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("cos"))
  }

  /** Deterministic IVF hyperplane (distinct seed family from
    * Dedup.hyperplane). Public so oracle SQL can embed the exact doubles. */
  def ivfPlane(table: Int, p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(c => Dedup.mix64(table * 7919L + p * 131L + c).toDouble / Long.MaxValue)

  /** Hyperplane bucket id (one table); native codegen dot kernel. */
  private def bucketSig(vec: Column, table: Int, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = graft.plans.VectorKernels.dotConst(vec, ivfPlane(table, p, dim))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  // ---- persistable IVF index (index once, query many) -------------------

  /**
   * A trained IVF index: the coarse quantizer (`centroids`, a tiny
   * nlist × dim driver-side model) plus the inverted lists (`lists`,
   * an (id, cl) DataFrame — ids only; vectors stay in the corpus table
   * and are re-joined by id at re-rank). This is the artifact a 100 TB
   * deployment builds ONCE per corpus snapshot and queries many times:
   * `save` persists both parts (lists parquet is partitioned by `cl`,
   * so a probe's list scan partition-prunes), `load` restores them
   * without touching the corpus.
   */
  final case class IvfIndex(centroids: Array[Array[Double]], lists: DataFrame)

  /** nearest-centroid assignment as codegen'd expressions over a small
    * centroid table (normalized dot = cosine since centroids are unit) */
  private def simsCol(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.map(ct => graft.plans.VectorKernels.dotConst(v, ct.toSeq)): _*)
  /** List-assignment expression; private[graft] so the index spec can pin
    * append ≡ assign-the-union under frozen centroids. */
  private[graft] def assignCol(v: Column, cents: Array[Array[Double]]): Column = {
    val sims = simsCol(v, cents)
    // first index of the max similarity (deterministic tie-break)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }
  private def normalize(vec: Array[Double]): Array[Double] = {
    val n = math.sqrt(vec.map(x => x * x).sum)
    if (n == 0) vec else vec.map(_ / n)
  }

  /** Train the coarse quantizer: deterministic init (the nlist lowest-id
    * vectors, unit-normalized), then `iters` Lloyd rounds — assign
    * (distributed, codegen'd) → per-(list, dim) mean → re-normalized
    * centroids (tiny nlist × dim driver-side update, never the corpus). */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int): Array[Array[Double]] = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    var centroids: Array[Array[Double]] = c.orderBy(col("id")).limit(nlist)
      .select(col("v")).collect()
      .map(r => normalize(r.getSeq[Float](0).toArray.map(_.toDouble)))
    var it = 0
    while (it < iters) {
      val assigned = c.select(assignCol(col("v"), centroids).as("cl"),
        posexplode(col("v")))
        .groupBy(col("cl"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val dim = centroids.head.length
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val seen = new Array[Boolean](nlist)
      assigned.foreach { r =>
        val cl = r.getInt(0)
        sums(cl)(r.getInt(1)) = r.getDouble(2)
        seen(cl) = true
      }
      centroids = centroids.indices.map { i =>
        if (seen(i)) normalize(sums(i)) else centroids(i) // empty list keeps its centroid
      }.toArray
      it += 1
    }
    centroids
  }

  /** Build the full index: train the quantizer, assign every corpus row
    * to its nearest list (one distributed pass, ids only). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, iters: Int = 3): IvfIndex = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nlist, iters)
    IvfIndex(centroids, c.select(col("id"), assignCol(col("v"), centroids).as("cl")))
  }

  /** Persist: centroids (tiny) + inverted lists (partitioned by list id,
    * so nprobe probing partition-prunes the candidate scan). */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cidx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.lists.write.mode("overwrite")
      .partitionBy("cl").parquet(s"$path/lists")
  }

  /**
   * Append one ingest's vectors to a saved IVF index — the vector-side
   * analogue of Dedup.appendToMinHashIndex: new rows are assigned to
   * their nearest EXISTING list (the quantizer is frozen — standard IVF
   * ingest; retraining the centroids is an offline rebuild, not an
   * append) and land inside the per-list partition directories, so a
   * later probe still partition-prunes. Pinned by SimilarityIndexSpec:
   * append(save(build(A)), B) ≡ index with A's centroids over A ∪ B.
   */
  def appendToIvfIndex(spark: SparkSession, path: String,
                       batch: DataFrame, idCol: String,
                       vecCol: String): Unit = {
    val centroids = loadCentroids(spark, path)
    // seen-id anti-join, same discipline as the MinHash ingest loop: a
    // replayed (crashed-and-retried) append or a re-ingested id appends
    // NOTHING — without it the same (id, cl) rows would duplicate in the
    // lists forever, and ivfSearch would return duplicate candidates.
    // Updating an id's vector is a rebuild/compaction, not an append.
    val seen = spark.read.parquet(s"$path/lists").select(col("id")).distinct()
    batch.select(col(idCol).as("id"),
        assignCol(col(vecCol), centroids).as("cl"))
      .join(seen, Seq("id"), "left_anti")
      .write.mode("append").partitionBy("cl").parquet(s"$path/lists")
  }

  private def loadCentroids(spark: SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy(col("cidx")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Restore a saved index; no corpus access, no training. A second (and
    * every later) query batch starts here. */
  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val centroids = loadCentroids(spark, path)
    val lists = spark.read.parquet(s"$path/lists")
      .select(col("id"), col("cl").cast("int").as("cl"))
    IvfIndex(centroids, lists)
  }

  /**
   * Search a (built or loaded) IVF index: queries probe their `nprobe`
   * nearest lists; candidates carry IDS ONLY; exact cosine re-rank joins
   * the corpus vectors back by id (same discipline as Dedup.minhashLsh —
   * the candidate shuffle payload is bytes, not ×nprobe-duplicated
   * vectors).
   */
  def ivfSearch(index: IvfIndex, corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, qidCol: String,
                k: Int = 10, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = index.centroids
    val nlist = centroids.length
    val lists = index.lists
    val qbase = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    val probes = qbase
      .withColumn("sims", simsCol(col("qv"), centroids))
      // nprobe highest-sim list ids: sort (sim, idx) pairs descending
      .withColumn("probes", slice(transform(
        reverse(array_sort(zip_with(col("sims"),
          sequence(lit(0), lit(nlist - 1)), (s, i) => struct(s.as("s"), i.as("i"))))),
        p => p.getField("i")), 1, nprobe))
      .select(col("qid"), explode(col("probes")).as("cl"))
    val candIds = lists.join(probes, Seq("cl"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .dropDuplicates("qid", "id")
    val cands = candIds
      .join(c, Seq("id"))                // corpus vectors once, by id
      .join(broadcast(qbase), Seq("qid")) // query set is small
      .withColumn("cos", round(Dedup.cosine(col("v"), col("qv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("cos"))
  }

  /**
   * True IVF with a LEARNED coarse quantizer — the one-shot convenience
   * shape (build + search in one call). The quantizer is a tiny model
   * (nlist × dim doubles) that lives on the driver and broadcasts into
   * the assignment expressions (nlist codegen'd dot products per row, no
   * UDF, no cross join). At 10^12 rows the corpus assignment is one
   * pass, the inverted lists are the shuffle partitioning, and a query
   * touches ~nprobe/nlist of the data. For the index-once/query-many
   * deployment shape use buildIvfIndex + saveIvfIndex / loadIvfIndex +
   * ivfSearch directly.
   */
  def ivfKmeansKnn(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, qidCol: String,
                   k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                   iters: Int = 3): DataFrame =
    ivfSearch(buildIvfIndex(corpus, idCol, vecCol, nlist, iters),
      corpus, queries, idCol, vecCol, qidCol, k, nprobe)

  /**
   * SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication"): cluster the embedding space with the k-means coarse
   * quantizer, compare pairs only WITHIN a cluster, and for every pair
   * with cosine ≥ `eps` keep the member closer to its cluster centroid —
   * the embedding-level dedup a multimodal/LLM corpus runs that MinHash
   * cannot express (paraphrases share no shingles).
   *
   * Scale shape: the quadratic step is per-cluster (SemDeDup's own
   * design premise — nlist is chosen so clusters stay small); the
   * pair join keys on the cluster id and carries IDS ONLY (vectors
   * re-join by id for the cosine verify — the Dedup candidate-shuffle
   * discipline); assignment and centroid affinity are one codegen pass.
   *
   * Determinism/oracle shape: centroid affinity (`cdot` — dot product
   * with the unit-normalized centroid of the assigned cluster) is
   * rounded to 6 decimals BEFORE the keep/drop comparison, so the
   * comparison is reproducible cross-engine (raw float compares of
   * distributed dot products are ulp-fragile); the drop rule is
   * "x is dropped iff some within-cluster neighbor y with
   * cos(x,y) ≥ eps has (cdot_y, -id_y) > (cdot_x, -id_x)" — a strict
   * total order, so every near-dup group keeps at least its best
   * member. With iters=0 the quantizer is the deterministic init
   * (nlist lowest-id vectors, unit-normalized) — the q55 oracle's gate
   * shape, exactly the q28 precedent; iters>0 is pinned by the planted
   * paraphrase-cluster test in PipelineOpsSpec.
   *
   * Output: (id, cl, cdot, dropped) over the full corpus.
   */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               eps: Double = 0.95, nlist: Int = 16,
               iters: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nlist, iters)
    val assigned = Mat.corpus(c.select(col("id"), col("v"),
        assignCol(col("v"), centroids).as("cl"))
      .withColumn("cdot", round(element_at(
        simsCol(col("v"), centroids), col("cl") + 1), 6))
      .select(col("id"), col("cl"), col("cdot")))
    // ids-only within-cluster candidate pairs; vectors re-join by id
    val slim = assigned.select(col("cl"), col("id"))
    val pairs = slim.select(col("cl"), col("id").as("id_a"))
      .join(slim.select(col("cl"), col("id").as("id_b")), Seq("cl"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val sim = pairs
      .join(c.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(c.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", graft.plans.VectorKernels.cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= eps)
      .select(col("id_a"), col("id_b"))
    val aff = assigned.select(col("id"), col("cdot"))
    val dropped = sim.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(sim.select(col("id_b").as("id"), col("id_a").as("nb")))
      .join(aff, Seq("id"))
      .join(aff.select(col("id").as("nb"), col("cdot").as("nb_cdot")), Seq("nb"))
      .where(col("nb_cdot") > col("cdot") ||
        (col("nb_cdot") === col("cdot") && col("nb") < col("id")))
      .select(col("id")).distinct()
    assigned
      .join(dropped.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cl"), col("cdot"),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  // ---- hyperplane-LSH variant (k-means-free) ----------------------------

  /** Hyperplane bucket table (id, t, bucket) — ids only, the vector is
    * DROPPED after bucketing (×tables duplication of a 64-float array
    * would otherwise dominate shuffle volume at 10^9+ rows). This table
    * IS the persistable LSH index: plain parquet, see saveLshIndex. */
  def buildLshBuckets(df: DataFrame, idCol: String, vecCol: String,
                      planes: Int = 8, tables: Int = 4, dim: Int = 64): DataFrame = {
    val sigs = (0 until tables).map(t => bucketSig(col(vecCol), t, planes, dim).as(s"sig_$t"))
    df.select((Seq(col(idCol).as("id")) ++ sigs): _*)
      .select(col("id"),
        posexplode(array((0 until tables).map(t => col(s"sig_$t")): _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
  }

  /** Persist the LSH bucket table partitioned by (t, bucket): a query's
    * bucket probe partition-prunes the scan. */
  def saveLshIndex(buckets: DataFrame, path: String): Unit =
    buckets.write.mode("overwrite").partitionBy("t", "bucket").parquet(path)

  def loadLshIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("id"), col("t").cast("int").as("t"),
        col("bucket").cast("bigint").as("bucket"))

  /** Search a (built or loaded) LSH bucket index: candidates = corpus
    * rows sharing a bucket with the query in ANY table; ids-only
    * candidate join; exact cosine re-rank joins vectors back by id. */
  def lshSearch(corpusBuckets: DataFrame, corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, qidCol: String,
                k: Int = 10, planes: Int = 8, tables: Int = 4,
                dim: Int = 64): DataFrame = {
    val cbase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val qbase = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    val c = corpusBuckets.select(col("id"), col("t"), col("bucket"))
    val q = buildLshBuckets(qbase, "qid", "qv", planes, tables, dim)
      .withColumnRenamed("id", "qid")
    val candIds = c.join(q, Seq("t", "bucket"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .dropDuplicates("qid", "id")
    val cands = candIds
      .join(cbase, Seq("id"))
      .join(broadcast(qbase), Seq("qid"))
      .withColumn("cos", round(cosine(col("v"), col("qv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("cos"))
  }

  // ---- product quantization (compressed-domain ANN) ---------------------

  /**
   * Train PQ codebooks: the vector space splits into `m` subspaces of
   * dim/m dimensions; each subspace gets `ksub` centroids. iters=0 uses
   * the deterministic init (the ksub lowest-id vectors' subvectors) —
   * fully reproducible cross-engine, the oracled gate shape (same
   * convention as ivfKmeansKnn). iters>0 runs per-subspace Lloyd rounds
   * (distributed assign → per-(subspace, code, dim) mean — a tiny
   * m × ksub × dsub driver-side model update), pinned by the planted
   * recall test instead (float averaging is not cross-engine
   * reproducible).
   *
   * Returns codebooks(j)(k) = the k-th centroid of subspace j.
   */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, ksub: Int = 16,
                       iters: Int = 0): Array[Array[Array[Double]]] = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val init = c.orderBy(col("id")).limit(ksub)
      .select(col("v")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val dim = init.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => init.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    var it = 0
    while (it < iters) {
      // one distributed pass assigns every (row, subspace) pair; the
      // means update the tiny model on the driver
      val assigned = c.select(explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            pqCodeCol(col("v"), codebooks, j, dsub).as("code"),
            slice(col("v"), j * dsub + 1, dsub).as("sub"))
        }: _*)).as("a"))
        .select(col("a.j"), col("a.code"), posexplode(col("a.sub")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mean"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      assigned.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      codebooks = next
      it += 1
    }
    codebooks
  }

  /** argmax-dot code of subspace j (first-index tie-break, as q28). */
  private def pqCodeCol(v: Column, cb: Array[Array[Array[Double]]],
                        j: Int, dsub: Int): Column = {
    val sub = slice(v, j * dsub + 1, dsub)
    val dots = array(cb(j).map(c =>
      graft.plans.VectorKernels.dotConst(sub, c.toSeq)): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Encode every vector to m small codes — the 32× memory artifact
    * (a 64-float vector becomes 8 codes) a 10^12-row deployment stores
    * and scans instead of raw vectors. Codes compute as codegen'd dot
    * products; the vector column is DROPPED from the result. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    corpus.select(col(idCol).as("id"),
      array((0 until m).map(j =>
        pqCodeCol(col(vecCol), codebooks, j, dsub)): _*).as("codes"))
  }

  /** Persist PQ codebooks (a tiny m × ksub × dsub model) as (j, k, c)
    * parquet rows — with the encoded codes table this is the complete
    * compressed index an "encode once, query many" deployment stores. */
  def savePqCodebooks(codebooks: Array[Array[Array[Double]]],
                      spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks(0).length
    // declared shape rides on every row so a truncated file can't
    // silently shrink the index at load time
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, k) => (m, ksub, j, k, c.toSeq) }
    }.toSeq.toDF("m", "ksub", "j", "k", "c")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val df = spark.read.parquet(path)
    // every row must agree on the declared shape — appended rows from a
    // differently-shaped codebook would otherwise surface as an opaque
    // ArrayIndexOutOfBoundsException below (the sketch tables' check)
    val Seq(m, ksub) = Sketch.readParams(df, path, Seq("m", "ksub"))
    val rows = df.select(col("j"), col("k"), col("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // validate against the DECLARED shape (max-present indices would let
    // uniform truncation pass) — fail HERE with a clear message, not
    // with an opaque NPE inside a later encode/search job
    val out = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (j, k, c) => out(j)(k) = c }
    for (j <- 0 until m; k <- 0 until ksub)
      require(out(j)(k) != null,
        s"codebook at $path is not dense: missing (j=$j, k=$k) of ${m}x$ksub")
    out
  }

  /**
   * ADC search (asymmetric distance computation): each query builds its
   * m × ksub dot-product table against the codebooks as expressions; a
   * code vector scores as the sum of its m table entries — the scan
   * touches ONLY the compressed codes (broadcast queries, no corpus
   * vector access). Top-k by ADC score; callers wanting exact results
   * re-rank the top candidates by true cosine via an id re-join (the
   * standard PQ + re-rank pipeline).
   */
  def pqAdcSearch(encoded: DataFrame, queries: DataFrame,
                  qidCol: String, vecCol: String,
                  codebooks: Array[Array[Array[Double]]],
                  k: Int = 10): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val qbase = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
    // ADC's whole point: the m × ksub query-vs-codebook dot TABLE is
    // computed ONCE PER QUERY — on the query side, BEFORE the broadcast
    // join — and each code row scores as m table lookups. The pre-r8
    // formulation built the table expression on the joined row, so every
    // (corpus row × query) pair recomputed all m·ksub·dsub multiplies;
    // identical values (same dotConst over the same qv), ~m·ksub·dsub/m
    // = ksub·dsub times less per-pair work.
    val qTables = qbase.select(
      Seq(col("qid")) ++ (0 until m).map { j =>
        array(codebooks(j).map(c =>
          graft.plans.VectorKernels.dotConst(
            slice(col("qv"), j * dsub + 1, dsub), c.toSeq)): _*).as(s"__qt_$j")
      }: _*)
    val adc = (0 until m).map { j =>
      element_at(col(s"__qt_$j"), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = encoded.join(broadcast(qTables))
      .where(col("id") =!= col("qid"))
      .withColumn("adc", round(adc, 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"))
  }

  /**
   * LSH/IVF approximate top-k, one-shot shape: candidates = corpus rows
   * sharing a bucket with the query in ANY of `tables` tables; exact
   * cosine re-rank on the candidate set only. For index-once/query-many
   * use buildLshBuckets + saveLshIndex / loadLshIndex + lshSearch.
   */
  def ivfKnn(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, qidCol: String,
             k: Int = 10, planes: Int = 8, tables: Int = 4,
             dim: Int = 64): DataFrame =
    lshSearch(
      buildLshBuckets(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        "id", "v", planes, tables, dim),
      corpus, queries, idCol, vecCol, qidCol, k, planes, tables, dim)
}
