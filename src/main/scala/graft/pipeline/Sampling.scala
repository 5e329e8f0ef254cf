package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Deterministic sampling for training-data curation. Both samplers are
 * pure functions of the row's id — no RNG state, so a re-run (or a
 * resumed partition) selects the identical sample, and an oracle engine
 * can reproduce the selection exactly.
 *
 *  - bernoulli: keep a row iff hash(id) mod M < fraction·M. A pure
 *    filter — no shuffle, no state, scales to any corpus size; the
 *    filter sits directly on the scan so column pruning and predicate
 *    pushdown are unaffected.
 *  - stratifiedQuota: n rows per stratum (e.g. per language/source),
 *    chosen by hash order within the stratum. Expressed as a rank-filter
 *    window, which Spark ≥3.5 executes with WindowGroupLimit: a partial
 *    top-n runs BEFORE the stratum shuffle, so a billion-row stratum
 *    ships only n·partitions candidate rows — not the stratum — through
 *    the exchange.
 */
object Sampling {

  private val Mod = 1000000L

  /** Deterministic Bernoulli sample: pure filter, no shuffle.
    * `hashFn` defaults to the oracle-replicable md5-60bit hash of the id
    * rendered as a string (see Dedup.md5Hash60); pass xxhash64-based for
    * speed when cross-engine reproducibility is not needed. */
  def bernoulli(df: DataFrame, idCol: String, fraction: Double,
                hashFn: Column => Column = c => Dedup.md5Hash60(c)): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction=$fraction")
    df.where(pmod(hashFn(col(idCol).cast("string")), lit(Mod))
      < lit((fraction * Mod).toLong))
  }

  /** Deterministic stratified quota: `n` rows per distinct value of
    * `strataCols`, selected by hash order (ties broken by id). Emits the
    * input columns plus `sample_rank` (1-based within the stratum). */
  def stratifiedQuota(df: DataFrame, strataCols: Seq[String], idCol: String,
                      n: Int,
                      hashFn: Column => Column = c => Dedup.md5Hash60(c)): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashFn(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= n)
  }

  /**
   * Deterministic WEIGHTED sampling without replacement (Efraimidis–
   * Spirakis A-ES): each row gets key = u^(1/weight) with u a
   * deterministic hash-uniform in (0, 1]; the n largest keys are the
   * sample. A row with twice the weight is twice as likely to be drawn —
   * the quality-weighted curation draw (sample by quality score, docs
   * above a bar proportionally favored) an LLM-data pipeline runs after
   * scoring. Same plan shape as stratifiedQuota: rank-filter window →
   * WindowGroupLimit partial top-n before the (optional strata) shuffle.
   *
   * Deterministic and cross-engine-reproducible: u = (h + 1) / 2^60 over
   * the md5-60bit id hash, key = pow(u, 1/w) in doubles — DuckDB computes
   * the identical values. Non-finite and non-positive weights are
   * excluded: NaN would sort above every real key under Spark's SQL
   * ordering, and +Infinity gives key = u^0 = 1.0 so such rows would tie
   * at the top and deterministically hijack the sample.
   * Accepted float caveat: keys are ORDERED unrounded, so a 1-ulp
   * pow() divergence between libm implementations could in principle
   * swap a pair whose keys differ by < 1e-16 — at corpus key spacing
   * (~1e-6) that needs two keys essentially equal, probability ~1e-8
   * per dataset; same acceptance class as the other float oracles.
   */
  def weightedSample(df: DataFrame, strataCols: Seq[String], idCol: String,
                     weightCol: Column, n: Int): DataFrame = {
    val u = (Dedup.md5Hash60(col(idCol).cast("string")).cast("double") + 1.0) /
      math.pow(2.0, 60)
    val key = pow(u, lit(1.0) / weightCol.cast("double"))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__aes_key").desc, col(idCol).asc)
    df.where(weightCol.cast("double") > 0 && !isnan(weightCol.cast("double")) &&
        weightCol.cast("double") < lit(Double.PositiveInfinity))
      .withColumn("__aes_key", key)
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= n)
      .drop("__aes_key")
  }

  /**
   * Deterministic TOKEN-budget selection — the data-MIXTURE step a
   * pretraining pipeline runs when the recipe says "B tokens of each
   * domain, best first" (doc quotas under-fill domains with long docs
   * and over-fill ones with short docs; mixtures are specified in
   * tokens): within each stratum, rank docs by (rankCol desc, id asc)
   * and keep every doc whose PRECEDING cumulative token count is
   * < budget. Greedy best-first fill; the last kept doc may overflow
   * by < its own length (budgets are approximate at doc granularity —
   * the packer downstream cuts exact sequences). Unlike the quota
   * samplers this cannot WindowGroupLimit (a running sum needs the
   * whole ordered stratum): cost is one stratum shuffle + ordered
   * scan, the same shape as the per-shard packing prefix sum.
   *
   * Output adds `mix_rank` (1-based within the stratum) and
   * `cum_tokens` (tokens up to AND including the doc). Deterministic
   * when rankCol has a cross-engine total order under (value, id) —
   * use a rounded score (the quality convention).
   *
   * Scale shape — TWO-PHASE, never one ordered scan per stratum (a
   * naive running-sum window partitioned by stratum serializes the
   * whole stratum through one task; at 100 TB a single language IS the
   * corpus): (1) aggregate (tokens, docs) per (stratum, score bucket)
   * — the rounded score makes this table tiny — and take cumulative
   * sums over the buckets; a bucket whose preceding cumulative count
   * is already ≥ budget is dropped WHOLE, one whose inclusive count
   * fits is kept WHOLE, and at most ONE bucket per stratum straddles
   * the boundary. (2) per-doc windows partition by (stratum, bucket)
   * — the parallel unit is the score bucket, not the stratum — to
   * rank/accumulate within kept buckets and to cut the straddling
   * bucket exactly. Identical output to the one-window definition
   * (the q62 oracle IS that definition; unit pins cover the bucket
   * boundary cases).
   */
  def tokenBudget(df: DataFrame, strataCols: Seq[String], idCol: String,
                  tokensCol: Column, rankCol: Column,
                  budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val strata = strataCols.map(col)
    // null ranks are EXCLUDED (the weightedSample non-finite convention):
    // a null would never equi-join back to its own histogram bucket and
    // must not vanish silently
    // materialized ONCE (VERDICT r7 #2): the scored base feeds BOTH the
    // phase-1 histogram and the phase-2 join as separate scans — without
    // the checkpoint the tokensCol/rankCol expressions (q62: tokenCount
    // + qualityScore's text-statistics kernel pass over every document)
    // evaluate twice per run. The null filter runs AFTER the checkpoint, on its scan:
    // written `where(rankCol.isNotNull)`, predicate pushdown substitutes
    // the rank EXPRESSION into the filter below the projection and every
    // row pays for it twice (the optimizer-duplication trap of
    // UDF-over-filter fame, reproduced by pure Catalyst expressions) —
    // measured 2× the scoring pass on the q62 corpus.
    val keyed = Mat.corpus(df
      .withColumn("__tok", tokensCol.cast("long"))
      .withColumn("__q", rankCol))
      .where(col("__q").isNotNull)
    // phase 1: per-(stratum, score) histogram with cumulative sums over
    // the score buckets — vocabulary-sized, its window is cheap
    val wBuckets = Window.partitionBy(strata: _*)
      .orderBy(col("__q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = keyed.groupBy(strata :+ col("__q"): _*)
      .agg(sum(col("__tok")).as("__btok"), count(lit(1)).as("__bdocs"))
      .withColumn("__tok_before",
        coalesce(sum(col("__btok")).over(wBuckets), lit(0L)))
      .withColumn("__docs_before",
        coalesce(sum(col("__bdocs")).over(wBuckets), lit(0L)))
      // drop whole buckets already past the budget; everything else is
      // kept whole (tok_before + btok <= budget ⇒ every doc's preceding
      // sum < budget) or straddles and needs the per-doc cut
      .where(col("__tok_before") < budget)
      // >= so a bucket landing EXACTLY on the budget takes the per-doc
      // path: a zero-token doc whose preceding sum equals the budget is
      // dropped by the `before < budget` rule, and only the exact
      // per-doc cut enforces that
      .withColumn("__straddles", col("__tok_before") + col("__btok") >= budget)
      .select(strata ++ Seq(col("__q"), col("__tok_before"),
        col("__docs_before"), col("__straddles")): _*)
    // phase 2: per-doc rank/cumsum WITHIN each (stratum, bucket) — the
    // parallel unit is the bucket; only straddling buckets re-check the
    // budget per doc
    val wDocs = Window.partitionBy(strata :+ col("__q"): _*)
      .orderBy(col(idCol).asc)
    val wDocsBefore = wDocs.rowsBetween(Window.unboundedPreceding, -1)
    keyed.join(hist, strataCols :+ "__q")
      .withColumn("__in_bucket_before",
        coalesce(sum(col("__tok")).over(wDocsBefore), lit(0L)))
      .withColumn("__before", col("__tok_before") + col("__in_bucket_before"))
      .where(!col("__straddles") || col("__before") < budget)
      .withColumn("mix_rank",
        (col("__docs_before") + row_number().over(wDocs)).cast("int"))
      .withColumn("cum_tokens", col("__before") + col("__tok"))
      .drop("__tok", "__q", "__tok_before", "__docs_before", "__straddles",
        "__in_bucket_before", "__before")
  }
}
