package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Learned quality classifier: logistic regression over hashed token
 * features — the fastText-style quality gate production curation
 * pipelines run in front of training-set assembly (weakly label a
 * sample, learn P(high-quality), score every document, drop below a
 * threshold). Complements the fixed heuristic TextOps.qualityScore with
 * a signal LEARNED from labeled examples.
 *
 * Everything is relational and scale-shaped for 10^12 documents:
 *
 *  - features: one tokenize+hash pass per document → (id, f, tf)
 *    postings with f = hash(token) mod dim (the hashing trick — fixed
 *    dim, no vocabulary build, no driver state); an optional bias
 *    feature f = −1 with tf = 1 per document (the intercept, carried as
 *    an ordinary posting so train and score stay uniform);
 *  - training: each gradient-descent iteration is two bounded
 *    aggregations over the LABELED postings (per-doc margin, then
 *    per-feature gradient — the shuffle key spaces are |train docs| and
 *    dim, never the corpus), with the dim-sized weight table joined
 *    back in (auto-broadcast). Training sets are sample-sized; the
 *    corpus never iterates;
 *  - scoring: one postings pass joined against the broadcast weight
 *    table, one per-doc aggregation.
 *
 * Determinism: init is w = 0 with the INTERCEPT AT THE PRIOR LOG-ODDS
 * b₀ = logit(ȳ) (the optimal empty model — standard GD/GBM practice).
 * Then every initial prediction is σ(b₀) = ȳ exactly, so ITERATION 1's
 * mean gradient is (1/n)·Σ (y − ȳ)·tf = (n·Σy·tf − npos·Σtf)/n² — a
 * ratio of EXACT INTEGER sums (y ∈ {0,1}, tf integral), order-
 * independent and bit-reproducible cross-engine; the bias gradient
 * n·npos − npos·n is exactly zero. That makes the one-step model the
 * q54 oracle's gate shape (the q28 iters=0 kmeans precedent); scoring
 * ulps (ln in b₀, reordered float sums) are absorbed by round(·, 4)
 * (the q37 float-sum precedent). Iterations ≥ 2 feed float sigmoids
 * back into the gradient (order-dependent ulps), so learning semantics
 * beyond one step are pinned by planted separable corpora in
 * QualitySpec instead.
 */
object Quality {

  /** Hashed-token feature postings (id, f, tf): lowercase whitespace
    * tokens (the oracled Java∩RE2 class — Dedup.WsClass), hashed into
    * `dim` buckets. With `bias` every document additionally carries a
    * (id, −1, 1) intercept posting — so every doc has ≥ 1 posting and
    * train/score need no featureless-doc special case. `algo` follows
    * Dedup's convention: xxhash64 for production, md5-60bit for oracled
    * paths (DuckDB computes the identical bucket). */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                     dim: Int = 1024,
                     algo: String = Dedup.AlgoXx64,
                     bias: Boolean = false): DataFrame = {
    val tok = explode(Dedup.tokens(col(textCol))).as("tok")
    val h = algo match {
      case Dedup.AlgoXx64 => xxhash64(col("tok"))
      case Dedup.AlgoMd5  => Dedup.md5Hash60(col("tok"))
      case other => throw new IllegalArgumentException(
        s"unknown feature hash algo '$other'")
    }
    val base = df.select(col(idCol).as("id"), tok)
      .where(length(col("tok")) > 0)
      .select(col("id"), pmod(h, lit(dim.toLong)).cast("int").as("f"))
      .groupBy(col("id"), col("f")).agg(count(lit(1)).as("tf"))
    if (!bias) base
    else base.unionByName(df.select(col(idCol).as("id"),
      lit(-1).as("f"), lit(1L).as("tf")))
  }

  private def sigmoid(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z))

  /**
   * Train by full-batch gradient descent: w = 0, intercept (feature −1)
   * at the prior log-odds; per iteration p_id = σ(Σ_f w_f·tf), then
   * w_f += lr · (1/n) · Σ_id (y_id − p_id)·tf. `labels` is (id, y) with
   * y ∈ {0, 1} and BOTH classes present (the prior log-odds is infinite
   * otherwise). Returns the dense (f, w) weight table (dim + 1 rows —
   * sketch-scale broadcast state). Iteration 1 is computed in closed
   * form from integer sums (see object doc) — exactly the general
   * loop's first step, without its σ(logit(ȳ)) float round-trip.
   *
   * `feats` should carry bias postings (hashedFeatures bias = true);
   * without them the model is trained and scored with no intercept and
   * featureless labeled docs drop out of the gradient (documented,
   * inner-join semantics — both engines identically).
   */
  def trainLogReg(feats: DataFrame, labels: DataFrame,
                  dim: Int, iters: Int = 1, lr: Double = 1.0): DataFrame = {
    val spark = feats.sparkSession
    // labels whose doc vanished upstream (deduped / stripped away) carry
    // no postings: excluding them keeps the prior intercept b0 and the
    // 1/n gradient scale consistent with the documents the gradient sums
    // actually see — otherwise class-correlated dedup (duplicates skew
    // y = 0) shifts every score by a constant logit offset
    // materialized: lab feeds the n/npos scalar read AND the gradient
    // join — without the checkpoint the label expressions and the
    // semi-join re-evaluate once per consumer (r8). Corpus-tier: labels
    // are a third of the corpus in q54 and of caller-chosen size under
    // CurateJob --quality-model
    val lab = Mat.corpus(labels.select(col("id"), col("y").cast("long").as("y"))
      .join(feats.select(col("id")), Seq("id"), "left_semi"))
    // n/npos are two driver scalars — read them once and inline as
    // literals below (no checkpointed 1-row frame, no broadcast joins)
    val Seq(n0, npos0) = {
      val r = lab.agg(count(lit(1)).as("n"), sum(col("y")).as("npos")).head()
      Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // a one-class label set makes the prior intercept logit(ȳ)
    // undefined (ANSI divide-by-zero deep inside codegen otherwise) —
    // fail loudly with the actual class counts
    require(n0 > 0 && npos0 > 0 && npos0 < n0,
      s"trainLogReg: labels must contain BOTH classes among docs that " +
        s"survive into the feature table (got n=$n0, positives=$npos0)")
    val lf = Mat.small(feats.join(lab, Seq("id")))
    // exact first step: w_f = [f = −1]·logit(ȳ) + lr·(n·Σy·tf − npos·Σtf)/n²
    val sums = lf.groupBy(col("f"))
      .agg(sum(col("y") * col("tf")).as("syt"), sum(col("tf")).as("stf"))
    val grid = spark.range(dim)
      .select(col("id").cast("int").as("f"))
      .unionByName(spark.range(1).select(lit(-1).as("f")))
    var w = Mat.small(grid.join(sums, Seq("f"), "left")
      .select(col("f"),
        (when(col("f") === -1,
          log(lit(npos0).cast("double") /
            lit(n0 - npos0).cast("double"))).otherwise(lit(0.0))
          + lit(lr) * (lit(n0) * coalesce(col("syt"), lit(0L))
            - lit(npos0) * coalesce(col("stf"), lit(0L))).cast("double")
          / lit(n0 * n0).cast("double")).as("w")))
    for (_ <- 2 to iters) {
      val p = lf.join(w, Seq("f"))
        .groupBy(col("id"), col("y"))
        .agg(sum(col("w") * col("tf")).as("z"))
        .select(col("id"), col("y"), sigmoid(col("z")).as("p"))
      val g = lf.join(p.select(col("id"), col("p")), Seq("id"))
        .groupBy(col("f"))
        .agg(sum((col("y") - col("p")) * col("tf")).as("g"))
      // left join: features unseen in the labeled postings keep their w
      w = Mat.small(w.join(g, Seq("f"), "left")
        .select(col("f"),
          (col("w") + lit(lr) * coalesce(col("g"), lit(0.0))
            / lit(n0).cast("double")).as("w")))
    }
    w
  }

  /** Score feature postings against a weight table:
    * (id, score = σ(Σ w_f·tf)). With bias postings in `feats` every
    * document appears; without them featureless docs are absent —
    * see scoreDocs for the full-universe variant. */
  def scoreLogReg(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), Seq("f"))
      .groupBy(col("id"))
      .agg(sum(col("w") * col("tf")).as("z"))
      .select(col("id"), sigmoid(col("z")).as("score"))

  /** Score EVERY document of `df`: one featurize pass + one broadcast
    * join; the bias posting guarantees row-for-row coverage of the
    * input id universe. */
  def scoreDocs(df: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, dim: Int,
                algo: String = Dedup.AlgoXx64): DataFrame =
    scoreLogReg(hashedFeatures(df, idCol, textCol, dim, algo, bias = true),
      weights)
}
