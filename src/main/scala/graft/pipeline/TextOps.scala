package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline, all as
 * Catalyst Column expressions (whole-stage-codegen'd, no UDFs): whitespace
 * normalization, token counting, heuristic language ID, quality scoring,
 * repetition statistics, document fingerprinting. The per-document counts
 * behind langId, qualityScore and repetitionStats come from one native
 * kernel pass (textStats); only their final arithmetic is composed here.
 * Mirrors of the per-document scalar helpers the extraction engine uses
 * (breadability/utils.py, scoring.py) lifted to column level so they run
 * at scan throughput.
 */
object TextOps {

  /** Collapse whitespace runs to single spaces + trim (column-level analogue
    * of utils.py:36-51 normalize_whitespace). */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(text, s"[${Dedup.WsClass}]+", " "))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), s"[${Dedup.WsClass}]+"))

  /** BPE-ish subword count: words + punctuation marks counted separately —
    * a cheap stand-in for tokenizer budgeting at corpus scale. */
  def subwordCount(text: Column): Column =
    size(split(trim(text), s"[${Dedup.WsClass}]+")) +
      length(regexp_replace(text, "[^.,;:!?]", "")).cast("int")

  /** GPT-2-style pre-tokenizer pattern, constrained to the Java∩RE2
    * regex subset (NO lookahead — DuckDB's RE2 must count identical
    * matches): contractions split off first, then optional-space letter
    * runs, digit runs, symbol runs, residual whitespace. Leftmost-first
    * alternation semantics agree between Java and RE2. Whitespace is an
    * EXPLICIT class, not \s: Java's \s includes U+000B (vertical tab),
    * RE2's does not — the one divergence in this subset. */
  private val Ws = " \\t\\n\\x0B\\f\\r"
  val BpeTokenRe: String =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$Ws\\p{L}\\p{N}]+|[$Ws]+"

  /** Pre-tokenizer token count under BpeTokenRe — the token-budget
    * estimate an LLM-data pipeline runs over every document (the true
    * BPE merge step only ever SPLITS these pieces further, so this is
    * the canonical piece count the merges start from). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenRe))

  /**
   * Relational BPE merge learning — the pair-count/merge loop that turns
   * pre-tokenizer pieces (q38) into an actual merge table. `pieces` is
   * (piece: string, cnt: long): the deduplicated piece-count table (the
   * standard BPE-on-word-counts formulation — the corpus collapses to
   * distinct pieces BEFORE any iteration, so each round shuffles the
   * VOCABULARY, not the corpus; at 100 TB that is the difference between
   * a 10⁶-row loop and a 10¹²-row one). Each round:
   *   1. split every sequence into symbols and count adjacent pairs
   *      weighted by piece count (one bounded shuffle);
   *   2. pick the top pair — count desc, then (left, right) asc as the
   *      deterministic tie-break (a 1-row driver collect);
   *   3. merge that pair in every sequence via literal string replace
   *      (non-overlapping leftmost — exactly BPE's greedy pairing). The
   *      post-merge groupBy is defensive only: a symbol sequence always
   *      concatenates back to its piece, so distinct rows stay distinct.
   * Sequences are delimiter-wrapped (\u0001sym\u0002…): a replace of
   * \u0001l\u0002\u0001r\u0002 → \u0001lr\u0002 cannot match across
   * symbol boundaries, and DuckDB's replace() has the same
   * non-overlapping-leftmost semantics, so the loop is oracle-able for a
   * fixed round count (q48). Pieces containing the delimiter codepoints
   * are dropped. Same bounded-iteration discipline as the distributed
   * regime of Dedup.duplicateClusters: a checkpoint each round caps
   * lineage; driver state is one (pair, count) row per round.
   * Returns (round, left_sym, right_sym, pair_count), round 1-based;
   * stops early when no adjacent pair remains.
   */
  private val BpeS = "\u0001"
  private val BpeE = "\u0002"

  /** The canonical lowercase-word piece-count table the BPE learner and
    * its oracled queries (q48/q49) start from: whitespace tokens
    * filtered to ^[a-z]+$, collapsed to DISTINCT pieces with counts —
    * the corpus-to-vocabulary collapse that keeps every learn round
    * vocabulary-sized. One definition, so the learner, the production
    * composition and the oracles cannot silently diverge. */
  def bpePieces(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(Dedup.tokens(textCol)).as("piece"))
      .where(col("piece").rlike("^[a-z]+$"))
      .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))

  /** Delimiter-wrapped symbol sequences from the piece-count table. */
  private def bpeSeqs(pieces: DataFrame): DataFrame =
    pieces
      .where(!col("piece").contains(BpeS) && !col("piece").contains(BpeE))
      .select(regexp_replace(col("piece"), "(.)", BpeS + "$1" + BpeE).as("seq"),
        col("cnt"))
      .groupBy(col("seq")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(true)

  /** One round's adjacent-pair counts over the sequence table, in the
    * deterministic selection order (count desc, then pair asc). */
  private def bpePairCounts(seqs: DataFrame): DataFrame = {
    val syms = split(
      regexp_replace(col("seq"), "^" + BpeS + "|" + BpeE + "$", ""), BpeE + BpeS)
    seqs
      .select(syms.as("ss"), col("cnt"))
      .withColumn("la", slice(col("ss"), lit(1), size(col("ss")) - 1))
      .withColumn("ra", slice(col("ss"), lit(2), size(col("ss")) - 1))
      .select(explode(arrays_zip(col("la"), col("ra"))).as("p"), col("cnt"))
      .groupBy(col("p.la").as("left_sym"), col("p.ra").as("right_sym"))
      .agg(sum(col("cnt")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)
  }

  /** Apply a set of (involved-symbol-disjoint) merges in one replace
    * cascade and re-aggregate. */
  /** The ONE definition of the greedy-leftmost merge cascade (literal
    * replace over delimiter-wrapped symbols — CLAUDE.md pins these
    * semantics as load-bearing); learn and apply both fold through it. */
  private def bpeCascade(c: Column, ms: Seq[(String, String)]): Column =
    ms.foldLeft(c) { case (acc, (l, r)) =>
      replace(acc, lit(BpeS + l + BpeE + BpeS + r + BpeE),
        lit(BpeS + l + r + BpeE))
    }

  private def bpeApplyMerges(seqs: DataFrame,
                             ms: Seq[(String, String)]): DataFrame = {
    seqs.select(bpeCascade(col("seq"), ms).as("seq"), col("cnt"))
      .groupBy(col("seq")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(true)
  }

  def bpeLearn(pieces: DataFrame, rounds: Int): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    var seqs = bpeSeqs(pieces)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = bpePairCounts(seqs).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val l = top(0).getString(0)
        val rt = top(0).getString(1)
        merges += ((r, l, rt, top(0).getLong(2)))
        seqs = bpeApplyMerges(seqs, Seq((l, rt)))
        r += 1
      }
    }
    merges.toSeq.toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /**
   * bpeLearn at REALISTIC merge counts: per recount, apply a whole BATCH
   * of merges that provably commute with the sequential loop, so a
   * 10k-50k-merge tokenizer build costs O(merges / batchK) Spark rounds
   * instead of one driver round-trip per merge (VERDICT r5 #4).
   *
   * Which batch is safe? Walk the sorted pair list (count desc, pair asc
   * - bpeLearn's exact order) and greedily take a PREFIX whose pairs
   * (a) are pairwise disjoint on their INVOLVED-symbol sets {left,
   * right, left+right}, (b) are NOT self-pairs (left ≠ right), and
   * (c) have a created symbol left+right that does NOT already exist in
   * the current sequences; stop at the first pair that violates any
   * condition (or at `batchK`), then truncate the selection to pairs
   * whose count is STRICTLY greater than the stopping pair's count
   * (when the collected list may be incomplete, the last collected
   * count bounds every unseen pair the same way). Why this equals
   * sequential:
   *  - merging p never changes the count of a pair sharing no involved
   *    symbol with p (the merged occurrences are disjoint from that
   *    pair's adjacencies, and p's created symbol is not one of its
   *    sides);
   *  - for a selected p = (l, r) with l ≠ r and l+r absent, every pair
   *    a merge touches that involves l+r is CREATED fresh, and its
   *    occurrences transfer from an old pair overlapping p that is NOT
   *    p itself ((lr, x) transfers from (r, x), (x, lr) from (x, l);
   *    those equal (l, r) only when l = r) - an overlapping non-p pair
   *    was unselected, so it ranks at or below the stopping row: count
   *    ≤ c0. Old pairs overlapping p only LOSE occurrences. After the
   *    strict truncation (> c0) no new or unselected pair can outrank
   *    (or tie into) the remaining selection under the (count desc,
   *    pair asc) order.
   * Conditions (b) and (c) are load-bearing, not belt-and-braces -
   * each blocks a transfer that is NOT bounded by c0:
   *  - (b) self-pairs: merging (a, a) over symbol runs creates
   *    (aa, aa)/(aa, a) pairs whose counts transfer from (a, a)'s OWN
   *    occurrences - bounded by the SELECTED count, not by c0 - so they
   *    can outrank later batch members (planted in BpeSpec: (a,a)·199
   *    creates (aa,aa)·64, which the sequential loop picks before the
   *    batched (b,b)·32). A self-pair therefore always ends the batch;
   *    the top-1 fallback still applies a top-ranked self-pair ALONE,
   *    which is exactly the sequential step.
   *  - (c) pre-existing created symbol: the merge then ADDS transferred
   *    occurrences (≤ c0) to a pre-existing overlapping pair's count
   *    (≤ c0) - post-merge up to 2·c0, outranking batch members in
   *    (c0, 2·c0] ('the' = t+he with a 'th'+'e'-made 'the' already in
   *    the vocabulary - ADVICE r6). Existence is checked against a
   *    driver-side OVER-APPROXIMATION of the symbol alphabet - the
   *    initial symbol set (one vocabulary-sized distinct at learn
   *    start) plus every created symbol so far; a symbol merged out of
   *    existence stays in the set, and over-rejection only shortens a
   *    batch, never breaks the equivalence.
   * Hence the sequential loop, stepped one merge at a time, picks exactly
   * the selected pairs in selection order with the same reported counts.
   * If truncation empties the batch, fall back to the top-1 pair: that
   * IS the sequential step, always safe. The full rule survives a 650k-
   * random-corpus differential sweep against the in-memory sequential
   * reference (runs, ties, multi-letter alphabets); BpeSpec pins planted
   * counterexamples for (b) plus random sweeps.
   *
   * Pinned equal to bpeLearn on planted and random vocabularies
   * (BpeSpec); q48's 3-round oracle stays on bpeLearn itself.
   *
   * @param merges total merge count to learn
   * @param batchK max merges applied per recount (driver state is batchK
   *               (pair, count) rows per round - vocabulary-scale)
   */
  def bpeLearnBatched(pieces: DataFrame, merges: Int,
                      batchK: Int = 64): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    var seqs = bpeSeqs(pieces)
    // over-approximate symbol alphabet (see scaladoc): initial symbols +
    // every created symbol; never shrinks
    val alphabet = scala.collection.mutable.Set[String]()
    alphabet ++= seqs.select(explode(split(
        regexp_replace(col("seq"), "^" + BpeS + "|" + BpeE + "$", ""),
        BpeE + BpeS)).as("s"))
      .distinct().collect().map(_.getString(0))
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    while (out.size < merges && !done) {
      val want = math.min(batchK, merges - out.size)
      // +1 so a full selection still sees its stopping row; +32 margin
      // keeps the single-merge fallback rare when equal counts cluster
      val lim = want + 33
      val top = bpePairCounts(seqs).limit(lim).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val selected = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        var cut: Option[Long] = None
        var i = 0
        while (i < top.length && cut.isEmpty && selected.size < want) {
          val (l, r, c) = top(i)
          val inv = Seq(l, r, l + r)
          // batch boundaries beyond involved-symbol conflicts (scaladoc
          // conditions b/c): a SELF-PAIR's run-collapse creates pairs
          // bounded by its own count, and a pair whose created symbol
          // already exists BOOSTS a pre-existing pair to up to 2·c —
          // either can outrank later batch members; the single-merge
          // fallback still applies a top-ranked one alone (= sequential)
          if (inv.exists(used) || l == r || alphabet(l + r)) cut = Some(c)
          else { selected += ((l, r, c)); inv.foreach(used += _) }
          i += 1
        }
        // stopped by `want` with rows left: the next row bounds the rest;
        // walked the whole collected list: if it may be incomplete, the
        // last row bounds every unseen pair
        if (cut.isEmpty && i < top.length) cut = Some(top(i)._3)
        else if (cut.isEmpty && top.length == lim) cut = Some(top.last._3)
        val strict = cut match {
          case Some(c0) => selected.takeWhile(_._3 > c0).toSeq
          case None => selected.toSeq // the complete pair list was walked
        }
        val take = if (strict.isEmpty) Seq(top.head) else strict
        val base = out.size
        out ++= take.zipWithIndex.map { case ((l, r, c), j) =>
          (base + 1 + j, l, r, c)
        }
        alphabet ++= take.map(t => t._1 + t._2)
        seqs = bpeApplyMerges(seqs, take.map(t => (t._1, t._2)))
      }
    }
    out.toSeq.toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /**
   * The APPLY side of bpeLearn: token count per piece under an ORDERED
   * merge list. Segmentation replays the same greedy-leftmost replace
   * cascade the learner used (one literal replace per merge, in learned
   * order) — so learn → apply round-trips consistently, and the cascade
   * is a fixed expression chain (codegen'd, no loop state). Returns
   * (piece, bpe_tokens); run it over the DISTINCT piece table and join
   * token counts back to documents by piece (q49) — the vocabulary-sized
   * segmentation table is computed once, not per document occurrence.
   */
  def bpeSegmentCounts(pieces: DataFrame,
                       merges: Seq[(String, String)],
                       chunkSize: Int = 256): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    def finish(df: DataFrame, seqCol: Column): DataFrame =
      df.select(col("piece"),
        size(split(regexp_replace(seqCol, "^" + BpeS + "|" + BpeE + "$", ""),
          BpeE + BpeS)).as("bpe_tokens"))
    val base = pieces
      .where(!col("piece").contains(BpeS) && !col("piece").contains(BpeE))
    val wrapped = regexp_replace(col("piece"), "(.)", BpeS + "$1" + BpeE)
    if (merges.length <= chunkSize)
      finish(base, bpeCascade(wrapped, merges)) // the lazy single-pass plan
    else {
      // a real tokenizer's 10k-50k merges folded into ONE expression
      // would build a merge-count-deep Catalyst tree and overflow the
      // analyzer around a few thousand nodes: apply in chunks with an
      // eager vocabulary-sized materialization BETWEEN chunks resetting
      // plan depth (the final chunk rides the lazy finish pass — a
      // trailing checkpoint would buy no depth reset)
      val chunks = merges.grouped(chunkSize).toSeq
      var cur = base.select(col("piece"), wrapped.as("__seq"))
      chunks.dropRight(1).foreach { chunk =>
        cur = cur
          .select(col("piece"), bpeCascade(col("__seq"), chunk).as("__seq"))
          .localCheckpoint(true)
      }
      finish(cur, bpeCascade(col("__seq"), chunks.last))
    }
  }

  /** One native pass over `text` (graft.plans.TextStats) returning the
    * struct of integer counts langId, qualityScore and repetitionStats
    * are computed from; see TextStats for each field's definition. The
    * `...Of(stats)` forms take this struct, so a caller that needs
    * several of them projects it ONCE and derives them all from it. */
  def textStats(text: Column): Column = graft.plans.TextStats.column(text)

  /**
   * Within-document REPETITION statistics — the Gopher-style repetition
   * filter signals (duplicate-word fraction, duplicate-3-gram fraction,
   * most-frequent-2-gram coverage) a quality pipeline thresholds on to
   * drop degenerate/looping text; the complement of qualityScore's
   * length/punctuation band. Map-only: one textStats pass per document
   * (no explode, window, shuffle or join); the distinct-3-gram count
   * reuses the ShingleHash kernel (distinct hashes ≡ distinct grams at
   * 64-bit collision odds — same acceptance class as the dedup oracles).
   * Documents with a single token (Dedup.tokens) have no 2-grams and drop
   * out (both engines agree; q51 pins it cross-engine), as do null ids
   * and null texts. Precondition: ids are UNIQUE — each row's statistics
   * are its own text's (q51's doc_id and CurateJob's url are keys).
   */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (dupWord, dup3, top2) = repetitionFracsOf(col("st"))
    // Dedup.tokens splits on every whitespace character left after
    // trimming spaces, so ≥ 2 tokens ⇔ such a character exists. Filtering
    // on the kernel's n_words instead would be pushed below the
    // projection with the kernel substituted in: two passes per row.
    df.where(col(idCol).isNotNull &&
        trim(col(textCol)).rlike(s"[${Dedup.WsClass}]"))
      .select(col(idCol).as("id"), textStats(col(textCol)).as("st"))
      .select(col("id"), dupWord.as("dup_word_frac"),
        dup3.as("dup_3gram_frac"), top2.as("top_2gram_frac"))
  }

  /** (dup_word_frac, dup_3gram_frac, top_2gram_frac) from a textStats
    * struct; null for documents with fewer than two tokens. */
  def repetitionFracsOf(stats: Column): (Column, Column, Column) = {
    val n = stats("n_words")
    def multi(c: Column): Column = when(n >= 2, c)
    (multi(round(lit(1.0) - stats("d_words").cast("double") / n, 4)),
      multi(round(when(n >= 3,
        lit(1.0) - stats("d_3g").cast("double") / (n - 2))
        .otherwise(0.0), 4)),
      multi(round(stats("top_2g").cast("double") / stats("n_2g"), 4)))
  }

  /**
   * Heuristic language ID via stopword hit ratios (n-gram-free variant —
   * the synthetic corpus is space-tokenized). Scores a small stopword set
   * per language and takes the argmax; "und" when nothing matches.
   */
  def langId(text: Column): Column = langIdOf(textStats(text))

  /** langId from a textStats struct. */
  def langIdOf(stats: Column): Column = {
    // script pre-pass (the standard first stage of real lang-id): count
    // characters per unicode script; CJK/Cyrillic text never matches the
    // Latin stopword lists, so it must be decided here. Fractions over
    // non-space characters (the normalized text's only whitespace is one
    // space between words); thresholds: any meaningful kana → ja,
    // otherwise a quarter of the text in one script wins.
    val total = (stats("len") - stats("words") + 1).cast("double")
    def script(f: String): Column = stats(f).cast("double")
    val en = stats("hits_en")
    val de = stats("hits_de")
    val fr = stats("hits_fr")
    val es = stats("hits_es")
    val best = greatest(en, de, fr, es)
    when(total <= 0, lit("und"))
      .when(script("kana") / total > 0.05, lit("ja"))
      .when(script("hangul") / total > 0.25, lit("ko"))
      .when(script("han") / total > 0.25, lit("zh"))
      .when(script("cyrillic") / total > 0.25, lit("ru"))
      .when(best <= 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
  }

  /**
   * Quality score in [0,1] from length/punctuation/stopword ratios — the
   * standard web-text quality gate shape (length band + sentence-final
   * punctuation + function-word presence − symbol noise).
   */
  def qualityScore(text: Column): Column = qualityScoreOf(textStats(text))

  /** qualityScore from a textStats struct. */
  def qualityScoreOf(stats: Column): Column = {
    val len = stats("len").cast("double")
    val words = stats("words").cast("double")
    val meanWordLen = when(words > 0, len / words).otherwise(lit(0.0))
    val punct = stats("punct").cast("double")
    val symbols = stats("symbols").cast("double")
    val stopHits = stats("stop_hits").cast("double")
    val lengthBand = when(len >= 200 && len <= 20000, 1.0)
      .when(len >= 50, 0.5).otherwise(0.0)
    val wordShape = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.3)
    val punctRate = least(punct / greatest(words, lit(1.0)) * 10.0, lit(1.0))
    val stopRate = least(stopHits / greatest(words, lit(1.0)) * 5.0, lit(1.0))
    val noise = least(symbols / greatest(len, lit(1.0)) * 20.0, lit(1.0))
    round((lengthBand * 0.3 + wordShape * 0.2 + punctRate * 0.2 + stopRate * 0.3) * (lit(1.0) - noise * 0.5), 4)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key (stable across engines). */
  def fingerprint(text: Column): Column =
    md5(lower(normalizeWs(text)))

  /** Query parameters that never affect page identity (tracking only). */
  val TrackingParamRe: String =
    "^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|igshid|ref_src|spm)(=.*)?$"

  /**
   * Canonical URL for crawl-level dedup: strip the fragment, lowercase
   * scheme+host, drop default ports (:80 http / :443 https), remove
   * tracking query params (order of the surviving params preserved), drop
   * an empty trailing "?". Pure built-in column functions (codegen'd; the
   * per-URL param array is tiny) — DuckDB-mirrorable, so the q27 oracle
   * checks it end-to-end.
   */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host0 = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = array_join(
      filter(split(query, "&"), p => !p.rlike(TrackingParamRe)), "&")
    val q = when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit(""))
    // non-URL inputs (no scheme) pass through unchanged
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, path, q))
  }
}
