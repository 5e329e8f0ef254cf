package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** Substring-level exact dedup (ExactSubstr, Lee et al. 2022): maximal
  * duplicated-span extraction and the strip/rebuild on planted corpora —
  * span boundaries, within-doc duplication, keep-first exemption,
  * minSpanTokens threshold, full-coverage strip. The q58/q59 oracles
  * gate the relational path over real data; the boundary semantics live
  * here. */
class SubstringDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // a run of n seed-unique tokens
  private def uniq(seed: Int, n: Int): String =
    (0 until n).map(j => s"u${seed}x$j").mkString(" ")

  private val Shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9" // 10 shared tokens

  private def spans(df: org.apache.spark.sql.DataFrame, k: Int = 8,
                    minSpanTokens: Int = 0, keepFirst: Boolean = false) =
    Dedup.substringDupSpans(df, "doc_id", "text", k = k,
      minSpanTokens = minSpanTokens, keepFirst = keepFirst)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("span_start"),
        r.getAs[Long]("span_grams"), r.getAs[Long]("span_tokens")))
      .sortBy(t => (t._1, t._2)).toSeq

  test("a 10-token run shared by two docs yields one MAXIMAL span per " +
    "doc at the exact token boundaries; unique docs are absent") {
    // doc 1: 5 unique + shared + 5 unique; doc 2: 3 unique + shared;
    // doc 3: all unique
    val df = docsDf(Seq(
      (1L, s"${uniq(1, 5)} $Shared ${uniq(11, 5)}"),
      (2L, s"${uniq(2, 3)} $Shared"),
      (3L, uniq(3, 30))))
    // the shared run is 10 tokens = 3 consecutive duplicated 8-grams
    assert(spans(df) == Seq(
      (1L, 5, 3L, 10L),
      (2L, 3, 3L, 10L)))
  }

  test("within-doc duplication counts occurrences, not documents") {
    // one doc containing the same 8-token run twice, separated by
    // unique filler — both occurrences are duplicated positions
    val run = "r0 r1 r2 r3 r4 r5 r6 r7"
    val df = docsDf(Seq((1L, s"$run ${uniq(1, 6)} $run"),
      (2L, uniq(2, 30))))
    assert(spans(df) == Seq((1L, 0, 1L, 8L), (1L, 14, 1L, 8L)))
  }

  test("keepFirst exempts the globally first occurrence (min id, pos); " +
    "later copies are still marked") {
    val df = docsDf(Seq(
      (1L, s"${uniq(1, 4)} $Shared"),
      (2L, s"$Shared ${uniq(2, 4)}"),
      (3L, s"${uniq(3, 2)} $Shared ${uniq(33, 2)}")))
    val all = spans(df)
    assert(all.map(_._1).toSeq == Seq(1L, 2L, 3L)) // default: every copy
    val kf = spans(df, keepFirst = true)
    // doc 1 holds the first occurrence of every shared gram (min id) —
    // exempt; docs 2 and 3 keep their full spans
    assert(kf == Seq((2L, 0, 3L, 10L), (3L, 2, 3L, 10L)))
  }

  test("minSpanTokens drops spans below the threshold (Lee et al. use " +
    "50); docs shorter than k tokens never span") {
    val df = docsDf(Seq(
      (1L, s"${uniq(1, 3)} $Shared"),
      (2L, s"${uniq(2, 3)} $Shared"),
      // 7-token docs, identical — shorter than k=8: no k-gram exists
      (3L, "a b c d e f g"),
      (4L, "a b c d e f g")))
    assert(spans(df, minSpanTokens = 10).map(_._1).toSeq == Seq(1L, 2L))
    assert(spans(df, minSpanTokens = 11).isEmpty)
    assert(!spans(df).exists(t => t._1 == 3L || t._1 == 4L))
  }

  test("random differential: spans AND strip equal a from-first-" +
    "principles reference over random low-alphabet corpora (both " +
    "keepFirst modes)") {
    val rnd = new scala.util.Random(20260817)
    val k = 3
    for (trial <- 0 until 8) {
      val keepFirst = trial % 2 == 1
      val corpus = (0 until 12).map { i =>
        val n = rnd.nextInt(25) // includes token-less docs
        (i.toLong,
          (0 until n).map(_ => "abcde".charAt(rnd.nextInt(5)).toString)
            .mkString(" "))
      }
      // reference computation straight from the definition
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.split("[ \t\n\f\r]+", -1).toSeq.filter(_ => true)
      }
      val grams = toks.flatMap { case (id, ts) =>
        if (ts.length >= k)
          (0 to ts.length - k).map(p => (id, p, ts.slice(p, p + k).mkString(" ")))
        else Nil
      }
      val gdf = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val firstOcc = grams.groupBy(_._3).view
        .mapValues(_.minBy(x => (x._1, x._2))).toMap
      val dup = grams.filter(g =>
        gdf(g._3) >= 2 && (!keepFirst || firstOcc(g._3) != g))
      val expSpans = dup.groupBy(_._1).toSeq.flatMap { case (id, gs) =>
        val ps = gs.map(_._2).distinct.sorted
        ps.foldLeft(List.empty[(Int, Int)]) { // (start, grams)
          case ((s, g) :: rest, p) if p == s + g => (s, g + 1) :: rest
          case (acc, p) => (p, 1) :: acc
        }.map { case (s, g) => (id, s, g.toLong, (g + k - 1).toLong) }
      }.sortBy(t => (t._1, t._2))
      val df = docsDf(corpus)
      assert(spans(df, k = k, keepFirst = keepFirst) == expSpans,
        s"trial=$trial keepFirst=$keepFirst")
      // strip: remove covered positions, rejoin, account
      val covered = expSpans.groupBy(_._1).view.mapValues(_.flatMap {
        case (_, s, _, st) => s until (s + st.toInt)
      }.toSet).toMap
      val expStrip = toks.collect {
        case (id, ts) if ts.exists(_.nonEmpty) =>
          val keep = ts.zipWithIndex
            .filterNot { case (_, p) => covered.getOrElse(id, Set.empty)(p) }
            .map(_._1)
          (id, keep.length.toLong, (ts.length - keep.length).toLong,
            keep.mkString(" "))
      }.sortBy(_._1)
      val gotStrip = Dedup.stripDupSpans(df, "doc_id", "text", k = k,
          keepFirst = keepFirst)
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("removed_tokens"), r.getAs[String]("text_clean")))
        .sortBy(_._1).toSeq
      assert(gotStrip == expStrip, s"trial=$trial keepFirst=$keepFirst")
    }
  }

  test("spanContainmentJoin: a short doc verbatim inside a long doc is " +
    "containment 1.0 even at tiny Jaccard") {
    val quote = (0 until 12).map(j => s"q$j").mkString(" ")
    val df = docsDf(Seq(
      (1L, s"${uniq(1, 60)} $quote ${uniq(11, 60)}"),
      (2L, quote), // the whole doc is the quote (J ≈ 0.04 vs doc 1)
      (3L, uniq(3, 40))))
    val out = Dedup.spanContainmentJoin(df, "doc_id", "text",
      n = 8, minContainment = 0.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) == ((1L, 2L)))
    assert(r.getAs[Long]("shared_spans") == 5L) // the quote's 5 8-grams
    assert(r.getAs[Double]("containment") == 1.0)
  }

  test("spanContainmentJoin random differential vs a from-first-" +
    "principles reference") {
    val rnd = new scala.util.Random(20260819)
    val k = 3
    for (trial <- 0 until 5) {
      // 1–2-token docs INCLUDED: they exercise the whole-doc-shingle
      // branch (shingles of a < k-token doc = the single joined gram)
      val corpus = (0 until 10).map { i =>
        val n = 1 + rnd.nextInt(17)
        (i.toLong,
          (0 until n).map(_ => "abcd".charAt(rnd.nextInt(4)).toString)
            .mkString(" "))
      }
      val t = 0.4
      val got = Dedup.spanContainmentJoin(docsDf(corpus), "doc_id",
          "text", n = k, minContainment = t).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("shared_spans"), r.getAs[Double]("containment")))
        .sortBy(x => (x._1, x._2)).toSeq
      // reference: distinct k-gram sets, pairwise intersections
      val sets = corpus.map { case (id, txt) =>
        val ts = txt.trim.split("[ \t\n\f\r]+", -1).toSeq
        id -> (if (ts.length >= k)
          (0 to ts.length - k).map(p => ts.slice(p, p + k).mkString(" ")).toSet
        else Set(ts.mkString(" ")))
      }.toMap
      val expected = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        sh = (sets(a) & sets(b)).size.toLong if sh > 0
        c = BigDecimal(sh.toDouble / math.min(sets(a).size, sets(b).size))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if c >= t
      } yield (a, b, sh, c)).sortBy(x => (x._1, x._2))
      assert(got == expected, s"trial=$trial")
    }
  }

  test("spanContainmentJoin planted hot gram: a boilerplate 8-gram in " +
    "EVERY doc mints ZERO candidates (it ranks last in the rarest-first " +
    "order, so it sits in no doc's prefix) where the unbounded self-join " +
    "minted d(d-1)/2; qualifying near-copy pairs still surface") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val d = 40
    val hot = (0 until 8).map(j => s"hot$j").mkString(" ")
    // d docs: 15 unique tokens + the hot run + 15 unique tokens each
    // (mixed boundary grams are unique per doc; exactly ONE pure hot
    // 8-gram per doc, df = d), plus one identical near-copy pair
    val corpus = (0 until d).map(i =>
      (i.toLong, s"${uniq(100 + i, 15)} $hot ${uniq(200 + i, 15)}")) ++
      Seq((900L, uniq(900, 20)), (901L, uniq(900, 20)))
    val df = docsDf(corpus)
    // the shared prefix helper's column names: postings (id, elem),
    // sizes (id, sz)
    val spans = df.select(col("doc_id").as("id"),
      explode(Dedup.shingleHashes(col("text"), 8)).as("elem"))
    val sizes = spans.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val cand = Dedup.containmentCandidates(spans, sizes, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the old self-join shape: the hot gram ALONE emits d(d-1)/2 pairs
    val unbounded = spans.select(col("id").as("id_a"), col("elem"))
      .join(spans.select(col("id").as("id_b"), col("elem")), Seq("elem"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct().count()
    assert(unbounded >= d.toLong * (d - 1) / 2)
    // prefix-filtered: ONLY the qualifying near-copy pair survives as a
    // candidate — O(d * prefix) with p = 0 for the hot gram
    assert(cand == Set((900L, 901L)))
    // and the verified join output is exactly that pair
    val out = Dedup.spanContainmentJoin(df, "doc_id", "text",
      n = 8, minContainment = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"))).toSeq
    assert(out == Seq((900L, 901L, 1.0)))
  }

  test("spanContainmentJoin admits a pair whose containment ROUNDS to the " +
    "threshold: 19,999 of 40,000 spans shared is 0.499975, which the " +
    "verify rounds to 0.5, so the prefix must reach a shared span") {
    // the smaller doc: a shared run of 20,006 tokens (19,999 shared
    // 8-grams) then 20,001 own tokens (20,001 unshared 8-grams, boundary
    // grams included) — m = 40,000 distinct spans. The larger doc puts
    // 30,000 own tokens before the shared run, so its rarest-first prefix
    // also holds only unshared spans. A prefix sized from ⌊0.5·m⌋ is
    // 20,001 spans long: exactly the smaller doc's unshared spans, and
    // the pair would never become a candidate.
    val shared = uniq(7, 20006)
    val small = s"$shared ${uniq(8, 20001)}"
    val large = s"${uniq(9, 30000)} $shared"
    val df = docsDf(Seq((1L, small), (2L, large)))
    val out = Dedup.spanContainmentJoin(df, "doc_id", "text",
      n = 8, minContainment = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("shared_spans"), r.getAs[Double]("containment"))).toSeq
    // brute force over the distinct 8-gram sets, rounded as the verify
    def grams(text: String): Set[String] =
      text.split(" ").sliding(8).map(_.mkString(" ")).toSet
    val (g1, g2) = (grams(small), grams(large))
    val sh = (g1 & g2).size
    assert(g1.size == 40000 && sh == 19999)
    val c = BigDecimal(sh.toDouble / math.min(g1.size, g2.size))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(c == 0.5)
    assert(out == Seq((1L, 2L, 19999L, 0.5)))
  }

  test("stripDupSpans removes exactly the covered tokens, keeps the " +
    "rest in order; a fully-duplicated doc strips to empty") {
    val df = docsDf(Seq(
      (1L, s"${uniq(1, 5)} $Shared ${uniq(11, 5)}"),
      (2L, Shared), // the whole doc is the duplicated run
      (3L, uniq(3, 30)),
      // matching is case-folded; the REBUILT text preserves casing
      (4L, s"KeepCase ALSO here ${Shared.toUpperCase} MixedTail")))
    val got = Dedup.stripDupSpans(df, "doc_id", "text", k = 8)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("kept_tokens"), r.getAs[Long]("removed_tokens"),
          r.getAs[String]("text_clean"))))
      .toMap
    assert(got(1L) == ((10L, 10L, s"${uniq(1, 5)} ${uniq(11, 5)}")))
    assert(got(2L) == ((0L, 10L, "")))
    assert(got(3L) == ((30L, 0L, uniq(3, 30))))
    // the uppercased copy of the shared run is matched case-folded and
    // removed; the surviving tokens keep their ORIGINAL case
    assert(got(4L) == ((4L, 10L, "KeepCase ALSO here MixedTail")))
    // accounting: kept + removed = token count, for every doc
    assert(got.view.mapValues(v => v._1 + v._2).toMap ==
      Map(1L -> 20L, 2L -> 10L, 3L -> 30L, 4L -> 14L))
  }
}
