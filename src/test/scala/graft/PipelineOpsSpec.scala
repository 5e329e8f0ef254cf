package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}

/** Correctness of the training-data pipeline operators on planted cases. */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import org.apache.spark.sql.Row

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text") {
    val df = docsDf(Seq(
      (1L, "hello  world"), (2L, "hello world"), (3L, "Hello WORLD"),
      (4L, "something else entirely")))
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 3L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"token$i").mkString(" ") + " tokenX tokenY tokenZ"
    val other = (100 to 160).map(i => s"word$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = Dedup.minhashLsh(df, "doc_id", "text", k = 32, bands = 16, threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("incremental minhash LSH join: cross-side pairs only, neither " +
    "side paired against itself") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"token$i").mkString(" ") + " tokenX tokenY tokenZ"
    val other = (100 to 160).map(i => s"word$i").mkString(" ")
    // corpus: 1≈2 (an INTERNAL corpus near-dup — must NOT be re-paired)
    val corpus = docsDf(Seq((1L, base), (2L, nearDup), (3L, other)))
    // batch: 10≈corpus(1,2); 11 and 12 identical (batch-internal — must
    // NOT pair here; within-batch dedup is minhashLsh's job)
    val batch = docsDf(Seq((10L, base), (11L, other), (12L, other)))
    val pairs = Dedup.minhashLshJoin(corpus, batch, "doc_id", "text",
      k = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 10L)), pairs)       // exact cross dup
    assert(pairs.contains((2L, 10L)), pairs)       // near cross dup
    assert(pairs.contains((3L, 11L)) && pairs.contains((3L, 12L)))
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 1L))) // corpus-internal
    assert(!pairs.exists(p => p._1 >= 10L), pairs) // id_a is always corpus-side
  }

  /** The array_union Jaccard verify the MinHash paths ran before the
    * shared pair verify, kept as the reference the way UrlsSpec keeps
    * the old split: (id_a, id_b, unrounded J) for every input pair. */
  private def unionJaccardRef(pairs: org.apache.spark.sql.DataFrame,
                              shA: org.apache.spark.sql.DataFrame,
                              shB: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Double)] =
    pairs
      .join(shA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("minhash verify ≡ the array_union Jaccard reference: minhashLsh " +
    "and minhashLshJoin on the planted corpora and a seeded random " +
    "corpus (1-3 token docs, repeated shingles), both shingle algos") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"token$i").mkString(" ") + " tokenX tokenY tokenZ"
    val other = (100 to 160).map(i => s"word$i").mkString(" ")
    val planted = Seq((1L, base), (2L, nearDup), (3L, other))
    val plantedBatch = Seq((10L, base), (11L, other), (12L, other))
    val rnd = new scala.util.Random(17)
    val words = (0 until 9).map(i => s"v$i")
    val random = (0L until 40L).map { i =>
      val text = (i % 8) match {
        case 0 => words(rnd.nextInt(3)) // one token: one whole-doc gram
        case 1 => Seq.fill(2 + rnd.nextInt(2))(words(rnd.nextInt(3))).mkString(" ")
        case 2 => Seq.fill(1 + rnd.nextInt(4))("x y z").mkString(" ") // repeats
        case _ => Seq.fill(4 + rnd.nextInt(10))(words(rnd.nextInt(words.length)))
          .mkString(" ")
      }
      (i, text)
    }
    def rounded(xs: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] =
      xs.map { case (a, b, j) =>
        (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // candidates come from the code under test at threshold 0 (every
    // candidate pair has J ≥ 0); the reference verifies those pairs, and
    // each threshold — including the exact J of observed pairs, where the
    // unrounded comparison decides — must keep the same pairs and values
    def check(label: String, ref: Seq[(Long, Long, Double)],
              run: Double => org.apache.spark.sql.DataFrame): Unit = {
      assert(ref.exists(_._3 > 0.0), s"$label: no overlapping candidate")
      val js = ref.map(_._3).filter(_ > 0.0).distinct.sorted
      val ts = (Seq(0.0, 0.02, 0.5, 0.8) ++
        Seq(js.head, js(js.size / 2), js.last)).distinct
      ts.foreach { t =>
        assert(triples(run(t)) == rounded(ref.filter(_._3 >= t)),
          s"$label t=$t")
      }
    }
    for ((algo, corpora) <- Seq(
        Dedup.AlgoXx64 -> Seq(("planted", planted, plantedBatch),
          ("random", random.take(20), random.drop(20))),
        Dedup.AlgoMd5 -> Seq(("random", random.take(20), random.drop(20))))) {
      corpora.foreach { case (name, rows, batchRows) =>
        val df = docsDf(rows ++ batchRows)
        val sh = Dedup.shingleTable(df, "doc_id", "text", algo)
        def self(t: Double) = Dedup.minhashLsh(df, "doc_id", "text",
          k = 32, bands = 32, threshold = t, shingleAlgo = algo)
        check(s"$algo $name self-join",
          unionJaccardRef(self(0.0).select("id_a", "id_b"), sh, sh), self)
        val (corpus, batch) = (docsDf(rows), docsDf(batchRows))
        val shC = Dedup.shingleTable(corpus, "doc_id", "text", algo)
        val shB = Dedup.shingleTable(batch, "doc_id", "text", algo)
        def join(t: Double) = Dedup.minhashLshJoin(corpus, batch,
          "doc_id", "text", k = 32, bands = 32, threshold = t,
          shingleAlgo = algo)
        check(s"$algo $name incremental",
          unionJaccardRef(join(0.0).select("id_a", "id_b"), shC, shB), join)
      }
    }
  }

  test("simhash: identical docs at distance 0, planted near-dup within 3") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokDIFFERENT"
    val far = (200 to 240).map(i => s"z$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, base), (3L, near), (4L, far)))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3).collect()
    val p12 = pairs.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(p12.isDefined && p12.get.getAs[Int]("hamming") == 0)
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 4L && r.getAs[Int]("hamming") == 0))
  }

  test("ngram jaccard: identical docs score 1.0") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = docsDf(Seq((1L, text), (2L, text), (3L, "totally different words here now")))
    val out = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 1.0)
  }

  test("ngram jaccard maxDf drops stop-shingles: pair linked only by a " +
    "stop-shingle disappears; true near-dups survive") {
    // "common common common" is a shingle shared by ALL docs (df=5) — the
    // skew-bomb shape; docs 3/4 share ONLY that shingle.
    val stop = "common common common"
    val near = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = docsDf(Seq(
      (1L, s"$stop $near"), (2L, s"$stop $near"),
      (3L, s"$stop aaa bbb ccc ddd"), (4L, s"$stop eee fff ggg hhh"),
      (5L, s"$stop")))
    val capped = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.01, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)))          // near-dup pair survives the cap
    assert(!capped.exists(p => p._1 == 3L || p._2 == 3L)) // stop-only links gone
    val uncapped = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.01, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists(p => p._1 == 3L || p._2 == 3L)) // proves the cap did it
  }

  test("prefix jaccard join: NO false negatives — agrees exactly with a " +
    "brute-force all-pairs Jaccard on random corpora at every threshold, " +
    "and finds the stop-shingle-only pair the df-cap drops") {
    // the theorem under test: under the global (df, element) order, a
    // pair with J >= t always shares a PREFIX element, so the candidate
    // join misses nothing — unlike the q16 maxDf heuristic
    def brute(rows: Seq[(Long, String)], t: Double, n: Int): Set[(Long, Long, Long, Double)] = {
      // element sets exactly as Dedup.shingles produces them (the kernel
      // hashes these strings; hash equality ≡ string equality at 64-bit
      // collision odds): space-trim, lowercase, ws-class split keeping
      // empties, n-windows with the <n concat fallback, distinct
      def set(s: String): Set[String] = {
        val toks = s.toLowerCase
          .replaceAll("^ +| +$", "").split("[ \t\n\f\r]+", -1).toSeq
        val e =
          if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
          else Seq(toks.mkString(" "))
        e.toSet
      }
      (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        sa = set(ta); sb = set(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter) if j >= t
      } yield (ia, ib, inter.toLong,
        BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    }
    val rnd = new scala.util.Random(29)
    val words = (0 until 12).map(i => s"w$i")
    (0 until 3).foreach { trial =>
      val rows = (0L until 14L).map { i =>
        (i, Seq.fill(3 + rnd.nextInt(12))(words(rnd.nextInt(words.length)))
          .mkString(" "))
      }
      for (t <- Seq(0.3, 0.6, 1.0); n <- Seq(1, 3)) {
        val got = Dedup.prefixJaccardJoin(docsDf(rows), "doc_id", "text",
          threshold = t, n = n)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        assert(got == brute(rows, t, n),
          s"trial $trial t=$t n=$n rows=$rows")
      }
    }
    // BOUNDARY pins for the PPJoin length/positional prunes (r7): a
    // containment pair at J exactly t sits ON the length-filter boundary
    // (|A| = t·|B|), and its first common element sits ON the positional
    // boundary ((1+t)·(1+min(sz−rk)) = t·(sz_a+sz_b) exactly) — a prune
    // whose float slack errs the wrong way drops them
    val bdf = docsDf(Seq(
      (11L, "w1 w2 w3"), (12L, "w1 w2 w3 w4 w5"), // J = 3/5 = 0.6 exactly
      (13L, "x1 x2 x3 x4"), (14L, "x1 x2 x3 x4"), // J = 1.0
      (15L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")))
    val b06 = Dedup.prefixJaccardJoin(bdf, "doc_id", "text",
      threshold = 0.6, n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(b06 == Set((11L, 12L, 0.6), (13L, 14L, 1.0)), s"got $b06")
    // t = 1.0: prefixes shrink to the single rarest element; identical
    // sets still share it and the positional bound holds with equality
    val b10 = Dedup.prefixJaccardJoin(bdf, "doc_id", "text",
      threshold = 1.0, n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b10 == Set((13L, 14L)), s"got $b10")

    // the pair q16's df-cap drops (linked only by a corpus-wide stop
    // shingle) IS found here: prefix filtering has no stop-element cap
    val stop = "common common common"
    val df = docsDf(Seq(
      (3L, s"$stop aaa bbb ccc ddd"), (4L, s"$stop eee fff ggg hhh")))
    val pairs = Dedup.prefixJaccardJoin(df, "doc_id", "text",
      threshold = 0.05, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)))
  }

  test("prefix floor-not-ceil boundary: at t = 0.035 a 200-element set's " +
    "prefix must reach rank 194 (0.035·200 = 7.000000000000001, ceil " +
    "would stop at 193), so the J = 7/200 pair surfaces; q63's slacked " +
    "threshold keeps every one of those ranks") {
    // A: 200 distinct tokens; B: 7 of them, so those 7 have df 2 and take
    // A's ranks 194-200 under the rarest-first order
    val a = (0 until 200).map(i => s"a$i")
    val b = a.take(7)
    assert(0.035 * 200 > 7.0 && 7.0 / 200 == 0.035)
    val df = docsDf(Seq((1L, a.mkString(" ")), (2L, b.mkString(" "))))
    val got = Dedup.prefixJaccardJoin(df, "doc_id", "text",
      threshold = 0.035, n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 2L, 7L, 0.035)), s"got $got")
    // helper level: A's prefix at t is ranks 1-194, the last one shared
    val postings = df.select(col("doc_id").as("id"),
      explode(Dedup.shingleHashes(col("text"), 1)).as("elem"))
    val sizes = postings.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val shared = postings.where(col("id") === 2L).select(col("elem"))
      .collect().map(_.getLong(0)).toSet
    def prefixOfA(t: Double): Map[Int, Long] =
      Dedup.rarestFirstPrefix(postings, sizes, t).where(col("id") === 1L)
        .select(col("rk"), col("elem")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val atT = prefixOfA(0.035)
    assert(atT.keySet == (1 to 194).toSet)
    assert(atT.filter(kv => shared(kv._2)).keySet == Set(194))
    // q63 sizes its prefix from (c − 5e-5)·(1 − 1e-9): lowering t only
    // lengthens the prefix, here to 195 ranks (⌊6.99⌋ = 6)
    val q63 = prefixOfA((0.035 - 5e-5) * (1.0 - 1e-9))
    assert(atT.toSet.subsetOf(q63.toSet) && q63.size == 195)
  }

  test("simhash quarter-pair blocking (maxDist<=2) finds planted near-dup " +
    "with 32-bit keys") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, base), (3L, (200 to 260).map(i => s"z$i").mkString(" "))))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 2).collect()
    val p12 = pairs.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(p12.isDefined && p12.get.getAs[Int]("hamming") == 0)
  }

  test("simhash maxBucket drops over-full blocking buckets (bounded fanout)") {
    // 12 identical docs: every blocking bucket holds all 12; maxBucket=4
    // drops them all, so NO pairs emerge — proving the cap bounds fanout.
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = docsDf((1L to 12L).map(i => (i, text)))
    val capped = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3, maxBucket = 4)
    assert(capped.count() == 0)
    // default is a real bound (1000) — safe but inert at this scale
    assert(Dedup.DefaultMaxBucket > 0)
    val defaultCap = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3)
    assert(defaultCap.count() == 66) // C(12,2): 12-doc buckets survive the default
    val uncapped = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3, maxBucket = 0)
    assert(uncapped.count() == 66) // explicit opt-out still available
  }

  // every duplicateClusters test runs under both regimes (threshold −1:
  // distributed rounds; Long.MaxValue: driver union-find)
  import SparkSessionFixture.forBothComponentBranches

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  test("duplicate clusters: chained pairs collapse to min-id components") {
    forBothComponentBranches { s =>
      import s.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L))
        .toDF("id_a", "id_b")
      assert(labels(Dedup.duplicateClusters(pairs)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("duplicate clusters: duplicated and reversed pair rows yield the " +
    "same components (min-label propagation is duplicate-edge-insensitive " +
    "— the r8 edges build drops the dedup shuffle)") {
    forBothComponentBranches { s =>
      import s.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (1L, 2L), (2L, 1L), (10L, 11L))
        .toDF("id_a", "id_b")
      assert(labels(Dedup.duplicateClusters(pairs)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("duplicate clusters on empty pair input: empty result, no crash") {
    forBothComponentBranches { s =>
      import s.implicits._
      val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      assert(Dedup.duplicateClusters(empty).count() == 0)
    }
  }

  test("duplicate clusters converge on a 200-node chain (pointer doubling: " +
    "O(log d) rounds, not O(d))") {
    forBothComponentBranches { s =>
      import s.implicits._
      val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val out = Dedup.duplicateClusters(chain).collect()
      assert(out.length == 200)
      assert(out.forall(_.getLong(1) == 0L)) // diameter 199 >> maxIter 15
    }
  }

  test("duplicate clusters: the distributed rounds fail loudly when " +
    "maxIter rounds do not converge") {
    val s = SparkSessionFixture.sessionAtBroadcastThreshold(-1L)
    import s.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.duplicateClusters(chain, maxIter = 2))
    assert(e.getMessage.contains("maxIter=2"), e.getMessage)
    assert(e.getMessage.matches(".*still changed [1-9][0-9]* labels.*"), e.getMessage)
  }

  test("duplicate clusters: both regimes give identical labels on seeded " +
    "random graphs (Long and String ids)") {
    // string ids mix 1-, 2-, 3- and 4-byte UTF-8 code points, so UTF-16
    // order (String.compareTo) and Spark's byte order disagree often
    val alphabet = Seq("a", "z", "\u00e9", "\uFF21", "\uFFFF", "\uD83D\uDE00")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(70)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      val name = (0 until 90).map(_ => Seq.fill(1 + rnd.nextInt(3))(
        alphabet(rnd.nextInt(alphabet.length))).mkString).toVector
      def run(t: Long): (Map[Any, Any], Map[Any, Any]) = {
        val s = SparkSessionFixture.sessionAtBroadcastThreshold(t)
        import s.implicits._
        (labels(Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))),
          labels(Dedup.duplicateClusters(edges.map { case (a, b) =>
            (name(a.toInt), name(b.toInt)) }.toDF("id_a", "id_b"))))
      }
      val Seq(distributed, driver) = SparkSessionFixture.ComponentThresholds.map(run)
      assert(distributed._1.nonEmpty && distributed._2.nonEmpty)
      assert(driver == distributed, s"seed $seed")
    }
  }

  test("duplicate clusters: a string component is the min in Spark's " +
    "UTF8String byte order, not String.compareTo (non-BMP ids)") {
    val (bmp, astral) = ("\uFFFF", "\uD83D\uDE00") // EF BF BF < F0 9F 98 80
    assert(astral.compareTo(bmp) < 0) // UTF-16 order says the opposite
    forBothComponentBranches { s =>
      import s.implicits._
      val pairs = Seq((astral, bmp), ("\uFFFF\u0041", astral)).toDF("id_a", "id_b")
      assert(labels(Dedup.duplicateClusters(pairs)) ==
        Map(bmp -> bmp, astral -> bmp, "\uFFFF\u0041" -> bmp))
    }
  }

  test("duplicate clusters: binary ids (JVM equality by reference) keep " +
    "their components at any threshold") {
    forBothComponentBranches { s =>
      import s.implicits._
      val pairs = Seq((Array[Byte](1), Array[Byte](2)), (Array[Byte](2), Array[Byte](3)))
        .toDF("id_a", "id_b")
      val out = Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(out == Map(Seq[Byte](1) -> Seq[Byte](1), Seq[Byte](2) -> Seq[Byte](1),
        Seq[Byte](3) -> Seq[Byte](1)))
    }
  }

  test("duplicate clusters: the driver regime starts at most 3 Spark jobs " +
    "on an in-memory pair frame") {
    // measured on this 40-node chain: driver union-find 3 jobs (edge
    // shuffle, edge checkpoint, collect); distributed rounds 44 jobs
    // (threshold −1 also makes every join a sort-merge join)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def jobsOf(t: Long): Int = {
      val s = SparkSessionFixture.sessionAtBroadcastThreshold(t)
      import s.implicits._
      val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.GraftListenerBusDrain.drain(sc)
      sc.addSparkListener(listener)
      try Dedup.duplicateClusters(chain)
      finally {
        org.apache.spark.GraftListenerBusDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
      jobs.get
    }
    val Seq(distributed, driver) = SparkSessionFixture.ComponentThresholds.map(jobsOf)
    info(s"distributed $distributed jobs, driver $driver jobs")
    assert(driver <= 3, s"driver regime started $driver jobs")
    assert(driver < distributed)
  }

  test("brute knn: duplicate vector is its own nearest neighbor at cos 1") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),   // duplicate of 0
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f, 0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.bruteKnn(df, df.where($"vec_id" === 0), "vec_id", "embedding", "vec_id", k = 2)
      .collect()
    assert(out.head.getAs[Long]("id") == 1L)
    assert(out.head.getAs[Double]("cos") == 1.0)
    assert(out(1).getAs[Long]("id") == 3L)
  }

  test("ivf knn recalls the exact duplicate (same bucket by construction)") {
    import spark.implicits._
    val dim = 64
    def unit(i: Int) = Array.tabulate(dim)(j => if (j == i % dim) 1f else 0f)
    val vecs = (0L until 50L).map(i => (i, unit(i.toInt))) :+ (99L, unit(7))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.ivfKnn(df, df.where($"vec_id" === 7), "vec_id", "embedding", "vec_id",
      k = 3, planes = 6, tables = 4, dim = dim).collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("id") == 99L, out.mkString(";"))
    assert(out.head.getAs[Double]("cos") == 1.0)
  }

  test("url canonicalization: case, default ports, tracking params, fragments") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://Example.COM:80/a/1?utm_source=x&id=1#frag", "http://example.com/a/1?id=1"),
      ("https://Host.ORG:443/p?x=1", "https://host.org/p?x=1"),
      ("https://host.org:8443/p?fbclid=z", "https://host.org:8443/p"),
      ("ftp://Files.Example.com:21/f", "ftp://files.example.com:21/f"),
      ("http://h.example/p/", "http://h.example/p/"),
      ("not a url at all", "not a url at all"),
      ("https://h.example/p?utm_a=1&utm_b=2", "https://h.example/p"),
      ("https://h.example/p?b=2&a=1", "https://h.example/p?b=2&a=1")) // order kept
    val out = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl($"url").as("c")).collect().map(_.getString(0))
    out.zip(cases.map(_._2)).foreach { case (got, want) => assert(got == want, s"got $got") }
  }

  test("ivf-kmeans knn recalls the exact duplicate and ranks it first") {
    import spark.implicits._
    val dim = 64
    def mix(z: Long): Long = {
      var x = z + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def vec(seed: Long) = Array.tabulate(dim)(j => (mix(seed * 131 + j).toDouble / Long.MaxValue).toFloat)
    val base = (0L until 100L).map(i => (i, vec(i)))
    val dup = (999L, vec(7)) // exact duplicate of id 7
    val df = (base :+ dup).toDF("vec_id", "embedding")
    val out = Similarity.ivfKmeansKnn(df, df.where($"vec_id" === 7),
      "vec_id", "embedding", "vec_id", k = 3, nlist = 8, nprobe = 3, iters = 2)
      .collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("id") == 999L, out.mkString(";"))
    assert(out.head.getAs[Double]("cos") == 1.0)
  }

  test("text ops: langId picks stopword-heavy language; quality in [0,1]") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of a house is to be"),
      (2L, "der hund und die katze ist ein tier und der"),
      (3L, "le chat et la maison les arbres des fleurs est"),
      (4L, "zzz qqq xxx"),
      (5L, "这是一段中文文本 机器学习 训练数据"),
      (6L, "これは日本語のテキストです 漢字も含む"),
      (7L, "한국어 텍스트 예시입니다"),
      (8L, "это русский текст для примера"),
      (9L, "")).toDF("doc_id", "text")
    val m = df.select($"doc_id", TextOps.langId($"text").as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en")
    assert(m(2L) == "de")
    assert(m(3L) == "fr")
    assert(m(4L) == "und")
    assert(m(5L) == "zh") // Han script pre-pass
    assert(m(6L) == "ja") // kana beats the Han majority
    assert(m(7L) == "ko")
    assert(m(8L) == "ru")
    assert(m(9L) == "und")
    val qs = df.select(TextOps.qualityScore($"text")).collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("sampling: deterministic bernoulli is a pure id filter; " +
    "stratified quota caps every stratum and re-runs identically") {
    import graft.pipeline.Sampling
    val df = docsDf((0L until 400L).map(i => (i, s"text $i")))
      .withColumn("lang",
        element_at(typedlit(Seq("en", "de", "fr", "zz")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
    val half = Sampling.bernoulli(df, "doc_id", 0.5)
    val n = half.count()
    assert(n > 120 && n < 280, s"~50% of 400 expected, got $n")
    // determinism: the same rows every run
    assert(Sampling.bernoulli(df, "doc_id", 0.5)
      .select("doc_id").collect().toSeq ==
      half.select("doc_id").collect().toSeq)
    // fraction edges
    assert(Sampling.bernoulli(df, "doc_id", 0.0).count() == 0)
    assert(Sampling.bernoulli(df, "doc_id", 1.0).count() == 400)
    // quota: exactly 10 per stratum (every stratum has 100 rows),
    // ranks 1..10, identical across runs
    val q = Sampling.stratifiedQuota(df, Seq("lang"), "doc_id", 10)
    val byLang = q.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.toSet == Set(10L), byLang)
    assert(q.agg(max(col("sample_rank"))).head.getInt(0) == 10)
    assert(Sampling.stratifiedQuota(df, Seq("lang"), "doc_id", 10)
      .select("doc_id").collect().toSet == q.select("doc_id").collect().toSet)
  }

  test("as-of join: latest right row at or before each left ts, per key; " +
    "no right row yet -> null payload") {
    import spark.implicits._
    import graft.pipeline.AsOf
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val left = Seq(
      (1L, 10L, ts(0)),   // before any snapshot for key 10
      (2L, 10L, ts(5)),   // exactly at snapshot ts(5) — tie includes it
      (3L, 10L, ts(7)),   // between ts(5) and ts(9)
      (4L, 10L, ts(30)),  // after the last snapshot
      (5L, 20L, ts(7))    // other key
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(5), "a"), (10L, ts(9), "b"), (20L, ts(3), "z")
    ).toDF("user_id", "snap_ts", "tag")
    val out = AsOf.joinBackward(left, right, "user_id", "ts", "snap_ts", Seq("tag"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("tag"))).toMap
    assert(out(1L).isEmpty)        // nothing at or before
    assert(out(2L).contains("a"))  // equal ts counts as "at or before"
    assert(out(3L).contains("a"))
    assert(out(4L).contains("b"))  // latest, not first
    assert(out(5L).contains("z"))
    // row count preserved: one output per left row
    assert(AsOf.joinBackward(left, right, "user_id", "ts", "snap_ts", Seq("tag")).count() == 5)
  }

  test("as-of join property: agrees with a brute-force per-row reference " +
    "on seeded random data (including null right payloads)") {
    import spark.implicits._
    import graft.pipeline.AsOf
    val rnd = new scala.util.Random(7)
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 1000L)
    val left = (0 until 300).map(i => (i.toLong, rnd.nextInt(8).toLong, ts(rnd.nextInt(500))))
    // unique (key, ts) on the right, as the operator contract requires;
    // ~1 in 5 payloads is legitimately NULL — a matched null must WIN
    // (not be skipped in favor of an older snapshot's value)
    val right = rnd.shuffle((0 until 8).flatMap(k =>
      rnd.shuffle((0 until 500).toList).take(25).map { m =>
        (k.toLong, ts(m), if (rnd.nextInt(5) == 0) null else s"v$k-$m")
      }))
    val got = AsOf.joinBackward(
      left.toDF("event_id", "user_id", "ts"),
      right.toDF("user_id", "snap_ts", "tag"),
      "user_id", "ts", "snap_ts", Seq("tag"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("tag"))).toMap
    val byKey = right.groupBy(_._1)
    left.foreach { case (id, k, t) =>
      // latest matched row's value, null payload included (flatMap folds
      // "matched a null" and "no match" to None — both mean null output)
      val expect = byKey.getOrElse(k, Nil)
        .filter(!_._2.after(t))
        .sortBy(_._2.getTime)
        .lastOption.flatMap(v => Option(v._3))
      assert(got(id) == expect, s"event $id key $k ts $t: got ${got(id)}, want $expect")
    }
  }

  test("as-of join: a right row with null payload columns wins atomically " +
    "(no stale per-column inheritance from an older snapshot)") {
    import graft.pipeline.AsOf
    import org.apache.spark.sql.types._
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val left = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 10L, ts(12)), Row(2L, 10L, ts(6))),
      StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType))))
    // snapshot at ts(5) has (a=Some, b=1); the NEWER snapshot at ts(9)
    // has a=null, b=2 — an event at ts(12) must see (null, 2), not a torn
    // ("a", 2) mixing two snapshots
    val right = spark.createDataFrame(
      java.util.Arrays.asList(Row(10L, ts(5), "a", 1L), Row(10L, ts(9), null, 2L)),
      StructType(Seq(StructField("user_id", LongType), StructField("snap_ts", TimestampType),
        StructField("tag", StringType), StructField("aux", LongType))))
    val out = AsOf.joinBackward(left, right, "user_id", "ts", "snap_ts", Seq("tag", "aux"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("tag")), r.getAs[Long]("aux")))).toMap
    assert(out(1L) == ((None, 2L)), s"torn/stale row: ${out(1L)}")
    assert(out(2L) == ((Some("a"), 1L)))
  }

  test("bloom filter: NO false negatives ever; false-positive rate near " +
    "the theoretical (1-e^(-kn/m))^k; absent values mostly miss") {
    import spark.implicits._
    import graft.pipeline.Sketch
    val members = (0 until 2000).map(i => s"url$i")
    val filter = Sketch.bloomBuild(members.toDF("v"), col("v"))
    // every member MUST hit (the defining guarantee)
    val memberHits = Sketch.bloomProbe(filter, members.toDF("v"), col("v"))
      .where(!col("bloom_hit")).count()
    assert(memberHits == 0, s"$memberHits false negatives — impossible for a correct Bloom filter")
    // non-members: fp rate ~ (1 - e^(-4*2000/16384))^4 ≈ 2.3%
    val ghosts = (0 until 2000).map(i => s"ghost$i")
    val fp = Sketch.bloomProbe(filter, ghosts.toDF("v"), col("v"))
      .where(col("bloom_hit")).count()
    assert(fp < 2000 * 0.08, s"fp rate ${fp / 2000.0} far above theory (~0.023)")
  }

  test("count-min sketch: estimate >= exact always; exact when no " +
    "collision; overcount bounded by stream size / w") {
    import spark.implicits._
    import graft.pipeline.Sketch
    val stream = (1 to 500).flatMap(i => Seq.fill(1 + i % 5)(s"tok$i"))
    val df = stream.toDF("v")
    val cms = Sketch.cmsBuild(df, col("v"), d = 4, w = 1024)
    val exact = df.groupBy(col("v")).agg(count(lit(1)).as("exact"))
    val lookups = Sketch.cmsLookup(cms, exact, col("v"), d = 4, w = 1024)
    val est = exact.join(lookups, exact("v") === lookups("v"))
      .collect().map(r => (r.getAs[String](0),
        r.getAs[Long]("exact"), r.getAs[Long]("cms_estimate")))
    assert(est.length == 500)
    est.foreach { case (v, ex, e) =>
      assert(e >= ex, s"$v: estimate $e below exact $ex — impossible for CMS")
      // d=4, w=1024, N=1500: expected overcount per row ~ N/w ≈ 1.5;
      // min over 4 rows — generous bound still catches broken hashing
      assert(e - ex <= 20, s"$v overcount ${e - ex}")
    }
    // an absent value estimates near zero (min over its 4 counters)
    val ghost = Sketch.cmsLookup(cms, Seq("nosuchtoken").toDF("v"), col("v"))
      .head.getAs[Long]("cms_estimate")
    assert(ghost <= 20, s"ghost estimate $ghost")
  }

  test("weighted sampling (A-ES): heavy weights dominate the draw, " +
    "non-positive weights excluded, deterministic across runs") {
    import spark.implicits._
    import graft.pipeline.Sampling
    // 100 heavy rows (w=5000) vs 100 light rows (w=0.5): a light row's
    // key is u^2 << u^(1/5000), so the top-50 draw is all-heavy
    val df = ((0 until 100).map(i => (i.toLong, "g", 5000.0)) ++
      (100 until 200).map(i => (i.toLong, "g", 0.5)) ++
      Seq((999L, "g", 0.0), (998L, "g", -3.0))) // excluded
      .toDF("doc_id", "grp", "w")
    val out = Sampling.weightedSample(df, Seq("grp"), "doc_id", col("w"), n = 50)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.count() == 50)
    assert(ids.forall(_ < 100), s"light/excluded rows drawn: ${ids.filter(_ >= 100)}")
    assert(!ids.contains(999L) && !ids.contains(998L))
    // rank column well-formed and the draw is reproducible
    assert(out.agg(max(col("sample_rank"))).head.getInt(0) == 50)
    val again = Sampling.weightedSample(df, Seq("grp"), "doc_id", col("w"), n = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
  }

  test("tokenBudget: best-quality-first fill, last doc may overflow, " +
    "per-stratum budgets independent, deterministic") {
    import spark.implicits._
    import graft.pipeline.Sampling
    // grp a: scores 9,8,7,6 with 40 tokens each; budget 100 keeps the
    // top 3 (before-sums 0, 40, 80 < 100; the third overflows to 120)
    // grp b: one huge doc fills the budget alone
    val rows = Seq(
      (1L, "a", 9.0, 40L), (2L, "a", 8.0, 40L), (3L, "a", 7.0, 40L),
      (4L, "a", 6.0, 40L),
      (10L, "b", 1.0, 500L), (11L, "b", 0.9, 10L))
    val df = rows.toDF("doc_id", "grp", "q", "toks")
    val out = Sampling.tokenBudget(df, Seq("grp"), "doc_id",
      tokensCol = col("toks"), rankCol = col("q"), budget = 100L)
      .select("grp", "mix_rank", "doc_id", "cum_tokens").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      ("a", 1, 1L, 40L), ("a", 2, 2L, 80L), ("a", 3, 3L, 120L),
      ("b", 1, 10L, 500L)))
    // ties break on id asc (a straddling tied bucket cuts mid-bucket)
    val tied = Seq((5L, "c", 1.0, 60L), (6L, "c", 1.0, 60L),
      (7L, "c", 1.0, 60L)).toDF("doc_id", "grp", "q", "toks")
    val t = Sampling.tokenBudget(tied, Seq("grp"), "doc_id",
      col("toks"), col("q"), budget = 100L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(t == Seq(5L, 6L))
    // exact boundary: an inclusive sum EQUAL to the budget keeps the
    // bucket whole and admits nothing after (before < budget, strictly)
    val ex = Seq((20L, "d", 1.0, 50L), (21L, "d", 1.0, 50L),
      (22L, "d", 0.9, 10L)).toDF("doc_id", "grp", "q", "toks")
    val e = Sampling.tokenBudget(ex, Seq("grp"), "doc_id",
      col("toks"), col("q"), budget = 100L)
      .select("doc_id", "mix_rank", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    assert(e == Seq((20L, 1, 50L), (21L, 2, 100L)))
    // a ZERO-token doc whose preceding sum equals the budget exactly is
    // dropped (before < budget, strictly — the bucket lands exactly on
    // the boundary and must take the per-doc cut); null ranks excluded
    val zb = Seq((30L, "e", 1.0, 100L), (31L, "e", 1.0, 0L),
      (32L, "e", -1.0, 10L)).toDF("doc_id", "grp", "q", "toks")
    val z = Sampling.tokenBudget(zb, Seq("grp"), "doc_id", col("toks"),
      when(col("q") >= 0, col("q")), budget = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(z == Seq(30L))
  }

  test("tokenBudget random differential: the two-phase fill equals the " +
    "one-window (q desc, id asc) definition, incl. zero-token docs and " +
    "tied buckets") {
    import spark.implicits._
    import graft.pipeline.Sampling
    val rnd = new scala.util.Random(20260818)
    for (trial <- 0 until 6) {
      val rows = (1L to 40L).map { i =>
        (i, if (i % 2 == 0) "x" else "y",
          math.round(rnd.nextDouble() * 5) / 5.0, // heavy score ties
          rnd.nextInt(15).toLong)                 // includes 0-token docs
      }
      val budget = 20L + rnd.nextInt(120)
      val got = Sampling.tokenBudget(rows.toDF("doc_id", "grp", "q", "toks"),
        Seq("grp"), "doc_id", col("toks"), col("q"), budget)
        .select("grp", "doc_id", "mix_rank", "cum_tokens").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
      // reference: one ordered pass straight from the definition
      val expected = rows.groupBy(_._2).toSeq.flatMap { case (g, docs) =>
        var cum = 0L
        docs.sortBy(d => (-d._3, d._1)).zipWithIndex.flatMap {
          case ((id, _, _, tok), idx) =>
            val before = cum; cum += tok
            if (before < budget) Some((g, id, idx + 1, before + tok))
            else None
        }
      }.sortBy(t => (t._1, t._3))
      assert(got == expected, s"trial=$trial budget=$budget")
    }
  }

  test("HLL sketch: estimate within the m=512 error envelope at 10k " +
    "distinct; small-range correction lands near-exact at 10 distinct; " +
    "duplicates don't move the estimate") {
    import spark.implicits._
    import graft.pipeline.Sketch
    val big = (1 to 10000).map(i => ("g1", s"val$i")) ++
      (1 to 10).map(i => ("g2", s"tiny$i"))
    val df = big.toDF("g", "v")
    val est = Sketch.hllDistinct(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 3 sigma at m=512 is ~14% (1.04/sqrt(512) per sigma)
    assert(math.abs(est("g1") - 10000) / 10000 < 0.15, est("g1"))
    // linear-counting regime: near-exact for tiny cardinalities
    assert(math.abs(est("g2") - 10) <= 1.0, est("g2"))
    // multiplicity-invariant: tripling every row changes nothing
    val est3 = Sketch.hllDistinct(
      (big ++ big ++ big).toDF("g", "v"), Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est3 == est)
  }

  test("product quantization: planted near-identical vectors share codes " +
    "and top ADC rank (trained codebooks, iters > 0); 32x compression shape") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val dim = 16
    val rnd = new scala.util.Random(5)
    // two tight clusters + noise; vector 100 is a near-copy of vector 0
    def jitter(base: Array[Float]) = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val a = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val b = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val rows = (0 until 40).map { i =>
      val v = if (i == 0) a
        else if (i % 2 == 0) jitter(a) else jitter(b)
      (i.toLong, v)
    } :+ (100L, jitter(a)) // the planted near-copy of vector 0
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(df, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 2)
    assert(cb.length == 4 && cb(0).length == 8 && cb(0)(0).length == 4)
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb)
    // compression shape: codes only, m entries per row
    assert(enc.columns.toSeq == Seq("id", "codes"))
    assert(enc.head.getSeq[Int](1).length == 4)
    // the near-copy of vector 0 gets IDENTICAL codes (same cells)
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(100L) == codes(0L), s"${codes(0L)} vs ${codes(100L)}")
    // ADC scores the near-copy at the TOP score (code-identical vectors
    // tie exactly — ADC can't rank within a cell, by construction — so
    // assert membership in the top-score tie, not rank 1)
    val res = Similarity.pqAdcSearch(enc,
      df.where(col("vec_id") === 0L), "vec_id", "embedding", cb, k = 50)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("adc"))
    val best = res.map(_._2).max
    assert(res.toMap.apply(100L) == best, res.take(5).mkString("; "))
    // and every cluster-B vector scores strictly below the top
    val bIds = (1 until 40 by 2).map(_.toLong).toSet
    assert(res.filter(r => bIds(r._1)).forall(_._2 < best))
  }

  test("bpe-ish pre-tokenizer count: contractions, optional-space runs, " +
    "digits, symbols, residual whitespace") {
    import graft.pipeline.TextOps
    val df = docsDf(Seq(
      (1L, "don't stop"),          // don | 't | " stop"
      (2L, "abc123!!"),            // abc | 123 | !!
      (3L, "hello world"),         // hello | " world"
      (4L, "  "),                  // one whitespace run
      (5L, "x, y; z"),             // x | , | " y" | ; | " z"
      (6L, "&\u000B"),             // & | VT — the Java-vs-RE2 \s edge:
      (7L, "a\u000Bb")))           // the explicit class makes both count VT as ws
    val out = df.select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 3, out)
    assert(out(2L) == 3)
    assert(out(3L) == 2)
    assert(out(4L) == 1)
    assert(out(5L) == 5)
    assert(out(6L) == 2) // verified equal to DuckDB RE2 on the same pattern
    assert(out(7L) == 3)
  }

  test("winnowing fingerprints: shared >= w+k-1 token run guarantees a " +
    "shared fingerprint; disjoint docs share none; short docs emit none; " +
    "deterministic") {
    // k=3, w=4: guarantee length = w+k-1 = 6 shared tokens
    val sharedRun = "s1 s2 s3 s4 s5 s6"
    val df = docsDf(Seq(
      (1L, s"a1 a2 $sharedRun a3 a4"),
      (2L, s"b1 b2 b3 $sharedRun b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"), // disjoint vocabulary
      (4L, "d1 d2 d3")))                  // 1 tri-gram -> n=1 < w -> none
    val fp = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp"))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    assert((fp(1L) intersect fp(2L)).nonEmpty, "winnowing guarantee violated")
    assert((fp(1L) intersect fp(3L)).isEmpty)
    assert(!fp.contains(4L), "short doc must emit no fingerprints")
    // ~2/(w+1) selectivity: far fewer fingerprints than k-grams
    assert(fp(3L).size < 7)
    // deterministic across runs
    val fp2 = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("fp"))).toSet
    assert(fp2 == fp.toSeq.flatMap { case (id, s) => s.map(id -> _) }.toSet)
  }

  test("span dedup: cross-doc repeated n-gram spans counted, within-doc " +
    "repetition and short docs handled") {
    val df = docsDf(Seq(
      (1L, "a b c d e f"),          // 4 tri-gram spans
      (2L, "x a b c y z"),          // shares exactly "a b c" with doc 1
      (3L, "u v w q r s"),          // nothing shared
      (4L, "p q2 r p q2 r p q2 r"), // repeats INSIDE the doc only
      (5L, "t1 t2")))               // < n tokens -> one whole-text span
    val out = Dedup.spanDupStats(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 1L, 0.25)))
    assert(out(3L) == ((4L, 0L, 0.0)))
    // distinct spans per doc: internal repetition is NOT cross-doc dup
    assert(out(4L) == ((3L, 0L, 0.0)))
    assert(out(5L) == ((1L, 0L, 0.0)))
  }

  test("bm25: higher tf scores higher, term-free docs absent, rarer " +
    "terms weigh more, matches the formula") {
    import graft.pipeline.Search
    val df = docsDf(Seq(
      (1L, "window window window filler filler filler"),
      (2L, "window filler filler filler filler filler"),
      (3L, "merge filler filler filler filler filler"),
      (4L, "filler filler filler filler filler filler")))
    val out = Search.bm25(df, "doc_id", "text", Seq("window", "merge"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    assert(!out.contains(4L)) // no query term
    assert(out(1L) > out(2L)) // tf saturating but monotone
    // "merge" (df=1) outweighs "window" (df=2) at equal tf and equal dl
    assert(out(3L) > out(2L))
    // exact value for doc 2: tf=1, df=2, N=4, dl=6, avgdl=6
    val idf = math.log((4.0 - 2 + 0.5) / (2 + 0.5) + 1)
    val expect = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 1.0))
    assert(math.abs(out(2L) - (math.rint(expect * 10000) / 10000)) < 1e-9,
      s"${out(2L)} vs $expect")
  }

  test("bucketed as-of join ≡ plain as-of join on seeded random data " +
    "(several bucket widths, null payloads included)") {
    import spark.implicits._
    import graft.pipeline.AsOf
    val rnd = new scala.util.Random(13)
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 1000L)
    val left = (0 until 300).map(i => (i.toLong, rnd.nextInt(6).toLong, ts(rnd.nextInt(500))))
      .toDF("event_id", "user_id", "ts")
    val right = rnd.shuffle((0 until 6).flatMap(k =>
      rnd.shuffle((0 until 500).toList).take(20).map { m =>
        (k.toLong, ts(m), if (rnd.nextInt(5) == 0) null else s"v$k-$m", m.toLong)
      })).toDF("user_id", "snap_ts", "tag", "aux")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "tag", "aux").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("tag")),
          Option(r.get(2)))).sortBy(_._1).toSeq
    val plain = canon(AsOf.joinBackward(left, right,
      "user_id", "ts", "snap_ts", Seq("tag", "aux")))
    // bucket widths spanning: narrower than snapshot gaps, comparable,
    // and wider than the whole range (degenerate single bucket ≡ plain)
    Seq(7L, 60L, 3600L).foreach { b =>
      val bucketed = canon(AsOf.joinBackwardBucketed(left, right,
        "user_id", "ts", "snap_ts", Seq("tag", "aux"), bucketSeconds = b))
      assert(bucketed == plain, s"bucketSeconds=$b diverges")
    }
  }

  test("bucketed as-of join works with NUMERIC epoch timestamp columns " +
    "(carry rows cast to the source ts type, union stays type-compatible)") {
    import spark.implicits._
    import graft.pipeline.AsOf
    val base = 1767225600L
    val left = (0 until 200).map(i => (i.toLong, (i % 4).toLong, base + i * 7L))
      .toDF("event_id", "user_id", "ts") // ts: BIGINT epoch seconds
    val right = (0 until 4).flatMap(k => (0 until 10).map(m =>
      (k.toLong, base + m * 120L, s"v$k-$m")))
      .toDF("user_id", "snap_ts", "tag")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "tag").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("tag")))).sortBy(_._1).toSeq
    val plain = canon(AsOf.joinBackward(left, right,
      "user_id", "ts", "snap_ts", Seq("tag")))
    val bucketed = canon(AsOf.joinBackwardBucketed(left, right,
      "user_id", "ts", "snap_ts", Seq("tag"), bucketSeconds = 300))
    assert(bucketed == plain)
  }

  test("bucketed as-of join spreads a hot key across >1 window task " +
    "(plain variant serializes it in one)") {
    import spark.implicits._
    import graft.pipeline.AsOf
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 1000L)
    // ONE key owns every event — the pathological shape
    val left = (0 until 2000).map(i => (i.toLong, 1L, ts(i)))
      .toDF("event_id", "user_id", "ts")
    val right = (0 until 2000 by 100).map(m => (1L, ts(m), s"s$m"))
      .toDF("user_id", "snap_ts", "tag")
    // count NON-EMPTY output partitions at the RDD level (don't use
    // spark_partition_id() here: above a WindowExec it evaluates 0 for
    // every row in Spark 4.1, even though the rows are genuinely spread
    // — verified against rdd.mapPartitionsWithIndex)
    def taskSpread(df: org.apache.spark.sql.DataFrame): Long =
      df.rdd.mapPartitionsWithIndex { (i, it) =>
        if (it.hasNext) Iterator.single(i) else Iterator.empty
      }.collect().length.toLong
    // AQE's partition coalescing folds this tiny test dataset into one
    // post-shuffle partition either way; disable it so the partition
    // layout reflects what a real-sized run would have
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    val (plainTasks, bucketedTasks) =
      try {
        (taskSpread(AsOf.joinBackward(left, right,
          "user_id", "ts", "snap_ts", Seq("tag"))),
          taskSpread(AsOf.joinBackwardBucketed(left, right,
            "user_id", "ts", "snap_ts", Seq("tag"), bucketSeconds = 250)))
      } finally prev match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None    => spark.conf.unset(coalesceKey)
      }
    assert(plainTasks == 1L, s"plain as-of should serialize one key, got $plainTasks")
    assert(bucketedTasks > 1L, s"bucketed as-of should spread the hot key, got $bucketedTasks")
    // and the spread variant is still correct on this shape
    val got = AsOf.joinBackwardBucketed(left, right,
      "user_id", "ts", "snap_ts", Seq("tag"), bucketSeconds = 250)
      .select("event_id", "tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 until 2000).foreach { i =>
      assert(got(i.toLong) == s"s${(i / 100) * 100}", s"event $i")
    }
  }

  test("multimodal image decode is REAL: a planted PNG round-trips its " +
    "true dimensions through extractFeatures (javax.imageio)") {
    import spark.implicits._
    val png = Multimodal.encodePng(37, 21, 0xBEEFL)
    // PNG magic proves a spec-conformant encoder ran
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    // deterministic encode: same (w, h, seed) -> same bytes
    assert(java.util.Arrays.equals(png, Multimodal.encodePng(37, 21, 0xBEEFL)))
    // the REAL ImageIO reader round-trips the hand-rolled encoder's
    // output pixel-exactly (validates the encoder beyond dimensions)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 37 && img.getHeight == 21)
    for ((x, y) <- Seq((0, 0), (3, 2), (36, 20))) {
      val expect = (((x * 31 + y) * 131) ^ 0xBEEFL).toInt & 0xFFFFFF
      assert((img.getRGB(x, y) & 0xFFFFFF) == expect, s"pixel ($x,$y)")
    }
    val out = Multimodal.extractFeatures(spark, spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", png),
      Multimodal.MediaRow(2L, "image", "not an image at all".getBytes),
      // ASCII-leading magics that are VALID TEXT PREFIXES must stay on
      // the stub path — q23's text payloads must never reach a lenient
      // ImageIO reader (only binary PNG/JPEG magic gates the decoder)
      Multimodal.MediaRow(3L, "image", "GIF87a document about gifs".getBytes),
      Multimodal.MediaRow(4L, "image", "BM25 ranking notes".getBytes)))).collect()
    val real = out.find(_.media_id == 1L).get
    assert(real.meta.width == 37 && real.meta.height == 21, real.meta)
    // undecodable image bytes fall back to the deterministic stub
    val stub = out.find(_.media_id == 2L).get
    assert(stub.meta.width >= 64 && stub.meta.height >= 64)
    Seq(3L, 4L).foreach { id =>
      val m = out.find(_.media_id == id).get.meta
      assert(m.width >= 64 && m.height >= 64, s"$id not on the stub path: $m")
    }
  }

  test("multimodal plumbing: schema, deterministic stub features, nulls") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", "somebytes".getBytes),
      Multimodal.MediaRow(2L, "audio", "otherbytes".getBytes),
      Multimodal.MediaRow(3L, "video", Array.emptyByteArray))
    val out = Multimodal.extractFeatures(spark, spark.createDataset(media)).collect()
    assert(out.length == 3)
    assert(out.forall(_.features.length == 16))
    val img = out.find(_.media_id == 1L).get
    assert(img.meta.width > 0 && img.meta.height > 0)
    // deterministic: second run identical
    val out2 = Multimodal.extractFeatures(spark, spark.createDataset(media)).collect()
    assert(out.map(_.features.toSeq).toSeq == out2.map(_.features.toSeq).toSeq)
    assert(Multimodal.frameSampleOffsets(1000L, 4) == Seq(0L, 250L, 500L, 750L))
  }

  test("tokenizer whitespace is the Java∩RE2 class: U+000B does NOT " +
    "split (DuckDB's RE2 \\s excludes it — both engines must agree)") {
    import spark.implicits._
    val df = Seq(("a\u000Bb c", 0)).toDF("text", "x")
    val toks = df.select(Dedup.tokens(col("text"))).head.getSeq[String](0)
    assert(toks == Seq("a\u000Bb", "c"))
    assert(df.select(TextOps.tokenCount(col("text"))).head.getInt(0) == 2)
    // normalizeWs leaves the vertical tab in place, as RE2 '\s+' would
    assert(df.select(TextOps.normalizeWs(col("text"))).head.getString(0)
      == "a\u000Bb c")
    // the kernel splits with the same class as the HOF path
    val k = df.select(Dedup.shingleHashes(col("text"), n = 3)).head.getSeq[Long](0)
    val h = df.select(Dedup.shingleHashesHof(col("text"),
      c => xxhash64(c), n = 3)).head.getSeq[Long](0)
    assert(k == h)
  }

  test("repetitionStats: planted degenerate text reads the exact Gopher-" +
    "style fractions; single-token docs drop out") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b"),          // words 4/2 dup .5; 3g {aaa,aab} dup 0; 2g top (a,a)=2 of 3
      (2L, "x y z w"),          // no repetition
      (3L, "loop loop loop loop loop"), // fully degenerate
      (4L, "single")            // one token: no 2-grams → dropped
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.5, 0.0, math.rint(2.0 / 3.0 * 1e4) / 1e4)))
    assert(out(2L) == ((0.0, 0.0, math.rint(1.0 / 3.0 * 1e4) / 1e4)))
    // 5×"loop": words 5/1 = .8 dup; 3-grams 3 total 1 distinct → 1−1/3;
    // 2-grams all identical → top 4/4
    assert(out(3L) == ((0.8, math.rint((1.0 - 1.0 / 3.0) * 1e4) / 1e4, 1.0)))
    assert(!out.contains(4L))
  }

  test("spanContamination: a verbatim eval copy of a train doc reads 1.0, " +
    "a disjoint doc 0.0; attribution pairs name the source train doc") {
    import spark.implicits._
    def words(a: Int, b: Int, p: String) = (a until b).map(i => s"$p$i").mkString(" ")
    val train = Seq(
      (1L, words(0, 30, "w")),
      (2L, words(100, 130, "w"))).toDF("doc_id", "text")
    val eval = Seq(
      (10L, words(0, 30, "w")),    // verbatim copy of train doc 1
      (11L, words(500, 530, "x")), // disjoint
      (12L, words(20, 40, "w")))   // partial overlap with doc 1's tail
      .toDF("doc_id", "text")
    val out = Dedup.spanContamination(train, eval, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L)._3 == 1.0)
    assert(out(11L)._3 == 0.0)
    assert(out(12L)._3 > 0.0 && out(12L)._3 < 1.0)
    // doc 12 has 20 words → 13 spans; spans fully inside w20..w29 exist
    // only for windows within train doc 1's range: w20..w27, w21..w28,
    // w22..w29 → 3 hits
    assert(out(12L) == ((13L, 3L, math.rint(3.0 / 13.0 * 1e4) / 1e4)))

    val pairs = Dedup.spanContaminationPairs(train, eval, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((10L, 1L, 23L))) // 30 words → 23 spans, all shared
    assert(pairs.contains((12L, 1L, 3L)))
    assert(!pairs.exists(_._1 == 11L))
  }

  test("semDedup: planted paraphrase pairs lose exactly their centroid-" +
    "farther member; distinct vectors survive (iters=0 and Lloyd iters=1)") {
    import spark.implicits._
    // ids 0 and 1 are the iters=0 init centroids (lowest-id vectors) —
    // one per axis, so both gate shapes cluster identically
    val vecs = Seq(
      (0L, Array(1f, 0f)),          // cluster around x-axis
      (1L, Array(0f, 1f)),          // cluster around y-axis
      (2L, Array(0.999f, 0.045f)),  // paraphrase of 0 (cos ≈ 0.999)
      (3L, Array(0.8f, 0.6f)),      // x-cluster, cos 0.8 < eps → kept
      (4L, Array(0.045f, 0.999f)),  // paraphrase of 1
      (5L, Array(-0.6f, 0.8f)))     // distinct, kept
    val df = vecs.toDF("vec_id", "embedding")
    for (iters <- Seq(0, 1)) {
      val out = Similarity.semDedup(df, "vec_id", "embedding",
        eps = 0.95, nlist = 2, iters = iters).collect()
        .map(r => r.getAs[Long]("id") ->
          (r.getAs[Double]("cdot"), r.getAs[Boolean]("dropped"))).toMap
      assert(out.size == 6)
      // each paraphrase pair loses exactly one member — the one with the
      // smaller (cdot, -id); singletons survive
      for (Seq(a, b) <- Seq(Seq(0L, 2L), Seq(1L, 4L))) {
        assert(out(a)._2 != out(b)._2, s"pair ($a,$b) at iters=$iters")
        val dropped = if (out(a)._2) a else b
        val kept = if (out(a)._2) b else a
        assert(out(dropped)._1 < out(kept)._1 ||
          (out(dropped)._1 == out(kept)._1 && dropped > kept))
      }
      assert(!out(3L)._2 && !out(5L)._2)
    }
  }

  test("semDedup: a mutual near-dup triple keeps exactly its best member " +
    "(strict total order — no empty groups, no double-keeps)") {
    import spark.implicits._
    // ids 0/1 are the init centroids (axes); the triple sits at ~26° off
    // the x-axis (cos 0.9 to the axis — not ITS near-dup) with pairwise
    // cos > 0.999, all assigned to the x cluster
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.9f, 0.436f)), (3L, Array(0.895f, 0.446f)),
      (4L, Array(0.905f, 0.426f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      eps = 0.99, nlist = 2, iters = 1).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("cdot"), r.getAs[Boolean]("dropped"))).toMap
    val triple = Seq(2L, 3L, 4L)
    val kept = triple.filterNot(out(_)._2)
    assert(kept.size == 1, s"exactly one survivor, got $kept")
    // the survivor is the (cdot desc, id asc) max of the triple
    assert(kept.head == triple.maxBy(id => (out(id)._1, -id)))
    assert(!out(0L)._2 && !out(1L)._2)
  }
}
