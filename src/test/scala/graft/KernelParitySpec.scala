package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Mat, TextOps}
import graft.plans.{TextStats, VectorKernels}

/**
 * The native codegen kernels (plans/VectorKernels, plans/TextStats) must
 * be BIT-IDENTICAL to the interpreted higher-order-function and regex/
 * relational formulations they replaced — the DuckDB oracles were derived
 * from that math. Each test evaluates both on the same data and asserts
 * exact equality (doubles compared via ===, no tolerance).
 */
class KernelParitySpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  // deterministic pseudo-random streams (no RNG object)
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def floats(seed: Long, n: Int): Array[Float] =
    Array.tabulate(n)(i => (mix(seed + i).toDouble / Long.MaxValue).toFloat)
  private def longs(seed: Long, n: Int): Array[Long] =
    Array.tabulate(n)(i => mix(seed * 31 + i)) // full-range, incl. negative

  private def vecDf = {
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, floats(i * 977L, 64))).toDF("id", "v")
  }
  private def hashDf = {
    import spark.implicits._
    // ragged lengths incl. 1-element; full-range longs like xxhash64 output
    (0 until 50).map(i => (i.toLong, longs(i * 131L, 1 + (i * 7) % 300)))
      .toDF("id", "hs")
  }

  private def hofDot(v: Column, w: Seq[Double]): Column =
    aggregate(zip_with(v, typedlit(w), (x, ww) => x.cast("double") * ww),
      lit(0.0), (acc, x) => acc + x)

  private def assertAllEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.where(!(col("kernel") === col("hof")) ||
        col("kernel").isNull =!= col("hof").isNull)
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("DotConst === aggregate(zip_with(...)) bit-for-bit") {
    val w = Dedup.hyperplane(3, 2)
    assertAllEqual(vecDf.select(
      VectorKernels.dotConst(col("v"), w).as("kernel"),
      hofDot(col("v"), w).as("hof")))
  }

  test("CosineSim === three-fold HOF cosine bit-for-bit (incl. self-pairs)") {
    val a = vecDf.select(col("id"), col("v").as("va"))
    val b = vecDf.select((col("id") + 1).as("id"), col("v").as("vb"))
    val pairs = a.join(b, Seq("id")) // shifted pairing + verify on distinct vectors
    val hofCos = {
      val dot = aggregate(zip_with(col("va"), col("vb"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(col("va"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      val nb = sqrt(aggregate(col("vb"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      dot / (na * nb)
    }
    assertAllEqual(pairs.select(
      VectorKernels.cosine(col("va"), col("vb")).as("kernel"), hofCos.as("hof")))
  }

  test("SimHash64 === 64x aggregate majority vote bit-for-bit") {
    val hofSimhash = {
      val n = size(col("hs"))
      (0 until 64).map { b =>
        val cnt = aggregate(col("hs"), lit(0),
          (acc, h) => acc + when(h.bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(0))
        when(cnt * 2 >= n, lit(1L << b)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
    assertAllEqual(hashDf.select(
      VectorKernels.simhash(col("hs")).as("kernel"), hofSimhash.as("hof")))
  }

  test("MinHashSig === k x array_min(transform(...)) bit-for-bit") {
    val k = 32
    val params = Dedup.hashParams(k)
    val hofSig = array(params.map { case (a, b) =>
      array_min(transform(col("hs"), h =>
        pmod(pmod(h, lit(Int.MaxValue.toLong)) * lit(a) + lit(b),
          lit(Dedup.MersennePrime))))
    }: _*)
    assertAllEqual(hashDf.select(
      VectorKernels.minhash(col("hs"), params).as("kernel"), hofSig.as("hof")))
  }

  test("ShingleHash === array_distinct(transform(shingles(...), hash)) " +
    "bit-for-bit, both algos, over adversarial texts") {
    import spark.implicits._
    // adversarial shapes: empty, pure whitespace, leading tab (StringSplit
    // yields an empty first token), multi-space runs, NBSP (NOT regex \s),
    // mixed case + unicode lowercasing (Turkish İ, ß, CJK), < n tokens,
    // exactly n tokens, duplicated shingles (distinct path), long text
    val texts = Seq(
      "", "   ", "\tleading tab", "a", "a b", "a b c", "a b c d e",
      "A  B\t\nC  d", "word joined nbsp", "İstanbul ıI ß STRASSE",
      "中文 测试 文本 分词 中文 测试 文本 分词",
      "x y z x y z x y z x y z",
      (1 to 200).map(i => s"tok${i % 37}").mkString(" "),
      "  padded   both   ends  ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(3, 8); md5 <- Seq(false, true)) {
      val hashFn: Column => Column =
        if (md5) Dedup.md5Hash60 else (c => xxhash64(c))
      assertAllEqual(df.select(
        VectorKernels.shingleHash(col("text"), n, md5).as("kernel"),
        Dedup.shingleHashesHof(col("text"), hashFn, n).as("hof")))
    }
  }

  test("ShingleHash(n=1, distinct=false) === transform(tokens(text), hash) " +
    "bit-for-bit (duplicate tokens preserved, in order)") {
    import spark.implicits._
    val texts = Seq("", "   ", "a a a b a", "\tx  y\tx", "İ ß 中文 中文",
      (1 to 300).map(i => s"w${i % 11}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (md5 <- Seq(false, true)) {
      val hashFn: Column => Column =
        if (md5) Dedup.md5Hash60 else (c => xxhash64(c))
      assertAllEqual(df.select(
        VectorKernels.shingleHash(col("text"), 1, md5, distinct = false).as("kernel"),
        transform(Dedup.tokens(col("text")), hashFn).as("hof")))
    }
  }

  // ---- TextStats: the regex/relational formulations it replaced ------

  /** qualityScore / langId / repetitionStats as written before the
    * TextStats kernel: the reference the kernel-based operators must
    * reproduce bit-for-bit. */
  private object Ref {
    private val Ws = Dedup.WsClass
    def normalizeWs(text: Column): Column =
      trim(regexp_replace(text, s"[$Ws]+", " "))
    def tokenCount(text: Column): Column = size(split(trim(text), s"[$Ws]+"))
    private def padded(norm: Column): Column = concat(lit(" "), lower(norm), lit(" "))
    def enStopHits(norm: Column): Column =
      size(split(padded(norm), s"[$Ws](the|and|of|a|to|is)[$Ws]")) - 1
    def hits(norm: Column, words: Seq[String]): Column =
      words.map(w => size(split(padded(norm), s"[$Ws]$w[$Ws]")) - 1).reduce(_ + _)
    val Langs = Seq(
      Seq("the", "and", "of", "a", "to", "is"),
      Seq("der", "die", "und", "das", "ist", "ein"),
      Seq("le", "la", "et", "les", "des", "est"),
      Seq("el", "de", "y", "que", "los", "una"))
    def nospace(norm: Column): Column = regexp_replace(norm, s"[$Ws]", "")
    def scriptCount(norm: Column, re: String): Column =
      length(nospace(norm)) - length(regexp_replace(nospace(norm), re, ""))
    val Scripts = Seq("kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]",
      "hangul" -> "[\\p{IsHangul}]", "han" -> "[\\p{IsHan}]",
      "cyrillic" -> "[\\p{IsCyrillic}]")
    val SymbolClass = s"[\\p{L}\\p{N}$Ws.,;:!?'\"()-]"

    def langId(text: Column): Column = {
      val norm = normalizeWs(text)
      val total = length(nospace(norm)).cast("double")
      def sc(re: String): Column =
        total - length(regexp_replace(nospace(norm), re, "")).cast("double")
      val Seq(kana, hangul, han, cyr) = Scripts.map(x => sc(x._2))
      val Seq(en, de, fr, es) = Langs.map(hits(norm, _))
      val best = greatest(en, de, fr, es)
      when(total <= 0, lit("und"))
        .when(kana / total > 0.05, lit("ja"))
        .when(hangul / total > 0.25, lit("ko"))
        .when(han / total > 0.25, lit("zh"))
        .when(cyr / total > 0.25, lit("ru"))
        .when(best <= 0, lit("und"))
        .when(en === best, lit("en"))
        .when(de === best, lit("de"))
        .when(fr === best, lit("fr"))
        .otherwise(lit("es"))
    }

    def qualityScore(text: Column): Column = {
      val norm = normalizeWs(text)
      val len = length(norm).cast("double")
      val words = tokenCount(norm).cast("double")
      val meanWordLen = when(words > 0, len / words).otherwise(lit(0.0))
      val punct = length(regexp_replace(norm, "[^.!?]", "")).cast("double")
      val symbols = length(regexp_replace(norm, SymbolClass, "")).cast("double")
      val stopHits = enStopHits(norm).cast("double")
      val lengthBand = when(len >= 200 && len <= 20000, 1.0)
        .when(len >= 50, 0.5).otherwise(0.0)
      val wordShape = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.3)
      val punctRate = least(punct / greatest(words, lit(1.0)) * 10.0, lit(1.0))
      val stopRate = least(stopHits / greatest(words, lit(1.0)) * 5.0, lit(1.0))
      val noise = least(symbols / greatest(len, lit(1.0)) * 20.0, lit(1.0))
      round((lengthBand * 0.3 + wordShape * 0.2 + punctRate * 0.2 + stopRate * 0.3) *
        (lit(1.0) - noise * 0.5), 4)
    }

    def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val toks = df.select(col(idCol).as("id"),
        posexplode(Dedup.tokens(col(textCol)))).toDF("id", "pos", "tok")
      val w = Window.partitionBy(col("id")).orderBy(col("pos"))
      val grams = Mat.corpus(toks.withColumn("nxt", lead(col("tok"), 1).over(w)))
      val words = grams.groupBy(col("id")).agg(
        count(lit(1)).as("n_words"),
        countDistinct(col("tok")).as("d_words"))
      val twoG = grams.where(col("nxt").isNotNull)
        .groupBy(col("id"), col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("n_2g"), max(col("c")).as("top_2g"))
      val threeG = df.select(col(idCol).as("id"),
        size(Dedup.shingleHashes(col(textCol), 3)).as("d_3g"))
      words.join(twoG, Seq("id")).join(threeG, Seq("id"))
        .select(col("id"),
          round(lit(1.0) - col("d_words").cast("double") / col("n_words"), 4)
            .as("dup_word_frac"),
          round(when(col("n_words") >= 3,
            lit(1.0) - col("d_3g").cast("double") / (col("n_words") - 2))
            .otherwise(0.0), 4).as("dup_3gram_frac"),
          round(col("top_2g").cast("double") / col("n_2g"), 4)
            .as("top_2gram_frac"))
    }
  }

  /** Planted edge cases (see each comment) plus ≥ 1,000 seeded random
    * strings over an alphabet of every class the kernel distinguishes. */
  private lazy val textDf: DataFrame = {
    import spark.implicits._
    val planted = Seq(
      "", "   ", "\t", "\n\n", " \r\n ", "a", "word", "  single  ",
      "\tleading tab", "\n\nthe the", "\tthe", "trailing tab\t", "a\t\tb",
      "the the the", "the the the the", "of the and", "of the and is a to",
      "the and the of", "THE The tHe", "der der die", "le le la la la",
      "y y y", "de de des des de", "the\u00A0the the",
      "x\u000By z", "\u000B", "\u000Bthe the\u000B", "a\u000B the \u000Bb",
      "ひらがな カタカナ 한국어 漢字 кириллица", "日本語のテキストです 漢字",
      "中文 测试 文本", "한국어 텍스트", "это русский текст", "Д д Ж",
      "\uD835\uDC00\uD835\uDC01 \uD83D\uDE00 \uD840\uDC00\uD840\uDC01 text",
      "İstanbul İ İİ the İS İs", "ΟΔΟΣ ΣΟΦΙΑΣ Σ", "\u2C2F\u2C2F x \u2C2F",
      // lower (ICU case mappings) folds U+2C2F to U+2C5F, the JDK tables
      // behind the shingle kernel do not: d_words and d_3g must each
      // follow their own formulation's lowering
      "\u2C2F \u2C5F \u2C2F", "\u2C2F a b \u2C5F a b",
      "\uD803\uDD50\uD803\uDD51 abc \uD803\uDD50",
      "Hello, world! How are you? (fine) - 'ok' \"q\" #tag @me 100% $5 ~~~",
      "a\tb\nc\fd\re", "  padded   both   ends  ",
      (1 to 200).map(i => s"tok${i % 7}").mkString(" "),
      (1 to 60).map(i => if (i % 3 == 0) "the" else "of").mkString(" "))
    val alphabet = Array(" ", " ", " ", "\t", "\n", "\u000B", "\f", "\r",
      "a", "b", "e", "t", "h", "T", "H", "E", "İ", "ı", "ß", "Σ", "σ",
      ".", "!", "?", ",", "'", "\"", "(", "-", "#", "@", "1", "\u0663",
      "あ", "カ", "ー", "한", "中", "д", "Д", "\u00A0", "\u0307",
      "\uD835\uDC00", "\uD83D\uDE00", "\uD840\uDC00", "\u2C2F", "\u2C5F", "\uD803\uDD50")
    val vocab = Array("the", "and", "of", "a", "to", "is", "der", "die", "und",
      "das", "ist", "ein", "le", "la", "et", "les", "des", "est", "el", "de",
      "y", "que", "los", "una", "THE", "Der", "İs", "x", "ab", "中文", "д",
      "\uD83D\uDE00", "a.", "the!", "\u000B", "")
    val seps = Array(" ", " ", " ", "  ", "\t", "\n ", " \r\n", "\u000B")
    def pick[T](arr: Array[T], z: Long): T = arr(((z >>> 1) % arr.length).toInt)
    val random = (0 until 1200).map { i =>
      val z = mix(7919L * i)
      val n = ((z >>> 3) % 40).toInt
      if (i % 2 == 0)
        (0 until n).map(j => pick(alphabet, mix(z + j))).mkString
      else
        (if ((z & 1) == 0) "" else pick(seps, z)) +
          (0 until n).map(j => pick(vocab, mix(z + j)) + pick(seps, mix(z - j))).mkString
    }
    ((planted ++ random).map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("TextStats counts === their regex definitions over planted and " +
    "random texts") {
    val st = col("st")
    val norm = Ref.normalizeWs(col("text"))
    val refs: Seq[(String, Column)] = Seq(
      "len" -> length(norm),
      "words" -> Ref.tokenCount(norm),
      "punct" -> length(regexp_replace(norm, "[^.!?]", "")),
      "symbols" -> length(regexp_replace(norm, Ref.SymbolClass, "")),
      "stop_hits" -> Ref.enStopHits(norm)) ++
      Seq("en", "de", "fr", "es").zip(Ref.Langs).map { case (l, ws) =>
        s"hits_$l" -> Ref.hits(norm, ws) } ++
      Ref.Scripts.map { case (f, re) => f -> Ref.scriptCount(norm, re) } ++ Seq(
      "n_words" -> size(Dedup.tokens(col("text"))),
      "d_words" -> size(array_distinct(Dedup.tokens(col("text")))),
      "n_2g" -> greatest(size(Dedup.tokens(col("text"))) - 1, lit(0)),
      // the repetition operator's own pre-kernel d_3g expression
      "d_3g" -> size(Dedup.shingleHashes(col("text"), 3)))
    val df = textDf.where(col("text").isNotNull)
      .select(col("text"), TextOps.textStats(col("text")).as("st"))
    for ((f, ref) <- refs)
      withClue(s"field $f: ")(assertAllEqual(df.select(st(f).as("kernel"), ref.as("hof"))))
    assert(textDf.where(col("text").isNull)
      .select(TextOps.textStats(col("text")).isNull).head.getBoolean(0))
  }

  test("qualityScore / langId / repetitionStats === the pre-kernel regex and " +
    "relational formulations bit-for-bit") {
    assertAllEqual(textDf.select(TextOps.qualityScore(col("text")).as("kernel"),
      Ref.qualityScore(col("text")).as("hof")))
    assertAllEqual(textDf.select(TextOps.langId(col("text")).as("kernel"),
      Ref.langId(col("text")).as("hof")))
    def rows(df: DataFrame): Set[(Long, Seq[Long])] = df.collect().map { r =>
      r.getLong(0) -> (1 to 3).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    }.toSet
    val kernel = rows(TextOps.repetitionStats(textDf, "id", "text"))
    val ref = rows(Ref.repetitionStats(textDf, "id", "text"))
    assert(kernel.size > 1000)
    assert(kernel == ref, (kernel diff ref).take(3).mkString("; ") + " vs " +
      (ref diff kernel).take(3).mkString("; "))
    // a null id drops out as from the reference's joins
    import spark.implicits._
    val nullId = Seq((Option.empty[java.lang.Long], "a a b")).toDF("id", "text")
    assert(TextOps.repetitionStats(nullId, "id", "text").count() == 0)
  }

  test("TextStats character classes === java.util.regex over every code point") {
    val symbol = java.util.regex.Pattern.compile(Ref.SymbolClass)
    val scripts = Ref.Scripts.map { case (f, re) =>
      TextStats.Fields.indexOf(f) -> java.util.regex.Pattern.compile(re) }
    val bad = (0 to Character.MAX_CODE_POINT).iterator
      .filterNot(c => c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE)
      .filter { c =>
        val s = new String(Character.toChars(c))
        val slot = scripts.collectFirst { case (i, p) if p.matcher(s).matches() => i }
          .getOrElse(-1)
        TextStats.isSymbol(c) == symbol.matcher(s).matches() ||
          TextStats.scriptSlot(c) != slot
      }.take(5).toList
    assert(bad.isEmpty, bad.map(c => f"U+$c%04X").mkString(", "))
  }

  test("kernels survive codegen inside a realistic plan (filter + join)") {
    // smoke: evaluate inside WholeStageCodegen with surrounding operators
    val out = vecDf.as("x").join(vecDf.as("y"), col("x.id") < col("y.id"))
      .select(VectorKernels.cosine(col("x.v"), col("y.v")).as("cos"))
      .where(col("cos") > -2.0)
    assert(out.count() == 50L * 49 / 2)
  }
}
