package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One pass over a document's text producing every integer count that
 * TextOps.qualityScore, TextOps.langId and TextOps.repetitionStats
 * consume (struct<int...>, fields in TextStats.Fields). It replaces two
 * dozen regex splits/replaces per row plus a relational token pipeline
 * (explode, window, groupBys, joins) with one compiled call; the final
 * round/when/greatest arithmetic stays in Catalyst (TextOps).
 *
 * Every count equals what the regex formulation it replaces computes
 * (pinned bit-for-bit against those formulations in KernelParitySpec):
 *  - over norm = trim(regexp_replace(text, "[ \t\n\f\r]+", " ")), in code
 *    points: `len`, `words` (size of its whitespace split — 1 for ""),
 *    `punct` ([.!?]), `symbols` (not \p{L}, \p{N}, whitespace or
 *    .,;:!?'"()-), and the script counts `kana` (Hiragana/Katakana),
 *    `hangul`, `han`, `cyrillic` (java.util.regex \p{IsX} = UnicodeScript);
 *  - over " " + lower(norm) + " ": `stop_hits`, the non-overlapping
 *    matches of [ws](the|and|of|a|to|is)[ws] — a match consumes the
 *    whitespace after its word, so a run of k stopwords of ANY of the six
 *    counts ⌈k/2⌉ — and `hits_en`/`hits_de`/`hits_fr`/`hits_es`, the sum
 *    over each language's six words of the matches of [ws]word[ws] — per
 *    word, so only runs of the SAME word halve;
 *  - over Dedup.tokens(text) = split(lower(trim(text)), "[ws]+"), where
 *    trim strips spaces only (a leading tab yields a leading "" token):
 *    `n_words`, `d_words` (distinct tokens), `n_2g` (adjacent pairs),
 *    `top_2g` (count of the most frequent pair) and `d_3g`, the size of
 *    Dedup.shingleHashes(text, 3) computed by the same
 *    VectorKernels.shingleHashes code.
 *
 * lower is Spark's own Lower primitive (CollationSupport, ICU case
 * mappings when the session enables them), while the shingle kernel
 * lowercases with UTF8String.toLowerCase (the JDK tables); the two differ
 * on characters newer than the JDK's Unicode version, so the 3-gram count
 * re-splits the JDK-lowered text when the two lowercasings disagree.
 */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextStats.Schema
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_text_stats requires a string argument, got ${child.dataType.sql}")
  private lazy val collationId: Int =
    child.dataType.asInstanceOf[StringType].collationId
  // read the way catalyst's Lower reads it
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String], collationId, useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.TextStats.compute($c, $collationId, $useICU)")
  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
  override def prettyName: String = "graft_text_stats"
}

object TextStats {

  val Fields: Seq[String] = Seq(
    "len", "words", "punct", "symbols", "stop_hits",
    "hits_en", "hits_de", "hits_fr", "hits_es",
    "kana", "hangul", "han", "cyrillic",
    "n_words", "d_words", "n_2g", "top_2g", "d_3g")

  private val Schema: StructType =
    StructType(Fields.map(StructField(_, IntegerType, nullable = false)))

  def column(text: Column): Column =
    GraftSqlShim.column(TextStats(GraftSqlShim.expression(text)))

  private val Len = Fields.indexOf("len")
  private val Words = Fields.indexOf("words")
  private val Punct = Fields.indexOf("punct")
  private val Symbols = Fields.indexOf("symbols")
  private val StopHits = Fields.indexOf("stop_hits")
  private val Hits = Fields.indexOf("hits_en") // hits_de/fr/es follow
  private val Kana = Fields.indexOf("kana")
  private val Hangul = Fields.indexOf("hangul")
  private val Han = Fields.indexOf("han")
  private val Cyrillic = Fields.indexOf("cyrillic")
  private val NWords = Fields.indexOf("n_words")
  private val DWords = Fields.indexOf("d_words")
  private val N2g = Fields.indexOf("n_2g")
  private val Top2g = Fields.indexOf("top_2g")
  private val D3g = Fields.indexOf("d_3g")

  /** langId's stopwords, six per language in hits_en/de/fr/es order; the
    * first six are also qualityScore's alternation. */
  private val StopWords: Array[Array[Byte]] = Array(
    "the", "and", "of", "a", "to", "is",
    "der", "die", "und", "das", "ist", "ein",
    "le", "la", "et", "les", "des", "est",
    "el", "de", "y", "que", "los", "una").map(_.getBytes("UTF-8"))

  /** Dedup.WsClass: [ \t\n\f\r] — NOT U+000B. */
  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** [\p{L}\p{N}] — java.util.regex tests both with Character.getType. */
  private def isLetterOrNumber(c: Int): Boolean =
    Character.getType(c) match {
      case Character.UPPERCASE_LETTER | Character.LOWERCASE_LETTER |
           Character.TITLECASE_LETTER | Character.MODIFIER_LETTER |
           Character.OTHER_LETTER | Character.DECIMAL_DIGIT_NUMBER |
           Character.LETTER_NUMBER | Character.OTHER_NUMBER => true
      case _ => false
    }

  /** Outside qualityScore's [\p{L}\p{N} \t\n\f\r.,;:!?'"()-] class. */
  private[graft] def isSymbol(c: Int): Boolean =
    !(isLetterOrNumber(c) || isWs(c) || ".,;:!?'\"()-".indexOf(c) >= 0)

  /** The kana/hangul/han/cyrillic field slot of code point `c`, or -1
    * (\p{IsHiragana}, \p{IsKatakana}, ...: java.util.regex resolves these
    * names to Character.UnicodeScript). */
  private[graft] def scriptSlot(c: Int): Int =
    Character.UnicodeScript.of(c) match {
      case Character.UnicodeScript.HIRAGANA |
           Character.UnicodeScript.KATAKANA => Kana
      case Character.UnicodeScript.HANGUL => Hangul
      case Character.UnicodeScript.HAN => Han
      case Character.UnicodeScript.CYRILLIC => Cyrillic
      case _ => -1
    }

  /** Static entry the generated code calls. */
  def compute(text: UTF8String, collationId: Int, useICU: Boolean): InternalRow = {
    val out = new Array[Int](Fields.length)
    normalizedCounts(text.toString, collationId, useICU, out)
    tokenCounts(text, collationId, useICU, out)
    new GenericInternalRow(Array.tabulate[Any](out.length)(out(_)))
  }

  private def normalizedCounts(s: String, collationId: Int, useICU: Boolean,
                               out: Array[Int]): Unit = {
    // norm: whitespace runs → one space, leading/trailing runs dropped
    val sb = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (isWs(ch)) pending = sb.length > 0
      else {
        if (pending) { sb.append(' '); pending = false }
        sb.append(ch)
      }
      i += 1
    }
    val norm = sb.toString
    var spaces = 0
    i = 0
    while (i < norm.length) {
      val c = norm.codePointAt(i)
      i += Character.charCount(c)
      out(Len) += 1
      if (c == ' ') spaces += 1
      else {
        if (c == '.' || c == '!' || c == '?') out(Punct) += 1
        if (isSymbol(c)) out(Symbols) += 1
        if (c >= 0x80) {
          val slot = scriptSlot(c)
          if (slot >= 0) out(slot) += 1
        }
      }
    }
    out(Words) = spaces + 1
    stopwordHits(
      CollationSupport.Lower.exec(UTF8String.fromString(norm), collationId, useICU),
      out)
  }

  /** Index into StopWords of bytes [from, until) of `s`, or -1. */
  private def stopWord(s: UTF8String, from: Int, until: Int): Int = {
    val n = until - from
    if (n > 3) return -1
    var w = 0
    while (w < StopWords.length) {
      val sw = StopWords(w)
      if (sw.length == n) {
        var j = 0
        while (j < n && s.getByte(from + j) == sw(j)) j += 1
        if (j == n) return w
      }
      w += 1
    }
    -1
  }

  /** Regex match counts over " " + lowered + " ", walked token by token:
    * every whitespace byte closes one token (consecutive ones close empty
    * tokens), and a token matches unless the previous token's match
    * consumed the whitespace between them. */
  private def stopwordHits(lowered: UTF8String, out: Array[Int]): Unit = {
    val n = lowered.numBytes()
    var prevWord = -1
    var prevWordMatched = false
    var prevEnMatched = false
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || isWs(lowered.getByte(i))) {
        val w = stopWord(lowered, start, i)
        val wordMatch = w >= 0 && !(w == prevWord && prevWordMatched)
        if (wordMatch) out(Hits + w / 6) += 1
        val enMatch = w >= 0 && w < 6 && !prevEnMatched
        if (enMatch) out(StopHits) += 1
        prevWord = w
        prevWordMatched = wordMatch
        prevEnMatched = enMatch
        start = i + 1
      }
      i += 1
    }
  }

  private def tokenCounts(text: UTF8String, collationId: Int, useICU: Boolean,
                          out: Array[Int]): Unit = {
    val trimmed = text.trim()
    val lowered = CollationSupport.Lower.exec(trimmed, collationId, useICU)
    val toks = lowered.split(VectorKernels.WsRegex, -1)
    val n = toks.length
    val ids = new java.util.HashMap[UTF8String, Integer]()
    val tid = new Array[Int](n)
    var i = 0
    while (i < n) {
      val known = ids.putIfAbsent(toks(i), ids.size())
      tid(i) = if (known == null) ids.size() - 1 else known
      i += 1
    }
    out(NWords) = n
    out(DWords) = ids.size()
    if (n >= 2) {
      // most frequent adjacent pair: sort the packed (left, right) ids
      val pairs = Array.tabulate(n - 1)(j => (tid(j).toLong << 32) | tid(j + 1))
      java.util.Arrays.sort(pairs)
      var top = 1
      var run = 1
      i = 1
      while (i < pairs.length) {
        run = if (pairs(i) == pairs(i - 1)) run + 1 else 1
        if (run > top) top = run
        i += 1
      }
      out(N2g) = n - 1
      out(Top2g) = top
    }
    val jdkLowered = trimmed.toLowerCase()
    val shingleToks =
      if (jdkLowered == lowered) toks else jdkLowered.split(VectorKernels.WsRegex, -1)
    out(D3g) = VectorKernels.shingleHashes(shingleToks, 3, md5 = false,
      distinct = true).numElements()
  }
}
