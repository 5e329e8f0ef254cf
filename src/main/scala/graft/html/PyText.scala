package graft.html

/**
 * Python-compatible text primitives. The reference's whitespace handling
 * (breadability/utils.py:21-51) runs under Python's Unicode `\s` /
 * `str.isspace()`, which include NBSP (U+00A0) and other Unicode spaces
 * that Java's `Character.isWhitespace` does NOT. Lengths are Python
 * `len()` = code points, not UTF-16 units. All byte-parity-critical
 * counting goes through here.
 */
object PyText {

  // Latin-1 verdicts precomputed FROM the predicate below (the table is
  // definitionally identical for cp < 0x100); the text-index loops are
  // char-at-a-time, so one bounds check + array load beats the branch
  // chain on the hot path.
  private val latin1Space: Array[Boolean] =
    Array.tabulate(0x100)(cp =>
      cp == 0x20 || (cp >= 0x09 && cp <= 0x0D) || (cp >= 0x1C && cp <= 0x1F) ||
        cp == 0x85 || cp == 0xA0)

  /** Python str.isspace() / re \s (UNICODE) membership. */
  def isPySpace(cp: Int): Boolean =
    if (cp < 0x100) latin1Space(cp)
    else cp match {
      case 0x1680 | 0x2028 | 0x2029 | 0x202F | 0x205F | 0x3000 => true
      case c if c >= 0x2000 && c <= 0x200A => true
      case _ => false
    }

  /** Python `not text or text.isspace()` (utils.py:24-29). */
  def isBlank(text: String): Boolean = {
    if (text == null || text.isEmpty) return true
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (!isPySpace(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }

  /** Python str.strip() with Unicode whitespace. */
  def strip(text: String): String = {
    if (text == null) return ""
    var a = 0
    var b = text.length
    while (a < b && isPySpace(text.codePointAt(a))) a += Character.charCount(text.codePointAt(a))
    while (b > a) {
      val cp = text.codePointBefore(b)
      if (!isPySpace(cp)) return text.substring(a, b)
      b -= Character.charCount(cp)
    }
    text.substring(a, b)
  }

  /**
   * Reference `normalize_whitespace` (utils.py:36-51): each run of
   * whitespace becomes "\n" if the run contains CR/LF, else " ".
   */
  def normalizeWhitespace(text: String): String = {
    if (text == null || text.isEmpty) return text
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    val len = text.length
    while (i < len) {
      val cp = text.codePointAt(i)
      if (isPySpace(cp)) {
        var hasNl = false
        while (i < len && isPySpace(text.codePointAt(i))) {
          val c = text.codePointAt(i)
          if (c == 0x0A || c == 0x0D) hasNl = true
          i += Character.charCount(c)
        }
        sb.append(if (hasNl) '\n' else ' ')
      } else {
        sb.appendCodePoint(cp)
        i += Character.charCount(cp)
      }
    }
    sb.toString
  }

  /** Reference `shrink_text` (utils.py:32-33). */
  def shrinkText(text: String): String = normalizeWhitespace(strip(text))

  /** Python len(): code points. */
  def pyLen(s: String): Int =
    if (s == null) 0 else s.codePointCount(0, s.length)
}
