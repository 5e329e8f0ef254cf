package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.PyText

/** Transliterated from breadability/utils.py semantics + reference usages. */
class PyTextSpec extends AnyFunSuite {

  test("normalize: runs with newline become LF, others single space") {
    assert(PyText.normalizeWhitespace("This is\n\tsimple\ttext.") == "This is\nsimple text.")
    assert(PyText.normalizeWhitespace("a  \t b") == "a b")
    assert(PyText.normalizeWhitespace("a \r b") == "a\nb")
  }

  test("shrink strips then normalizes") {
    assert(PyText.shrinkText("  1 first ") == "1 first")
    assert(PyText.shrinkText(" 3\rthird   ") == "3\nthird")
  }

  test("is_blank matches Python semantics incl. NBSP") {
    assert(PyText.isBlank(""))
    assert(PyText.isBlank(" \t\n"))
    assert(PyText.isBlank(" ")) // &nbsp; is whitespace in Python
    assert(!PyText.isBlank(" x "))
  }

  test("nbsp participates in whitespace runs (Python \\s unicode)") {
    assert(PyText.normalizeWhitespace("a  b") == "a b")
    assert(PyText.strip(" x ") == "x")
  }

  test("pyLen counts code points") {
    assert(PyText.pyLen("ab") == 2)
    assert(PyText.pyLen("😀") == 1) // astral char
  }

  // TextScan (ScoringSpec.scala) is the reference TextCache is pinned
  // against; this keeps the reference itself checked against the
  // composed form
  test("TextScan.normStrippedLen ≡ pyLen∘normalize∘strip (property)") {
    val gen = new scala.util.Random(42)
    val alphabet = "ab ,\t\n\r é😀 x"
    (1 to 500).foreach { _ =>
      val s = (1 to gen.nextInt(30)).map(_ => alphabet(gen.nextInt(alphabet.length))).mkString
      assert(TextScan.normStrippedLen(s) ==
        PyText.pyLen(PyText.normalizeWhitespace(PyText.strip(s))), s"input=${s.getBytes("UTF-8").toList}")
    }
  }

  test("normalize idempotent (property)") {
    val samples = List("a  b\n c", "\t\t", "", "x", "a \nb", "ľščť žý")
    samples.foreach { s =>
      val once = PyText.normalizeWhitespace(s)
      assert(PyText.normalizeWhitespace(once) == once)
    }
  }
}
