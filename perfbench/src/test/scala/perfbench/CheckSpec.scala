package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  import Check._

  private val templateOf = Map("u1" -> "t:a", "u2" -> "t:a", "u3" -> "t:b", "u4" -> "deep")
  private val expected = Map("t:a" -> rowDigest("ok", "alpha"), "t:b" -> rowDigest("ok", "beta"))
  private val good = Seq(Row("u1", "ok", "alpha"), Row("u2", "ok", "alpha"),
    Row("u3", "ok", "beta"), Row("u4", "error", ""))

  test("a faithful output passes; the hostile row's error is counted, not checked") {
    val r = extraction(good, templateOf, expected, hostile = Set("deep"))
    assert(r.correct)
    assert(r == Result(attempted = 4, statusErrors = 1, mismatched = 0, missing = 0,
      unexpected = 0, failedRows = 1))
  }

  test("a corrupted output is caught") {
    val corrupted = good.updated(2, Row("u3", "ok", "beta corrupted"))
    val r = extraction(corrupted, templateOf, expected, Set("deep"))
    assert(!r.correct)
    assert(r.mismatched == 1 && r.failedRows == 2)
  }

  test("a changed status alone is caught") {
    val r = extraction(good.updated(0, Row("u1", "parsing-error", "alpha")),
      templateOf, expected, Set("deep"))
    assert(!r.correct && r.mismatched == 1)
  }

  test("a row that is both an error and a mismatch fails once") {
    val broken = good.map(r => Row(r.url, "error", ""))
    val r = extraction(broken, templateOf, expected, Set("deep"))
    assert(!r.correct)
    assert(r.statusErrors == 4 && r.mismatched == 3)
    assert(r.failedRows == 4)
  }

  test("missing, duplicated and foreign rows are caught") {
    assert(extraction(good.drop(1), templateOf, expected, Set("deep")).missing == 1)
    assert(extraction(good :+ Row("u1", "ok", "alpha"), templateOf, expected, Set("deep"))
      .unexpected == 1)
    assert(extraction(good :+ Row("u9", "ok", "x"), templateOf, expected, Set("deep"))
      .unexpected == 1)
  }

  test("a curation run must match the funnel and the curated ids") {
    val f = """{"extracted":3,"curated":2}"""
    assert(curation(f, Seq("/doc/1", "/doc/2"), 3, f, Seq("/doc/1", "/doc/2")).correct)
    val lost = curation(f, Seq("/doc/1"), 3, f, Seq("/doc/1", "/doc/2"))
    assert(!lost.correct && lost.missing == 1)
    val extra = curation(f, Seq("/doc/1", "/doc/2", "/doc/3"), 3, f, Seq("/doc/1", "/doc/2"))
    assert(!extra.correct && extra.unexpected == 1)
    assert(!curation("""{"extracted":3,"curated":3}""", Seq("/doc/1", "/doc/2"), 3, f,
      Seq("/doc/1", "/doc/2")).correct)
  }

  test("digests separate status from text") {
    assert(rowDigest("ok", "x") != rowDigest("okx", ""))
    assert(rowDigest("ok", null) == rowDigest("ok", ""))
  }
}
