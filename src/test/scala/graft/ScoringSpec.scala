package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.regex.Pattern
import graft.html.{Node, Parser, PyText}
import graft.extract.{Article, Decode, Scoring, TextCache}
import graft.extract.Scoring.ScoredNode

/** Transliterated from /root/reference/tests/test_scoring.py. */
class ScoringSpec extends AnyFunSuite {

  private def frag(s: String) = Parser.parseFragment(s)

  test("check_node_attributes class/id hits and misses (test_scoring.py:50-83)") {
    val p = Pattern.compile("test1|test2", Pattern.CASE_INSENSITIVE)
    val n1 = frag("<div/>"); n1.set("class", "test2 comment")
    assert(Scoring.checkNodeAttributes(p, n1, "class"))
    val n2 = frag("<div/>"); n2.set("id", "test2")
    assert(Scoring.checkNodeAttributes(p, n2, "id"))
    val n3 = frag("<div/>"); n3.set("class", "test4 comment")
    assert(!Scoring.checkNodeAttributes(p, n3, "class"))
    val n4 = frag("<div/>"); n4.set("id", "test4")
    assert(!Scoring.checkNodeAttributes(p, n4, "id"))
  }

  test("link density: empty and link-free docs are 0 (test_scoring.py:89-99)") {
    assert(Scoring.getLinkDensity(Article("<div></div>").readableDom) == 0.0)
    val a = Article.fromBytes(Fixtures.snippetBytes("document_min.html"))
    assert(Scoring.getLinkDensity(a.readableDom) == 0.0)
  }

  test("link density == 22/37 on absolute-url doc (test_scoring.py:102-107)") {
    val a = Article.fromBytes(Fixtures.snippetBytes("document_absolute_url.html"))
    assert(Scoring.getLinkDensity(a.readableDom) == 22.0 / 37.0)
  }

  test("class weights (test_scoring.py:112-164)") {
    assert(Scoring.getClassWeight(frag("<div></div>")) == 0)
    assert(Scoring.getClassWeight(frag("""<div id="post">Content</div>""")) == 25)
    assert(Scoring.getClassWeight(frag("""<div id="comments">Content</div>""")) == -25)
    assert(Scoring.getClassWeight(frag("""<div class="something post">Content</div>""")) == 25)
    assert(Scoring.getClassWeight(frag("""<div class="something comments">Content</div>""")) == -25)
    assert(Scoring.getClassWeight(frag("""<div id="post" class="something comment">Content</div>""")) == 0)
    assert(Scoring.getClassWeight(frag("""<div id="post" class="post comment">Content</div>""")) == 25)
    assert(Scoring.getClassWeight(frag("""<div class="post main">Content</div>""")) == 25)
  }

  test("body is never unlikely (test_scoring.py:170-175)") {
    val n = frag("""<body class="comment"><div>Content</div></body>""")
    assert(!Scoring.isUnlikelyNode(n))
  }

  test("unlikely / likely nodes (test_scoring.py:178-204)") {
    assert(Scoring.isUnlikelyNode(frag("""<div class="something comments">Content</div>""")))
    assert(Scoring.isUnlikelyNode(frag("""<div id="comments">Content</div>""")))
    assert(!Scoring.isUnlikelyNode(frag("""<div id="post">Content</div>""")))
    assert(!Scoring.isUnlikelyNode(frag("""<div class="something post">Content</div>""")))
    assert(!Scoring.isUnlikelyNode(frag("""<div id="comments" class="article">Content</div>""")))
  }

  test("ScoredNode tag priors (test_scoring.py:225-257, test_readable.py:175-196)") {
    assert(new ScoredNode(frag("""<div id="" class="">Content</div>""")).contentScore == 5)
    assert(new ScoredNode(frag("""<div id="article" class="">Content</div>""")).contentScore == 30)
    assert(new ScoredNode(frag("""<div id="comments" class="">Content</div>""")).contentScore == -20)
    assert(new ScoredNode(frag("<h2>Heading</h2>")).contentScore == -5)
    assert(new ScoredNode(frag("<li>list item</li>")).contentScore == -3)
    for (t <- List("<div/>")) assert(new ScoredNode(frag(t)).contentScore == 5)
    for (t <- List("<pre/>", "<td/>", "<blockquote/>")) assert(new ScoredNode(frag(t)).contentScore == 3)
    for (t <- List("<address/>", "<ol/>")) assert(new ScoredNode(frag(t)).contentScore == -3)
    for (t <- List("<h1/>", "<h2/>", "<h3/>", "<h4/>")) assert(new ScoredNode(frag(t)).contentScore == -5)
  }

  test("p-tag class/id weights (test_readable.py:207-231)") {
    assert(Scoring.getClassWeight(frag("""<p class="article">x</p>""")) == 25)
    assert(Scoring.getClassWeight(frag("""<p id="content">x</p>""")) == 25)
    assert(Scoring.getClassWeight(frag("""<p class="comment">x</p>""")) == -25)
    assert(Scoring.getClassWeight(frag("""<p id="media">x</p>""")) == -25)
  }

  test("hashes differ per content and repeat for equal content " +
    "(test_scoring.py:25-47)") {
    val a = Scoring.generateHashId(frag("""<div id="post">A</div>"""))
    val b = Scoring.generateHashId(frag("""<div id="post">B</div>"""))
    assert(a != b)
    assert(Scoring.generateHashId(frag("""<div id="post">A</div>""")) == a)
    // null node falls back to hashing a stable repr (scoring.py:61-66)
    assert(Scoring.generateHashId(null).length == 8)
  }

  test("hash_id matches lxml's exact md5 pin 'ffa4c519' (test_scoring.py:210-222)") {
    // byte-level serializer parity with lxml tostring() on this fragment
    val node = graft.html.Parser.parseFragment(
      """<div id="comments" class="article">Content</div>""")
    assert(graft.html.Serializer.toUnicode(node) ==
      """<div id="comments" class="article">Content</div>""")
    assert(Scoring.generateHashId(node) == "ffa4c519")
    assert(new Scoring.ScoredNode(node).hashId == "ffa4c519")
  }

  test("simple two-candidate ordering (test_scoring.py:266-295)") {
    val html = """
        <html>
        <body>
            <div class="content">
                <p>This is a great amount of info</p>
                <p>And more content <a href="/index">Home</a>
            </div>
            <div class="footer">
                <p>This is a footer</p>
                <p>And more content <a href="/index">Home</a>
            </div>
        </body>
        </html>
    """
    val dom = Parser.parseDocument(html)
    val divs = dom.findAll("div")
    val candidates = Scoring.scoreCandidates(divs)
    val ordered = candidates.values.toList.sortBy(c => -c.contentScore)
    assert(ordered(0).node.tag == "div")
    assert(ordered(0).node.attrs("class") == "content")
    assert(ordered(1).node.tag == "body")
    assert(ordered(2).node.tag == "html")
    assert(ordered(3).node.tag == "div")
    assert(ordered(3).node.attrs("class") == "footer")
  }

  test("37 candidates on ars.001, top score > 100 (test_readable.py:236-248)") {
    val dom = Parser.parseDocument(Fixtures.article("ars.001.html"))
    val nodes = dom.iterAll.filter(n => n.tag == "p" || n.tag == "td" || n.tag == "pre")
    val candidates = Scoring.scoreCandidates(nodes)
    assert(candidates.size == 37)
    val scores = candidates.values.map(_.contentScore).toList.sorted
    assert(scores.last > 100)
  }

  test("bonus per 100 chars capped at 3 (test_readable.py:251-277)") {
    def pscore(len: Int): Double = {
      val node = Parser.parseFragment("<p>" + "c" * len + "</p>")
      val candidates = Scoring.scoreCandidates(List(node))
      candidates.values.map(_.contentScore).max
    }
    // fragment <p> has no grandparent → reference skips it the same way;
    // rebuild with wrappers so parent+grand exist, as in the real pipeline
    def pscoreWrapped(len: Int): Double = {
      val dom = Parser.parseDocument("<html><body><p>" + "c" * len + "</p></body></html>")
      val p = dom.find("p")
      val candidates = Scoring.scoreCandidates(List(p))
      candidates.values.map(_.contentScore).max
    }
    val s50 = pscoreWrapped(50)
    val s100 = pscoreWrapped(100)
    val s300 = pscoreWrapped(300)
    val s400 = pscoreWrapped(400)
    assert(s50 + 0.5 == s100)
    assert(s100 + 2.0 == s300)
    assert(s300 == s400)
  }

  /** Every TextCache metric of `n` equals its direct-scan reference
    * over Node.textContent. */
  private def assertMatchesScan(cache: TextCache, n: Node, clue: => String): Unit = {
    val text = n.textContent
    Seq(
      "innerTextMetrics" -> (cache.innerTextMetrics(n), TextScan.innerTextMetrics(text)),
      "normStrippedLen" -> (cache.normStrippedLen(n), TextScan.normStrippedLen(text)),
      "rawPyLen" -> (cache.rawPyLen(n), TextScan.rawPyLen(text)),
      "commaCount" -> (cache.commaCount(n), TextScan.commaCount(text))
    ).foreach { case (metric, (got, want)) => assert(got == want, s"$clue <${n.tag}> $metric") }
  }

  // alphabet biased toward the hard cases: surrogate pairs (astral),
  // python-space chars beyond ASCII, ws runs, commas/quotes
  private val AdversarialPieces = Array("a", "b", ",", "\"", " ", "  ", "\t",
    "\u00a0", "\u2028", "𝕏", "😀", "語", ", ,", "𝕏x")

  test("TextCache prefix sums ≡ direct-scan reference on real articles") {
    val ars = Parser.parseDocument(Fixtures.article("ars.001.html"))
    val arsCache = new TextCache
    ars.iterAll.take(800).foreach(n => assertMatchesScan(arsCache, n, "ars.001"))
    // the benchmark's largest page (the fixture's bytes repeated 20 times),
    // above the old 2^21-char bound: the root plus a seeded sample, since
    // the reference is O(subtree) per node
    val bytes = Fixtures.articleBytes("corpus_antipope_org.html")
    val dom = Parser.parseDocument(Decode.decodeHtml(Array.fill(20)(bytes).flatten))
    assert(dom.textContent.length > (1 << 21))
    val nodes = dom.iterAll.toVector
    val rnd = new scala.util.Random(2020)
    val cache = new TextCache
    (dom +: Seq.fill(300)(nodes(rnd.nextInt(nodes.size))))
      .foreach(n => assertMatchesScan(cache, n, "antipope ×20"))
  }

  test("TextCache prefix sums ≡ direct-scan reference on adversarial random text") {
    // astral pairs and ws runs straddling 8-char boundaries, len % 8 == 0 edges
    val rnd = new scala.util.Random(4242)
    (0 until 40).foreach { trial =>
      val sb = new StringBuilder
      val target = rnd.nextInt(120)
      while (sb.length < target) sb ++= AdversarialPieces(rnd.nextInt(AdversarialPieces.length))
      // force the len-multiple-of-8 edge on some trials
      if (trial % 4 == 0 && (sb.length & 7) != 0)
        sb ++= "z" * (8 - (sb.length & 7))
      val text = sb.toString
      // split across elements so segments start/end at odd offsets
      val cut = if (text.isEmpty) 0 else rnd.nextInt(text.length)
      // never split a surrogate pair across nodes (a document can't)
      val safeCut =
        if (cut > 0 && Character.isHighSurrogate(text.charAt(cut - 1))) cut - 1
        else cut
      val dom = Parser.parseDocument(
        s"<html><body><div><p>${text.substring(0, safeCut)}</p>" +
          s"<span>${text.substring(safeCut)}</span></div></body></html>")
      val cache = new TextCache
      dom.iterAll.foreach(n => assertMatchesScan(cache, n, s"trial $trial over ${text.take(40)}…"))
    }
  }

  test("TextCache ≡ direct-scan reference on a synthetic doc above 2^22 chars") {
    // counts past 2^21 and 2^22 (the old 21-bit checkpoint fields overflow
    // there); tiny elements near both marks put segment ends, astral pairs,
    // non-ASCII ws runs and commas/quotes on the checkpoints around them
    val marks = Seq(1 << 21, 1 << 22)
    val rnd = new scala.util.Random(2122)
    val html = new StringBuilder("<html><body>")
    var textLen = 0
    def run(): Unit = {
      val near = marks.exists(m => math.abs(textLen - m) < 512)
      (0 until (if (near) rnd.nextInt(4) else rnd.nextInt(1500))).foreach { _ =>
        val p = AdversarialPieces(rnd.nextInt(AdversarialPieces.length))
        html ++= p
        textLen += p.length
      }
    }
    while (textLen < (1 << 22) + 4096) {
      html ++= "<div>"
      (0 until 8).foreach { _ =>
        html ++= "<p>"; run(); html ++= "<b>"; run(); html ++= "</b>"; run(); html ++= "</p>"
      }
      html ++= "</div>"
    }
    html ++= "</body></html>"
    val dom = Parser.parseDocument(html.toString)
    // end at len % 8 == 0, so the root's end reads the final checkpoint
    val last = dom.iterAll.filter(_.tag == "p").toSeq.last
    val pad = (8 - (dom.textContent.length & 7)) & 7
    last.tail = Option(last.tail).getOrElse("") + "z" * pad
    val len = dom.textContent.length
    assert(len > (1 << 22) && len % 8 == 0)
    // each node's [start,end) in the root's text, to find the nodes
    // whose segments end near the marks
    val seg = new java.util.IdentityHashMap[Node, (Int, Int)]
    def walk(n: Node, at: Int): Int = {
      var pos = at + Option(n.text).fold(0)(_.length)
      n.children.foreach { c => pos = walk(c, pos) + Option(c.tail).fold(0)(_.length) }
      seg.put(n, (at, pos))
      pos
    }
    walk(dom, 0)
    val nodes = dom.iterAll.toVector
    val nearMarks = nodes.filter { n =>
      val (a, b) = seg.get(n)
      marks.exists(m => math.abs(a - m) < 64 || math.abs(b - m) < 64)
    }
    assert(nearMarks.size >= 16, "segments ending near 2^21 and 2^22")
    val sample = dom +: (nearMarks ++ Seq.fill(150)(nodes(rnd.nextInt(nodes.size))))
    val cache = new TextCache
    sample.foreach { n => assertMatchesScan(cache, n, s"at ${seg.get(n)}") }
  }

  test("link density within [0,1] on ars.001 (test_readable.py:283-290)") {
    val dom = Parser.parseDocument(Fixtures.article("ars.001.html"))
    dom.iterAll.filter(n => Set("p", "td", "pre").contains(n.tag)).foreach { n =>
      val d = Scoring.getLinkDensity(n)
      assert(d >= 0.0 && d <= 1.0)
    }
  }
}

/** The direct scans TextCache's checkpoints replaced, kept as the
  * reference: each metric over a node's text_content() string. */
object TextScan {
  private def strippedBounds(s: String): (Int, Int) = {
    var a = 0
    var b = s.length
    while (a < b && PyText.isPySpace(s.charAt(a))) a += 1 // ws is never a surrogate
    while (b > a && PyText.isPySpace(s.charAt(b - 1))) b -= 1
    (a, b)
  }

  def commaCount(s: String): Int = s.count(_ == ',')

  def rawPyLen(s: String): Int = s.codePointCount(0, s.length)

  def innerTextMetrics(s: String): (Int, Int, Int) = {
    val (a, b) = strippedBounds(s)
    (s.codePointCount(a, b), commaCount(s), s.count(_ == '"'))
  }

  def normStrippedLen(s: String): Int = {
    val (a, b) = strippedBounds(s)
    var c = 0
    var i = a
    while (i < b) {
      val cp = s.codePointAt(i)
      if (PyText.isPySpace(cp)) {
        c += 1
        while (i < b && PyText.isPySpace(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
      } else {
        c += 1
        i += Character.charCount(cp)
      }
    }
    c
  }
}
