package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{Node, Parser, Serializer, Urls}

/** Differential spec for Urls: the index-based split, the once-per-
  * document base split and the one-pass attribute walk must agree with
  * the straightforward formulation kept below (substring-per-step split,
  * a regex scheme test, a re-split of the base per link, one probe per
  * link attribute per node). */
class UrlsSpec extends AnyFunSuite {

  /** The straightforward formulation of urljoin and absolutizeLinks. */
  private object Reference {
    case class Split(scheme: String, netloc: String, path: String,
                     query: String, fragment: String) {
      def unsplit: String = {
        val sb = new StringBuilder
        if (scheme != null) sb.append(scheme).append(':')
        if (netloc != null) sb.append("//").append(netloc)
        sb.append(path)
        if (query != null) sb.append('?').append(query)
        if (fragment != null) sb.append('#').append(fragment)
        sb.toString
      }
    }

    def split(url: String): Split = {
      var rest = url
      var fragment: String = null
      val hi = rest.indexOf('#')
      if (hi >= 0) { fragment = rest.substring(hi + 1); rest = rest.substring(0, hi) }
      var query: String = null
      val qi = rest.indexOf('?')
      if (qi >= 0) { query = rest.substring(qi + 1); rest = rest.substring(0, qi) }
      var scheme: String = null
      val ci = rest.indexOf(':')
      if (ci > 0 && rest.substring(0, ci).matches("[A-Za-z][A-Za-z0-9+.-]*")) {
        scheme = rest.substring(0, ci).toLowerCase(java.util.Locale.ROOT)
        rest = rest.substring(ci + 1)
      }
      var netloc: String = null
      if (rest.startsWith("//")) {
        var end = rest.length
        var k = 2
        var found = false
        while (k < rest.length && !found) {
          val c = rest.charAt(k)
          if (c == '/' || c == '?' || c == '#') { end = k; found = true }
          k += 1
        }
        netloc = rest.substring(2, end)
        rest = rest.substring(end)
      }
      Split(scheme, netloc, rest, query, fragment)
    }

    def removeDotSegments(path: String): String = {
      if (path.isEmpty) return path
      val segs = path.split("/", -1).toList
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val absolute = path.startsWith("/")
      val n = segs.length
      segs.zipWithIndex.foreach { case (seg, idx) =>
        seg match {
          case "." => if (idx == n - 1) out += ""
          case ".." =>
            if (out.nonEmpty && out.last != ".." && !(out.length == 1 && out.head == ""))
              out.remove(out.length - 1)
            else if (!absolute) out += ".."
            if (idx == n - 1) out += ""
          case s => out += s
        }
      }
      var res = out.mkString("/")
      if (absolute && !res.startsWith("/")) res = "/" + res
      res
    }

    def urljoin(base: String, url: String): String = {
      if (base == null || base.isEmpty) return url
      if (url == null || url.isEmpty) return base
      val b = split(base)
      val r0 = split(url)
      val r = if (r0.scheme != null && r0.scheme != b.scheme) return url
              else r0.copy(scheme = b.scheme)
      if (r.netloc != null) return r.copy(scheme = b.scheme).unsplit
      if (r.path.isEmpty && r.query == null)
        return Split(b.scheme, b.netloc, b.path, b.query, r.fragment).unsplit
      if (r.path.isEmpty)
        return Split(b.scheme, b.netloc, b.path, r.query, r.fragment).unsplit
      val mergedPath =
        if (r.path.startsWith("/")) r.path
        else {
          val bp = if (b.netloc != null && b.path.isEmpty) "/" else b.path
          val cut = bp.lastIndexOf('/')
          (if (cut >= 0) bp.substring(0, cut + 1) else "") + r.path
        }
      Split(b.scheme, b.netloc, removeDotSegments(mergedPath), r.query, r.fragment).unsplit
    }

    val LinkAttrs = List(
      "href", "src", "action", "archive", "background", "cite", "classid",
      "codebase", "data", "icon", "longdesc", "manifest", "poster", "profile",
      "usemap")

    def absolutizeLinks(root: Node, baseHref: String): Unit = {
      var docBase: String = null
      val bases = root.findAll("base") ++ (if (root.tag == "base") List(root) else Nil)
      bases.foreach { b =>
        b.get("href").foreach(h => docBase = h)
        if (b.parent != null) b.dropTree()
      }
      if (docBase != null) applyBase(root, docBase)
      if (baseHref != null && baseHref.nonEmpty) applyBase(root, baseHref)
    }

    def applyBase(root: Node, base: String): Unit = {
      def walk(n: Node): Unit = {
        LinkAttrs.foreach { a =>
          val v = n.attrs.getOrElse(a, null)
          if (v != null) n.attrs(a) = urljoin(base, v)
        }
        n.children.foreach(walk)
      }
      walk(root)
    }
  }

  private val plantedUrls = Seq(
    "", "a", "a/b", "./a", "../a", "../../../a", "/", "/a/./b/../c", ".", "..",
    "a/.", "a/..", "HTTP://Example.COM/X", "Http:relative", "http:/abs",
    "git+ssh://host/repo", "x.y-z+w://h/p", "1abc:foo", "+a:b", "-a://h",
    "mailto:someone@example.com", "javascript:void(0)", "data:text/plain,hi",
    "a:b:c", "/path:with:colons", "path:colon/x", "./c:d", "//host", "//host/",
    "//host/p/../q", "//host?q", "//host#f", "//h:80/x", "///x", "#", "#frag",
    "?", "?q=1", "?q=1#f", "?#", "#?x", "a?b#c", "a#b?c", "?a:b", "#a:b",
    "http://h#frag", "http://h?q#f", "https:", "http:", "ftp://x/../y",
    "/..", "/../a", "a/../..", "a//b", "a/./../b/./", "  spaced  ", "%2e%2e/x",
    "\u00e9/\u0161", "http://\u00fcml\u00e4ut.de/p")

  private val plantedBases = Seq(
    "http://blog.mitechie.com/test.html", "https://Example.COM/a/b/c?x=1#top",
    "http://h", "http://h/", "HTTP://H/dir/", "http://h/a/b/../c/./d.html",
    "git+ssh://host/r/s", "file:///tmp/x/y", "mailto:a@b", "relative/base/x",
    "/abs/base", "//netloc/only/p", "http://h?only=query", "http://h#only",
    "x:y", "http://h/a:b/c")

  /** A random reference string over the characters urlsplit reacts to. */
  private def randomUrl(rng: scala.util.Random): String = {
    val parts = Array("http:", "HTTPS:", "a+b-c.d:", "9x:", "//", "/", "./",
      "../", ".", "..", "?", "#", ":", "h", "Host", "x.y", "p", "q=1", "%2F",
      "\u00e9", "", "@", ";", "=")
    val sb = new StringBuilder
    var k = rng.nextInt(8)
    while (k > 0) { sb.append(parts(rng.nextInt(parts.length))); k -= 1 }
    sb.toString
  }

  test("urljoin agrees with the reference formulation on planted urls") {
    for (b <- plantedBases :+ "" :+ null; u <- plantedUrls :+ null)
      assert(Urls.urljoin(b, u) == Reference.urljoin(b, u), s"base=$b url=$u")
  }

  test("urljoin agrees with the reference formulation on seeded random urls") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val bases = plantedBases ++ Seq.fill(40)(randomUrl(rng))
      for (_ <- 1 to 3000) {
        val b = bases(rng.nextInt(bases.length))
        val u = randomUrl(rng)
        assert(Urls.urljoin(b, u) == Reference.urljoin(b, u), s"seed=$seed base=$b url=$u")
      }
    }
  }

  test("absolutizeLinks leaves every fixture's serialized DOM byte-identical " +
    "to the reference formulation, with and without a <base href>") {
    val fixtures = Seq("snippets", "articles").flatMap { d =>
      val dir = new java.io.File(s"src/test/resources/fixtures/$d")
      dir.list().toSeq.filter(_.endsWith(".html")).sorted.map(n => s"$d/$n" -> {
        val bytes = java.nio.file.Files.readAllBytes(new java.io.File(dir, n).toPath)
        graft.extract.Decode.decodeHtml(bytes)
      })
    }
    assert(fixtures.size >= 20)
    // a <base href> in the head exercises the resolve_base_href leg too
    def withBase(html: String) =
      html.replaceFirst("(?i)<head>", "<head><base href=\"../up/base.html?b=1\">")
    val moved = scala.collection.mutable.Set.empty[String]
    for ((name, raw) <- fixtures; html <- Seq(raw, withBase(raw));
         base <- Seq("http://blog.mitechie.com/test.html", "https://Example.COM/a/b/?q#f",
           "http://h", "")) {
      def absolutized(f: (Node, String) => Unit): String = {
        val dom = Parser.parseDocument(html)
        f(dom, base)
        Serializer.toUnicode(dom)
      }
      val got = absolutized(Urls.absolutizeLinks)
      assert(got == absolutized(Reference.absolutizeLinks), s"$name base=$base")
      if ((html eq raw) && got != Serializer.toUnicode(Parser.parseDocument(html))) moved += name
    }
    // the comparison is not vacuous: most fixtures carry links that move
    info(s"${moved.size} of ${fixtures.size} fixtures have links that a base moves")
    assert(moved.size * 2 >= fixtures.size, moved)
  }
}
