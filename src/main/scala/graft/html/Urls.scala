package graft.html

/**
 * URL resolution matching Python's `urllib.parse.urljoin` (which lxml's
 * `make_links_absolute` delegates to; reference usage at
 * breadability/document.py:102-105). Tolerant parsing — never throws.
 */
object Urls {

  private case class Split(scheme: String, netloc: String, path: String,
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

  /** `url[0, end)` matches `[A-Za-z][A-Za-z0-9+.-]*` — a char loop, not
    * String.matches, which compiles the pattern on every call. */
  private def isScheme(url: String, end: Int): Boolean = {
    def alpha(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    if (end <= 0 || !alpha(url.charAt(0))) return false
    var i = 1
    while (i < end) {
      val c = url.charAt(i)
      if (!(alpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'))
        return false
      i += 1
    }
    true
  }

  /** urlsplit by index: each component is cut from `url` once. After the
    * fragment and query are cut, the netloc can only end at a '/'. */
  private def split(url: String): Split = {
    var end = url.length
    var fragment: String = null
    val hi = url.indexOf('#')
    if (hi >= 0) { fragment = url.substring(hi + 1); end = hi }
    var query: String = null
    val qi = url.indexOf('?')
    if (qi >= 0 && qi < end) { query = url.substring(qi + 1, end); end = qi }
    var start = 0
    var scheme: String = null
    val ci = url.indexOf(':')
    if (ci > 0 && ci < end && isScheme(url, ci)) {
      scheme = url.substring(0, ci).toLowerCase(java.util.Locale.ROOT)
      start = ci + 1
    }
    var netloc: String = null
    if (url.startsWith("//", start)) {
      val slash = url.indexOf('/', start + 2)
      val netEnd = if (slash >= 0 && slash < end) slash else end
      netloc = url.substring(start + 2, netEnd)
      start = netEnd
    }
    Split(scheme, netloc, url.substring(start, end), query, fragment)
  }

  private def removeDotSegments(path: String): String = {
    // a '.' or '..' segment starts the path or follows a '/'
    if (!path.startsWith(".") && path.indexOf("/.") < 0) return path
    val segs = path.split("/", -1).toList
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val absolute = path.startsWith("/")
    val n = segs.length
    segs.zipWithIndex.foreach { case (seg, idx) =>
      seg match {
        case "." =>
          if (idx == n - 1) out += ""
        case ".." =>
          if (out.nonEmpty && out.last != ".." && !(out.length == 1 && out.head == "")) {
            out.remove(out.length - 1)
          } else if (!absolute) {
            out += ".."
          }
          if (idx == n - 1) out += ""
        case s => out += s
      }
    }
    var res = out.mkString("/")
    if (absolute && !res.startsWith("/")) res = "/" + res
    res
  }

  /** A non-empty base URL split once, for joining every link of a
    * document against it. */
  private final class Base(val raw: String) {
    val b: Split = split(raw)
    // the directory a relative path merges into
    val dir: String = {
      val bp = if (b.netloc != null && b.path.isEmpty) "/" else b.path
      bp.substring(0, bp.lastIndexOf('/') + 1)
    }
  }

  /** Python urljoin(base, url). */
  def urljoin(base: String, url: String): String =
    if (base == null || base.isEmpty) url else join(new Base(base), url)

  private def join(base: Base, url: String): String = {
    if (url == null || url.isEmpty) return base.raw
    val b = base.b
    val r = split(url)
    // Python: a relative ref with the SAME scheme is still treated as relative
    if (r.scheme != null && r.scheme != b.scheme) return url
    if (r.netloc != null) return Split(b.scheme, r.netloc, r.path, r.query, r.fragment).unsplit
    if (r.path.isEmpty) {
      // only query and/or fragment — keep the base path (and its query
      // when the reference has none)
      val q = if (r.query == null) b.query else r.query
      return Split(b.scheme, b.netloc, b.path, q, r.fragment).unsplit
    }
    val mergedPath = if (r.path.startsWith("/")) r.path else base.dir + r.path
    Split(b.scheme, b.netloc, removeDotSegments(mergedPath), r.query, r.fragment).unsplit
  }

  /** Attributes lxml's iterlinks covers that matter for Common-Crawl HTML. */
  private val LinkAttrs: Set[String] = Set(
    "href", "src", "action", "archive", "background", "cite", "classid",
    "codebase", "data", "icon", "longdesc", "manifest", "poster", "profile",
    "usemap")

  /**
   * lxml `resolve_base_href` + `make_links_absolute` (document.py:102-105):
   * applies any `<base href>` to all links and removes the base tags; then
   * (if `baseHref` given) joins every link attribute against it.
   */
  def absolutizeLinks(root: Node, baseHref: String): Unit = {
    // resolve <base href> first (lxml: last base wins, all base tags dropped)
    var docBase: String = null
    val bases = root.findAll("base") ++ (if (root.tag == "base") List(root) else Nil)
    bases.foreach { b =>
      b.get("href").foreach(h => docBase = h)
      if (b.parent != null) b.dropTree()
    }
    if (docBase != null) applyBase(root, docBase)
    if (baseHref != null) applyBase(root, baseHref)
  }

  private def applyBase(root: Node, base: String): Unit = {
    if (base.isEmpty) return // urljoin("", v) == v
    val b = new Base(base)
    def walk(n: Node): Unit = {
      n.attrs.transformValues(LinkAttrs)(join(b, _))
      var i = 0
      while (i < n.children.length) { walk(n.children(i)); i += 1 }
    }
    walk(root)
  }
}
