package graft.extract

import java.util.IdentityHashMap

import graft.html.{Node, PyText}

/**
 * Per-phase text index over a *static* tree — the engine's fix for the
 * reference's acknowledged perf debt ("we do a lot of looping and re-drop
 * some nodes", reference README.rst:122-124; rescans in scoring.py:94-97
 * and readable.py:242-261 are O(n·depth) per call).
 *
 * One DFS concatenates every text/tail into a single buffer and records
 * [start,end) per node; a node's `text_content()` is exactly that segment
 * (a node's content stream is contiguous in document order, excluding its
 * own tail). All metrics the pipeline needs (lengths, comma/quote counts,
 * normalized-stripped lengths) are then differences of checkpointed
 * prefix sums plus short boundary scans, with no string allocation.
 * Values are DEFINED identically to the reference's uncached
 * formulas; only the evaluation strategy changes — equivalence is pinned
 * by the transliterated reference suites.
 *
 * Valid only while the tree is not structurally mutated; each
 * batch-collect-then-drop phase builds one cache and discards it.
 */
object TextCache {
  /** Generation counter backing the per-node memo slots (Node.tc*):
    * every cache instance gets a unique gen, so a stale slot from an
    * earlier cache can never read as valid. Long: wrap-around is
    * unreachable (a node would have to outlive 2^63 cache creations). */
  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A cache indexing only `n`'s subtree — for per-sibling probes
    * (readable.py:113-166) where indexing from the document root would be
    * O(doc) per sibling. Only `n` and its descendants may be queried. */
  def forSubtree(n: Node): TextCache = {
    val c = new TextCache
    c.subtreeScope = n
    c
  }
}

final class TextCache {

  private[extract] var subtreeScope: Node = null

  private val buf = new java.lang.StringBuilder(1 << 12)
  // Two-layer memos: a generation-stamped slot ON each node (Node.tc*)
  // is the fast layer — a slot is valid iff its gen matches this cache's
  // — over cache-local IdentityHashMaps as the AUTHORITATIVE layer. The
  // slots eliminate the dominant map-GET traffic (~8 lookups per node
  // per phase; the maps' put/get/resize was ~6% of single-core
  // self-time, JFR r6) for the sequential one-live-cache case, while
  // the maps keep TWO live caches over the same tree correct AND cheap:
  // with slots alone, every cache switch found the other cache's gen
  // and re-walked (and re-appended!) the whole document — a measured
  // 735× cliff on a two-cache parity test, plus unbounded
  // buffer growth. A slot stamped by another cache simply falls through
  // to this cache's own map. NOT thread-safe ACROSS CACHES on a shared
  // tree (slot stores race) — trees and their caches are per-document,
  // single-threaded everywhere in the engine.
  private val gen = TextCache.genCounter.incrementAndGet()
  // presized past typical article node counts: JFR r7 showed
  // IdentityHashMap.resize churn at the 512 expected-size default
  private val segIdx = new IdentityHashMap[Node, java.lang.Long](2048)
  private val normLenMemo = new IdentityHashMap[Node, Integer](1024)
  private val videoMemo = new IdentityHashMap[Node, java.lang.Boolean](64)
  private val densityMemo = new IdentityHashMap[Node, java.lang.Long](2048)

  // ---- prefix sums over the text stream --------------------------------
  // One O(n) pass makes every per-node metric O(1) + short boundary scans
  // (JFR showed the repeated segment scans were the scoring hot spot).
  // One checkpoint per 8 chars, not per char: per-char arrays cost 16
  // bytes per char per phase cache, the dominant build cost (JFR r5) and
  // a DRAM-bandwidth term at 32 threads (BENCH.md §2). Entry k is four
  // Ints at cp(4k), the counts over [0, 8k): code points, norm units
  // (non-ws code points + ws-run starts), commas, quotes — 2 bytes per
  // char; a query adds a ≤7-char forward scan. The counts must stay
  // 32-bit: every snapshot up to Int.MaxValue chars then takes this one
  // path (21-bit fields sent pages ≥ 2^21 chars to O(subtree) rescans).
  // A surrogate pair counts at its START and its middle counts nothing,
  // so a checkpoint on a pair middle includes the pair. Classification
  // is per char: isPySpace is false on every surrogate half, so a run
  // start needs only snap(j - 1), no stored flag.
  private var snap: String = null
  private var cp: Array[Int] = null

  private def ensureArrays(): Unit = {
    if (snap != null && snap.length == buf.length) return
    snap = buf.toString // (re)take — a new root may have been indexed
    val len = snap.length
    val a = new Array[Int](((len >> 3) + 1) << 2)
    var t, u, c, q = 0
    var prevWs, prevHigh = false
    var i = 0
    while (i < len) {
      if ((i & 7) == 0) {
        val o = (i >> 3) << 2
        a(o) = t; a(o + 1) = u; a(o + 2) = c; a(o + 3) = q
      }
      // surrogate tests by range compare, not method call (JFR round 8)
      val ch = snap.charAt(i)
      val middle = prevHigh && ch >= 0xDC00 && ch < 0xE000
      val ws = PyText.isPySpace(ch)
      if (!middle) t += 1
      if (ws) { if (!prevWs) u += 1 } else if (!middle) u += 1
      if (ch == ',') c += 1 else if (ch == '"') q += 1
      prevWs = ws
      prevHigh = ch >= 0xD800 && ch < 0xDC00
      i += 1
    }
    if ((len & 7) == 0) {
      // queries at i == len read checkpoint len>>3, which the loop never
      // reaches when len is a multiple of 8
      val o = (len >> 3) << 2
      a(o) = t; a(o + 1) = u; a(o + 2) = c; a(o + 3) = q
    }
    cp = a
  }

  /** Position j holds the low half of a surrogate pair (counted at its
    * start, or inside the checkpoint when the pair straddles it). */
  @inline private def isPairMiddle(j: Int): Boolean = {
    val c = snap.charAt(j)
    c >= 0xDC00 && c < 0xE000 && j > 0 &&
      { val p = snap.charAt(j - 1); p >= 0xD800 && p < 0xDC00 }
  }

  /** Code points over [0,i): checkpoint + a ≤7-char forward scan. */
  private def totalAt(i: Int): Int = {
    var v = cp((i >> 3) << 2)
    var j = i & ~7
    while (j < i) { if (!isPairMiddle(j)) v += 1; j += 1 }
    v
  }

  /** Non-ws code points + ws-run starts over [0,i). */
  private def normAt(i: Int): Int = {
    var v = cp(((i >> 3) << 2) + 1)
    var j = i & ~7
    var prevWs = j > 0 && PyText.isPySpace(snap.charAt(j - 1))
    while (j < i) {
      val ws = PyText.isPySpace(snap.charAt(j))
      if (ws) { if (!prevWs) v += 1 } else if (!isPairMiddle(j)) v += 1
      prevWs = ws
      j += 1
    }
    v
  }

  /** Occurrences of `ch` over [0,i) from checkpoint field `f`. No
    * surrogate handling needed: no surrogate half equals ',' or '"'. */
  private def charsAt(i: Int, f: Int, ch: Char): Int = {
    var v = cp(((i >> 3) << 2) + f)
    var j = i & ~7
    while (j < i) { if (snap.charAt(j) == ch) v += 1; j += 1 }
    v
  }

  @inline private def commasAt(i: Int): Int = charsAt(i, 2, ',')
  @inline private def quotesAt(i: Int): Int = charsAt(i, 3, '"')
  @inline private def startOf(seg: Long): Int = (seg >>> 32).toInt
  @inline private def endOf(seg: Long): Int = (seg & 0xFFFFFFFFL).toInt

  /** Stripped bounds of the segment `seg` in the snapshot (short boundary
    * scans). Surrogate pairs are never whitespace, so the walk can stop at
    * any surrogate half without decoding the pair. */
  private def strippedBounds(seg: Long): Long = {
    var a = startOf(seg)
    var b = endOf(seg)
    var run = true
    while (run && a < b) {
      val c = snap.charAt(a)
      if (c >= 0xD800 && c < 0xE000) run = false // astral: not whitespace
      else if (PyText.isPySpace(c)) a += 1
      else run = false
    }
    run = true
    while (run && b > a) {
      val c = snap.charAt(b - 1)
      if (c >= 0xD800 && c < 0xE000) run = false
      else if (PyText.isPySpace(c)) b -= 1
      else run = false
    }
    (a.toLong << 32) | b.toLong
  }

  /** This cache's segment for `n`, indexing on first touch. The slot is
    * checked first; a slot stamped by ANOTHER live cache falls through
    * to this cache's own map (which re-stamps the slot — alternating
    * caches each keep their own memo, as the map-only design did). An
    * out-of-scope query stays a loud error, never a stale/zero read
    * (forSubtree: only the subtree may be queried). */
  private def segOf(n: Node): Long = {
    if (n.tcSegGen == gen) return n.tcSeg
    val hit = segIdx.get(n)
    if (hit != null) {
      val seg = hit.longValue()
      n.tcSeg = seg
      n.tcSegGen = gen
      return seg
    }
    index(if (subtreeScope != null) subtreeScope else n.root)
    val after = segIdx.get(n)
    if (after == null)
      throw new IllegalStateException(
        s"<${n.tag}> is outside this TextCache's indexed scope")
    val seg = after.longValue()
    n.tcSeg = seg
    n.tcSegGen = gen
    seg
  }

  private def index(n: Node): Unit = {
    if (segIdx.containsKey(n)) return
    val start = buf.length
    if (n.text != null) buf.append(n.text)
    var i = 0
    while (i < n.children.length) {
      val c = n.children(i)
      index(c)
      if (c.tail != null) buf.append(c.tail)
      i += 1
    }
    val seg = (start.toLong << 32) | buf.length
    segIdx.put(n, java.lang.Long.valueOf(seg))
    n.tcSeg = seg
    n.tcSegGen = gen
  }

  /** `n`'s [from,to) segment, with the checkpoints current. */
  private def segment(n: Node): Long = {
    val seg = segOf(n)
    ensureArrays()
    seg
  }

  /** node.text_content() as a string (allocates; prefer the metric APIs). */
  def textContent(n: Node): String = {
    val seg = segOf(n)
    buf.substring(startOf(seg), endOf(seg))
  }

  /** (strippedPyLen, commas, quotes) of text_content() —
    * everything score_candidates needs per scorable (scoring.py:161-196).
    * Commas/quotes are whitespace-free so stripping cannot change them. */
  def innerTextMetrics(n: Node): (Int, Int, Int) = {
    val seg = segment(n)
    val ab = strippedBounds(seg)
    (totalAt(endOf(ab)) - totalAt(startOf(ab)),
      commasAt(endOf(seg)) - commasAt(startOf(seg)),
      quotesAt(endOf(seg)) - quotesAt(startOf(seg)))
  }

  /** Python len(text_content()) — raw code points. */
  def rawPyLen(n: Node): Int = {
    val seg = segment(n)
    totalAt(endOf(seg)) - totalAt(startOf(seg))
  }

  /** Python text_content().count(','). */
  def commaCount(n: Node): Int = {
    val seg = segment(n)
    commasAt(endOf(seg)) - commasAt(startOf(seg))
  }

  /** len(normalize_whitespace(text_content().strip())) — density terms:
    * (#non-ws cps) + (#ws runs) within the stripped bounds — each run
    * contributes exactly one output char; with the bounds sitting on
    * non-ws code points, every overlapping run starts inside them. */
  def normStrippedLen(n: Node): Int = {
    if (n.tcNormGen == gen) return n.tcNormLen
    val memoHit = normLenMemo.get(n)
    if (memoHit != null) {
      val v = memoHit.intValue()
      n.tcNormLen = v; n.tcNormGen = gen
      return v
    }
    val ab = strippedBounds(segment(n))
    val cnt = normAt(endOf(ab)) - normAt(startOf(ab))
    normLenMemo.put(n, Integer.valueOf(cnt))
    n.tcNormLen = cnt
    n.tcNormGen = gen
    cnt
  }

  // links-length and img-count fused: getLinkDensity needs BOTH per
  // candidate (scoring.py:87-104), so one bottom-up recursion + one memo
  // entry (linksLen<<32 | imgs; both < 2^31 — text length is bounded by
  // the 16 MiB oversize guard) halves the recursion and map traffic of
  // two separate passes.
  private def densitySums(n: Node): Long = {
    if (n.tcDensGen == gen) return n.tcDens
    val memoHit = densityMemo.get(n)
    if (memoHit != null) {
      val v = memoHit.longValue()
      n.tcDens = v; n.tcDensGen = gen
      return v
    }
    var links = 0L
    var imgs = 0L
    var i = 0
    while (i < n.children.length) {
      val c = n.children(i)
      val sub = densitySums(c)
      links += (sub >>> 32)
      imgs += (sub & 0xFFFFFFFFL)
      if (c.tag == "a") links += normStrippedLen(c)
      else if (c.tag == "img") imgs += 1
      i += 1
    }
    val packed = (links << 32) | imgs
    densityMemo.put(n, java.lang.Long.valueOf(packed))
    n.tcDens = packed
    n.tcDensGen = gen
    packed
  }

  /** Σ over descendant <a> of normStrippedLen — link-density numerator
    * (scoring.py:94). Memoized bottom-up: nested candidates share work. */
  def linksLengthSum(n: Node): Long = densitySums(n) >>> 32

  /** Count of descendant <img> (memoized bottom-up). */
  def imgCount(n: Node): Int = (densitySums(n) & 0xFFFFFFFFL).toInt

  /** All five clean_conditionally descendant counts in ONE subtree walk
    * (reference does five separate findall passes, readable.py:250-256). */
  def conditionalCounts(n: Node): (Int, Int, Int, Int, List[Node]) = {
    var p, img, li, inputs = 0
    var embeds: List[Node] = Nil
    def walk(m: Node): Unit = {
      var i = 0
      while (i < m.children.length) {
        val c = m.children(i)
        c.tag match {
          case "p"     => p += 1
          case "img"   => img += 1
          case "li"    => li += 1
          case "input" => inputs += 1
          case "embed" => embeds = c :: embeds
          case _       =>
        }
        walk(c)
        i += 1
      }
    }
    walk(n)
    (p, img, li, inputs, embeds.reverse)
  }

  /**
   * ok_embedded_video without serialization: `tounicode(node)` contains a
   * keyword iff some node part (tag/attr name/attr value/text/descendant
   * tail) contains it — the serializer's inserted characters (<, >, ", =,
   * /) cannot complete a keyword across part boundaries, and escaping only
   * rewrites &, <, >, " which no keyword contains.
   */
  def containsVideoKeyword(n: Node): Boolean = {
    if (n.tcVideoGen == gen) return n.tcVideo
    val memoHit = videoMemo.get(n)
    if (memoHit != null) {
      val v = memoHit.booleanValue()
      n.tcVideo = v; n.tcVideoGen = gen
      return v
    }
    def part(s: String): Boolean =
      s != null && (s.contains("youtube") || s.contains("blip.tv") || s.contains("vimeo"))
    var found = part(n.tag) || part(n.text)
    if (!found) {
      val it = n.attrs.iterator
      while (!found && it.hasNext) {
        val (k, v) = it.next()
        found = part(k) || part(v)
      }
    }
    var i = 0
    while (!found && i < n.children.length) {
      val c = n.children(i)
      found = containsVideoKeyword(c) || part(c.tail)
      i += 1
    }
    videoMemo.put(n, java.lang.Boolean.valueOf(found))
    n.tcVideo = found
    n.tcVideoGen = gen
    found
  }

  /** tounicode(node) includes the node's own tail (lxml with_tail=True) —
    * the top-level ok_embedded_video check must include it too. */
  def okEmbeddedVideo(n: Node): Boolean =
    containsVideoKeyword(n) ||
      (n.tail != null && (n.tail.contains("youtube") ||
        n.tail.contains("blip.tv") || n.tail.contains("vimeo")))
}
