package graft.html

import scala.collection.mutable

/**
 * Compact insertion-ordered attribute map. Most nodes carry zero or very
 * few attributes — parallel arrays with linear scans beat a hash map on
 * both memory and speed here, and allocation pressure is what caps the
 * engine's multi-core scaling (BENCH.md §2).
 */
final class AttrMap {
  private var ks: Array[String] = _
  private var vs: Array[String] = _
  private var n = 0
  // AUTHORITATIVE slots of the two keys the scoring phases probe
  // repeatedly (class/id lookups run several times per node per phase):
  // update() is the only insert path and always records the slot, and
  // remove() maintains it, so -1 means DEFINITELY ABSENT — the probe
  // returns without any scan. The r5 version treated -1 as "unknown"
  // and fell through to the linear scan, which made every class/id
  // probe on the (majority) attribute-less/class-less nodes walk the
  // whole map — JFR r6 measured that fallback at ~8% of single-core
  // self-time.
  private var classIdx = -1
  private var idIdx = -1

  def size: Int = n
  def isEmpty: Boolean = n == 0
  def nonEmpty: Boolean = n > 0

  private def indexOf(k: String): Int = {
    if (k.length == 5) {
      if ("class" == k) return classIdx
    } else if (k.length == 2) {
      if ("id" == k) return idIdx
    }
    var i = 0
    while (i < n) { if (ks(i) == k) return i; i += 1 }
    -1
  }

  def contains(k: String): Boolean = indexOf(k) >= 0

  def apply(k: String): String = {
    val i = indexOf(k)
    if (i < 0) throw new NoSuchElementException(k)
    vs(i)
  }

  def get(k: String): Option[String] = {
    val i = indexOf(k)
    if (i < 0) None else Some(vs(i))
  }

  def getOrElse(k: String, default: => String): String = {
    val i = indexOf(k)
    if (i < 0) default else vs(i)
  }

  /** Insert-or-replace, preserving first-insertion order. */
  def update(k: String, v: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) { vs(i) = v; return }
    if (ks == null) { ks = new Array[String](4); vs = new Array[String](4) }
    else if (n == ks.length) {
      ks = java.util.Arrays.copyOf(ks, n * 2)
      vs = java.util.Arrays.copyOf(vs, n * 2)
    }
    if (k == "class") classIdx = n else if (k == "id") idIdx = n
    ks(n) = k; vs(n) = v; n += 1
  }

  def remove(k: String): Unit = {
    val i = indexOf(k)
    if (i < 0) return
    var j = i
    while (j < n - 1) { ks(j) = ks(j + 1); vs(j) = vs(j + 1); j += 1 }
    n -= 1
    ks(n) = null; vs(n) = null
    // shifted slots: a cached index at i is gone; ones past i moved left
    if (classIdx == i) classIdx = -1 else if (classIdx > i) classIdx -= 1
    if (idIdx == i) idIdx = -1 else if (idIdx > i) idIdx -= 1
  }

  /** Replaces in place every non-null value whose key is in `keys` —
    * one pass over the slots instead of one probe per key. */
  def transformValues(keys: collection.Set[String])(f: String => String): Unit = {
    var i = 0
    while (i < n) {
      if (vs(i) != null && keys.contains(ks(i))) vs(i) = f(vs(i))
      i += 1
    }
  }

  def foreach[U](f: ((String, String)) => U): Unit = {
    var i = 0
    while (i < n) { f((ks(i), vs(i))); i += 1 }
  }

  def iterator: Iterator[(String, String)] = new Iterator[(String, String)] {
    private var i = 0
    override def hasNext: Boolean = i < n
    override def next(): (String, String) = { val t = (ks(i), vs(i)); i += 1; t }
  }

  def keysIterator: Iterator[String] = new Iterator[String] {
    private var i = 0
    override def hasNext: Boolean = i < n
    override def next(): String = { val k = ks(i); i += 1; k }
  }
}

/**
 * Mutable DOM node with lxml-style text/tail semantics.
 *
 * The reference engine (bookieio/breadability) mutates lxml `HtmlElement`
 * trees; every structural operation it relies on is reproduced here with the
 * same text-preservation rules (reference: breadability/readable.py:213-224
 * `drop_tree`, readable.py:439-444 `drop_tag`, readable.py:163-164 `append`
 * moves the node together with its tail).
 *
 *  - `text` is the character data before the first child.
 *  - `tail` is the character data after this element's end tag (it belongs
 *    to the parent's content but travels with this node on `append`).
 */
final class Node(var tag: String) {
  var text: String = null
  var tail: String = null
  var parent: Node = null
  val attrs: AttrMap = new AttrMap
  val children: mutable.ArrayBuffer[Node] = mutable.ArrayBuffer.empty

  // TextCache per-node memo slots, generation-stamped (a slot is valid
  // only when its gen equals the probing cache's gen — see
  // TextCache.gen). Fields instead of IdentityHashMaps: the map
  // put/get/resize traffic was ~6% of single-core self-time (JFR r6),
  // and nodes are per-document/per-thread so the slots need no
  // synchronization. Caches are used strictly sequentially within a
  // document, so a single slot per concern never thrashes.
  private[graft] var tcSegGen: Long = 0L
  private[graft] var tcSeg: Long = 0L
  private[graft] var tcNormGen: Long = 0L
  private[graft] var tcNormLen: Int = 0
  private[graft] var tcVideoGen: Long = 0L
  private[graft] var tcVideo: Boolean = false
  private[graft] var tcDensGen: Long = 0L
  private[graft] var tcDens: Long = 0L

  def get(name: String): Option[String] = attrs.get(name)
  def getOrNull(name: String): String = attrs.getOrElse(name, null)
  def set(name: String, value: String): Unit = attrs(name) = value

  def indexIn(p: Node): Int = {
    var i = 0
    val cs = p.children
    while (i < cs.length) { if (cs(i) eq this) return i; i += 1 }
    -1
  }

  def prevSibling: Node = {
    if (parent == null) return null
    val i = indexIn(parent)
    if (i > 0) parent.children(i - 1) else null
  }

  def nextSibling: Node = {
    if (parent == null) return null
    val i = indexIn(parent)
    if (i >= 0 && i < parent.children.length - 1) parent.children(i + 1) else null
  }

  /** lxml `append`: relocates `child` (with its tail) under this node. */
  def append(child: Node): Unit = {
    if (child.parent != null) {
      val i = child.indexIn(child.parent)
      if (i >= 0) child.parent.children.remove(i)
    }
    child.parent = this
    children += child
  }

  def insert(idx: Int, child: Node): Unit = {
    if (child.parent != null) {
      val i = child.indexIn(child.parent)
      if (i >= 0) child.parent.children.remove(i)
    }
    child.parent = this
    children.insert(idx, child)
  }

  /** Plain removal (lxml `parent.remove(el)`): tail leaves with the node. */
  def remove(child: Node): Unit = {
    val i = child.indexIn(this)
    if (i >= 0) { this.children.remove(i); child.parent = null }
  }

  /**
   * lxml html `drop_tree`: removes this node and its children/text but
   * merges its tail into the previous sibling's tail (or the parent's text).
   * Reference relies on this at readable.py:218.
   */
  def dropTree(): Unit = {
    val p = parent
    if (p == null) return
    if (tail != null && tail.nonEmpty) {
      val prev = prevSibling
      if (prev == null) p.text = (if (p.text == null) "" else p.text) + tail
      else prev.tail = (if (prev.tail == null) "" else prev.tail) + tail
      tail = null
    }
    p.remove(this)
  }

  /**
   * lxml html `drop_tag`: unwrap — remove this element, splice its children
   * into the parent at its position; text merges left, tail merges into the
   * last child's tail (or left if childless). Reference: readable.py:442.
   */
  def dropTag(): Unit = {
    val p = parent
    if (p == null) return
    val prev = prevSibling
    if (text != null && text.nonEmpty) {
      if (prev == null) p.text = (if (p.text == null) "" else p.text) + text
      else prev.tail = (if (prev.tail == null) "" else prev.tail) + text
    }
    if (tail != null && tail.nonEmpty) {
      if (children.nonEmpty) {
        val last = children.last
        last.tail = (if (last.tail == null) "" else last.tail) + tail
      } else if (prev == null) p.text = (if (p.text == null) "" else p.text) + tail
      else prev.tail = (if (prev.tail == null) "" else prev.tail) + tail
    }
    val idx = indexIn(p)
    val kids = children.toList
    p.children.remove(idx)
    kids.zipWithIndex.foreach { case (c, i) => c.parent = p; p.children.insert(idx + i, c) }
    children.clear()
    parent = null
    text = null
    tail = null
  }

  /** Document root (topmost ancestor). */
  def root: Node = { var n = this; while (n.parent != null) n = n.parent; n }

  /** Preorder iteration including self (lxml `iter()`), snapshot-based. */
  def iterAll: List[Node] = {
    val buf = new mutable.ArrayBuffer[Node](64)
    def walk(n: Node): Unit = {
      buf += n
      var i = 0
      while (i < n.children.length) { walk(n.children(i)); i += 1 }
    }
    walk(this)
    buf.toList
  }

  /** Descendants of this node with the given tag, document order. */
  def findAll(t: String): List[Node] = {
    val buf = new mutable.ArrayBuffer[Node](16)
    def walk(n: Node): Unit = {
      var i = 0
      while (i < n.children.length) {
        val c = n.children(i)
        if (c.tag == t) buf += c
        walk(c)
        i += 1
      }
    }
    walk(this)
    buf.toList
  }

  def find(t: String): Node = {
    var res: Node = null
    def walk(n: Node): Unit = {
      var i = 0
      while (res == null && i < n.children.length) {
        val c = n.children(i)
        if (c.tag == t) res = c else walk(c)
        i += 1
      }
    }
    walk(this)
    res
  }

  /** First element anywhere in this node's whole tree with the given id. */
  def getElementById(id: String): Node = {
    var res: Node = null
    def walk(n: Node): Unit = {
      if (res != null) return
      if (n.attrs.getOrElse("id", null) == id) { res = n; return }
      n.children.foreach(walk)
    }
    walk(root)
    res
  }

  /** XPath string(): concatenated descendant text (text + tails). */
  def textContent: String = {
    val sb = new java.lang.StringBuilder
    def walk(n: Node): Unit = {
      if (n.text != null) sb.append(n.text)
      n.children.foreach { c => walk(c); if (c.tail != null) sb.append(c.tail) }
    }
    walk(this)
    sb.toString
  }

  /**
   * Live descendant iterator with lxml's one-step-ahead semantics: the
   * successor of the yielded node is computed *before* the caller's loop
   * body mutates the tree. This is what makes the reference's
   * `_remove_orphans` (readable.py:439-444) keep iterating after `drop_tag`
   * detaches the current node.
   */
  def iterDescendantsLive: Iterator[Node] = new Iterator[Node] {
    private val bound = Node.this
    private var nxt: Node = if (children.nonEmpty) children.head else null
    override def hasNext: Boolean = nxt != null
    override def next(): Node = {
      val cur = nxt
      nxt = successor(cur)
      cur
    }
    private def successor(n: Node): Node = {
      if (n.children.nonEmpty) return n.children.head
      var m = n
      while (m != null && (m ne bound)) {
        val sib = m.nextSibling
        if (sib != null) return sib
        m = m.parent
      }
      null
    }
  }

  override def toString: String =
    s"<$tag ${attrs.iterator.map { case (k, v) => s"$k=$v" }.mkString(" ")}>"
}
