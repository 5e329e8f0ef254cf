package perfbench

import java.lang.management.ManagementFactory
import graft.extract.{Article, Breaks, Decode, Extractor}
import graft.html.HtmlParseError

/** `Extractor.extract`'s lifecycle timed phase by phase on the program's
  * own `Article`: its lazy members are forced in the order the extractor
  * forces them, with a clock read between each. `ExtractMetrics.parse_ms`
  * is not used: it times the whole extract. */
object Phases {

  private val threads = ManagementFactory.getThreadMXBean

  /** The calling thread's CPU time in nanoseconds. Unlike the wall clock it
    * leaves out collection pauses (G1 collects on threads of its own) and
    * time the host gave to other processes, which land at random in one
    * phase or another. */
  def cpuNow(): Long = threads.getCurrentThreadCpuTime

  val Names: Vector[String] = Vector("extract.decode", "extract.breaks", "html.parse",
    "extract.clean", "extract.score", "extract.readable", "extract.text", "html.serialize")

  /** CPU nanoseconds per phase (in `Names` order) and the article's counts. */
  final case class Timed(ns: Array[Long], candidates: Long, pruned: Long)

  def run(html: Array[Byte], url: String): Timed = {
    val t0 = cpuNow()
    val decoded = Decode.decodeHtml(html)
    val t1 = cpuNow()
    // Article converts breaks inside `originalDom`; a separate call of the
    // same function splits that member into breaks and parse
    Breaks.convertBreaksToParagraphs(decoded)
    val t2 = cpuNow()
    val a = Article(decoded, url)
    try a.originalDom catch { case _: HtmlParseError => () }
    val t3 = cpuNow()
    a.dom
    val t4 = cpuNow()
    a.candidates
    val t5 = cpuNow()
    a.readableDom
    val t6 = cpuNow()
    Extractor.flatten(a.mainText)
    a.title
    val t7 = cpuNow()
    a.readable
    val t8 = cpuNow()
    val breaks = t2 - t1
    Timed(Array(t1 - t0, breaks, math.max(0L, t3 - t2 - breaks), t4 - t3, t5 - t4, t6 - t5,
      t7 - t6, t8 - t7),
      if (a.candidates == null) 0L else a.candidates.size.toLong, a.nodesPruned)
  }
}
