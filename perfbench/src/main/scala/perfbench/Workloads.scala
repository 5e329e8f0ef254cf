package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.extract.Page
import graft.job.{CurateJob, ExtractJob, PageTableIO}
import graft.sources.Warc

/** splitmix64: a generator whose sequence is fixed by this file alone, so
  * a seed names the same inputs on every JDK. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def shuffle[T](xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** What a workload's generator made: where the input lives, which
  * template every url was built from, and the distinct bodies. */
final case class Input(
    dir: Path,
    docs: Long,
    templateOf: Map[String, String],
    bodies: Map[String, Array[Byte]],
    hostile: Set[String],
    props: Seq[(String, String)]) {
  /** rows per template in one run's input */
  lazy val freq: Map[String, Int] =
    templateOf.values.groupBy(identity).map { case (k, v) => k -> v.size }
}

sealed trait Workload {
  def name: String
  def extractJob: Boolean
  def prepare(spark: SparkSession, root: Path, seed: Long, work: Path, cores: Int): Input
  /** Removes what the previous call wrote, so the next one starts alike. */
  def reset(work: Path): Unit
  /** One call of the program's job entry point; returns the funnel for
    * curation and "" for extraction. */
  def runOnce(spark: SparkSession, in: Input, work: Path, cores: Int): String
  /** `corrupt` alters one output row before the check, which must then fail. */
  def check(spark: SparkSession, in: Input, work: Path, funnel: String,
            expected: Seq[(String, String)], corrupt: Boolean): Check.Result
  /** The expected file's content, derived from one checked-in run. */
  def expectedOf(spark: SparkSession, in: Input, work: Path, funnel: String): Seq[(String, String)]
}

object Workloads {

  val all: Seq[Workload] = Seq(Articles, WarcSmall, CurateWl)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (expected one of ${all.map(_.name).mkString(", ")})"))

  /** The six reference articles (21–375 KB). */
  val ArticleNames: Seq[String] = Seq(
    "corpus_antipope_org.html", "corpus_businessinsider-com.html",
    "corpus_businessinsider_com.html", "corpus_cz_zdrojak_tests.html",
    "corpus_scripting_com.html", "corpus_sweetshark.html")

  val Epoch: Long = 1767225600000L // 2026-01-01T00:00:00Z
  val DayMs: Long = 86400L * 1000

  def articleBytes(root: Path): Seq[(String, Array[Byte])] = {
    val dir = root.resolve("src/test/resources/fixtures/articles")
    ArticleNames.map(n => n -> Files.readAllBytes(dir.resolve(n)))
  }

  /** Plain-text paragraphs cut from the reference articles by a naive
    * `<p>` match. Deliberately independent of the program, so the
    * generated inputs do not change when the extractor does. */
  def paragraphPool(root: Path): Vector[String] = {
    val P = "(?s)<p[^>]*>(.*?)</p>".r
    articleBytes(root).flatMap { case (_, b) =>
      P.findAllMatchIn(new String(b, UTF_8)).map(_.group(1)
        .replaceAll("<[^>]+>", " ").replaceAll("[<>]", " ")
        .replaceAll("\\s+", " ").trim)
    }.filter(p => p.length >= 80 && p.length <= 700).distinct.toVector
  }

  def deepPage(depth: Int): Array[Byte] =
    ("<html><head><title>deep</title></head><body>" + "<div>" * depth +
      "<p>A page nested far deeper than any real article.</p>" +
      "</div>" * depth + "</body></html>").getBytes(UTF_8)

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Writes pages (url, day, template) as the PageTableIO pages table;
    * bodies travel as a broadcast, not inside the query plan. */
  def writePages(spark: SparkSession, rows: Seq[(String, Long, String)],
                 bodies: Map[String, Array[Byte]], dir: Path, cores: Int): Unit = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bodies)
    val pages = spark.createDataset(rows).repartition(cores).map { case (url, day, tpl) =>
      Page(url, new Timestamp(Epoch + day * DayMs), bc.value(tpl), "", "")
    }
    PageTableIO.write(pages.toDF(), dir.toString, numBuckets = 16)
    bc.destroy()
  }

  def extractedRows(spark: SparkSession, out: Path): Seq[Check.Row] =
    spark.read.parquet(out.resolve("extracted").toString)
      .select(col("url"), col("status"), col("extracted_text"))
      .collect().toSeq.map(r => Check.Row(r.getString(0), r.getString(1), r.getString(2)))

  /** Expected digests per template, refusing a template whose rows disagree. */
  def templateDigests(rows: Seq[Check.Row], in: Input): Seq[(String, String)] =
    rows.groupBy(r => in.templateOf(r.url)).toSeq
      .filterNot { case (tpl, _) => in.hostile.contains(tpl) }
      .map { case (tpl, rs) =>
        val ds = rs.map(r => Check.rowDigest(r.status, r.text)).distinct
        require(ds.length == 1, s"template $tpl: rows disagree (${ds.length} digests)")
        tpl -> ds.head
      }.sortBy(_._1)
}

import Workloads._

/** Shared by the two extraction workloads. */
sealed trait ExtractionWorkload extends Workload {
  val extractJob = true
  def warcInput: Boolean
  def reset(work: Path): Unit = rmrf(work.resolve("out"))
  def runOnce(spark: SparkSession, in: Input, work: Path, cores: Int): String = {
    ExtractJob.run(spark, in.dir.toString, work.resolve("out").toString,
      partitions = 2 * cores, resume = false, warcInput = warcInput)
    ""
  }
  def check(spark: SparkSession, in: Input, work: Path, funnel: String,
            expected: Seq[(String, String)], corrupt: Boolean): Check.Result = {
    val rows = extractedRows(spark, work.resolve("out")).sortBy(_.url)
    val victim = rows.indexWhere(r => !in.hostile(in.templateOf.getOrElse(r.url, "")))
    val checked =
      if (!corrupt || victim < 0) rows
      else rows.updated(victim, rows(victim).copy(text = rows(victim).text + " corrupted"))
    Check.extraction(checked, in.templateOf, expected.toMap, in.hostile)
  }
  def expectedOf(spark: SparkSession, in: Input, work: Path, funnel: String): Seq[(String, String)] =
    templateDigests(extractedRows(spark, work.resolve("out")), in)
}

/** `articles`: the six reference articles replicated under seeded urls and
  * days, with a 1% tail at 20× size and one row in a thousand (at least
  * one) nested 20,000 `<div>`s deep. */
object Articles extends ExtractionWorkload {
  val name = "articles"
  val warcInput = false
  val Rows = 400
  val GiantFactor = 20
  val DeepDepth = 20000

  def prepare(spark: SparkSession, root: Path, seed: Long, work: Path, cores: Int): Input = {
    val arts = articleBytes(root)
    val giants = Rows / 100
    val deep = math.max(1, Rows / 1000)
    val bodies: Map[String, Array[Byte]] =
      arts.map { case (n, b) => s"a:$n" -> b }.toMap ++
        arts.map { case (n, b) => s"g:$n" -> Array.fill(GiantFactor)(b).flatten }.toMap +
        ("deep" -> deepPage(DeepDepth))
    // fixed multiset of templates; the seed decides urls, days and order
    val tpls = (0 until Rows - giants - deep).map(i => s"a:${arts(i % arts.length)._1}") ++
      (0 until giants).map(i => s"g:${arts(i % arts.length)._1}") ++
      Seq.fill(deep)("deep")
    val rng = new Rng(seed)
    val rows = rng.shuffle(tpls).zipWithIndex.map { case (tpl, i) =>
      (f"https://a$seed%d-${rng.nextInt(1 << 20)}%05x.example/p/$i%05d", rng.nextInt(30).toLong, tpl)
    }
    val dir = work.resolve("pages")
    writePages(spark, rows, bodies, dir, cores)
    val sizes = tpls.map(t => bodies(t).length.toDouble)
    Input(dir, Rows.toLong, rows.map(r => r._1 -> r._3).toMap, bodies, Set("deep"), Seq(
      "docs" -> Rows.toString,
      "html_kb_p50" -> f"${Stats.median(sizes) / 1024}%.0f",
      "html_kb_max" -> f"${sizes.max / 1024}%.0f",
      "giant_share" -> f"${giants.toDouble / Rows}%.4f",
      "hostile_share" -> f"${deep.toDouble / Rows}%.4f"))
  }
}

/** `warc-small`: 2–20 KB pages (article paragraphs inside nav, sidebar,
  * comment and footer boilerplate) in a per-record-gzip WARC drop with
  * four files per core; 2% of records have empty bodies. */
object WarcSmall extends ExtractionWorkload {
  val name = "warc-small"
  val warcInput = true
  val Records = 3200
  val Templates = 64

  /** Page template k: fixed by k alone, so the expected digests hold for
    * every seed. */
  def template(k: Int, pool: Vector[String]): Array[Byte] = {
    val r = new Rng(1000L + k)
    def links(n: Int, cls: String) = (0 until n).map { j =>
      s"""<li><a href="/$cls/${r.nextInt(9999)}">${pool(r.nextInt(pool.length)).take(24 + r.nextInt(20))}</a></li>"""
    }.mkString("<ul>", "", "</ul>")
    val target = 2048 + r.nextInt(18 * 1024 - 2048)
    val body = new StringBuilder
    while (body.length < target * 0.7) body.append("<p>").append(pool(r.nextInt(pool.length))).append("</p>\n")
    val comments = (0 until 2 + r.nextInt(4)).map(_ =>
      s"""<div class="comment"><p>${pool(r.nextInt(pool.length)).take(60 + r.nextInt(80))}</p></div>""").mkString
    val html =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>Page $k</title></head><body>
         |<div id="nav" class="navigation">${links(6 + r.nextInt(8), "nav")}</div>
         |<div class="sidebar"><h3>Related</h3>${links(4 + r.nextInt(8), "rel")}</div>
         |<div class="article-body"><h1>${pool(r.nextInt(pool.length)).take(40)}</h1>
         |$body</div>
         |<div id="comments" class="comments">$comments</div>
         |<div id="footer" class="footer"><p>Copyright 2026 Example</p>${links(3, "legal")}</div>
         |</body></html>""".stripMargin
    html.getBytes(UTF_8).take(20 * 1024)
  }

  def prepare(spark: SparkSession, root: Path, seed: Long, work: Path, cores: Int): Input = {
    val pool = paragraphPool(root)
    val bodies = (0 until Templates).map(k => s"w:$k" -> template(k, pool)).toMap +
      ("empty" -> Array.emptyByteArray)
    val empties = Records / 50
    val tpls = (0 until Records - empties).map(i => s"w:${i % Templates}") ++
      Seq.fill(empties)("empty")
    val rng = new Rng(seed)
    val recs = rng.shuffle(tpls).zipWithIndex.map { case (tpl, i) =>
      val day = 1 + rng.nextInt(28)
      (f"https://w$seed%d-${rng.nextInt(1 << 20)}%05x.example/r/$i%05d",
        f"2026-02-$day%02dT${rng.nextInt(24)}%02d:00:00Z", tpl)
    }
    val files = 4 * cores
    val dir = work.resolve("warc")
    Files.createDirectories(dir)
    recs.grouped((recs.length + files - 1) / files).zipWithIndex.foreach { case (g, f) =>
      Files.write(dir.resolve(f"part-$f%03d.warc.gz"),
        Warc.writeWarc(g.map { case (u, d, t) => (u, d, bodies(t)) }, gzipPerRecord = true))
    }
    val sizes = recs.map(r => bodies(r._3).length.toDouble).filter(_ > 0)
    Input(dir, Records.toLong, recs.map(r => r._1 -> r._3).toMap, bodies, Set.empty, Seq(
      "docs" -> Records.toString,
      "files" -> files.toString,
      "html_kb_min" -> f"${sizes.min / 1024}%.1f",
      "html_kb_p50" -> f"${Stats.median(sizes) / 1024}%.1f",
      "html_kb_max" -> f"${sizes.max / 1024}%.1f",
      "empty_share" -> f"${empties.toDouble / Records}%.4f"))
  }
}

/** `curate`: CurateJob over a committed extraction of distinct documents
  * recombined from article paragraphs, with planted exact duplicates,
  * near-duplicates, repetitive junk and embedded eval texts. The document
  * set is fixed; the seed decides the url host, the days and the physical
  * layout, so the committed funnel holds for every seed. */
object CurateWl extends Workload {
  val name = "curate"
  val extractJob = false
  val Docs = 400
  val ExactShare = 0.15
  val NearShare = 0.15
  val JunkShare = 0.05
  val EvalTexts = 4
  val EvalEmbeds = 6

  /** (doc id, template key, paragraphs) for the fixed corpus, plus the
    * eval texts. */
  def corpus(pool: Vector[String]): (Seq[(Int, String, Seq[String])], Seq[String]) = {
    val r = new Rng(77L)
    val shuffled = r.shuffle(pool)
    val evalParas = shuffled.take(2 * EvalTexts)
    val docPool = shuffled.drop(2 * EvalTexts)
    val evals = evalParas.grouped(2).map(_.mkString(" ")).toVector
    val exact = (Docs * ExactShare).toInt
    val near = (Docs * NearShare).toInt
    val junk = (Docs * JunkShare).toInt
    val base = Docs - exact - near - junk
    val baseDocs = (0 until base).map { i =>
      val paras = (0 until 3 + r.nextInt(6)).map(_ => docPool(r.nextInt(docPool.length)))
      if (i < EvalEmbeds) paras :+ evals(i % EvalTexts) else paras
    }
    val exactDocs = (0 until exact).map(_ => baseDocs(EvalEmbeds + r.nextInt(base - EvalEmbeds)))
    val nearDocs = (0 until near).map { j =>
      // every 40th word changed: word 3-gram Jaccard stays well above 0.8
      val src = baseDocs(EvalEmbeds + (j * 7) % (base - EvalEmbeds))
      src.map(_.split(" ").zipWithIndex.map { case (w, k) =>
        if (k % 40 == 17) s"variant$j" else w }.mkString(" "))
    }
    val junkDocs = (0 until junk).map { _ =>
      val phrase = (0 until 6).map(_ => docPool(r.nextInt(docPool.length)).split(" ").head).mkString(" ")
      Seq(Seq.fill(40)(phrase + ".").mkString(" "))
    }
    val all = baseDocs.map("base" -> _) ++ exactDocs.map("exact" -> _) ++
      nearDocs.map("near" -> _) ++ junkDocs.map("junk" -> _)
    val ids = r.shuffle(all.indices)
    (all.indices.map(i => (ids(i), all(i)._1, all(i)._2)).sortBy(_._1), evals)
  }

  def page(id: Int, paras: Seq[String]): Array[Byte] =
    (s"<html><head><title>Document $id</title></head><body><div class=" + "\"post\">" +
      paras.map(p => s"<p>$p</p>").mkString("\n") + "</div></body></html>").getBytes(UTF_8)

  def docPath(id: Int): String = f"/doc/$id%05d"

  def prepare(spark: SparkSession, root: Path, seed: Long, work: Path, cores: Int): Input = {
    import spark.implicits._
    val (docs, evals) = corpus(paragraphPool(root))
    val host = s"https://c$seed.example"
    val rng = new Rng(seed)
    val bodies = docs.map { case (id, _, paras) => s"d:$id" -> page(id, paras) }.toMap
    val rows = rng.shuffle(docs).map { case (id, _, _) =>
      (host + docPath(id), rng.nextInt(30).toLong, s"d:$id") }
    val pagesDir = work.resolve("pages")
    writePages(spark, rows, bodies, pagesDir, cores)
    evals.zipWithIndex.map { case (t, i) => (s"eval://$i", t) }.toDF("url", "text")
      .write.parquet(work.resolve("eval").toString)
    // preparation: extraction is committed once and never timed
    val out = work.resolve("out")
    ExtractJob.run(spark, pagesDir.toString, out.toString, partitions = 2 * cores,
      resume = false)
    val extracted = spark.read.parquet(out.resolve("extracted").toString)
      .where(col("status") === "ok").count()
    val kinds = docs.groupBy(_._2).map { case (k, v) => k -> v.size }
    Input(pagesDir, extracted, rows.map(r => r._1 -> r._3).toMap, bodies, Set.empty, Seq(
      "docs" -> Docs.toString,
      "extracted_ok" -> extracted.toString,
      "exact_dup_share" -> f"${kinds("exact").toDouble / Docs}%.3f",
      "near_dup_share" -> f"${kinds("near").toDouble / Docs}%.3f",
      "junk_share" -> f"${kinds("junk").toDouble / Docs}%.3f",
      "eval_texts" -> EvalTexts.toString,
      "eval_embedded_docs" -> EvalEmbeds.toString))
  }

  /** The curation stages' outputs, removed before every timed call. */
  val StageDirs: Seq[String] = Seq("stage_exact", "stage_near", "stage_quality",
    "stage_decontam", "curated", "_decontam_report", "_funnel.json")

  def reset(work: Path): Unit = StageDirs.foreach(d => rmrf(work.resolve("out").resolve(d)))
  def runOnce(spark: SparkSession, in: Input, work: Path, cores: Int): String =
    CurateJob.run(spark, in.dir.toString, work.resolve("out").toString, partitions = 2 * cores,
      evalPath = Some(work.resolve("eval").toString), resume = true)

  def curatedIds(spark: SparkSession, work: Path): Seq[String] =
    spark.read.parquet(work.resolve("out/curated").toString).select(col("url"))
      .collect().toSeq.map(r => new java.net.URI(r.getString(0)).getPath).sorted

  def check(spark: SparkSession, in: Input, work: Path, funnel: String,
            expected: Seq[(String, String)], corrupt: Boolean): Check.Result =
    Check.curation(funnel, curatedIds(spark, work).drop(if (corrupt) 1 else 0), in.docs,
      expected.collectFirst { case ("funnel", f) => f }.getOrElse(""),
      expected.collect { case ("curated", u) => u })

  def expectedOf(spark: SparkSession, in: Input, work: Path, funnel: String): Seq[(String, String)] = {
    val ids = curatedIds(spark, work)
    Seq("funnel" -> funnel, "curated_sha256" -> Check.sha256(ids.mkString("\n"))) ++
      ids.map("curated" -> _)
  }
}
