package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output check against expected digests committed from the program. */
object Check {

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The per-url digest: status and extracted text. */
  def rowDigest(status: String, text: String): String =
    sha256(status + "\u0000" + (if (text == null) "" else text))

  /** Outcome of checking one run. `failedRows` follows the benchmark's rule:
    * a row fails if its status is "error", if its digest differs, or if it
    * is missing, and each url counts once. `wrongRows` counts only digest
    * mismatches, missing and unexpected rows: the rows whose output is not
    * what the program produced when the expected file was committed. */
  final case class Result(attempted: Long, statusErrors: Long, mismatched: Long,
                          missing: Long, unexpected: Long, failedRows: Long) {
    def wrongRows: Long = mismatched + missing + unexpected
    def correct: Boolean = wrongRows == 0
  }

  /** One output row of an extraction run. */
  final case class Row(url: String, status: String, text: String)

  /** Checks extraction output. `templateOf` maps each input url to the
    * template its page was built from; rows of `hostile` templates are
    * not digest-checked (their status is reported, not pinned). */
  def extraction(rows: Seq[Row], templateOf: Map[String, String],
                 expected: Map[String, String], hostile: Set[String]): Result = {
    val byUrl = rows.groupBy(_.url)
    var statusErrors, mismatched, missing, unexpected, failed = 0L
    templateOf.foreach { case (url, tpl) =>
      byUrl.get(url) match {
        case None => missing += 1; failed += 1
        case Some(rs) =>
          if (rs.length > 1) unexpected += rs.length - 1
          val r = rs.head
          val error = r.status == "error"
          val differs = !hostile.contains(tpl) &&
            !expected.get(tpl).contains(rowDigest(r.status, r.text))
          if (error) statusErrors += 1
          if (differs) mismatched += 1
          if (error || differs) failed += 1
      }
    }
    unexpected += byUrl.keysIterator.count(u => !templateOf.contains(u))
    Result(templateOf.size.toLong, statusErrors, mismatched, missing, unexpected, failed)
  }

  /** Checks a curation run: the funnel must match exactly and the curated
    * document ids must be the expected set. */
  def curation(funnel: String, curatedIds: Seq[String], attempted: Long,
               expectedFunnel: String, expectedIds: Seq[String]): Result = {
    val got = curatedIds.toSet
    val want = expectedIds.toSet
    val missing = (want -- got).size.toLong
    val unexpected = (got -- want).size.toLong + (curatedIds.length - got.size)
    // a funnel mismatch with the right curated set still fails the run
    val mismatched = if (funnel == expectedFunnel) 0L else 1L
    Result(attempted, 0L, mismatched, missing, unexpected, mismatched + missing)
  }

  /** Expected-digest files: one `key<TAB>value` pair per line. */
  def readTsv(p: Path): Seq[(String, String)] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val t = l.indexOf('\t')
      require(t > 0, s"$p: malformed line '$l'")
      (l.substring(0, t), l.substring(t + 1))
    }

  def writeTsv(p: Path, kvs: Seq[(String, String)]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, kvs.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(UTF_8))
  }
}
