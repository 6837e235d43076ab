package graft

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Guards against the same logic written twice in main code. Each main
  * file is normalized ([[SourceText.normalize]]: no comments, string
  * literals cut to their quotes), trimmed, and cleared of blank lines; a
  * window of `window` consecutive lines totalling at least `minChars`
  * characters that occurs twice is a clone. Overlapping windows along the
  * same two places merge into one reported pair. `graft/queries/` is left
  * out: its oracle SQL is the independent reference, and its build
  * functions are one-line calls into the operator library. The test reads
  * source text, so it runs from the repository root.
  */
class MainCloneSpec extends AnyFunSuite {

  private val window = 6
  private val minChars = 200

  /** Clone pairs that stay, as "fileA ~ fileB" (paths under
    * src/main/scala, A before B), each with the reason a shared helper
    * would be worse.
    */
  private val allowed: Map[String, String] = Map.empty

  private val mainDir = Paths.get("src/main/scala")

  private case class Line(file: String, no: Int, text: String)

  test("no main code repeats a window of 6 normalized lines (>= 200 chars), or allow-listed") {
    val files = SourceText.scalaFiles(mainDir)
      .map(f => mainDir.relativize(f).toString -> SourceText.read(f))
      .filterNot(_._1.startsWith("graft/queries/"))
    val lines: Map[String, IndexedSeq[Line]] = files.map { case (f, src) =>
      f -> src.split("\n", -1).toIndexedSeq.zipWithIndex
        .map { case (l, i) => Line(f, i + 1, l.trim) }.filter(_.text.nonEmpty)
    }.toMap
    // every qualifying window, keyed by its text, with where it starts
    val starts = (for {
      (f, ls) <- lines.toSeq
      i <- 0 to ls.size - window
      w = ls.slice(i, i + window).map(_.text)
      if w.map(_.length).sum >= minChars
    } yield w -> (f, i)).groupMap(_._1)(_._2)
    val hits: Set[((String, Int), (String, Int))] = starts.values
      .flatMap(occ => occ.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    // walk each diagonal from its first window and report it once
    val pairs = hits.toSeq.sorted.filterNot { case ((fa, ia), (fb, ib)) =>
      hits(((fa, ia - 1), (fb, ib - 1)))
    }.map { case ((fa, ia), (fb, ib)) =>
      val k = Iterator.from(1).find(k => !hits(((fa, ia + k), (fb, ib + k)))).get
      val (la, lb) = (lines(fa), lines(fb))
      (s"$fa ~ $fb",
        s"$fa:${la(ia).no}-${la(ia + k + window - 2).no} ~ " +
          s"$fb:${lb(ib).no}-${lb(ib + k + window - 2).no}")
    }

    val stale = allowed.keySet -- pairs.map(_._1)
    assert(stale.isEmpty, s"clone allow-list entries that no longer match a clone: $stale")
    val found = pairs.filterNot(p => allowed.contains(p._1)).map(_._2)
    if (found.nonEmpty)
      fail(s"${found.size} clone pairs in main code (move the shared lines into one helper, " +
        s"or allow-list the pair with a reason):\n${found.mkString("\n")}")
  }
}
