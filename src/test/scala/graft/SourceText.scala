package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Scala source as the source-scanning specs read it. */
object SourceText {

  def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  def read(f: Path): String = normalize(new String(Files.readAllBytes(f), "UTF-8"))

  // string and char literals are matched first so that comment markers
  // inside them are kept
  private val token =
    "\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'|//[^\\n]*|/\\*[\\s\\S]*?\\*/".r
  private val interpolation = "\\$\\{[^}]*\\}|\\$\\w+".r

  /** `src` with every comment turned into a space, and every string
    * literal cut down to its quotes plus, when interpolated, its
    * `$x`/`${…}` parts: a name inside a message or a SQL string is not a
    * use, and two functions that differ only in their strings are the
    * same code. Both keep their line breaks, so line numbers survive.
    */
  def normalize(src: String): String =
    token.replaceAllIn(src, m => {
      val t = m.matched
      val breaks = "\n" * t.count(_ == '\n')
      val kept =
        if (t.startsWith("/")) " " + breaks
        else if (t.startsWith("'")) t
        else {
          val q = if (t.startsWith("\"\"\"")) "\"\"\"" else "\""
          val interpolated = m.start > 0 && Character.isLetter(src.charAt(m.start - 1))
          val ids = if (interpolated) interpolation.findAllIn(t).mkString(" ") else ""
          q + ids + breaks + q
        }
      scala.util.matching.Regex.quoteReplacement(kept)
    })
}
