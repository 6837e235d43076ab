package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards against main code that only its own specs reach. Starting from
  * the allow-listed roots below and the benchmark harness
  * (`perfbench/src/main`), a main file is reached when a reached file
  * names one of its top-level declarations (for a package object: the
  * package or one of its members) in comment-stripped source. Every main
  * file must end up reached. The test reads source text, so it runs from
  * the repository root (sbt's default working directory).
  */
class MainReachabilitySpec extends AnyFunSuite {

  /** Files reachable without a reference from other main code. */
  private val roots: Map[String, String] = Map(
    "graft/AramDemo.scala" -> "main entry point: the paper's pipeline end to end",
    "graft/Bench.scala" -> "main entry point: the bench harness",
    "graft/CorpusDemo.scala" -> "main entry point: the corpus pipeline demo",
    "graft/Explain.scala" -> "main entry point: the per-query plan audit",
    "graft/Profile.scala" -> "main entry point: per-query stage profiles",
    "graft/Verify.scala" -> "main entry point: the oracle result dump",
    "graft/GraftExtensions.scala" ->
      "loaded by the spark.sql.extensions conf string; holds the ExtensionsCheck main",
    "graft/streaming/IngestTopology.scala" ->
      "documented capability (README, COVERAGE): the self-feeding crawler topology",
    "graft/streaming/Sessionize.scala" ->
      "documented capability (README, COVERAGE): stateful sessions + batch counters",
    "graft/streaming/IncrementalDedup.scala" ->
      "documented capability (COVERAGE): the continuous dedup stream")

  private val mainDir = Paths.get("src/main/scala")
  private val benchDir = Paths.get("perfbench/src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  // string and char literals are matched first so that comment markers
  // inside them are kept; comments become a single space
  private val token =
    "\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'|//[^\\n]*|/\\*[\\s\\S]*?\\*/".r

  private def stripComments(src: String): String =
    token.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.matched.startsWith("/")) " " else m.matched))

  private val modifiers =
    "(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|final\\s+|sealed\\s+|abstract\\s+|case\\s+|implicit\\s+|lazy\\s+)*"
  private val topLevel = s"(?m)^$modifiers(?:class|object|trait|type|val|def)\\s+(\\w+)".r
  private val packageObject = "(?m)^package object\\s+(\\w+)".r
  private val packageMember = s"(?m)^  $modifiers(?:class|object|trait|type|val|def)\\s+(\\w+)".r

  private def declaredNames(text: String): Set[String] = {
    val pkg = packageObject.findAllMatchIn(text).map(_.group(1)).toSet
    val members =
      if (pkg.isEmpty) Set.empty[String]
      else packageMember.findAllMatchIn(text).map(_.group(1)).toSet
    topLevel.findAllMatchIn(text).map(_.group(1)).toSet ++ pkg ++ members
  }

  test("every main file is reached from an entry point, the benchmark or the allow-list") {
    val main = scalaFiles(mainDir)
    val rel = main.map(f => f -> mainDir.relativize(f).toString).toMap
    val text = (main ++ scalaFiles(benchDir))
      .map(f => f -> stripComments(new String(Files.readAllBytes(f), "UTF-8"))).toMap

    val missing = roots.keySet -- rel.values
    assert(missing.isEmpty, s"allow-list names files that no longer exist: $missing")

    val names = main.map(f => f -> declaredNames(text(f))).toMap
    val pattern = names.map { case (f, ns) =>
      f -> ns.toSeq.map(n => s"\\b${java.util.regex.Pattern.quote(n)}\\b".r)
    }
    var reached = text.keySet -- main ++ main.filter(f => roots.contains(rel(f)))
    var grew = true
    while (grew) {
      val next = main.filterNot(reached).filter(f =>
        pattern(f).exists(p => reached.exists(g => p.findFirstIn(text(g)).isDefined)))
      reached ++= next
      grew = next.nonEmpty
    }
    val unreached = main.filterNot(reached).map(rel)
    assert(unreached.isEmpty,
      "main files that no entry point, benchmark or allow-listed module reaches " +
        s"(delete them, or add them to the allow-list with a reason): ${unreached.mkString(", ")}")
  }
}
