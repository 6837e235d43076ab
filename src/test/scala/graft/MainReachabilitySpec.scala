package graft

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Guards against main code that only its own specs reach. Starting from
  * the allow-listed roots below and the benchmark harness
  * (`perfbench/src/main`), a main file is reached when a reached file
  * names one of its top-level declarations (for a package object: the
  * package or one of its members). Every main file must end up reached,
  * and every public member of a top-level main object outside the root
  * files must be named somewhere in main or benchmark source. Names count
  * only outside comments and string literals ([[SourceText.normalize]]).
  * The test reads source text, so it runs from the repository root (sbt's
  * default working directory).
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

  /** Public object members that no main code names but that stay. */
  private val memberRoots: Map[String, String] = Map(
    "SparkEntry.entry" -> "driver smoke entry",
    "HttpSource.fetchIdPages" ->
      "paper S2 (the reference's extractor/riot/match/api.py); needs a live API",
    "HttpSource.fetchDocsDistributed" ->
      "paper S3 (the reference's extractor/riot/match/api.py); needs a live API",
    "CosineSimilarity.register" ->
      "SQL function for a session built without the extensions conf",
    "PerformanceScoreExpr.register" ->
      "SQL function for a session built without the extensions conf",
    "Similarity.cosineHof" -> "the reference CosineSimilaritySpec compares the native cosine with",
    "Similarity.dequantizeInt8" ->
      "the inverse SimilaritySpec uses to bound the error of quantizeInt8",
    "Multimodal.mediaSchema" -> "the decoders' input contract",
    "Multimodal.FakeCodec" -> "offline fake the specs substitute behind the Codec seam",
    "HttpSource.StubClient" -> "offline fake the specs substitute behind the Client seam")

  private val mainDir = Paths.get("src/main/scala")
  private val benchDir = Paths.get("perfbench/src/main/scala")

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

  private lazy val main = SourceText.scalaFiles(mainDir)
  private lazy val rel = main.map(f => f -> mainDir.relativize(f).toString).toMap
  private lazy val text =
    (main ++ SourceText.scalaFiles(benchDir)).map(f => f -> SourceText.read(f)).toMap

  test("every main file is reached from an entry point, the benchmark or the allow-list") {
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

  private val topObject = "^(?:(?:final|case|private(?:\\[\\w+\\])?)\\s+)*(?:package\\s+)?object\\s+(\\w+)".r
  private val publicMember =
    "^  (?:(?:final|sealed|abstract|case|implicit|lazy)\\s+)*(?:def|val|class|object)\\s+(\\w+)".r

  /** `Object.member` for every public, non-override def/val/class/object
    * declared at two-space indent directly in a top-level object.
    */
  private def publicMembers(src: String): Seq[(String, String)] = {
    var obj: Option[String] = None
    src.split("\n").toSeq.flatMap { line =>
      if (line.nonEmpty && !line.head.isWhitespace) {
        obj = topObject.findPrefixMatchOf(line).map(_.group(1))
        None
      } else
        obj.flatMap(o => publicMember.findPrefixMatchOf(line).map(m => o -> m.group(1)))
    }
  }

  test("every public member of a main object is named by main or benchmark code, or allow-listed") {
    val members = main.filterNot(f => roots.contains(rel(f))).flatMap(f => publicMembers(text(f)))
    val all = text.values.mkString("\n")
    // a name is reached when it occurs outside its declarations; a use of
    // any same-named member counts, so the check may miss dead code but
    // never flags live code
    val words = "\\w+".r.findAllIn(all).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val declared = "\\b(?:def|val|var|class|object|trait|type)\\s+(\\w+)".r
      .findAllMatchIn(all).toSeq.groupMapReduce(_.group(1))(_ => 1)(_ + _)
    val unreached = members.collect {
      case (o, n) if words(n) <= declared.getOrElse(n, 0) => s"$o.$n"
    }.toSet

    val stale = memberRoots.keySet -- unreached
    assert(stale.isEmpty,
      s"member allow-list entries that no longer exist or are now named by main code: $stale")
    val dead = (unreached -- memberRoots.keySet).toSeq.sorted
    assert(dead.isEmpty,
      "public members that no main code, demo or benchmark names (delete them, " +
        s"or add them to the member allow-list with a reason): ${dead.mkString(", ")}")
  }
}
