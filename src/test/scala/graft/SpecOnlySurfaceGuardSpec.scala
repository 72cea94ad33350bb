package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: no public surface in main that only specs reach. A `def` or
  * `private[graft] def` in `src/main/scala` is flagged when, outside
  * comments, no other main code and no `perfbench/harness` file
  * mentions its name, but a spec does. Such a name is neither product
  * nor graded: delete it with its spec, or wire it in. The names kept
  * on purpose are listed in `kept`, each with its reason.
  *
  * The scan is textual and by name: an identifier token anywhere in a
  * file counts as a reference (string literals included), and
  * overloads share one name. */
class SpecOnlySurfaceGuardSpec extends AnyFunSuite {

  /** The flagged names this codebase keeps, and why. */
  private val kept: Map[String, String] = {
    val importerTable = "MediaWikiXml table output of the importer (product); " +
      "waits for the one import pipeline to call it"
    val reference = "reference implementation a spec compares a graded kernel against"
    val shim = "test hook into Spark internals"
    Seq("externalLinks", "langLinks", "redirectTargets", "sectionOutline",
      "infoboxParams", "revisionDeltas", "revertChains", "contentPersistence",
      "categoryLinks", "templateLinks", "typedRevisions")
      .map(_ -> importerTable).toMap ++ Map(
      "readIndex" -> "Multistream index reader of the importer (product)",
      "cosineSim" -> reference,
      "rotateHex" -> reference,
      "jlSign" -> reference,
      "optimizerRules" -> shim,
      "plannerStrategies" -> shim)
  }

  private val blockComment = """(?s)/\*.*?\*/""".r
  private val lineComment = """//[^\n]*""".r
  private val identifier = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val definition = """(?m)^\s*(?:private\[graft\]\s+)?def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def stripComments(src: String): String =
    lineComment.replaceAllIn(blockComment.replaceAllIn(src, ""), "")

  private def tokenCounts(srcs: Iterable[String]): Map[String, Int] =
    srcs.iterator.flatMap(s => identifier.findAllIn(stripComments(s)))
      .foldLeft(Map.empty[String, Int].withDefaultValue(0))((m, t) => m.updated(t, m(t) + 1))

  /** The names defined in `main` that only `tests` mention. */
  private def flagged(main: Seq[String], harness: Seq[String],
      tests: Seq[String]): Set[String] = {
    val defs = main.flatMap(s => definition.findAllMatchIn(stripComments(s)).map(_.group(1)))
    val nDefs = defs.groupBy(identity).view.mapValues(_.size).toMap
    val (inMain, inHarness, inTests) =
      (tokenCounts(main), tokenCounts(harness), tokenCounts(tests))
    nDefs.collect {
      case (name, n) if inMain(name) == n && inHarness(name) == 0 && inTests(name) > 0 => name
    }.toSet
  }

  private def sources(dir: String): Seq[String] = {
    val walk = Files.walk(Paths.get(dir))
    val files: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no Scala sources under $dir from the working directory")
    files.map(f => Files.readString(f))
  }

  test("the scan flags a def only specs mention, outside comments") {
    val main = Seq(
      "object A {\n  def used(x: Int) = x\n  def specOnly = 1\n" +
        "  private[graft] def hook = 2\n  def run = used(1) // specOnly\n}",
      "/** [[A.hook]] */ object B { def caller = A.used(2) }")
    val tests = Seq("class S { A.specOnly; A.hook; A.used(3) }")
    assert(flagged(main, Nil, tests) === Set("specOnly", "hook"))
    assert(flagged(main, Seq("object H { A.hook }"), tests) === Set("specOnly"))
    assert(flagged(main, Nil, Nil) === Set.empty)
  }

  test("every spec-only def in src/main/scala is on the kept list, with a reason") {
    val found = flagged(sources("src/main/scala"), sources("perfbench/harness"),
      sources("src/test/scala"))
    val unlisted = (found -- kept.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      s"defs in main that only specs reach (delete them with their specs, or " +
        s"add them to `kept` with a reason): ${unlisted.mkString(", ")}")
    val stale = (kept.keySet -- found).toSeq.sorted
    assert(stale.isEmpty,
      s"kept names the scan no longer flags (remove them from `kept`): ${stale.mkString(", ")}")
  }
}
