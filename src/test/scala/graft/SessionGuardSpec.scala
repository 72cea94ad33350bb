package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: one session posture, a known set of environment names.
  *
  *  - Outside comments, `src/` calls `SparkSession.builder()` once: in
  *    [[Session]]. A second builder is a posture that drifts from the
  *    others; add a key or a posture to `Session` instead.
  *  - The environment names `src/main/scala` reads are exactly the ones
  *    `read` lists, each with its reason. A new name needs a reason
  *    here; a name nothing sets any more is deleted from main and from
  *    `read`. Every read must name its variable with a string literal,
  *    so the scan can see it.
  *
  * The scan is textual. */
class SessionGuardSpec extends AnyFunSuite {

  private val read: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "cores of every session (Session.cores)",
    "SPARK_GRAFT_SF_DIR" -> "corpus Bench times and PlanDump's per-query form reads",
    "SPARK_GRAFT_SHUFFLE" -> "Bench shuffle width of SCALING.md's scale recipes",
    "SPARK_GRAFT_INIT_PARTS" -> "Bench AQE initial width of SCALING.md's scale recipes",
    "SPARK_GRAFT_EVAL_QUERY_CAP" -> "Bench's recall-eval sample at 1000x; Verify refuses it",
    "SPARK_GRAFT_GRADER_SAMPLE_MOD" -> "Bench's q200 grader sample at 1000x; Verify refuses it",
    "SPARK_GRAFT_ONLY" -> "Bench and Verify run only the named queries (verify_gate smoke, A/B probes)",
    "SPARK_GRAFT_REPEAT" -> "Bench's timed passes per query, the N of min-of-N",
    "SPARK_GRAFT_PERIODIC_GC" -> "Bench's ContextCleaner drain, off for an A/B of its cost",
    "SPARK_GRAFT_FORCE_DIRTY" -> "exercises Bench's dirty-window rerun",
    "SPARK_GRAFT_DIRTY_RERUN" -> "opts out of Bench's dirty-window rerun",
    "SPARK_GRAFT_MAX_RERUNS" -> "length of Bench's rerun ladder",
    "SPARK_GRAFT_RERUN_WALL_CAP_S" -> "wall cap of Bench's rerun ladder",
    "SPARK_GRAFT_BENCH_OUT" -> "where Bench writes BENCH.json",
    "SPARK_GRAFT_MEMO" -> "memo off for the cold leg of the graded suite",
    "SPARK_GRAFT_CACHE_TABLES" -> "overrides Bench's corpus-size table-cache rule")

  private val blockComment = """(?s)/\*.*?\*/""".r
  private val lineComment = """//[^\n]*""".r
  private val builderCall = """\bSparkSession\s*\.\s*builder\s*\(\s*\)""".r
  private val envUse = """\bsys\s*\.\s*env\b|\bSystem\s*\.\s*getenv\b""".r
  private val envRead =
    """\A(?:sys\s*\.\s*env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\s*\.\s*getenv)\s*\(\s*"([^"]+)"""".r

  private def stripComments(src: String): String =
    lineComment.replaceAllIn(blockComment.replaceAllIn(src, ""), "")

  private def builders(src: String): Int = builderCall.findAllIn(stripComments(src)).size

  /** The names `src` reads, and its reads that name no literal. */
  private def envNames(src: String): (Set[String], Seq[String]) = {
    val code = stripComments(src)
    val reads = envUse.findAllMatchIn(code).map(m => code.substring(m.start)).toSeq
    val named = reads.flatMap(r => envRead.findPrefixMatchOf(r).map(_.group(1)))
    (named.toSet, reads.filter(envRead.findPrefixMatchOf(_).isEmpty).map(_.takeWhile(_ != '\n')))
  }

  private def sources(dir: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no Scala sources under $dir from the working directory")
    files.map(f => f -> Files.readString(f))
  }

  test("the scans see calls and reads outside comments only") {
    val call = "SparkSession" + ".builder()"
    assert(builders(s"val s = $call.getOrCreate()\n// $call\n/** $call */") === 1)
    assert(builders(s"SparkSession\n  .builder ()") === 1)
    val (named, opaque) = envNames(
      "sys.env.get(\"A\"); sys.env.getOrElse( \"B\", \"x\")\nsys.env(\"C\")\n" +
        "System.getenv(\"D\"); sys.env.contains(\"E\") // sys.env.get(\"F\")\n" +
        "sys.env.get(name)")
    assert(named === Set("A", "B", "C", "D", "E"))
    assert(opaque === Seq("sys.env.get(name)"))
  }

  test("src builds SparkSessions in one place, graft.Session") {
    val found = (sources("src/main/scala") ++ sources("src/test/scala"))
      .collect { case (f, s) if builders(s) > 0 => f -> builders(s) }
    assert(found.map(_._2).sum === 1 &&
      found.head._1.endsWith(Paths.get("graft/Session.scala")),
      s"SparkSession builders outside graft.Session (use Session.start): " +
        found.map { case (f, n) => s"$f x$n" }.mkString(", "))
  }

  test("main reads exactly the listed environment names") {
    val scans = sources("src/main/scala").map { case (f, s) => f -> envNames(s) }
    val opaque = scans.flatMap { case (f, (_, o)) => o.map(r => s"$f: $r") }
    assert(opaque.isEmpty, s"environment reads without a literal name: ${opaque.mkString(", ")}")
    val names = scans.flatMap(_._2._1).toSet
    val unlisted = (names -- read.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      s"environment names main reads that `read` does not list (add a reason): " +
        unlisted.mkString(", "))
    val stale = (read.keySet -- names).toSeq.sorted
    assert(stale.isEmpty,
      s"listed environment names main no longer reads (remove them): ${stale.mkString(", ")}")
  }
}
