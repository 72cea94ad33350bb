package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: no catch handler in main code matches `Throwable`. A
  * `case _: Throwable` / `case t: Throwable =>` handler swallows fatal
  * errors (OutOfMemoryError, StackOverflowError, InterruptedException)
  * that must reach the caller; catch `NonFatal(e)` instead. The scan
  * is textual: it flags a Throwable type pattern after `case`, so a
  * `Throwable` parameter or value type is not flagged. */
class ThrowableCatchGuardSpec extends AnyFunSuite {

  private val throwableCase =
    """\bcase\s+(?:\w+|_)\s*:\s*(?:_root_\.)?(?:java\.lang\.|scala\.)?Throwable\b""".r

  /** 1-based lines of the Throwable case patterns in `src`. */
  private def flagged(src: String): Seq[Int] =
    throwableCase.findAllMatchIn(src).map(m => src.take(m.start).count(_ == '\n') + 1).toSeq

  test("no catch handler in src/main/scala matches Throwable") {
    // the scan itself: both handler forms flag, a Throwable parameter does not
    assert(flagged("try f() catch { case _: Throwable => () }") === Seq(1))
    assert(flagged("try f()\ncatch {\n  case t: java.lang.Throwable =>\n}") === Seq(3))
    assert(flagged("def states(t: Throwable): Seq[String] = t match {") === Nil)
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.endsWith(Paths.get("graft/ingest/Sinks.scala"))),
      "main sources not found from the working directory")
    val found = files.flatMap(f => flagged(Files.readString(f)).map(line => s"$f:$line"))
    assert(found.isEmpty, s"catch handlers matching Throwable: ${found.mkString(", ")}")
  }
}
