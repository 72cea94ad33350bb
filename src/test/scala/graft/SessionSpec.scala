package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The session postures as conf maps, and the entry points' argument
  * checks, which fail before a session starts; no session starts here. */
class SessionSpec extends AnyFunSuite {

  private val coreCounts = Seq(4, 32)

  test("every posture carries the shared keys") {
    coreCounts.foreach { n =>
      val shared = Session.shared(n)
      assert(shared === Map("spark.master" -> s"local[$n]",
        "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false",
        Tables.NanosConf -> "true"))
      Seq("query" -> Session.query(n), "ingest" -> Session.ingest(n)).foreach {
        case (name, posture) =>
          assert(shared.forall { case (k, v) => posture.get(k).contains(v) },
            s"$name posture at $n cores lacks a shared key: $posture")
      }
    }
  }

  test("the query posture is Bench's session: min(cores, 8) shuffle, max(cores, shuffle) initial width") {
    def bench(cores: Int, shuffle: Int, initial: Int) = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shuffle.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initial.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      Tables.NanosConf -> "true")
    // Bench also set AQE and whole-stage codegen on, Spark's defaults
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue === Some(true))
    assert(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.defaultValue === Some(true))
    assert(Session.query(4) === bench(4, 4, 4))
    assert(Session.query(32) === bench(32, 8, 32))
    // the scale recipes' overrides: a wider shuffle widens the initial width
    assert(Session.query(32, shuffle = Some(512)) === bench(32, 512, 512))
    assert(Session.query(32, Some(256), Some(64)) === bench(32, 256, 64))
  }

  test("the ingest posture caps file splits at 32 MB and keeps Spark's shuffle width") {
    coreCounts.foreach { n =>
      assert(Session.ingest(n) ===
        Session.shared(n) + ("spark.sql.files.maxPartitionBytes" -> "33554432"))
    }
  }

  /** The message of the IllegalArgumentException `main` throws. The
    * dump does not exist, so only an argument check can throw one. */
  private def rejected(main: Array[String] => Unit, args: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("entryargs")
    intercept[IllegalArgumentException](main(args.map(a =>
      a.replace("<tmp>", dir.toString)).toArray)).getMessage
  }

  test("ImportDump.main rejects a fourth positional argument") {
    val msg = rejected(graft.ingest.ImportDump.main,
      "<tmp>/dump.xml", "<tmp>/out", "jdbc:derby:<tmp>/db;create=true", "extra")
    assert(msg.contains("usage: ImportDump"), msg)
    assert(rejected(graft.ingest.ImportDump.main, "--index", "<tmp>/index.txt",
      "<tmp>/dump.xml.bz2", "<tmp>/out", "jdbc:derby:<tmp>/db", "extra").contains("usage"))
  }

  test("EndToEndDemo.main rejects replicas <= 0 and a fourth argument") {
    Seq("0", "-3").foreach { n =>
      val msg = rejected(graft.ingest.EndToEndDemo.main, "<tmp>/dump.xml", "<tmp>/work", n)
      assert(msg.contains(s"replicas must be positive, got $n"), msg)
    }
    assert(rejected(graft.ingest.EndToEndDemo.main, "<tmp>/dump.xml", "<tmp>/work", "2",
      "extra").contains("usage: EndToEndDemo"))
  }
}
