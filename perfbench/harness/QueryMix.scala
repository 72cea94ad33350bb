package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.json4s._

import graft.{SparkEntry, Tables}
import Harness._

/** query_mix: the analytics and LLM-operator surface, read-only over the
  * generated tables held in the session table cache. One cold pass
  * in a fresh session, then warm passes for the run's measuring time;
  * the seed shuffles the query order of every pass. */
object QueryMix {
  /** The defining object of every query, for the per-family metrics. */
  lazy val familyOf: Map[String, String] = Seq(
    "Relational" -> graft.ops.Relational.defs, "TextOps" -> graft.ops.TextOps.defs,
    "VectorOps" -> graft.ops.VectorOps.defs, "WindowedOps" -> graft.ops.WindowedOps.defs,
    "UdfOps" -> graft.ops.UdfOps.defs, "MultimodalOps" -> graft.ops.MultimodalOps.defs,
    "CurationOps" -> graft.ops.CurationOps.defs, "StatsOps" -> graft.ops.StatsOps.defs,
    "WikitextOps" -> graft.ops.WikitextOps.defs, "SinkOps" -> graft.ops.SinkOps.defs,
    "XmlOps" -> graft.ops.XmlOps.defs, "StreamGradedOps" -> graft.ops.StreamGradedOps.defs,
  ).flatMap { case (f, defs) => defs.map(_.name -> f) }.toMap


  final case class Expected(rows: Long, digest: Option[String])

  /** Quiet set-ups per run after the first, for setup_s. */
  val SetUps = 4
  /** Warm passes per run, at least (and at least --seconds of them). */
  val MinPasses = 3

  /** One execution of a query; `quiet` when no neighbour took the host's CPU. */
  final case class Sample(query: String, pass: Int, wall: Double, quiet: Boolean, span: Span)

  def run(run: Run, record: Option[Path]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val spec = readJson(run.data.resolve("query_mix.json"))
    val names = (spec \ "queries").extract[Seq[String]]
    val cached = (spec \ "tables").extract[Seq[String]]
    val expected: Map[String, Expected] = (spec \ "expected") match {
      case JObject(kv) => kv.map { case (k, v) =>
        k -> Expected((v \ "rows").extract[Long], (v \ "digest").extractOpt[String]) }.toMap
      case _ => Map.empty
    }
    val fns = SparkEntry.queries
    names.foreach(q => require(fns.contains(q), s"query_mix names unknown query $q"))
    val tables = run.data.resolve("tables").toString
    Tables.cacheForSession = true

    var cacheBuildS = 0.0
    // set-up is the session and the cache build of the tables the mix
    // reads; the JIT warmup is left to the cold pass (query.cold_pass_s)
    val spark = setUp(run, SetUps) { s =>
      val t0 = System.nanoTime()
      cached.foreach(t => Tables.table(s, tables, t).count())
      cacheBuildS = (System.nanoTime() - t0) / 1e9
    }
    run.layers("tables.cache_build_s") = cacheBuildS

    val observed = mutable.LinkedHashMap.empty[String, (Long, String)]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val rng = new scala.util.Random(run.seed)

    /** One pass over the shuffled mix; returns the sum of its query times. */
    def onePass(pass: Int): Double = {
      val order = rng.shuffle(names)
      group(run, s"pass $pass", "pass") {
        order.foreach { q =>
          val meter = new StealMeter
          val ((df, out), wall, qSpan) = group(run, q, s"graft.ops.${familyOf.getOrElse(q, "unknown")}") {
            val (df, _, _) = timed(run, spark, "construct", "query.construct")(fns(q)(spark, tables))
            val (out, _, _) = timed(run, spark, "exec", "query.exec")(df.collect())
            (df, out)
          }
          samples += Sample(q, pass, wall, meter.quiet(wall), qSpan)
          run.attempted += 1
          // output check, outside the query's time: digest of the collected rows
          val ((rows, dig), _, _) = timed(run, spark, s"check $q", "check")(
            digest(spark.createDataFrame(java.util.Arrays.asList(out: _*), df.schema)))
          val exp = expected.get(q)
          run.check(record.isDefined || exp.exists(x => x.rows == rows && x.digest.forall(_ == dig)),
            s"$q pass $pass: rows=$rows digest=$dig expected $exp")
          if (pass == 0) observed(q) = (rows, dig)
          else if (record.isDefined && observed.get(q).exists(_._2 != dig))
            observed(q) = (rows, "")
          System.err.println(f"[perfbench] pass $pass $q $wall%.3f s")
        }
      }
      samples.filter(_.pass == pass).map(_.wall).sum
    }

    run.layers("query.cold_pass_s") = onePass(0)
    run.markWarm()
    val t0 = System.nanoTime()
    var pass = 1
    while (pass <= MinPasses || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      onePass(pass)
      pass += 1
    }
    val warmWall = (System.nanoTime() - t0) / 1e9
    val warm = samples.filter(_.pass > 0)
    // each query's median over the warm passes: one slow pass of a
    // query moves its median, not the run's numbers
    val medianByQuery = warm.groupBy(_.query).map { case (q, ss) => q -> medianOf(ss.map(_.wall).toSeq) }
    run.e2e("throughput_per_s") = medianByQuery.size / medianByQuery.values.sum
    // the typical query: a geometric mean weighs a 0.1 s query's change as
    // much as a 2 s one's, and unlike the median of six it moves smoothly
    run.e2e("latency_s") = math.exp(medianByQuery.values.map(math.log).sum / medianByQuery.size)
    run.layers("query.warm_samples") = warm.size.toDouble
    run.layers("host.contended_units") = warm.count(!_.quiet).toDouble
    run.layers("query.warm_passes") = (pass - 1).toDouble
    run.warmSpans ++= warm.map(_.span)
    run.warmUnits = pass - 1
    run.warmWallS = warmWall

    if (run.trace) {
      org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
      names.map(familyOf).distinct.foreach { f =>
        run.layers(s"ops.$f.warm_s") =
          medianByQuery.collect { case (q, s) if familyOf(q) == f => s }.sum
      }
      medianByQuery.foreach { case (q, s) => run.layers(s"query.$q.warm_s") = s }
      val children = run.tracer.spans.groupBy(_.parent)
      def jobsUnder(s: Span): Int = children.getOrElse(s.id, Nil).map { c =>
        (if (c.layer == "spark.job") 1 else 0) + jobsUnder(c)
      }.sum
      warm.groupBy(_.query).foreach { case (q, ss) =>
        run.layers(s"query.$q.jobs") = medianOf(ss.map(x => jobsUnder(x.span).toDouble).toSeq)
      }
    }
    // record mode: each query's full result and its DuckDB twin, for the
    // one-time cross-check of the recorded digests (record.py)
    record.foreach { p =>
      val dir = p.getParent.resolve("results")
      names.foreach(q => fns(q)(spark, tables).write.mode("overwrite").parquet(dir.resolve(q).toString))
      val oracles = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
        .map { case (q, sql) => s"${Report.str(q)}: ${Report.str(sql)}" }.mkString("{", ",\n", "}")
      Files.write(dir.resolve("oracle_sql.json"), oracles.getBytes(UTF_8))
    }
    finish(run, spark)

    record.foreach { p =>
      val js = observed.map { case (q, (rows, d)) =>
        val dj = if (d.isEmpty) "" else s""", "digest": "$d""""
        s"""    "$q": {"rows": $rows$dj}"""
      }.mkString(",\n")
      Files.write(p, s"{\n$js\n}\n".getBytes(UTF_8))
    }
  }
}
