package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import Harness.Run

/** Derives the engine and planning layer metrics from the trace and
  * writes the run's result file (and, traced, its spans and layer file). */
object Report {

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  /** Engine, planning and memo metrics, per warm unit (a pass or an
    * iteration), from the spans and the listener totals. */
  def engineLayers(run: Run): Unit = {
    val tr = run.tracer
    val byId = tr.spans.map(s => s.id -> s).toMap
    val warmIds = run.warmSpans.map(_.id).toSet
    def inWarm(id: Long): Boolean = {
      var cur = byId.get(id)
      while (cur.isDefined && !warmIds.contains(cur.get.id)) cur = byId.get(cur.get.parent)
      cur.isDefined
    }
    val t = new EngineTotals
    tr.totalsByOwner.foreach { case (owner, tot) => if (inWarm(owner)) t.add(tot) }
    val units = math.max(1, run.warmUnits).toDouble
    val L = run.layers
    L("spark.jobs") = t.jobs / units
    L("spark.stages") = t.stages / units
    L("spark.tasks") = t.tasks / units
    L("spark.scheduler_delay_s") = t.schedulerDelayMs / 1e3 / units
    L("spark.executor_run_s") = t.runMs / 1e3 / units
    L("spark.executor_cpu_s") = t.cpuNs / 1e9 / units
    L("spark.cpu_utilization") =
      if (run.warmWallS > 0) t.cpuNs / 1e9 / (run.warmWallS * Harness.cpus) else 0.0
    L("spark.shuffle_read_bytes") = t.shuffleRead / units
    L("spark.shuffle_write_bytes") = t.shuffleWrite / units
    L("spark.spill_bytes") = t.spill / units
    L("spark.input_bytes") = t.input / units
    L("spark.output_bytes") = t.output / units

    // planning phases, parented by time to the innermost benchmark span
    val driverSpans = tr.spans.filter(s => s.end >= 0 && !s.layer.startsWith("spark."))
    val phaseTotals = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
    tr.planPhases.toSeq.foreach { case (name, a, b) =>
      val owner = driverSpans.filter(s => s.start <= a && a <= s.end)
        .minByOption(s => s.end - s.start)
      val parent = owner.map(_.id).getOrElse(0L)
      tr.addFinished(parent, s"plan.$name", "graft.plans", a, b)
      if (inWarm(parent)) phaseTotals(name) = phaseTotals.getOrElse(name, 0.0) + (b - a) / 1e6
    }
    phaseTotals.foreach { case (k, v) => L(s"plan.${k}_s") = v / units }
    L("query.construct_s") = tr.spans.filter(s => s.layer == "query.construct" && inWarm(s.id))
      .map(s => (s.end - s.start) / 1e6).sum / units
  }

  /** A layer's self time: the time its spans are open and no child span
    * covers. Pass spans against their query children give the coverage of
    * the query spans: the share of the pass's wall time, less the output
    * checks between the queries, that the queries cover. */
  def selfTimes(run: Run): (Map[String, Double], Double) = {
    val tr = run.tracer
    val children = tr.spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    tr.spans.filter(_.end >= 0).foreach { s =>
      val us = Tracer.selfMicros(s, children.getOrElse(s.id, Nil).toSeq)
      self(s.layer) = self.getOrElse(s.layer, 0.0) + us / 1e6
    }
    val passes = tr.spans.filter(_.layer == "pass")
    val coverage = if (passes.isEmpty) 1.0 else passes.map { p =>
      def total(layer: String => Boolean) = children.getOrElse(p.id, Nil)
        .filter(c => layer(c.layer)).map(c => (c.end - c.start).toDouble).sum
      total(_.startsWith("graft.ops.")) / math.max(1.0, p.end - p.start - total(_ == "check"))
    }.min
    (self.toMap, coverage)
  }

  def write(run: Run, out: Path): Unit = {
    if (run.trace) {
      engineLayers(run)
      val (self, coverage) = selfTimes(run)
      run.layers("trace.query_span_coverage") = coverage
      val dir = out.getParent.resolve("trace")
      Files.createDirectories(dir)
      val spans = run.tracer.spans.toSeq.sortBy(_.start).map { s =>
        s"""{"run": ${str(run.tracer.runId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
          s""""name": ${str(s.name)}, "layer": ${str(s.layer)}, "start_us": ${s.start}, """ +
          s""""end_us": ${s.end}, "attrs": ${obj(s.attrs)}}"""
      }
      Files.write(dir.resolve("spans.jsonl"), (spans.mkString("\n") + "\n").getBytes(UTF_8))
      Files.write(dir.resolve("layers.json"),
        (s"""{"run": ${str(run.tracer.runId)}, "workload": ${str(run.workload)}, """ +
          s""""seed": ${run.seed}, "cpus": ${Harness.cpus}, "end_to_end": ${obj(run.e2e)}, """ +
          s""""per_layer": ${obj(run.layers)}, "self_s": ${obj(self)}}""" + "\n").getBytes(UTF_8))
    }
    val failures = run.failures.map(str).mkString("[", ", ", "]")
    val json = s"""{"workload": ${str(run.workload)}, "correct": ${run.failures.isEmpty}, """ +
      s""""attempted": ${run.attempted}, "failed": ${run.failed}, "failures": $failures, """ +
      s""""end_to_end": ${obj(run.e2e)}, "per_layer": ${obj(run.layers)}}"""
    Files.write(out, (json + "\n").getBytes(UTF_8))
  }
}
