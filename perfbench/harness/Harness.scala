package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CheckpointMemo, Tables}

/** Benchmark harness for one workload run in a fresh JVM.
  *
  *   Harness --workload <dump_import|query_mix> --seed <n>
  *           --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *           --out <result.json> [--record <digests.json>]
  *
  * One closed-loop client: each operation starts when the previous one
  * has finished. Every call into a graft layer is timed from outside and
  * every output is checked outside the timed region. The result file
  * holds the end-to-end metrics, and with tracing on the per-layer
  * metrics and the spans. */
object Harness {

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val trace: Boolean, val data: Path, val work: Path) {
    val tracer = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}")
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var memoBuilds = 0L
    var failed = 0L
    /** Benchmark spans whose engine totals make up the warm region. */
    val warmSpans = mutable.ArrayBuffer.empty[Span]
    var warmUnits = 0
    var warmWallS = 0.0
    private var warmMark = (0L, 0L, 0.0, 0.0)
    /** Start of the warm region: snapshot the GC, codegen and steal clocks. */
    def markWarm(): Unit = warmMark = (gcMillis(), codegenCount(), codegenMillis(), stealSeconds())

    /** End of the warm region: GC, codegen and steal time per warm unit. */
    def endWarm(): Unit = {
      val units = math.max(1, warmUnits).toDouble
      layers("spark.jvm_gc_s") = (gcMillis() - warmMark._1) / 1e3 / units
      layers("plan.codegen_compiles") = (codegenCount() - warmMark._2) / units
      layers("plan.codegen_compile_s") = (codegenMillis() - warmMark._3) / 1e3 / units
      layers("host.steal_s") = (stealSeconds() - warmMark._4) / units
    }

    /** A failed output check fails the operation and the run. */
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) {
        failed += 1
        failures += what
        System.err.println(s"[perfbench] CHECK FAILED: $what")
      }
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("data")), Paths.get(a("work")))
    Files.createDirectories(run.work)
    a("workload") match {
      case "dump_import" => DumpImport.run(run)
      case "query_mix" => QueryMix.run(run, a.get("record").map(Paths.get(_)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.layers("jvm.peak_rss_mb") = peakRssMb()
    Report.write(run, Paths.get(a("out")))
    // non-daemon Spark threads must not keep the JVM alive
    sys.exit(0)
  }

  // ---- session set-up -------------------------------------------------

  /** Session posture per workload: the graft entry point that owns the
    * workload in production (ImportDump, Bench). */
  def newSession(workload: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosConf, "true")
    val s = workload match {
      case "dump_import" =>
        b.config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024).getOrCreate()
      case _ =>
        val shuffle = math.min(cpus, 8)
        b.config("spark.sql.shuffle.partitions", shuffle.toString)
          .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            math.max(cpus, shuffle).toString)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.codegen.wholeStage", "true")
          .getOrCreate()
    }
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up sessions (the last one is kept); `prepare` is the workload's
    * warm-up and cache build. The first set-up, timed from JVM start
    * (RuntimeMXBean), is `setup.first_s`: it is mostly JVM and Spark class
    * loading and gives one sample per run. Then set-ups repeat in the warm
    * JVM until `times` of them ran quiet, or `times` + 2 ran; setup_s is
    * the median of the quiet ones when there are `times`, else of all. */
  def setUp(run: Run, times: Int)(prepare: SparkSession => Unit): SparkSession = {
    require(times >= 1, "setup_s needs a set-up after the first")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var session = newSession(run.workload)
    prepare(session)
    run.layers("setup.first_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val later = mutable.ArrayBuffer.empty[(Double, Boolean)]
    while (later.count(_._2) < times && later.size < times + 2) {
      Tables.clearCache()
      CheckpointMemo.clear()
      session.stop()
      // a set-up in a fresh JVM starts without the previous session's garbage
      System.gc()
      val meter = new StealMeter
      val t0 = System.nanoTime()
      session = newSession(run.workload)
      prepare(session)
      val secs = (System.nanoTime() - t0) / 1e9
      later += ((secs, meter.quiet(secs)))
    }
    val quiet = later.filter(_._2)
    run.e2e("setup_s") = medianOf((if (quiet.size >= times) quiet else later).map(_._1).toSeq)
    if (run.trace) {
      session.sparkContext.addSparkListener(new EngineListener(run.tracer))
      session.listenerManager.register(new PlanListener(run.tracer))
    }
    CheckpointMemo.resetStats()
    session
  }

  def finish(run: Run, spark: SparkSession): Unit = {
    run.endWarm()
    run.layers("memo.build_s") = CheckpointMemo.buildSeconds
    run.layers("memo.builds") = run.memoBuilds.toDouble
    CheckpointMemo.buildSecondsByTag.foreach { case (t, s) => run.layers(s"memo.build_s.$t") = s }
    if (run.trace) org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    Tables.clearCache()
    CheckpointMemo.clear()
    spark.stop()
  }

  // ---- timing ----------------------------------------------------------

  /** Time one call into a layer. Opens a span (so Spark jobs the call
    * submits are attributed to it) and records memo-build deltas. */
  def timed[A](run: Run, spark: SparkSession, name: String, layer: String)(f: => A): (A, Double, Span) = {
    val span = run.tracer.open(name, layer)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, span.id.toString)
    val memo0 = CheckpointMemo.buildSecondsByTag
    val t0 = System.nanoTime()
    val r = try f finally {
      run.tracer.close(span)
      sc.setLocalProperty(Tracer.SpanProperty, prev)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val memo1 = CheckpointMemo.buildSecondsByTag
    memo1.foreach { case (tag, s) =>
      val d = s - memo0.getOrElse(tag, 0.0)
      if (d > 0) { span.attrs(s"memo.$tag") = d; run.memoBuilds += 1 }
    }
    (r, secs, span)
  }

  /** Time a span that only groups others (a pass or an iteration). */
  def group[A](run: Run, name: String, layer: String)(f: => A): (A, Double, Span) = {
    val span = run.tracer.open(name, layer)
    val t0 = System.nanoTime()
    val r = try f finally run.tracer.close(span)
    (r, (System.nanoTime() - t0) / 1e9, span)
  }

  // ---- helpers -----------------------------------------------------------

  def medianOf(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally w.close()
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def codegenHistogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def codegenCount(): Long = codegenHistogram.getCount
  /** Total compile milliseconds, from the histogram's sampled mean (the
    * histogram keeps no exact sum). */
  def codegenMillis(): Double = codegenHistogram.getSnapshot.getMean * codegenHistogram.getCount

  /** CPU time the hypervisor gave to other guests (all CPUs, /proc/stat,
    * 100 ticks per second). */
  def stealSeconds(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  /** The vCPUs whose steal stealSeconds() sums: the cpuN lines of /proc/stat. */
  lazy val statCpus: Int = math.max(1, Files.readAllLines(Paths.get("/proc/stat"), UTF_8).asScala
    .count(_.matches("cpu[0-9]+ .*")))

  /** A set-up or warm unit is contended when the hypervisor gave other
    * guests more than this share of the machine's CPU time while it ran. */
  val MaxStealShare = 0.02

  /** Started before a timed set-up or unit; tells whether it ran uncontended. */
  final class StealMeter {
    private val s0 = stealSeconds()
    def quiet(wall: Double): Boolean =
      (stealSeconds() - s0) / math.max(1e-9, wall * statCpus) <= MaxStealShare
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  def readJson(p: Path): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(p), UTF_8))

  /** Order-independent digest of a frame: the row count and the exact sum
    * of per-row xxhash64 over name-sorted columns, doubles reduced to six
    * significant digits so the last-bit noise of a reordered float sum
    * does not change it. One Spark job. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.map(f => coalesce(norm(col(s"`${f.name}`"), f.dataType), lit("\u0000")))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(concat_ws("\u0001", cols.toSeq: _*))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val x = c.cast(DoubleType)
      val e = floor(log10(abs(x)))
      when(x.isNull, lit(null).cast(StringType))
        .when(isnan(x), lit("nan"))
        .when(x === Double.PositiveInfinity, lit("inf"))
        .when(x === Double.NegativeInfinity, lit("-inf"))
        .when(x === 0.0, lit("0"))
        .otherwise(concat(round(x * pow(lit(10.0), lit(5.0) - e)).cast(LongType).cast(StringType),
          lit("e"), e.cast(LongType).cast(StringType)))
    case ArrayType(et, _) =>
      array_join(transform(c, x => coalesce(norm(x, et), lit("\u0000"))), "\u0002")
    case StructType(fs) =>
      concat_ws("\u0003", fs.toSeq.map(f => coalesce(norm(c.getField(f.name), f.dataType), lit("\u0000"))): _*)
    case _: MapType => to_json(c)
    case BinaryType => xxhash64(c).cast(StringType)
    case _ => c.cast(StringType)
  }
}
