package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (build forks one test JVM).
  * Each suite's teardown clears [[CheckpointMemo]] so memoized
  * localCheckpoint frames don't pin shuffle/checkpoint blocks for the
  * whole test-JVM lifetime (the ContextCleaner-leak class Bench drains
  * with periodic GC); a later suite that needs a memoized frame simply
  * rebuilds it — cheap at sf0.001.
  *
  * ASSUMES suites run sequentially in the forked JVM (the sbt default;
  * `testForkedParallel` stays false). The memo is process-global, so a
  * parallel suite schedule would let one suite's afterAll unpersist a
  * frame another suite is actively using. */
trait LocalSparkSuite extends BeforeAndAfterAll { this: Suite =>
  override def afterAll(): Unit =
    try CheckpointMemo.clear() finally super.afterAll()

  /** Pinned at 4 cores, whatever SPARK_GRAFT_CPUS says: the job and
    * task budgets some suites assert depend on the session's width. */
  lazy val spark: SparkSession = Session.start(Session.query(4))

  val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `f` submits. */
  def jobsSubmittedBy[A](f: => A): (A, Int) = {
    val (a, jobs, _) = workSubmittedBy(f)
    (a, jobs)
  }

  /** The Spark jobs `f` submits and the tasks they run. The listener
    * bus is asynchronous but ordered, so once a marked fence job
    * submitted after `f` has ended, every job start and task end before
    * it has been counted. */
  def workSubmittedBy[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val fenceDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var fenceId = -1
    @volatile var fenceStages = Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.fence") != null)) {
          fenceStages = e.stageIds.toSet
          fenceId = e.jobId
        } else started.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!fenceStages.contains(e.stageId)) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId) fenceDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.fence", null)
      assert(fenceDone.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never ended")
      (a, started.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
