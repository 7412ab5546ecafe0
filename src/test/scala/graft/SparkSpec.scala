package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Temp directories owned by one suite: every directory `tempDir`
  * makes, while the suite is built or while a test runs, is deleted
  * when the suite's run ends, whether its tests pass, fail or throw. */
trait TempDirs extends Suite {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh directory under `java.io.tmpdir`, named `prefix…`. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally while (!made.isEmpty) Fs.deleteTree(made.poll())
}

/** Shared session per suite (lazy; the engine's session from
  * `GraftExtensions.builder`, ANSI default). Fixed at 4 slots: the
  * plan goldens spell `hashpartitioning(…, 4)`. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession =
    GraftExtensions.builder(4).appName(getClass.getSimpleName).getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started on this thread while `f` runs, counted by a
    * listener. Listener events arrive asynchronously but in order, so
    * once a fence job started after `f` has been seen, every job of
    * `f` has been counted. */
  def jobsStarted(f: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, fenceGroup) = ("spec-job-count", "spec-job-fence")
    val counted = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`fenceGroup`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(fenceGroup, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}
