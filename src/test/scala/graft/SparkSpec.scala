package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small core count: test data is
  * tiny and many-partition shuffles just add latency).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .appName(getClass.getSimpleName)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // like GraftSession, NO session-wide range-join bin: queries scope
    // it via Registry.withRangeBucket, so plan-shape tests see exactly
    // the rewrites the mains get (RangeJoinRuleSpec sets it locally)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = {
    // keep the session for other suites in the same JVM
    super.afterAll()
  }

  /** The Spark jobs `body` starts, counted by a listener on its job group.
    * The listener bus is asynchronous: one more job, posted after the
    * body's events, marks the point where all of them were delivered.
    */
  def sparkJobs(body: => Unit): Int = {
    val (group, markerGroup) = (s"${getClass.getSimpleName}-jobs", "spark-jobs-marker")
    val starts = new AtomicInteger
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e) == group) starts.incrementAndGet()
        else if (groupOf(e) == markerGroup) markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(markerGroup, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(30, TimeUnit.SECONDS))
      starts.get
    } finally sc.removeSparkListener(listener)
  }

  def fixtureDir: String = new java.io.File("src/test/resources/af3").getAbsolutePath
}
