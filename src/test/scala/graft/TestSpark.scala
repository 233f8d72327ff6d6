package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus is drained before and after, so jobs of earlier
    * calls are not counted and every job of `body` is.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** Temp directories scoped to one suite: [[tempDir]] makes one (as
  * `Files.createTempDirectory` does) and `afterAll` deletes every
  * directory the suite made.
  */
trait TempDirs extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>

  private val made =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
