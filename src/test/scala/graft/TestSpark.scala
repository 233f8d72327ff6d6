package graft

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
