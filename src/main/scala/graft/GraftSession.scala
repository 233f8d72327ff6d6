package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of graft's mains (Bench, Verify, Cli and the
  * tools): `local[cpus]` with one shuffle partition per core, the UI
  * off, ns-timestamp parquet read as longs (the events convention), UTC
  * session time and WARN logging. `cpus` is `SPARK_GRAFT_CPUS`,
  * defaulting to the cores the JVM sees. A main that needs other
  * runtime SQL confs sets them on the session it gets back.
  */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
