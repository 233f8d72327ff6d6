package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only measurement harness (guide §1: measure first): runs ONE
  * declared query N times against a scale dir, prints per-run wall
  * time, per-stage executor metrics (run time, shuffle bytes, task
  * count) and the formatted physical plan. Never run by the driver;
  * changes nothing about Bench's methodology.
  *
  * Usage: runMain graft.tools.Profile <query> [sfDir] [runs] [plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val wantPlan = args.lift(3).contains("plan")
    val spark = graft.GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()

    @volatile var jobs = 0
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages.add(f"    stage ${i.stageId}%4d ${i.numTasks}%4dt " +
          f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten}%9dB shR=${m.shuffleReadMetrics.totalBytesRead}%9dB " +
          i.name.take(60))
      }
    })

    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      jobs = 0; stages.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      val n = df.count()
      val t1 = System.nanoTime()
      Thread.sleep(300) // let stage-completed events drain
      println(f"[profile] $name run $r: total=${(t1 - t0) / 1e9}%.3fs " +
        f"build=${(tPlan - t0) / 1e9}%.3fs rows=$n jobs=$jobs stages=${stages.size}")
      if (r == runs) stages.forEach(s => println(s))
    }
    if (wantPlan) {
      val df = fn(spark, sfDir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
