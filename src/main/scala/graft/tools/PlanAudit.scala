package graft.tools

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/** Dev-only plan audit (guide §7.2): for every declared query, count
  * how many times each base parquet table is scanned in the physical
  * plan — a scan count ≥ 2 of the same table means a shared subtree
  * is recomputed per consumer branch (the r14 tokenize-once finding,
  * mechanically) — and flag JSON parsed once per `lineitem` row
  * ([[jsonOverScan]]). Plans only; nothing is executed beyond whatever
  * eager materialization a query's own construction performs.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [minCount]
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Whether `e` itself parses JSON text (parse_json and
    * try_parse_json plan as a static invoke).
    */
  private def parsesJson(e: Expression): Boolean = e match {
    case _: JsonToStructs | _: GetJsonObject | _: JsonTuple |
        _: SchemaOfJson | _: JsonObjectKeys | _: LengthOfJsonArray => true
    case s: StaticInvoke => s.functionName == "parseJson"
    case _ => false
  }

  /** Operators of `plan` that parse JSON once per row of a scan of
    * `<table>.parquet`: an aggregate between the operator and the scan
    * is a barrier (above it, an expression runs once per group). Over
    * lineitem, only a query that reads each frame's own metadata
    * (img_meta_validate) should show up; a JSON that depends on the
    * dataset alone belongs on the data_set side.
    */
  def jsonOverScan(plan: SparkPlan, table: String): Seq[SparkPlan] = {
    def rowsOf(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case other => allChildren(other).exists(rowsOf)
    }
    collect(plan) {
      case p if p.expressions.exists(_.exists(parsesJson)) &&
        allChildren(p).exists(rowsOf) => p
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val minCount = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val tables = graft.tables.Tables.names
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val exec = fn(spark, sfDir).queryExecution.executedPlan
        val plan = exec.toString
        val counts = tables.map(t =>
          t -> s"$t\\.parquet".r.findAllIn(plan).length)
          .filter(_._2 >= minCount)
        if (counts.nonEmpty)
          println(s"[audit] $name: " +
            counts.map { case (t, n) => s"$t=$n" }.mkString(" "))
        val json = jsonOverScan(exec, "lineitem")
        if (json.nonEmpty)
          println(s"[audit] $name: json-per-lineitem-row in " +
            json.map(_.nodeName).mkString(" "))
      } catch { case e: Throwable =>
        println(s"[audit] $name: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
