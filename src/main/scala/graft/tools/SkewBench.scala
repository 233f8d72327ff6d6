package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The AQE skew-join experiment at bench scale (SURVEY.md §5 / §7.11):
  * SkewSpec proves the MECHANISM at test scale; this main measures the
  * EFFECT at bench scale — a fact table with 90% of its rows on one
  * hot key, joined to a dimension, three ways:
  *
  *  1. `no_aqe`   — skew-join splitting off: the hot partition lands
  *     on one task (the 100 TB straggler shape);
  *  2. `aqe_skew` — AQE's runtime skew split on (default thresholds;
  *     the fact is sized so the hot partition exceeds them);
  *  3. `salted`   — [[graft.ops.Skew.saltedJoin]]: the pre-planned
  *     mitigation AQE can't apply (e.g. when an upstream distribution
  *     requirement pins the partitioning).
  *
  * Emits ONE JSON line: seconds per variant + whether the adaptive
  * plan actually marked the join skewed (`skew=true`), so the artifact
  * records evidence, not just timing. Row count is identical across
  * variants and asserted.
  */
object SkewBench {

  private val HotKey = 42L

  private def fact(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
      when(col("id") % 10 =!= 0, lit(HotKey)).otherwise(col("id")).as("k"),
      // fat HIGH-ENTROPY payload: skew detection reads COMPRESSED
      // shuffle partition sizes, so a compressible filler (e.g. zero
      // padding) silently shrinks the hot partition under the
      // threshold and no split ever happens — md5 hex keeps ~4 bits
      // of entropy per char and the partition size honest
      concat(md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string")),
        md5((col("id") + 2).cast("string"))).as("payload"))

  private def dim(spark: SparkSession): DataFrame =
    spark.range(100000).select(col("id").as("k"),
      concat(lit("d"), col("id").cast("string")).as("label"))

  /** Global agg above the join — a groupBy on the join key would pin
    * hashpartitioning(k) and forbid the skew split (SkewSpec gotcha).
    */
  private def joined(f: DataFrame, d: DataFrame): DataFrame =
    f.join(d, "k").agg(count(lit(1)).as("n"),
      sum(length(col("payload"))).as("bytes"))

  /** Min of two runs, each over a FRESH DataFrame from `mk`: the first
    * pays codegen/JIT (same discipline as [[graft.Bench]]), and the
    * fresh plan per run stops Spark from answering the second run out
    * of the first run's finalized shuffle stages — re-collecting one
    * adaptive plan reuses its result stages and times a re-read, not
    * the query. Returns (seconds, row count, last DataFrame) so the
    * caller can inspect the executed plan.
    */
  private def timed(mk: () => DataFrame): (Double, Long, DataFrame) = {
    val runs = (1 to 2).map { _ =>
      val df = mk()
      val t0 = System.nanoTime()
      val n = df.collect()(0).getLong(0)
      ((System.nanoTime() - t0) / 1e9, n, df)
    }
    val best = runs.minBy(_._1)
    (best._1, best._2, runs.last._3)
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "5000000").toLong
    val spark = graft.GraftSession.local()
    // force the shuffle join under test everywhere
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // hot partition ~90% of rows × ~100 B ≈ rows/11 KB; make sure the
    // default 256 MB threshold trips at the default 5M rows
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "67108864")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "33554432")

    val f = fact(spark, rows)
    val d = dim(spark)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (tPlain, nPlain, _) = timed(() => joined(f, d))

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // the marker is read off a collected DataFrame's OWN adaptive plan
    // (head() would run a separate limit query and the plan would
    // never finalize)
    val (tAqe, nAqe, qAqe) = timed(() => joined(f, d))
    val skewMarked = qAqe.queryExecution.executedPlan.toString
      .contains("skew=true")

    // identical aggregate to joined(): sum(length(payload)) keeps the
    // fat column in the salted shuffle too — a bare count would let
    // Catalyst prune payload below the exchange and the salted timing
    // would compare a payload-free shuffle against payload-carrying
    // ones
    val (tSalted, nSalted, _) = timed(() =>
      graft.ops.Skew.saltedJoin(f, d, "k", salts = 32)
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("bytes")))

    require(nPlain == nAqe && nAqe == nSalted,
      s"variant row counts diverge: $nPlain / $nAqe / $nSalted")
    println(s"""{"metric":"skew_join","rows":$rows,"unit":"sec"""" +
      s""","no_aqe":$tPlain,"aqe_skew":$tAqe,"salted":$tSalted""" +
      s""","skew_marked":$skewMarked,"joined_rows":$nPlain}""")
    spark.stop()
  }
}
