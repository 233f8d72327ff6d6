package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.scalatest.funsuite.AnyFunSuite

/** Plan probes for the three decode kernels
  * ([[graft.multimodal.BinaryFrames.grayStats]],
  * [[graft.multimodal.BinaryFrames.rgbStats]],
  * [[graft.multimodal.BinaryAudio.clipStats]]).
  */
object DecodeKernels {
  val Names = Set("grayStats", "rgbStats", "clipStats")

  /** Every kernel call in `df`'s optimized plan (subqueries included),
    * as (kernel name, canonicalized payload expression).
    */
  def calls(df: DataFrame): Seq[(String, Expression)] =
    df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.udfName.exists(Names) =>
          (u.udfName.get, u.children.head.canonicalized)
      }))

  def names(df: DataFrame): Set[String] = calls(df).map(_._1).toSet
}

/** Every inline QC key decodes each payload exactly once: a kernel
  * returns a struct, and an optimizer that copied the call into each
  * field access, or into a filter pushed below the projection (the
  * non-empty filter inferred for `img_pixel_histogram`'s
  * `posexplode(bins)`), would decode every payload more than once.
  */
class DecodeKernelSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  private val inlineKeys = Map(
    "img_payload_stats" -> "grayStats",
    "img_intensity_drift" -> "grayStats",
    "img_focus_rank" -> "grayStats",
    "img_pixel_histogram" -> "grayStats",
    "img_saturation" -> "grayStats",
    "img_z_profile" -> "grayStats",
    "img_channel_crosstalk" -> "rgbStats",
    "img_payload_stats_rgb" -> "rgbStats",
    "aud_waveform_stats" -> "clipStats",
    "aud_activity_windows" -> "clipStats",
    "vid_scene_cuts" -> "grayStats",
    "vid_keyframes" -> "grayStats")

  private def plan(key: String): DataFrame =
    SparkEntry.queries(key)(spark, sfDir)

  /** Kernel calls per payload expression that occur more than once. */
  private def repeated(df: DataFrame): Map[(String, Expression), Int] =
    DecodeKernels.calls(df).groupBy(identity).view
      .mapValues(_.size).filter(_._2 > 1).toMap

  test("each inline QC key calls its one kernel exactly once per payload") {
    assert(inlineKeys.size === 12)
    for ((key, kernel) <- inlineKeys.toSeq.sortBy(_._1)) {
      val df = plan(key)
      assert(DecodeKernels.names(df) === Set(kernel),
        s"$key must decode through $kernel only:\n" +
          df.queryExecution.optimizedPlan)
      assert(repeated(df).isEmpty,
        s"$key decodes a payload more than once:\n" +
          df.queryExecution.optimizedPlan)
    }
  }

  test("the single-evaluation probe sees a kernel called once per " +
      "field access") {
    import graft.multimodal.BinaryFrames
    import org.apache.spark.sql.functions.col
    val framed = BinaryFrames.withPayload(spark, sfDir)
    // negative control: the call written under each field read
    val k = BinaryFrames.grayStats(col("payload"))
    assert(repeated(framed.select(k.getField("n_px"), k.getField("sum_px")))
      .nonEmpty, "probe missed a kernel evaluated per field")
    // the decodeWith form of the same read calls it once
    val once = BinaryFrames.decodeWith(framed, BinaryFrames.grayStats)
      .select("n_px", "sum_px")
    assert(DecodeKernels.calls(once).size === 1 && repeated(once).isEmpty)
  }
}
