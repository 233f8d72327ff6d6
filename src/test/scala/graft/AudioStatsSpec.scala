package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.BinaryAudio
import graft.sources.AudioStats

/** The decode-once AudioStats table: both audio QCs must read
  * persisted per-clip integer moments (one WAV decode pass through the
  * shared kernel) with results identical to the inline decode operators,
  * appends must stay O(batch), and per-dataset reads must ride the
  * bucket layout.
  */
class AudioStatsSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  test("the table carries one row per clip with exact fused moments") {
    val stats = AudioStats.statsFor(spark, sfDir)
    val nClips = graft.imaging.ImagingModel.frames(spark, sfDir).count()
    assert(stats.count() === nClips)
    // invariants of the 256-sample PCM16 clips: window moments bound
    // the loudness moments (8 windows of 32 samples partition the
    // clip, so min·8 <= Σs² <= max·8), peak within range, quiet
    // windows strictly fewer than all of them
    val bad = stats.filter(col("n") =!= BinaryAudio.ClipSamples
      || col("sample_rate") =!= BinaryAudio.SampleRate
      || col("wmin") * 8 > col("sum_sq")
      || col("wmax") * 8 < col("sum_sq")
      || col("peak") > 32768 || col("peak") < 0
      || col("n_quiet") >= 8 || col("n_quiet") < 0)
    assert(bad.count() === 0)
  }

  test("stored twins equal their inline decode operators, without " +
      "touching the codec") {
    for ((name, stored, inline) <- Seq(
        ("waveform_stats",
          AudioStats.waveformStatsStored(spark, sfDir),
          BinaryAudio.waveformStats(spark, sfDir)),
        ("activity_windows",
          AudioStats.activityWindowsStored(spark, sfDir),
          BinaryAudio.activityWindows(spark, sfDir)))) {
      assert(stored.collect().toSeq === inline.collect().toSeq,
        s"$name stored twin drifted from the inline decode")
      // the stored plan must be decode-free: the kernel the inline
      // plan calls (positive control) never appears in it
      assert(DecodeKernels.names(inline) === Set("clipStats"),
        s"$name inline plan lost its kernel")
      assert(DecodeKernels.calls(stored).isEmpty,
        s"$name stored twin still decodes:\n" +
          stored.queryExecution.optimizedPlan)
    }
  }

  test("append decodes only the batch and keeps the bucket layout " +
      "rollup exchange-free") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_austats").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_au LOCATION '$tmp'")
    val t = "graft_au.stats"
    try {
      AudioStats.write(spark, sfDir, t)
      val n0 = spark.table(t).count()
      // a new acquisition: two existing payloads under fresh clip ids
      val srcIds = BinaryAudio.withAudioPayload(spark, sfDir)
        .orderBy("clip_id").limit(2)
        .select("clip_id").collect().map(_.getLong(0))
      val batch = BinaryAudio.withAudioPayload(spark, sfDir)
        .filter(col("clip_id").isin(srcIds.toIndexedSeq: _*))
        .select((col("clip_id") + 9000000L).as("clip_id"),
          col("payload"))
      AudioStats.append(spark, t, batch)
      assert(spark.table(t).count() === n0 + 2)
      // appended rows carry the same fused moments their source clips
      // had (decode determinism — the moments depend on bytes alone)
      val src = spark.table(t)
        .filter(col("clip_id").isin(srcIds.toIndexedSeq: _*))
        .select("sum_sq", "peak", "sum_s").orderBy("sum_sq")
      val app = spark.table(t)
        .filter(col("clip_id") >= 9000000L)
        .select("sum_sq", "peak", "sum_s").orderBy("sum_sq")
      assert(app.collect().toSeq === src.collect().toSeq)
      // the dataset rollup rides the bucket layout: no exchange below
      // the aggregate
      val plan = spark.table(t).groupBy("dataset_id")
        .agg(sum(col("sum_sq")).as("s"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"dataset rollup must ride the bucket layout:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql("DROP DATABASE IF EXISTS graft_au")
    }
  }
}
