package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.BinaryAudio
import graft.sources.AudioStats
import graft.streaming.AudStream

/** Streaming audio ingest: clips decode exactly once ON ARRIVAL, the
  * landed moments equal the batch build's, replay is idempotent
  * (batch-scoped overwrite), the streamed store serves the stored QC
  * tails decode-free, and compaction folds to the canonical bucket
  * layout — the [[graft.streaming.ImgStream.ingestStats]] triple on
  * the audio modality.
  */
class AudStreamSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  private def clips() = BinaryAudio.withAudioPayload(spark, sfDir)

  test("streamed ingest decodes on arrival; rows equal the batch " +
      "build; replay of a landed batch is idempotent") {
    val base = tempDir("graft_audstream")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    val store = base.resolve("st").toString
    val c = clips()
    c.filter(col("clip_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/c0.parquet")
    c.filter(col("clip_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/c1.parquet")
    val source = spark.readStream.schema(c.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
    AudStream.ingestStats(spark, source, store, ckpt)
      .awaitTermination()

    val streamed = AudStream.readStats(spark, store)
    val batchBuilt = AudioStats.decodeOnce(spark, sfDir)
    assert(streamed.count() === c.count())
    assert(streamed.exceptAll(batchBuilt).isEmpty &&
      batchBuilt.exceptAll(streamed).isEmpty,
      "streamed moments must equal the batch build's")
    assert(spark.read.parquet(s"$store/batches")
      .select("batch").distinct().count() >= 2)

    // replay: re-land whichever parity batch 0 holds — the overwrite
    // lands identical content, nothing double-counts
    val n0 = streamed.count()
    val b0even = spark.read.parquet(s"$store/batches")
      .filter(col("batch") === 0)
      .select((col("clip_id") % 2 === 0).as("e")).head().getBoolean(0)
    AudStream.landStats(spark,
      c.filter(col("clip_id") % 2 === (if (b0even) 0 else 1)), store, 0L)
    assert(AudStream.readStats(spark, store).count() === n0)

    // the streamed store serves the stored waveform tail decode-free
    val served = AudStream.waveformStatsStreamed(spark, sfDir, store)
    val inline = BinaryAudio.waveformStats(spark, sfDir)
    assert(served.collect().toSeq === inline.collect().toSeq,
      "streamed stored twin drifted from the inline decode")
    assert(DecodeKernels.names(inline) === Set("clipStats"),
      "inline plan lost its kernel")
    assert(DecodeKernels.calls(served).isEmpty, "streamed twin still decodes")
  }

  test("compactStats folds the batch dirs into the canonical bucket " +
      "layout; takedown reaches the streamed dirs") {
    val base = tempDir("graft_audcompact")
    val store = base.resolve("st").toString
    val c = clips()
    (0 until 3).foreach { b =>
      AudStream.landStats(spark,
        c.filter(expr("clip_id div 10") % 3 === b), store, b.toLong)
    }
    val tmp = tempDir("graft_audcanon").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_audc LOCATION '$tmp'")
    val t = "graft_audc.stats"
    val t2 = "graft_audc.stats_batch"
    try {
      AudStream.compactStats(spark, store, t)
      AudioStats.write(spark, sfDir, t2)
      assert(spark.table(t).exceptAll(spark.table(t2)).isEmpty &&
        spark.table(t2).exceptAll(spark.table(t)).isEmpty,
        "compacted table must equal the batch build")
      // per-dataset roll-ups ride the bucket layout: no exchange
      val plan = spark.table(t).groupBy("dataset_id")
        .agg(sum(col("sum_sq")).as("s"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"dataset rollup must ride the bucket layout:\n$plan")

      // streamed-dir takedown (the ImgStream pass, audio layout)
      val victim = AudStream.readStats(spark, store)
        .agg(min("dataset_id")).head().getLong(0)
      val nVictim = AudStream.readStats(spark, store)
        .filter(col("dataset_id") === victim).count()
      import spark.implicits._
      val removed = AudStream.deleteStatsDatasets(spark, store,
        Seq(victim).toDF("dataset_id"))
      assert(removed === nVictim && nVictim > 0)
      assert(AudStream.readStats(spark, store)
        .filter(col("dataset_id") === victim).count() === 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      spark.sql("DROP DATABASE IF EXISTS graft_audc")
    }
  }
}
