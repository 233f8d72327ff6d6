package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FrameStats

/** The decode-once FrameStats table: the imaging-QC family must read
  * persisted per-frame statistics (one PNG decode pass, amortized)
  * with results byte-identical to the inline decode operators, and
  * the dataset-key aggregates must ride the bucket layout without a
  * frame-level exchange.
  */
class FrameStatsSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  test("the table carries one row per frame with exact gray moments") {
    val stats = FrameStats.statsFor(spark, sfDir)
    val nFrames = graft.imaging.ImagingModel.frames(spark, sfDir).count()
    assert(stats.count() === nFrames)
    // per-frame invariants of the 8x8 uint8 payloads: 64 pixels, a
    // 16-bin histogram summing to the pixel count, moments consistent
    val bad = stats.filter(col("n_px") =!= 64
      || size(col("bins")) =!= 16
      || expr("aggregate(bins, 0L, (a, x) -> a + x)") =!= col("n_px")
      || col("max_px") > 255 || col("max_px") < 0
      || col("sum_px") > col("n_px") * 255L
      || col("sum_sq") < col("sum_px"))
    assert(bad.count() === 0)
  }

  test("keyframes: exactly one keyframe per segment, and per dataset " +
      "n_segments == n_series + n_cuts") {
    val kf = graft.multimodal.BinaryFrames.keyframes(spark, sfDir)
    kf.collect().foreach { r =>
      assert(r.getLong(5) >= 1, s"empty segment: $r")
      assert(r.getDouble(7) >= 0, s"negative variance: $r")
    }
    // a cut STARTS a new segment, so each series has cuts+1 segments:
    // the keyframe census must tie out against the scene-cut report
    val segs = kf.groupBy("dataset_serial")
      .agg(count(lit(1)).as("n_segments"))
    val cuts = graft.multimodal.BinaryFrames.sceneCuts(spark, sfDir)
      .select(col("dataset_serial").as("ds"), col("n_series"),
        col("n_cuts"))
    val joined = segs.join(cuts, col("dataset_serial") === col("ds"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) === r.getLong(3) + r.getLong(4),
        s"segment arithmetic broken: $r")
    }
  }

  test("stored twins equal their inline decode operators") {
    import graft.multimodal.BinaryFrames
    for ((name, stored, inline) <- Seq(
        ("payload_stats",
          FrameStats.payloadStatsStored(spark, sfDir),
          BinaryFrames.payloadStats(spark, sfDir)),
        ("drift",
          FrameStats.intensityDriftStored(spark, sfDir),
          BinaryFrames.intensityDrift(spark, sfDir)),
        ("focus",
          FrameStats.focusRankStored(spark, sfDir),
          BinaryFrames.focusRank(spark, sfDir)),
        ("crosstalk",
          FrameStats.channelCrosstalkStored(spark, sfDir),
          BinaryFrames.channelCrosstalk(spark, sfDir)),
        ("rgb",
          FrameStats.payloadStatsRgbStored(spark, sfDir),
          BinaryFrames.payloadStatsRgb(spark, sfDir)),
        ("histogram",
          FrameStats.pixelHistogramStored(spark, sfDir),
          BinaryFrames.pixelHistogram(spark, sfDir)),
        ("saturation",
          FrameStats.saturationQcStored(spark, sfDir),
          BinaryFrames.saturationQc(spark, sfDir)),
        ("z_profile",
          FrameStats.zProfileStored(spark, sfDir),
          BinaryFrames.zProfile(spark, sfDir)),
        ("scene_cuts",
          FrameStats.sceneCutsStored(spark, sfDir),
          BinaryFrames.sceneCuts(spark, sfDir)),
        ("keyframes",
          FrameStats.keyframesStored(spark, sfDir),
          BinaryFrames.keyframes(spark, sfDir)))) {
      assert(stored.columns.toSeq === inline.columns.toSeq, name)
      assert(stored.collect().toSeq === inline.collect().toSeq,
        s"$name stored != inline")
      // the stored twin is decode-free; its inline operator (positive
      // control) calls a kernel
      assert(DecodeKernels.calls(inline).nonEmpty,
        s"$name inline plan lost its kernel")
      assert(DecodeKernels.calls(stored).isEmpty,
        s"$name stored twin still decodes:\n" +
          stored.queryExecution.optimizedPlan)
    }
  }

  test("dataset-key aggregates ride the bucket layout, frames never shuffle") {
    // the per-dataset roll-up must show NO exchange below the final
    // order: the bucketed scan's hash distribution on dataset_id
    // satisfies the aggregate (and the subset-key ones) directly
    // the only exchange allowed is the final orderBy's range
    // partitioning — no hash exchange (= no re-shuffle of frame or
    // census rows on the dataset key) anywhere
    for ((name, df) <- Seq(
        "payload_stats" -> FrameStats.payloadStatsStored(spark, sfDir),
        "saturation" -> FrameStats.saturationQcStored(spark, sfDir),
        "crosstalk" -> FrameStats.channelCrosstalkStored(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name must ride the bucket layout, not hash-shuffle:\n$plan")
    }
    // histogram: the (dataset_id, bin) aggregate is clustered by the
    // dataset_id bucket subset — no frame-level exchange below it (the
    // pct window over the per-(dataset, bin) census may shuffle: it is
    // census-sized)
    val hist = FrameStats.pixelHistogramStored(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!hist.contains("Exchange hashpartitioning(dataset_id#"),
      s"(dataset_id, bin) aggregate must ride the buckets:\n$hist")
    // and the build is once per JVM
    val t = FrameStats.ensureBuilt(spark, sfDir)
    assert(FrameStats.ensureBuilt(spark, sfDir) === t)
  }

  test("incremental append: batch-only decode lands under the bucket " +
      "spec, appended table equals the full build") {
    val frames = graft.imaging.ImagingModel.frames(spark, sfDir)
    val table = "graft_fs_append_test"
    graft.sources.DocumentStore.clearStale(spark, table)
    // build on the first half, append the second half
    FrameStats.decodeFrames(spark, frames.filter(col("id") % 2 === 0))
      .write.bucketBy(FrameStats.DefaultBuckets, "dataset_id")
      .sortBy("dataset_id").mode("overwrite").saveAsTable(table)
    FrameStats.append(spark, table, frames.filter(col("id") % 2 === 1))
    val appended = spark.table(table)
    val full = FrameStats.decodeOnce(spark, sfDir)
    assert(appended.count() === full.count())
    assert(appended.exceptAll(full).isEmpty
      && full.exceptAll(appended).isEmpty)
    // the zero-exchange roll-up property survives the append
    val plan = appended.groupBy("dataset_id").agg(sum(col("sum_px")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"appended stats roll-up must still ride the buckets:\n$plan")

    // a re-appended acquisition lands bit-identical duplicate rows;
    // the census-guided vacuum settles back to the full build
    FrameStats.append(spark, table, frames.filter(col("id") % 2 === 1))
    assert(spark.table(table).count() > full.count())
    FrameStats.vacuum(spark, table)
    val settled = spark.table(table)
    assert(settled.count() === full.count())
    assert(settled.exceptAll(full).isEmpty
      && full.exceptAll(settled).isEmpty)
    val plan2 = settled.groupBy("dataset_id").agg(sum(col("sum_px")))
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange hashpartitioning"),
      s"vacuumed stats roll-up must still ride the buckets:\n$plan2")
    graft.sources.DocumentStore.clearStale(spark, table)
  }

  test("stats drift: planted arrival waves — exact cumulative prior, " +
      "drifted batch flagged, first batch never flagged") {
    val store =
      java.nio.file.Files.createTempDirectory("graft_drift").toString + "/st"
    import TestSpark.spark.implicits._
    // dataset 1: batch 0 mean 100, batch 1 mean 120 (drift +20% — flag),
    // batch 2 mean 101 (prior cum mean 106.666667, |drift| < 10 — clear);
    // dataset 2 appears only in batch 1 (no prior — null, never flagged)
    Seq((1L, 64, 6400L), (1L, 64, 6400L)).toDF("dataset_id", "n_px", "sum_px")
      .write.parquet(store + "/batches/batch=0")
    Seq((1L, 64, 7680L), (2L, 64, 640L)).toDF("dataset_id", "n_px", "sum_px")
      .write.parquet(store + "/batches/batch=1")
    Seq((1L, 64, 6464L)).toDF("dataset_id", "n_px", "sum_px")
      .write.parquet(store + "/batches/batch=2")
    val rows = graft.streaming.ImgStream.statsDrift(TestSpark.spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(rows.size === 4)
    val b0 = rows((1L, 0L))
    assert(b0.getDouble(3) === 100.0 && b0.isNullAt(4) && b0.isNullAt(5)
      && b0.isNullAt(6), "first batch must have null prior/drift/flag")
    val b1 = rows((1L, 1L))
    assert(b1.getDouble(3) === 120.0 && b1.getDouble(4) === 100.0
      && b1.getDouble(5) === 20.0 && b1.getInt(6) === 1,
      "planted +20% drift must be flagged against the exact prior mean")
    val b2 = rows((1L, 2L))
    assert(b2.getDouble(4) === 106.666667 && b2.getInt(6) === 0,
      "prior mean must be cumulative over ALL prior batches")
    val d2 = rows((2L, 1L))
    assert(d2.isNullAt(4) && d2.isNullAt(6),
      "a dataset's first appearance has no prior regardless of batch id")

    // the deterministic store face: one stats row per frame, batches
    // partition the corpus by id % 3
    val dir = graft.streaming.ImgStream
      .ensureStreamedStats(TestSpark.spark, sfDir)
    val streamed = graft.streaming.ImgStream.readStats(TestSpark.spark, dir)
    assert(streamed.count()
      === graft.imaging.ImagingModel.frames(TestSpark.spark, sfDir).count())
    // window census only: the drift plan must never shuffle frame rows —
    // the per-(dataset, batch) aggregate rides the scan as a partial
    val drift = graft.streaming.ImgStream.statsDrift(TestSpark.spark, dir)
    assert(drift.filter(col("batch") === 0 && col("flag_drift").isNotNull)
      .count() === 0)
    // the oracle-checked face reads the landed stats, never a payload
    val driftFor = graft.streaming.ImgStream.statsDriftFor(TestSpark.spark,
      sfDir)
    assert(DecodeKernels.calls(driftFor).isEmpty,
      "img_stats_drift still decodes:\n" +
        driftFor.queryExecution.optimizedPlan)
  }

  test("the streamed drift store lives under the warehouse, not in a " +
      "fresh temp directory per JVM") {
    // under the warehouse the next JVM's build clears it; a temp
    // directory per JVM was never deleted
    def local(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val dir = graft.streaming.ImgStream.ensureStreamedStats(spark, sfDir)
    assert(local(dir).startsWith(
      local(spark.conf.get("spark.sql.warehouse.dir")) + "/"), dir)
  }

  test("streaming decode-once stats ingest matches the batch build, " +
      "replays idempotently, and compacts into the bucket layout") {
    val src = java.nio.file.Files.createTempDirectory("graft_fssrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fsck").toString
    val store =
      java.nio.file.Files.createTempDirectory("graft_fsstr").toString + "/st"
    val frames = graft.imaging.ImagingModel.frames(spark, sfDir)
    frames.filter(col("id") % 2 === 0).coalesce(1)
      .write.parquet(src + "/f1.parquet")
    frames.filter(col("id") % 2 === 1).coalesce(1)
      .write.parquet(src + "/f2.parquet")
    val source = spark.readStream.schema(frames.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/*.parquet")
    graft.streaming.ImgStream
      .ingestStats(spark, source, store, ckpt).awaitTermination()

    // decoded-on-arrival stats across batches == the batch build
    val streamed = graft.streaming.ImgStream.readStats(spark, store)
    val built = FrameStats.decodeOnce(spark, sfDir)
    assert(streamed.count() === built.count())
    assert(streamed.exceptAll(built).isEmpty
      && built.exceptAll(streamed).isEmpty)

    // a foreachBatch replay overwrites batch 0 with identical content
    val before = streamed.count()
    val b0even = spark.read.parquet(store + "/batches")
      .filter(col("batch") === 0)
      .select((col("frame_id") % 2 === 0).as("e")).head().getBoolean(0)
    graft.streaming.ImgStream.landStats(spark,
      frames.filter(col("id") % 2 === (if (b0even) 0 else 1)), store, 0L)
    assert(graft.streaming.ImgStream.readStats(spark, store).count()
      === before)

    // compaction: canonical bucketed table, dataset roll-up rides it
    val table = "graft_fs_stream_compact"
    graft.streaming.ImgStream.compactStats(spark, store, table)
    val tbl = spark.table(table)
    assert(tbl.count() === built.count())
    val plan = tbl.groupBy("dataset_id").agg(sum(col("sum_px")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"compacted stats roll-up must ride the buckets:\n$plan")
    graft.sources.DocumentStore.clearStale(spark, table)
  }

  test("dataset QC summary: five metrics off one zero-exchange read, " +
      "all within their mathematical bounds") {
    val qc = FrameStats.datasetQcSummary(spark, sfDir)
    assert(DecodeKernels.calls(qc).isEmpty, "QC summary still decodes")
    // the stored aggregate must ride the dataset_id bucket layout —
    // the whole point of composing five metrics over one read: no
    // hash exchange anywhere (broadcast/range exchanges excepted)
    val plan = qc.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"QC summary must ride the buckets, not reshuffle:\n$plan")
    val rows = qc.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, mean, vr) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      val (sat, dark, ent) =
        (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(tot === r.getLong(1) * 64, s"64 px per frame: $r")
      assert(mean >= 0 && mean <= 255, s"mean out of depth range: $r")
      assert(vr >= -1e-6, s"negative pixel variance: $r")
      assert(sat >= 0 && dark >= 0 && sat + dark <= 1 + 1e-9,
        s"clipping fractions not a sub-partition: $r")
      assert(ent >= -1e-9 && ent <= math.log(16.0) + 1e-9,
        s"16-bin entropy outside [0, ln 16]: $r")
    }
  }
}
