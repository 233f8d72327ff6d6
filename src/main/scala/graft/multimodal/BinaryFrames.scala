package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.imaging.ImagingModel
import graft.ops.Spread

/** Multimodal column plumbing (SURVEY.md §2.5): images as opaque
  * `binary` columns with typed metadata, the way the reference ships
  * serialized frames to object storage (image_utils.py serialize_im /
  * deserialize_im) while the DB carries the metadata.
  *
  * Since round 4 the codec is REAL: payloads are genuine PNG bytes
  * ([[ImageCodec]], javax.imageio — no native dependency), encoded at
  * generation time from each frame's sha256-derived pixel block and
  * decoded back through ONE kernel per color model ([[grayStats]],
  * [[rgbStats]]; audio has [[BinaryAudio.clipStats]]). PNG is
  * lossless, so the decoded pixels equal the planted pre-encode
  * values — which is exactly what lets `img_payload_stats` stay
  * oracle-checked: the DuckDB twin recomputes the same pixel
  * statistics from the sha256 hex without ever seeing a PNG byte.
  *
  * Every QC query is `tail(kernel(payload))`: the kernel folds each
  * decoded frame into all the moments any query needs, and the query
  * keeps only the fields its tail reads. The encode/decode UDFs are
  * the sanctioned exception to the functions-not-UDFs rule: a binary
  * codec has no Column-function form, and the shape (scan-side
  * per-row work, no shuffle) is what a production image pipeline runs.
  */
object BinaryFrames {

  case class FrameFeature(frame_id: Long, width: Int, height: Int,
    n_px: Int, sum_px: Long, sum_sq: Long, mean_px: Double, max_px: Int)

  /** [[grayStats]]' output: decoded dims, exact integer moments and the
    * 16-bin intensity histogram of one frame.
    */
  case class GrayStats(width: Int, height: Int, n_px: Int, sum_px: Long,
    sum_sq: Long, max_px: Int, bins: Array[Long])

  /** [[rgbStats]]' output: per-channel sums and maxima plus the exact
    * per-channel and cross-channel second moments of one frame.
    */
  case class RgbStats(width: Int, height: Int, n_px: Int,
    sum_r: Long, sum_g: Long, sum_b: Long,
    max_r: Int, max_g: Int, max_b: Int,
    sum_rr: Long, sum_gg: Long, sum_bb: Long,
    sum_rg: Long, sum_gb: Long, sum_rb: Long)

  /** The gray kernel: one decode of a grayscale PNG payload and one
    * fold over its pixels, shared by every gray consumer (the inline QC
    * queries, [[decodeFrames]], the [[graft.sources.FrameStats]]
    * build). Width and height come from the DECODED image, not the
    * metadata — the audit a real ingest runs to catch metadata drift.
    * The bin width is 1/16 of the frame's OWN depth range (16 values at
    * uint8, 4096 at uint16), so a 16-bit acquisition histograms
    * correctly instead of indexing past the bin array.
    */
  val grayStats: UserDefinedFunction = udf { (payload: Array[Byte]) =>
    val d = ImageCodec.decodeImage(payload)
    require(d.channels == 1, "not grayscale (color type 2)")
    val px = d.samples
    val shift = d.bitDepth - 4
    val bins = new Array[Long](16)
    var sum = 0L
    var sumSq = 0L
    var max = 0
    var i = 0
    while (i < px.length) {
      val v = px(i)
      sum += v
      sumSq += v.toLong * v
      if (v > max) max = v
      bins(v >> shift) += 1L
      i += 1
    }
    GrayStats(d.width, d.height, px.length, sum, sumSq, max, bins)
  }.asNondeterministic().withName("grayStats")

  /** The RGB kernel: one decode of a color-type-2 PNG payload through
    * [[ImageCodec.decodeRgb]] and one fold over the interleaved
    * samples — the per-channel audit a color ingest runs.
    */
  val rgbStats: UserDefinedFunction = udf { (payload: Array[Byte]) =>
    val (w, h, s) = ImageCodec.decodeRgb(payload)
    val sums = new Array[Long](3)
    val maxs = new Array[Int](3)
    var rr, gg, bb, rg, gb, rb = 0L
    var i = 0
    while (i < s.length) {
      val c = i % 3
      sums(c) += s(i)
      if (s(i) > maxs(c)) maxs(c) = s(i)
      if (c == 2) {
        val r = s(i - 2).toLong; val g = s(i - 1).toLong
        val b = s(i).toLong
        rr += r * r; gg += g * g; bb += b * b
        rg += r * g; gb += g * b; rb += r * b
      }
      i += 1
    }
    RgbStats(w, h, w * h, sums(0), sums(1), sums(2),
      maxs(0), maxs(1), maxs(2), rr, gg, bb, rg, gb, rb)
  }.asNondeterministic().withName("rgbStats")

  /** `framed` with its `payload` column replaced by `kernel`'s fields,
    * one kernel call per row; every other column rides along. The
    * kernels are marked nondeterministic so the optimizer treats the
    * call as opaque: it never copies the call into each field access
    * (CollapseProject) or into a filter pushed below the projection
    * (the non-empty filter Spark infers for `posexplode(bins)` would
    * otherwise decode each payload three times).
    */
  private[graft] def decodeWith(framed: DataFrame,
      kernel: UserDefinedFunction): DataFrame = {
    val keep = framed.columns.toSeq.filter(_ != "payload").map(col)
    framed.select(keep :+ kernel(col("payload")).as("stats"): _*)
      .select(keep :+ col("stats.*"): _*)
  }

  /** [[decodeWith]] plus the dataset key (frame_id div 10: id =
    * orderkey*10 + linenumber, linenumber ≤ 7 by §3) — the input every
    * per-dataset QC tail reads.
    */
  private def perDataset(framed: DataFrame,
      kernel: UserDefinedFunction): DataFrame =
    decodeWith(framed, kernel).withColumn("dataset_id", expr("frame_id div 10"))

  /** PNG-encode the 64 sha256-derived bytes as an 8×8 uint8 grayscale
    * frame — the upload-time serialization of image_utils.py:5-16.
    */
  private[graft] val encodePng = udf { (sha: String) =>
    val b = ImageCodec.hexBytes(sha)
    ImageCodec.encodeGray8(b ++ b, 8, 8)
  }

  /** Frames with a REAL binary payload: each frame's 64 planted pixel
    * values (unhex(sha256) twice, row-major 8×8) PNG-encoded at
    * generation time, rows spread first ([[Spread.rows]]).
    */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    Spread.rows(ImagingModel.frames(spark, dir))
      .select(col("id").as("frame_id"), col("file_name"),
        encodePng(col("sha256")).as("payload"),
        struct(lit(8).as("width"), lit(8).as("height"),
          lit("uint8").as("bit_depth")).as("meta"))

  /** PNG-encode an 8×8 RGB frame (color type 2) from the sha bytes —
    * the `im_colors=3` twin of [[encodePng]]. The three channels are
    * DISTINCT deterministic transforms of the planted bytes
    * (R = raw, G = 255−raw, B = (3·raw+7) mod 256), so a
    * channel-order or stride bug in the codec changes the per-channel
    * sums and fails the oracle — identical channels would hash-match
    * through an R↔G swap.
    */
  private[graft] val encodeRgbPng = udf { (sha: String) =>
    val b = ImageCodec.hexBytes(sha)
    val out = new Array[Byte](192) // 8×8 px × 3 channels
    var i = 0
    while (i < 64) {
      val v = b(i % 32) & 0xff
      out(3 * i) = v.toByte
      out(3 * i + 1) = (255 - v).toByte
      out(3 * i + 2) = ((3 * v + 7) % 256).toByte
      i += 1
    }
    ImageCodec.encodeRgb8(out, 8, 8)
  }

  /** Frames with a REAL RGB payload (rows spread like [[withPayload]]).
    */
  def withPayloadRgb(spark: SparkSession, dir: String): DataFrame =
    Spread.rows(ImagingModel.frames(spark, dir))
      .select(col("id").as("frame_id"), col("file_name"),
        encodeRgbPng(col("sha256")).as("payload"),
        struct(lit(8).as("width"), lit(8).as("height"),
          lit("uint8").as("bit_depth"), lit(3).as("channels")).as("meta"))

  /** Per-frame gray statistics of any (frame_id, payload) set through
    * [[grayStats]], as the typed rows the perfbench harness and the S3
    * read path collect.
    */
  def decodeFrames(spark: SparkSession, framed: DataFrame): Dataset[FrameFeature] = {
    import spark.implicits._
    decodeWith(framed.select("frame_id", "payload"), grayStats)
      .withColumn("mean_px", col("sum_px") / col("n_px"))
      .select("frame_id", "width", "height", "n_px", "sum_px", "sum_sq",
        "mean_px", "max_px")
      .as[FrameFeature]
  }

  /** Photobleaching drift curve — the acquisition-QC metric a
    * time-lapse microscopy run is checked against first: per
    * (dataset, time index), the mean pixel intensity through the REAL
    * PNG decode, and its percent drift against the t=0 frame set. A
    * monotone decay is bleaching; a jump is a lamp/stage event. The
    * time index derives from the frame id arithmetic (no metadata
    * join); dataset serials join from the broadcast dimension; decode
    * is embarrassingly parallel per-row work and only integer sums
    * reach the exchange. The t=0 reference census (one row per
    * dataset) broadcasts back — the same dimension-sized contract as
    * the serial join. Drift divides two ROUNDED means, so the output
    * is engine-exact (hex-arithmetic oracle, no PNG bytes).
    */
  def intensityDrift(spark: SparkSession, dir: String): DataFrame =
    intensityDriftTail(spark, dir,
      perDataset(withPayload(spark, dir), grayStats)
        .withColumn("time_idx", expr("cast(frame_id % 10 - 1 as int)")))

  /** Drift roll-up over any per-frame stats source (inline decode or
    * the persisted [[graft.sources.FrameStats]] table). Aggregates on
    * the LONG dataset key first — the stored table's bucket layout
    * satisfies that clustering with zero exchange — and broadcasts
    * the dimension serial onto the census afterwards.
    */
  private[graft] def intensityDriftTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame = {
    val byTime = feats
      .groupBy("dataset_id", "time_idx")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("sum_px")).as("spx"),
        sum(col("n_px").cast("bigint")).as("npx"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("time_idx"), col("n_frames"),
        round(col("spx").cast("double") / col("npx"), 6).as("mean_px"))
    val t0 = byTime.filter(col("time_idx") === 0)
      .select(col("dataset_serial"), col("mean_px").as("mean_t0"))
    byTime.join(broadcast(t0), Seq("dataset_serial"))
      .select(col("dataset_serial"), col("time_idx"), col("n_frames"),
        col("mean_px"),
        round((col("mean_px") - col("mean_t0")) * 100.0 / col("mean_t0"),
          4).as("drift_pct"))
      .orderBy("dataset_serial", "time_idx")
  }

  /** Focus triage — the blur QC of an imaging ingest: pixel variance
    * per frame (a defocused frame's intensity distribution collapses,
    * so low variance is the classic cheap focus proxy) through the
    * real decode, then the 5 flattest frames per dataset via the
    * bounded TopKByScore aggregate (k-row map-side partials — never a
    * per-dataset window over all frames). Variance comes from the
    * exact integer moments (Σpx, Σpx²) and rounds BEFORE ranking, so
    * the order is engine-identical.
    */
  def focusRank(spark: SparkSession, dir: String): DataFrame =
    focusRankTail(spark, dir, perDataset(withPayload(spark, dir), grayStats))

  private[graft] def focusRankTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame =
    feats
      .withColumn("variance", round(
        col("sum_sq").cast("double") / col("n_px")
          - (col("sum_px").cast("double") / col("n_px"))
          * (col("sum_px").cast("double") / col("n_px")), 6))
      .groupBy("dataset_id")
      .agg(graft.functions.TopKByScore
        .topkAsc(col("variance"), col("frame_id"), 5).as("top"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("dataset_serial"),
        (col("p") + 1).cast("bigint").as("rank"),
        col("t.id").as("frame_id"), col("t.score").as("variance"))
      .orderBy("dataset_serial", "rank")

  /** Per-dataset pixel statistics THROUGH the real decode path — the
    * oracle-checked query that proves the multimodal plumbing end to
    * end: genuine PNG payloads flow through [[grayStats]], and the
    * per-dataset roll-up (frame count, pixel volume, exact pixel-value
    * sums, max pixel) hash-matches a DuckDB oracle that recomputes the
    * same planted pixels from the sha256 hex with integer arithmetic
    * (PNG losslessness is what makes the two equal bit-for-bit).
    */
  def payloadStats(spark: SparkSession, dir: String): DataFrame =
    payloadStatsTail(spark, dir, perDataset(withPayload(spark, dir), grayStats))

  private[graft] def payloadStatsTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame =
    feats
      .groupBy("dataset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_px").cast("bigint")).as("total_px"),
        sum(col("sum_px")).as("sum_px_values"),
        max(col("max_px")).as("max_px"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("n_frames"), col("total_px"),
        col("sum_px_values"), col("max_px"))
      .orderBy("dataset_serial")

  /** Per-dataset PER-CHANNEL pixel statistics through the real RGB
    * decode path — the `im_colors=3` twin of [[payloadStats]], same
    * hex-arithmetic oracle idea: the DuckDB twin recomputes each
    * channel's transform of the planted sha bytes without touching a
    * PNG byte (PNG losslessness makes the two bit-equal).
    */
  def payloadStatsRgb(spark: SparkSession, dir: String): DataFrame =
    payloadStatsRgbTail(spark, dir,
      perDataset(withPayloadRgb(spark, dir), rgbStats))

  private[graft] def payloadStatsRgbTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame =
    feats
      .groupBy("dataset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_px").cast("bigint")).as("total_px"),
        sum(col("sum_r")).as("sum_r_values"),
        sum(col("sum_g")).as("sum_g_values"),
        sum(col("sum_b")).as("sum_b_values"),
        max(col("max_r")).as("max_r"),
        max(col("max_g")).as("max_g"),
        max(col("max_b")).as("max_b"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("n_frames"), col("total_px"),
        col("sum_r_values"), col("sum_g_values"), col("sum_b_values"),
        col("max_r"), col("max_g"), col("max_b"))
      .orderBy("dataset_serial")

  /** Channel cross-talk audit — the spectral bleed-through QC a
    * multi-channel acquisition is validated against: per dataset, the
    * Pearson correlation between each channel pair's pixel series
    * through the REAL RGB decode. High |r| between nominally
    * independent channels means filter bleed-through (or, here, the
    * planted transforms: G = 255−R is exactly −1 by construction —
    * the built-in proof the formula is right — while the modular B
    * channel decorrelates). All moments (Σx, Σx², Σxy) accumulate as
    * EXACT integers in [[rgbStats]] and the partial agg; doubles
    * appear once in the final correlation formula, rounded — so the
    * hex-arithmetic oracle matches bit for bit without seeing a PNG.
    */
  def channelCrosstalk(spark: SparkSession, dir: String): DataFrame =
    channelCrosstalkTail(spark, dir,
      perDataset(withPayloadRgb(spark, dir), rgbStats))

  private[graft] def channelCrosstalkTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame = {
    def corr(sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column, n: Column): Column =
      round((n * sxy - sx * sy).cast("double") /
        (sqrt((n * sxx - sx * sx).cast("double"))
          * sqrt((n * syy - sy * sy).cast("double"))), 6)
    feats
      .groupBy("dataset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_px").cast("bigint")).as("n"),
        sum(col("sum_r")).as("sr"), sum(col("sum_g")).as("sg"),
        sum(col("sum_b")).as("sb"),
        sum(col("sum_rr")).as("srr"), sum(col("sum_gg")).as("sgg"),
        sum(col("sum_bb")).as("sbb"),
        sum(col("sum_rg")).as("srg"), sum(col("sum_gb")).as("sgb"),
        sum(col("sum_rb")).as("srb"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("n_frames"),
        corr(col("sr"), col("sg"), col("srr"), col("sgg"), col("srg"),
          col("n")).as("corr_rg"),
        corr(col("sg"), col("sb"), col("sgg"), col("sbb"), col("sgb"),
          col("n")).as("corr_gb"),
        corr(col("sr"), col("sb"), col("srr"), col("sbb"), col("srb"),
          col("n")).as("corr_rb"))
      .orderBy("dataset_serial")
  }

  /** Exposure histogram — the per-dataset intensity distribution an
    * acquisition QC dashboard plots first: 16 equal-width bins over
    * the uint8 range through the REAL decode ([[grayStats]]' bins),
    * rolled up per dataset with each bin's share of the pixel volume.
    * The per-bin partial sums are the only shuffled state (16 longs
    * per dataset-partition), and the share window runs over the
    * per-(dataset, bin) census — ≤16 rows per dataset, never frame
    * rows. Bins with zero pixels are absent (identically in the
    * hex-arithmetic oracle).
    */
  def pixelHistogram(spark: SparkSession, dir: String): DataFrame =
    pixelHistogramTail(spark, dir,
      perDataset(withPayload(spark, dir), grayStats))

  private[graft] def pixelHistogramTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // aggregate on the long (dataset, bin) key FIRST — the explode's
    // 16× row churn collapses map-side to the census before any join
    // or string serial exists; the broadcast dimension join then runs
    // over census-sized input only
    val perBin = feats
      .select(col("dataset_id"), posexplode(col("bins")).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0)
      .groupBy("dataset_id", "bin")
      .agg(sum(col("cnt")).as("n_px"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("bin"), col("n_px"))
    perBin
      .select(col("dataset_serial"), col("bin").cast("int").as("bin"),
        col("n_px"),
        round(col("n_px").cast("double") /
          sum(col("n_px")).over(Window.partitionBy("dataset_serial")), 6)
          .as("pct"))
      .orderBy("dataset_serial", "bin")
  }

  /** Focal-plane profile — the z-stack QC a volumetric acquisition is
    * checked against: per (dataset, slice index), the mean pixel
    * intensity through the REAL decode and its percent deviation from
    * the dataset-wide mean (a monotone falloff with depth is
    * attenuation/scattering; one aberrant plane is a bad optical
    * section). The slice index is parsed from the FILE NAME (the
    * `_z###_` token filename_parsers.py round-trips) and rides next
    * to the kernel's fields — no join against the frames fact. Integer
    * moments shuffle; the dataset-wide reference mean derives from a
    * window over the per-(dataset, slice) census (≤ slices rows per
    * dataset), and deviation divides two ROUNDED means, so the output
    * is engine-exact.
    */
  def zProfile(spark: SparkSession, dir: String): DataFrame =
    zProfileTail(spark, dir, perDataset(withPayload(spark, dir), grayStats)
      .withColumn("slice_idx",
        expr("cast(substring(split_part(file_name, '_', 3), 2, 3) as int)")))

  private[graft] def zProfileTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byZ = feats
      .groupBy("dataset_id", "slice_idx")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("sum_px")).as("spx"),
        sum(col("n_px").cast("bigint")).as("npx"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("slice_idx"), col("n_frames"),
        round(col("spx").cast("double") / col("npx"), 6).as("mean_px"),
        col("spx"), col("npx"))
    val w = Window.partitionBy("dataset_serial")
    byZ
      .withColumn("ds_mean",
        round(sum(col("spx")).over(w).cast("double")
          / sum(col("npx")).over(w), 6))
      .select(col("dataset_serial"), col("slice_idx"), col("n_frames"),
        col("mean_px"),
        round((col("mean_px") - col("ds_mean")) * 100.0 / col("ds_mean"),
          4).as("dev_pct"))
      .orderBy("dataset_serial", "slice_idx")
  }

  /** Clipping audit — the saturation/underexposure QC of an imaging
    * ingest: per dataset, the fraction of pixels in the top decode bin
    * ([240,255] — sensor clipping) and the bottom bin ([0,15] — dead
    * pixels / shutter misses), through the same single
    * [[grayStats]] bins as the histogram. Integer counts shuffle;
    * doubles appear once in the rounded fractions, so the
    * hex-arithmetic oracle is bit-exact.
    */
  def saturationQc(spark: SparkSession, dir: String): DataFrame =
    saturationQcTail(spark, dir,
      perDataset(withPayload(spark, dir), grayStats))

  private[graft] def saturationQcTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame =
    feats
      .groupBy("dataset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_px").cast("bigint")).as("total_px"),
        sum(col("bins").getItem(15)).as("n_sat"),
        sum(col("bins").getItem(0)).as("n_dark"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("n_frames"), col("total_px"),
        col("n_sat"), col("n_dark"),
        round(col("n_sat").cast("double") / col("total_px"), 6)
          .as("sat_pct"),
        round(col("n_dark").cast("double") / col("total_px"), 6)
          .as("dark_pct"))
      .orderBy("dataset_serial")

  /** Temporal-discontinuity detection — the scene-cut / lamp-event
    * audit of a time-series acquisition, the video-shaped operator
    * over the frame grid: within each (dataset, channel, slice,
    * position) series ordered by time, the jump in mean intensity
    * between consecutive frames through the REAL decode; a jump > 25
    * uint8 units is a cut (stage lamp event, re-focus, sample swap).
    * Per dataset: series count (one window head per series), observed
    * transitions, cuts, and the largest jump. The lag window
    * partitions by series — ≤ timepoints rows of state, the same
    * per-key declaration as every sessionize twin. Frame means are
    * sums divided by 64 (a power of two), so every mean is EXACT in
    * double and the jump comparison is engine-identical; the order-by
    * appends the mean itself so duplicate grid slots (the synthetic
    * fact has them) tie-break to identical lag sequences on both
    * engines.
    */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame =
    sceneCutsTail(spark, dir, gridFrames(spark, dir))

  /** [[grayStats]] per generated frame with its (c, z, t, p) grid slot
    * — the series input of [[sceneCuts]] and [[keyframes]].
    */
  private def gridFrames(spark: SparkSession, dir: String): DataFrame =
    perDataset(Spread.rows(ImagingModel.frames(spark, dir))
      .select(col("id").as("frame_id"), col("channel_idx").as("c"),
        col("slice_idx").as("z"), col("time_idx").as("t"),
        col("pos_idx").as("p"), encodePng(col("sha256")).as("payload")),
      grayStats)

  /** Cut census over any per-frame moment source (inline decode or the
    * persisted [[graft.sources.FrameStats]] table) — `feats` carries
    * (frame_id, dataset_id, c, z, t, p, n_px, sum_px).
    */
  private[graft] def sceneCutsTail(spark: SparkSession, dir: String,
      feats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val series = Window.partitionBy("dataset_id", "c", "z", "p")
      .orderBy(col("t"), col("frame_id"), col("mean_px"))
    feats
      .withColumn("mean_px", col("sum_px").cast("double") / col("n_px"))
      .withColumn("prev", lag(col("mean_px"), 1).over(series))
      .withColumn("jump", abs(col("mean_px") - col("prev")))
      .groupBy("dataset_id")
      .agg(sum(col("prev").isNull.cast("long")).as("n_series"),
        sum(col("prev").isNotNull.cast("long")).as("n_transitions"),
        sum(when(col("jump") > 25.0, 1L).otherwise(0L)).as("n_cuts"),
        round(max(col("jump")), 4).as("max_jump"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("n_series"),
        col("n_transitions"), col("n_cuts"), col("max_jump"))
      .orderBy("dataset_serial")
  }

  /** Keyframe extraction — the video-shaped selection op a
    * vision-language training pipeline runs after cut detection:
    * within each (dataset, channel, slice, position) series ordered
    * by time, frames split into SEGMENTS at the [[sceneCuts]]
    * boundaries (jump > 25 uint8 units), and each segment elects the
    * SHARPEST frame (max pixel variance — the [[focusRank]] proxy,
    * rounded before ranking, smaller frame_id on ties) as its
    * keyframe. One [[grayStats]] call emits both integer moments; the
    * segment id is a running cut count over the same bounded series
    * window as sceneCuts, and the per-segment argmax is a min-struct
    * aggregate (map-side partials), never a per-segment sort.
    */
  def keyframes(spark: SparkSession, dir: String): DataFrame =
    keyframesTail(spark, dir, gridFrames(spark, dir))

  /** Keyframe election over any per-frame moment source (inline
    * decode or the persisted [[graft.sources.FrameStats]] table) —
    * `feats` carries (frame_id, dataset_id, c, z, t, p, n_px, sum_px,
    * sum_sq).
    */
  private[graft] def keyframesTail(spark: SparkSession, dir: String,
      feats0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = feats0
      .withColumn("mean_px",
        col("sum_px").cast("double") / col("n_px"))
      .withColumn("variance", round(
        col("sum_sq").cast("double") / col("n_px")
          - col("mean_px") * col("mean_px"), 6))
    val series = Window.partitionBy("dataset_id", "c", "z", "p")
      .orderBy(col("t"), col("frame_id"), col("mean_px"))
    val segw = series
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    feats
      .withColumn("prev", lag(col("mean_px"), 1).over(series))
      .withColumn("seg", sum(
        (col("prev").isNotNull
          && abs(col("mean_px") - col("prev")) > 25.0).cast("long"))
        .over(segw))
      .groupBy("dataset_id", "c", "z", "p", "seg")
      .agg(count(lit(1)).as("n_frames"),
        min(struct((-col("variance")).as("nv"),
          col("frame_id").as("fid"))).as("m"))
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .select(col("dataset_serial"), col("c"), col("z"), col("p"),
        col("seg"), col("n_frames"),
        col("m.fid").as("keyframe_id"),
        (-col("m.nv")).as("variance"))
      .orderBy("dataset_serial", "c", "z", "p", "seg")
  }

  /** Stack reassembly — the download path of the reference
    * (data_storage.py make_stack_from_meta): collect each dataset's
    * frame payloads into one array ordered by (channel, slice, time,
    * position). One shuffle on the dataset key; `sort_array` orders
    * within the group by the struct's leading index fields, so no
    * global sort and no window. At 100 TB each group is one stack
    * (bounded by stack geometry), so collect_list state is bounded.
    * Payloads here are the raw stored frame bytes — reassembly moves
    * storage blobs; decoding them is [[grayStats]]' job.
    */
  def assembleStacks(spark: SparkSession, dir: String): DataFrame =
    assembleStacksOf(
      ImagingModel.frames(spark, dir)
        .select(col("frames_global_id").as("dataset_id"),
          col("channel_idx"), col("slice_idx"), col("time_idx"),
          col("pos_idx"),
          expr("concat(unhex(sha256), unhex(sha256))").as("payload")),
      ImagingModel.framesGlobal(spark, dir)
        .select(col("dataset_id"), col("im_height"), col("im_width"),
          col("im_colors")))

  /** The reassembly core plus the squeeze metadata of
    * data_storage.py:69-86 (`squeeze_stack`): alongside each stack, the
    * "XYGZCTP" dim-order string with singleton dimensions dropped —
    * X/Y/G from the dataset's geometry (im_height, im_width,
    * im_colors), Z/C/T/P from the observed per-dimension cardinalities.
    * A dataset imaged at one z with one channel over time squeezes to
    * "XYTP", etc. Cardinalities use the 64-bit-bitmap exact distinct
    * (grid indices < 64 by the data model, §3) so the group-by stays
    * one codegen'd partial-agg pass — no RewriteDistinctAggregates
    * Expand multiplying the frame rows by four.
    *
    * `framesDf`: (dataset_id, channel_idx, slice_idx, time_idx,
    * pos_idx, payload); `geometry`: per-dataset (dataset_id,
    * im_height, im_width, im_colors).
    */
  def assembleStacksOf(framesDf: DataFrame, geometry: DataFrame): DataFrame = {
    def card(c: String) =
      expr(s"cast(bit_count(bit_or(shiftleft(1L, $c))) as bigint)")
    def dim(letter: String, nonSingleton: org.apache.spark.sql.Column) =
      when(nonSingleton, lit(letter)).otherwise(lit(""))
    framesDf
      .select(col("dataset_id"), col("channel_idx"), col("slice_idx"),
        col("time_idx"), col("pos_idx"),
        struct(col("channel_idx"), col("slice_idx"), col("time_idx"),
          col("pos_idx"), col("payload")).as("fr"))
      .groupBy("dataset_id")
      .agg(sort_array(collect_list(col("fr"))).as("stack"),
        count(lit(1)).as("n_frames"),
        card("slice_idx").as("n_slices"),
        card("channel_idx").as("n_channels"),
        card("time_idx").as("n_times"),
        card("pos_idx").as("n_pos"))
      .join(broadcast(geometry), Seq("dataset_id"), "left")
      .withColumn("dim_order", concat(
        dim("X", coalesce(col("im_height"), lit(1)) > 1),
        dim("Y", coalesce(col("im_width"), lit(1)) > 1),
        dim("G", coalesce(col("im_colors"), lit(1)) > 1),
        dim("Z", col("n_slices") > 1),
        dim("C", col("n_channels") > 1),
        dim("T", col("n_times") > 1),
        dim("P", col("n_pos") > 1)))
      .drop("im_height", "im_width", "im_colors")
  }

  /** Shape-FORCED stack fill — data_storage.py:170-197
    * (`get_stack_with_shape`), the partial/corrupt-metadata recovery
    * path the grid-indexed [[assembleStacksOf]] cannot express: the
    * caller supplies the stack's last-dimension slot count and the
    * frames are assumed CONTIGUOUS in file-name order (no c/z/t/p
    * indices consulted — exactly the reference's "frames in the list
    * are contiguous" contract). Slots beyond the available frames
    * stay ZERO-FILLED to the dataset's frame byte size (the
    * reference's np.zeros pre-allocation); more frames than slots is
    * its IndexError, surfaced batch-form as the `overflow` flag with
    * the fill truncated at `slots` so one short dataset flags instead
    * of killing a distributed job.
    *
    * `framesDf`: (dataset_id, file_name, payload); `geometry`:
    * per-dataset (dataset_id, im_height, im_width, im_colors);
    * `bytesPerSample` is the reference's bit_depth parameter. One
    * shuffle on the dataset key; the slot expansion is per-group
    * column work bounded by the caller's shape.
    */
  def assembleStacksWithShape(framesDf: DataFrame, geometry: DataFrame,
      slots: Int, bytesPerSample: Int = 2): DataFrame = {
    require(slots >= 1, s"stack needs at least one slot, got $slots")
    framesDf
      .select(col("dataset_id"),
        struct(col("file_name"), col("payload")).as("fr"))
      .groupBy("dataset_id")
      .agg(sort_array(collect_list(col("fr"))).as("frs"),
        count(lit(1)).as("n_frames"))
      .join(broadcast(geometry), Seq("dataset_id"), "left")
      .withColumn("zero", expr("cast(repeat(chr(0), " +
        "coalesce(im_height, 1) * coalesce(im_width, 1) * " +
        s"coalesce(im_colors, 1) * $bytesPerSample) as binary)"))
      .withColumn("stack", expr(
        s"""transform(sequence(0, ${slots - 1}), i -> named_struct(
          'slot', i,
          'file_name',
            if(i < size(frs), frs[i].file_name, cast(null as string)),
          'payload', if(i < size(frs), frs[i].payload, zero)))"""))
      .select(col("dataset_id"), col("n_frames"),
        lit(slots.toLong).as("n_slots"),
        (col("n_frames") > slots).as("overflow"),
        col("stack"))
  }

  private val resizePng =
    udf((payload: Array[Byte], factor: Int) =>
      ImageCodec.resizeGray(payload, factor))

  /** REAL image resize (was a payload-truncation stub): each PNG
    * payload decodes, nearest-neighbor resamples by `factor`, and
    * re-encodes; the typed meta struct carries the scaled dims. Shape
    * matches a production thumbnail pass: pure per-row column work,
    * no shuffle.
    */
  def resizeFrames(framed: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    framed
      .withColumn("payload", resizePng(col("payload"), lit(factor)))
      .withColumn("meta", struct(
        greatest(lit(1), (col("meta.width") / factor).cast("int"))
          .as("width"),
        greatest(lit(1), (col("meta.height") / factor).cast("int"))
          .as("height"),
        col("meta.bit_depth")))
  }

  /** Deterministic 1-in-`rate` frame sampling by id — the frame-sample
    * operator of a video/stack pipeline (pure filter: no shuffle, full
    * pushdown above the payload fetch).
    */
  def sampleFrames(framed: DataFrame, rate: Int): DataFrame =
    framed.filter(pmod(xxhash64(col("frame_id")), lit(rate)) === 0)
}
