package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.imaging.ImagingModel
import graft.ops.Spread

/** Audio as an opaque binary column with typed metadata — the third
  * modality of the multimodal plumbing (images: [[BinaryFrames]];
  * this file: mono PCM16 WAV clips). The shape is identical to the
  * imaging path: payloads are REAL bytes of the interchange format
  * ([[AudioCodec]], 44-byte RIFF header + little-endian PCM), encoded
  * at generation time from each frame's sha256-derived samples and
  * decoded back through ONE kernel ([[clipStats]]); PCM losslessness
  * is what keeps the stats oracle-checked from the hex string alone.
  */
object BinaryAudio {

  val ClipSamples = 256
  val SampleRate = 16000

  private def synthSamples(sha: String): Array[Short] = {
    val b = ImageCodec.hexBytes(sha)
    Array.tabulate(ClipSamples) { i =>
      ((((b(i % 32) & 0xff) * 257 + i * 131) % 65536) - 32768).toShort
    }
  }

  private val encodeWav = udf { (sha: String) =>
    AudioCodec.encodePcm16(synthSamples(sha), SampleRate)
  }

  /** One WAV clip per frame row (clip_id = frame id), with the typed
    * metadata struct a catalog carries next to the blob, rows spread
    * first ([[Spread.rows]]).
    */
  def withAudioPayload(spark: SparkSession, dir: String): DataFrame =
    Spread.rows(ImagingModel.frames(spark, dir))
      .select(col("id").as("clip_id"),
        encodeWav(col("sha256")).as("payload"),
        struct(lit(SampleRate).as("sample_rate"),
          lit(ClipSamples).as("n_samples"),
          lit("pcm16").as("encoding")).as("meta"))

  /** [[clipStats]]' output: the loudness moments (n, exact Σs², peak
    * |s|, near-full-scale count) and the window moments (Σs, min/max
    * 32-sample-window Σs², below-clip-mean window count) of one clip.
    */
  case class ClipStats(sample_rate: Int, n: Int, sum_sq: Long, peak: Int,
    n_clipped: Int, sum_s: Long, wmin: Long, wmax: Long, n_quiet: Int)

  /** The audio kernel: one WAV decode per clip and one fold that every
    * audio consumer shares (both inline QC queries, the
    * [[graft.sources.AudioStats]] build and its streaming ingest). The
    * samples frame into non-overlapping 32-sample windows (8 per
    * 256-sample clip); every moment is an exact integer. Nondeterministic for the reason given
    * at [[BinaryFrames.decodeWith]].
    */
  val clipStats: UserDefinedFunction = udf { (payload: Array[Byte]) =>
    val (rate, s) = AudioCodec.decodePcm16(payload)
    var sumSq = 0L
    var peak = 0
    var clipped = 0
    var i = 0
    while (i < s.length) {
      val v = s(i).toInt
      val a = math.abs(v)
      sumSq += v.toLong * v
      if (a > peak) peak = a
      if (a >= 32700) clipped += 1
      i += 1
    }
    val nw = s.length / 32
    val w = new Array[Long](nw)
    var sumS = 0L
    var j = 0
    while (j < nw) {
      var ssq = 0L
      i = 0
      while (i < 32) {
        val v = s(j * 32 + i).toInt
        ssq += v.toLong * v
        sumS += v
        i += 1
      }
      w(j) = ssq
      j += 1
    }
    val tot = w.sum
    var quiet = 0
    var wmin = Long.MaxValue
    var wmax = Long.MinValue
    j = 0
    while (j < nw) {
      if (w(j) * nw < tot) quiet += 1
      if (w(j) < wmin) wmin = w(j)
      if (w(j) > wmax) wmax = w(j)
      j += 1
    }
    ClipStats(rate, s.length, sumSq, peak, clipped, sumS, wmin, wmax, quiet)
  }.asNondeterministic().withName("clipStats")

  /** Loudness/clipping QC per dataset THROUGH the real WAV decode —
    * the audio twin of [[BinaryFrames.payloadStats]]: RMS level from
    * exact integer Σs², peak sample magnitude, and the near-full-scale
    * fraction a recording chain monitors for clipping. The
    * hex-arithmetic oracle recomputes the planted samples without
    * touching a WAV byte.
    */
  def waveformStats(spark: SparkSession, dir: String): DataFrame =
    waveformStatsTail(spark, dir,
      BinaryFrames.decodeWith(withAudioPayload(spark, dir), clipStats))

  /** The aggregation tail of [[waveformStats]] over already-decoded
    * clip moments — shared verbatim by the inline operator (which
    * decodes per query) and the persisted
    * [[graft.sources.AudioStats]] twin (which reads the moments off
    * the decode-once table), so "same math, different source" has
    * exactly one implementation — the [[BinaryFrames]] tail
    * discipline on the audio side.
    */
  private[graft] def waveformStatsTail(spark: SparkSession, dir: String,
      clipFeats: DataFrame): DataFrame = {
    val feats = clipFeats
      .withColumn("dataset_id", expr("clip_id div 10"))
    feats
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .groupBy("dataset_serial")
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n").cast("bigint")).as("total_samples"),
        sum(col("sum_sq")).as("ssq"),
        max(col("peak")).as("peak"),
        sum(col("n_clipped").cast("bigint")).as("ncl"))
      .select(col("dataset_serial"), col("n_clips"),
        col("total_samples"),
        round(sqrt(col("ssq").cast("double") / col("total_samples")), 4)
          .as("rms"),
        col("peak"),
        round(col("ncl").cast("double") / col("total_samples"), 6)
          .as("clip_pct"))
      .orderBy("dataset_serial")
  }

  /** Windowed activity QC per dataset — the silence/dynamics report a
    * speech-data pipeline reads before transcription: fraction of
    * below-clip-mean energy windows (the relative quiet measure — an
    * absolute dBFS gate would be a constant on synthetic audio), mean
    * per-clip dynamic range √(max window Σs² / min window Σs²), and
    * DC offset (a miswired recording chain's signature). Integer
    * window moments come off [[clipStats]]; per-clip dynamic range
    * is summed as exact DECIMAL so the dataset mean is
    * partition-order independent. Same hex-arithmetic oracle
    * discipline as [[waveformStats]]: the planted samples are
    * recomputed from the sha string without touching a WAV byte.
    */
  def activityWindows(spark: SparkSession, dir: String): DataFrame =
    activityWindowsTail(spark, dir,
      BinaryFrames.decodeWith(withAudioPayload(spark, dir), clipStats))

  /** The aggregation tail of [[activityWindows]] over already-decoded
    * window moments — the [[waveformStatsTail]] contract for the
    * windowed query (per-clip dynamic range re-derives from the
    * stored integer min/max window energies, so the stored twin is
    * bit-identical).
    */
  private[graft] def activityWindowsTail(spark: SparkSession,
      dir: String, windowFeats: DataFrame): DataFrame = {
    val feats = windowFeats
      .withColumn("dataset_id", expr("clip_id div 10"))
      .withColumn("dyn",
        sqrt(col("wmax").cast("double") / greatest(col("wmin"), lit(1L)))
          .cast("decimal(28,12)"))
    feats
      .join(broadcast(ImagingModel.dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("dataset_id") === col("ds_id"))
      .groupBy("dataset_serial")
      .agg(count(lit(1)).as("n_clips"),
        (count(lit(1)) * (ClipSamples / 32)).as("n_windows"),
        sum(col("n_quiet").cast("bigint")).as("n_quiet"),
        sum(col("dyn")).as("dsum"),
        sum(col("sum_s")).as("ssum"),
        (count(lit(1)) * ClipSamples).as("ns"))
      .select(col("dataset_serial"), col("n_clips"), col("n_windows"),
        col("n_quiet"),
        round(col("n_quiet").cast("double") / col("n_windows"), 6)
          .as("quiet_pct"),
        round(col("dsum").cast("double") / col("n_clips"), 4)
          .as("avg_dyn_range"),
        round(col("ssum").cast("double") / col("ns"), 4)
          .as("dc_offset"))
      .orderBy("dataset_serial")
  }
}
