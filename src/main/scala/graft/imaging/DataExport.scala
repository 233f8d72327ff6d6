package graft.imaging

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Download-side metadata export — the reference's data_downloader.py
  * (:192-215) writes `global_metadata.json` plus `frames_meta.csv`
  * beside the downloaded frames of a dataset; this is that writer over
  * the Spark surface.
  *
  * Scale shape: both artifacts are per-DATASET (one global row, one
  * frame-meta row per frame of one dataset), and both are computed
  * from that dataset's own frames — [[ImagingDb.getFramesMeta]] and
  * [[globalMetaRow]] join the frames to the one target row before
  * aggregating, so no step aggregates the whole catalog.
  */
object DataExport {

  /** The validate_global_meta key set (meta_utils.py:45-70) every
    * export must carry.
    */
  val GlobalMetaKeys: Seq[String] = Seq(
    "storage_dir", "nbr_frames", "im_width", "im_height", "nbr_slices",
    "nbr_channels", "im_colors", "nbr_timepoints", "nbr_positions",
    "bit_depth")

  /** Per-dataset global metadata as one row, in the
    * validate_global_meta column set: frames_global over the target
    * dataset's own frames.
    */
  def globalMetaRow(spark: SparkSession, dir: String,
      datasetSerial: String): DataFrame =
    ImagingModel.framesGlobalOf(ImagingDb.framesOf(spark, dir, datasetSerial),
      broadcast(ImagingModel.dataSet(spark, dir)
        .filter(col("dataset_serial") === datasetSerial)))
      .select("dataset_serial", GlobalMetaKeys: _*)

  /** Write `frames_meta.csv` (directory with a single part file —
    * object-store layout) and `global_metadata.json` for one dataset
    * under `outDir`. Returns the number of frame-meta rows written.
    */
  def exportMeta(spark: SparkSession, dir: String, datasetSerial: String,
      outDir: String): Long = {
    val fm = ImagingDb.getFramesMeta(spark, dir, datasetSerial)
    fm.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .csv(s"$outDir/frames_meta.csv")
    val gRows = globalMetaRow(spark, dir, datasetSerial).toJSON.collect()
    require(gRows.length == 1,
      s"expected one global-meta row for $datasetSerial, got ${gRows.length}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/global_metadata.json"), gRows.head)
    // count the written artifact, not the source plan — re-counting fm
    // would re-execute the whole needle query a second time
    spark.read.option("header", "true").csv(s"$outDir/frames_meta.csv")
      .count()
  }
}
