package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.imaging.ImagingModel

/** Parquet-backed imaging store (SURVEY.md §2.5 sink): the Spark
  * counterpart of the reference's filestorage layer (s3_storage.py /
  * local_storage.py) plus the metadata DB, as one partitioned layout.
  *
  * Layout: frames partitioned by project — at 100 TB partition pruning
  * turns any per-project/per-dataset query into a partial scan, and
  * writes are append-only per dataset (the reference's
  * assert_unique_id-then-upload discipline maps to idempotent
  * dataset-partition overwrite).
  */
object ImagingStore {

  /** Write the frames fact partitioned by project. */
  def writeFrames(spark: SparkSession, dir: String, out: String): Unit = {
    val d = ImagingModel.dataSet(spark, dir)
      .select(col("id").as("ds_id"),
        expr("split_part(dataset_serial, '-', 1)").as("project"))
    ImagingModel.frames(spark, dir)
      .join(broadcast(d), col("frames_global_id") === col("ds_id"))
      .drop("ds_id")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("project")
      .parquet(out)
  }

  /** Read back one project's frames — must hit only that partition
    * (verified by the spec via the plan's partition filters).
    */
  def readProject(spark: SparkSession, store: String, project: String): DataFrame =
    spark.read.parquet(store).filter(col("project") === project)

  /** The in-partition row order of every frame layout: per-dataset
    * reads touch few row groups and min/max column stats stay tight.
    */
  private[graft] val FrameOrder = Seq("frames_global_id", "channel_idx",
    "slice_idx", "time_idx", "pos_idx")

  /** Dataset takedown for the project-partitioned frame store — the
    * right-to-be-forgotten pass on the reference's own unit of
    * ownership (db_operations.py:145-166 `get_datasets`): a
    * compliance delete names DATASETS, and a dataset lives inside
    * exactly one project partition, so the pass is
    * O(affected projects), never O(store). It runs through
    * [[PartitionSwap.takedown]] with `project` as the partition
    * column and [[FrameOrder]] as the sort order; the locate scan
    * reads only (frames_global_id, project).
    *
    * Idempotent. Returns frame rows removed. Blob bytes are a
    * separate store — [[FrameStorageApi.deleteManifest]] /
    * [[FrameStorageApi.deleteDatasetBlobs]] take the same victims to
    * the stored PNGs themselves.
    */
  def deleteDatasets(spark: SparkSession, store: String,
      ids: DataFrame): Long =
    PartitionSwap.takedown(spark, store, Seq("project"), "frames_global_id",
      ids.select(col("dataset_id").as("frames_global_id")), FrameOrder)

  /** Compact a store in place-ish: rewrite each project partition into
    * ~`targetRows`-row files, sorted by (dataset, channel, slice, time,
    * pos) within each file so per-dataset reads touch few row groups
    * and min/max column stats stay tight.
    *
    * The small-file problem is THE operational failure mode of an
    * append-per-dataset layout at 100 TB (every upload lands one-plus
    * files per partition; a year later the driver chokes on listing).
    * Compaction = read → repartitionByRange within project →
    * sortWithinPartitions → rewrite to a new root, then swap — the
    * rewrite is embarrassingly parallel per partition.
    */
  def compact(spark: SparkSession, store: String, out: String,
      targetRows: Long = 4000000L): Unit = {
    val df = spark.read.parquet(store)
    val files = math.max(1L,
      math.ceil(df.count().toDouble / targetRows).toLong).toInt
    // one job: range-partition on (project, dataset) — the sampler
    // sizes splits by actual density, so a hot project gets more files
    // and each output file covers one project's contiguous datasets
    df.repartitionByRange(files, col("project"), col("frames_global_id"))
      .sortWithinPartitions(("project" +: FrameOrder).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("project")
      .parquet(out)
  }
}
