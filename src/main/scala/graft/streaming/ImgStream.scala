package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ImagingStore.FrameOrder
import graft.sources.PartitionSwap

/** Streaming frame ingest — the microscope-facing loop of a
  * continuously-acquiring facility: micro-batches of freshly-split
  * frame rows (the [[graft.imaging.SplitterIngest]] output shape plus
  * the `project` partition key) land in a project-partitioned store
  * layout as they arrive, completing the streaming triad alongside
  * [[DocsStream.ingestDedup]] (documents) and
  * [[VecStream.ingestIndex]] (vectors).
  *
  * Both ingest loops drain through [[MicroBatch.drain]]. Exactly-once
  * discipline is the batch-scoped-overwrite one
  * ([[graft.sources.TrainingExport.exportBatch]]): each micro-batch
  * owns `batches/batch=<id>/project=P/...` and a replay overwrites
  * that directory with identical content — idempotency lives in the
  * path, no registry, no settlement pass. Takedowns run through
  * [[graft.sources.PartitionSwap.takedown]]. A reader
  * filtering on `project` partition-prunes across every batch
  * directory; [[compactStreamed]] periodically folds the batch dirs
  * into the canonical [[graft.sources.ImagingStore]] layout (the
  * small-files settlement an append-per-acquisition store needs).
  */
object ImgStream {

  /** Land one micro-batch (also the batch-mode/backfill entry).
    * Within each project the rows sort by (dataset, c, z, t, p) so a
    * per-dataset read touches few row groups — the
    * [[graft.sources.ImagingStore.compact]] ordering from day one.
    */
  def landBatch(spark: SparkSession, batch: DataFrame, store: String,
      batchId: Long): Unit =
    batch
      .repartition(col("project"))
      .sortWithinPartitions(("project" +: FrameOrder).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("project")
      .parquet(s"$store/batches/batch=$batchId")

  /** Start the ingest loop over a streaming `source` of frame rows. */
  def ingestFrames(spark: SparkSession, source: DataFrame,
      store: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint)(landBatch(spark, _, store, _))

  /** Everything landed so far (partition columns `batch`, `project`
    * from the directory layout).
    */
  def readStreamed(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(s"$store/batches")

  /** One project's frames across every batch directory —
    * partition-pruned like [[graft.sources.ImagingStore.readProject]].
    */
  def readStreamedProject(spark: SparkSession, store: String,
      project: String): DataFrame =
    readStreamed(spark, store).filter(col("project") === project)

  /** Dataset takedown for the streamed LANDING dirs — the gap a
    * compliance delete would otherwise fall through: a victim dataset
    * deleted from the canonical [[graft.sources.ImagingStore]] layout
    * still has rows under every `batches/batch=N/project=P` directory
    * that landed it. [[graft.sources.PartitionSwap.takedown]] over
    * `batches` with (batch, project) as the partition columns.
    * Idempotent. Returns rows removed.
    */
  def deleteDatasets(spark: SparkSession, store: String,
      ids: DataFrame): Long =
    PartitionSwap.takedown(spark, s"$store/batches", Seq("batch", "project"),
      "frames_global_id",
      ids.select(col("dataset_id").as("frames_global_id")), FrameOrder)

  /** Decode-once ON ARRIVAL: land one micro-batch of frame rows as
    * persisted [[graft.sources.FrameStats]] sufficient statistics —
    * the streaming counterpart of the batch `FrameStats` build. Each
    * frame pays its PNG decode exactly once, at ingest time; every
    * later QC read (the `*_stored` tails) is decode-free from day
    * one instead of waiting for a full-corpus build. Idempotency is
    * the same batch-scoped-overwrite discipline as [[landBatch]]: a
    * foreachBatch replay overwrites `batches/batch=<id>` with
    * identical content — no registry, no settlement. The decode
    * spreads the rows first, so a micro-batch arriving as one source
    * file does not decode on one thread.
    */
  def landStats(spark: SparkSession, batch: DataFrame,
      statsStore: String, batchId: Long): Unit =
    graft.sources.FrameStats.decodeFrames(spark, batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$statsStore/batches/batch=$batchId")

  /** Start the decode-once stats ingest loop over a streaming
    * `source` of frame rows (`id`, grid indices, `sha256`).
    */
  def ingestStats(spark: SparkSession, source: DataFrame,
      statsStore: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint)(landStats(spark, _, statsStore, _))

  /** Every stats row landed so far (the `batch` partition column from
    * the directory layout is dropped — readers see the
    * [[graft.sources.FrameStats]] schema).
    */
  def readStats(spark: SparkSession, statsStore: String): DataFrame =
    spark.read.parquet(s"$statsStore/batches").drop("batch")

  /** Dataset takedown for the streamed STATS dirs — the QC moments of
    * a deleted dataset reconstruct per-frame exposure facts about it,
    * so they leave with the frames. The layout is one level
    * (`batches/batch=N` holds stats rows directly), so the takedown
    * unit is the batch directory
    * ([[graft.sources.PartitionSwap.takedown]]). Idempotent. Returns
    * rows removed.
    */
  def deleteStatsDatasets(spark: SparkSession, statsStore: String,
      ids: DataFrame): Long =
    PartitionSwap.takedown(spark, s"$statsStore/batches", Seq("batch"),
      "dataset_id", ids, Nil)

  /** Acquisition-drift report over the streamed stats store — the
    * monitoring read an imaging facility runs after every ingest
    * wave: per (dataset, arrival batch), the batch's exact mean
    * intensity next to the cumulative mean of every PRIOR batch of
    * the same dataset, with the relative drift flagged past
    * `flagPct`. A microscope whose illumination or focus drifted
    * between acquisition sessions shows up here on arrival — from
    * the persisted sufficient statistics, no frame ever re-decoded.
    *
    * Determinism: batch sums accumulate exact (BIGINT pixel counts,
    * DECIMAL Σpx), means divide once at the edge and round; the
    * prior-batches window is rows-bounded per dataset. Scale shape:
    * the per-(dataset, batch) census rides the stats scan as a
    * map-side partial (≤ datasets × batches keys); the window sorts
    * only census rows, never frames. First batch of a dataset has no
    * prior — drift is null, never flagged.
    */
  def statsDrift(spark: SparkSession, statsStore: String,
      flagPct: Double = 10.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dataset_id").orderBy("batch")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    spark.read.parquet(s"$statsStore/batches")
      .groupBy(col("dataset_id"), col("batch").cast("bigint").as("batch"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_px").cast("bigint")).as("n_px"),
        sum(col("sum_px").cast("decimal(20,0)")).as("s_px"))
      .withColumn("prior_n", sum(col("n_px")).over(w))
      .withColumn("prior_s", sum(col("s_px")).over(w))
      .withColumn("mean_px",
        round(col("s_px").cast("double") / col("n_px"), 6))
      .withColumn("prior_mean",
        round(col("prior_s").cast("double") / col("prior_n"), 6))
      .withColumn("drift_pct",
        round((col("mean_px") - col("prior_mean")) * 100.0
          / col("prior_mean"), 4))
      .withColumn("flag_drift",
        (abs(col("drift_pct")) > flagPct).cast("int"))
      .select("dataset_id", "batch", "n_frames", "mean_px",
        "prior_mean", "drift_pct", "flag_drift")
      .orderBy("dataset_id", "batch")
  }

  /** The deterministic streamed stats store the oracle-checked
    * `img_stats_drift` entry reads, built once per JVM
    * ([[graft.sources.DocumentStore.buildOnce]]) under the warehouse
    * directory: frames split into `nBatches` arrival waves by
    * `id % nBatches`, each landed through [[landStats]] (so every
    * frame pays its decode exactly once, on arrival — the real ingest
    * path, not a test shortcut). Returns the store's path.
    */
  def ensureStreamedStats(spark: SparkSession, dir: String,
      nBatches: Int = 3): String = {
    import graft.sources.DocumentStore
    val name = DocumentStore.tableName(s"graft_imgdrift$nBatches", dir)
    val store = DocumentStore.warehouseDir(spark, name).toString
    DocumentStore.buildOnce(spark, name) {
      val frames = graft.imaging.ImagingModel.frames(spark, dir)
      (0 until nBatches).foreach { b =>
        landStats(spark, frames.filter(col("id") % nBatches === b),
          store, b.toLong)
      }
    }
    store
  }

  /** [[statsDrift]] over the session's deterministic streamed store —
    * the `SparkEntry.queries` / DuckDB-oracle face of the drift
    * monitor (batch = frame id mod 3, so the oracle recomputes the
    * same arrival waves formulaically from the planted sha pixels).
    */
  def statsDriftFor(spark: SparkSession, dir: String): DataFrame =
    statsDrift(spark, ensureStreamedStats(spark, dir))

  /** Fold the streamed stats batches into the canonical
    * dataset-bucketed [[graft.sources.FrameStats]] table layout —
    * after this, per-dataset QC roll-ups read with zero exchanges,
    * exactly like the batch-built table (the small-files settlement
    * an append-per-acquisition stats store needs).
    */
  def compactStats(spark: SparkSession, statsStore: String,
      table: String,
      nBuckets: Int = graft.sources.FrameStats.DefaultBuckets): Unit = {
    graft.sources.DocumentStore.clearStale(spark, table)
    readStats(spark, statsStore)
      .write.bucketBy(nBuckets, "dataset_id").sortBy("dataset_id")
      .mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** Fold the batch directories into one canonical
    * project-partitioned layout at `dest` (must differ from `store`;
    * batch dirs survive until the caller deletes them, so a crash
    * mid-compact loses nothing — the
    * [[graft.sources.TrainingExport.compactStreamed]] contract).
    */
  def compactStreamed(spark: SparkSession, store: String,
      dest: String): Unit = {
    require(!graft.sources.TrainingExport.pathsOverlap(store, dest),
      s"compactStreamed needs a fresh destination outside the store " +
        s"(got store=$store dest=$dest)")
    readStreamed(spark, store).drop("batch")
      .repartition(col("project"))
      .sortWithinPartitions(("project" +: FrameOrder).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("project")
      .parquet(dest)
  }
}
