package graft.imaging

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.tables.Tables

/** The reference's user-facing call surface, parameterized — the API a
  * czbiohub/imagingDB user would call after switching engines. Each
  * method builds the same DataFrame plan as the fixed-parameter
  * driver-checked query, with the caller's criteria applied
  * dynamically the way db_operations.py composes SQLAlchemy filters.
  *
  *  - `getDatasets`    ↔ db_operations.py:52-90 (get_datasets)
  *  - `getFramesMeta`  ↔ db_operations.py:409-458 (get_frames_meta)
  *  - `getFramesSubset`↔ db_operations.py:308-380 (_get_frames_subset)
  *  - `getFilenames`   ↔ db_operations.py:257-306 (get_filenames)
  *
  * Absent criteria add NO predicate (reference semantics: missing
  * search keys don't filter), so Catalyst only pushes down what the
  * caller actually constrained.
  */
object ImagingDb {
  import ImagingModel._

  /** Search criteria ↔ the reference's search_dict keys, plus the
    * JSONB containment criterion its notebook queries compose
    * (jsonb_queries.ipynb cell 4: `FramesGlobal.metadata_json
    * .contains({key: value})`).
    */
  case class SearchCriteria(
      projectId: Option[String] = None,
      microscope: Option[String] = None,
      startDate: Option[Timestamp] = None,
      endDate: Option[Timestamp] = None,
      description: Option[String] = None,
      metaContains: Option[(String, String)] = None)

  /** The reference's single duck-typed `channels` kwarg
    * (db_operations.py:385-395: a scalar or list of all-str channel
    * names → filter channel_name, all-int indices → filter
    * channel_idx, mixed → TypeError; the notebook passes
    * `channels=1`). Construct with `Channels("Cy3", ...)` /
    * `Channels(1, ...)`, or adapt an untyped value with
    * [[Channels.of]].
    */
  sealed trait Channels
  object Channels {
    final case class ByName(names: Seq[String]) extends Channels
    final case class ById(ids: Seq[Int]) extends Channels
    def apply(name: String, more: String*): Channels = ByName(name +: more)
    def apply(id: Int, more: Int*): Channels = ById(id +: more)
    /** Dynamic adapter matching the reference's runtime type check:
      * scalar str/int, or a Seq of all-str / all-int.
      */
    def of(value: Any): Channels = value match {
      case s: String => ByName(Seq(s))
      case i: Int    => ById(Seq(i))
      case xs: Seq[_] if xs.nonEmpty && xs.forall(_.isInstanceOf[String]) =>
        ByName(xs.collect { case s: String => s })
      case xs: Seq[_] if xs.nonEmpty && xs.forall(_.isInstanceOf[Int]) =>
        ById(xs.collect { case i: Int => i })
      case other => throw new IllegalArgumentException(
        s"Channels must be all str or all int, got: $other")
    }
  }

  /** Multi-criterion dataset search, ordered by serial. A
    * `metaContains` criterion keeps the datasets with frames whose
    * dataset-level JSON matches, like the reference's JSONB containment;
    * the JSON predicate runs once per dataset left by the cheap criteria
    * ([[metaMatchIds]]), never on a frame row.
    */
  def getDatasets(spark: SparkSession, dir: String,
      criteria: SearchCriteria = SearchCriteria()): DataFrame = {
    var ds = dataSet(spark, dir)
    criteria.projectId.foreach(p =>
      ds = ds.filter(col("dataset_serial").contains(p)))
    criteria.microscope.foreach(m =>
      ds = ds.filter(col("microscope").contains(m)))
    criteria.startDate.foreach(t =>
      ds = ds.filter(col("date_time") >= lit(t)))
    criteria.endDate.foreach(t =>
      ds = ds.filter(col("date_time") <= lit(t)))
    criteria.description.foreach(d =>
      ds = ds.filter(col("description").contains(d)))
    criteria.metaContains.foreach { case (k, v) =>
      val ids = metaMatchIds(ds, k, v)
      ds = ds.filter(col("id").isin(ids: _*))
        .join(Tables.lineitem(spark, dir).select("l_orderkey"),
          col("id") === col("l_orderkey"), "left_semi")
    }
    ds.orderBy("dataset_serial")
  }

  /** Ids of the frames=true datasets of the data_set slice `ds` whose
    * dataset-level JSON maps `key` to `value`, collected on the driver.
    * Literals cannot carry the parse into a frames plan, as filtering
    * frames_global did: Catalyst inferred it onto every lineitem row.
    */
  private[imaging] def metaMatchIds(ds: DataFrame, key: String,
      value: String): Array[Long] =
    ds.filter(col("frames"))
      .filter(metaContainsPredicate(datasetMetaJson(col("id")), key, value))
      .select("id").collect().map(_.getLong(0))

  /** The JSONB-containment predicate of a `metaContains` criterion.
    * The key goes in as a map-lookup LITERAL, never interpolated into
    * a JSON-path string: a key containing quotes/brackets matches its
    * actual field instead of silently matching nothing (the old
    * `get_json_object($$['key'])` form broke on such keys). Nested
    * values parse to their raw JSON text, same as the JSON-path
    * accessor; `try_element_at` → NULL (no match) on a missing key.
    */
  private[graft] def metaContainsPredicate(metaJson: Column,
      key: String, value: String): Column =
    try_element_at(
      from_json(metaJson, MapType(StringType, StringType)), lit(key)) === value

  /** The reference's optional dimension IN-lists applied to a frames
    * slice (None = unconstrained) — shared by [[getFramesSubset]] and
    * [[getFilenames]] so the two APIs cannot drift apart.
    */
  private def applyFrameFilters(frames0: DataFrame,
      channels: Option[Channels],
      channelNames0: Option[Seq[String]], channelIds0: Option[Seq[Int]],
      sliceIds: Option[Seq[Int]], timeIds: Option[Seq[Int]],
      posIds: Option[Seq[Int]]): DataFrame = {
    // the reference's assertion: a single channels criterion, not
    // both the typed kwarg and a split name/id list at once
    require(channels.isEmpty
        || (channelNames0.isEmpty && channelIds0.isEmpty),
      "specify channels OR channelNames/channelIds, not both")
    val (channelNames, channelIds) = channels match {
      case Some(Channels.ByName(ns)) => (Some(ns), None)
      case Some(Channels.ById(is))   => (None, Some(is))
      case None                      => (channelNames0, channelIds0)
    }
    var f = frames0
    channelNames.foreach(cs => f = f.filter(col("channel_name").isin(cs: _*)))
    channelIds.foreach(cs => f = f.filter(col("channel_idx").isin(cs: _*)))
    sliceIds.foreach(zs => f = f.filter(col("slice_idx").isin(zs: _*)))
    timeIds.foreach(ts => f = f.filter(col("time_idx").isin(ts: _*)))
    posIds.foreach(ps => f = f.filter(col("pos_idx").isin(ps: _*)))
    f
  }

  /** One dataset's data_set row as (ds_id, dataset_serial). */
  private def target(spark: SparkSession, dir: String,
      datasetSerial: String): DataFrame =
    dataSet(spark, dir).filter(col("dataset_serial") === datasetSerial)
      .select(col("id").as("ds_id"), col("dataset_serial"))

  /** One dataset's frames: the frames fact joined to its broadcast
    * data_set row, so every per-dataset request reads the same shape.
    */
  private[imaging] def framesOf(spark: SparkSession, dir: String,
      datasetSerial: String): DataFrame =
    frames(spark, dir).join(broadcast(target(spark, dir, datasetSerial)),
      col("frames_global_id") === col("ds_id"))

  /** Frames of one dataset sliced on any combination of channel
    * names/indices, slices, times and positions (None = unconstrained,
    * as in the reference's pos_ids/time_ids/... kwargs).
    */
  def getFramesSubset(spark: SparkSession, dir: String,
      datasetSerial: String,
      channels: Option[Channels] = None,
      channelNames: Option[Seq[String]] = None,
      channelIds: Option[Seq[Int]] = None,
      sliceIds: Option[Seq[Int]] = None,
      timeIds: Option[Seq[Int]] = None,
      posIds: Option[Seq[Int]] = None): DataFrame = {
    applyFrameFilters(framesOf(spark, dir, datasetSerial),
      channels, channelNames, channelIds, sliceIds, timeIds, posIds)
      .select("dataset_serial", "channel_idx", "slice_idx", "time_idx",
        "pos_idx", "channel_name", "file_name", "sha256")
      .orderBy("file_name", "sha256")
  }

  /** Full per-frame metadata of one dataset (frames ⋈ global meta),
    * sliced by the reference's optional dimension criteria
    * (db_operations.py:426-430 `get_frames_meta(positions, times,
    * channels, slices)` — the notebook's
    * `get_frames_meta(channels=['568','Transmission'], positions=
    * [50, 60], slices=[11..15])` shape, database_queries.ipynb cell
    * 35). The GLOBAL columns (nbr_*, metadata_json) describe the
    * WHOLE dataset like the reference's `_get_global_meta` — they
    * aggregate the unfiltered frames, while the returned rows are
    * the filtered subset.
    */
  def getFramesMeta(spark: SparkSession, dir: String,
      datasetSerial: String,
      channels: Option[Channels] = None,
      channelNames: Option[Seq[String]] = None,
      channelIds: Option[Seq[Int]] = None,
      sliceIds: Option[Seq[Int]] = None,
      timeIds: Option[Seq[Int]] = None,
      posIds: Option[Seq[Int]] = None): DataFrame = {
    val f0 = framesOf(spark, dir, datasetSerial)
    val f = applyFrameFilters(f0, channels, channelNames, channelIds,
      sliceIds, timeIds, posIds)
    // the output's metadata_json is the DATASET-level JSONB of the
    // reference's _get_global_meta, not the frames' per-frame one
    val g = globalsOf(f0)
      .withColumn("global_json", datasetMetaJson(col("frames_global_id")))
    f.join(broadcast(g), Seq("frames_global_id"))
      .select(col("dataset_serial"), col("file_name"), col("channel_idx"),
        col("channel_name"), col("slice_idx"), col("time_idx"),
        col("pos_idx"), col("sha256"), col("nbr_frames"),
        col("nbr_slices"), col("nbr_channels"),
        col("nbr_timepoints"), col("nbr_positions"),
        col("global_json").as("metadata_json"))
      .orderBy("file_name", "sha256")
  }

  /** storage_dir + ordered file names of one dataset (frames branch or
    * file_global branch, as in get_filenames). The reference
    * (db_operations.py:257-306) forwards positions/times/channels/
    * slices into `_get_frames_subset`, so the frames branch is sliced
    * by the same optional IN-lists as [[getFramesSubset]]; the
    * file_global branch (whole-file datasets) has no frame dimensions
    * to slice and is returned as-is, also matching the reference.
    */
  def getFilenames(spark: SparkSession, dir: String,
      datasetSerial: String,
      channels: Option[Channels] = None,
      channelNames: Option[Seq[String]] = None,
      channelIds: Option[Seq[Int]] = None,
      sliceIds: Option[Seq[Int]] = None,
      timeIds: Option[Seq[Int]] = None,
      posIds: Option[Seq[Int]] = None): DataFrame = {
    val frameFiles = applyFrameFilters(framesOf(spark, dir, datasetSerial),
      channels, channelNames, channelIds, sliceIds, timeIds, posIds)
      .select(col("dataset_serial"),
        concat(lit("raw_frames/"), col("dataset_serial")).as("storage_dir"),
        col("file_name"))
    val wholeFiles = fileGlobal(spark, dir)
      .join(broadcast(target(spark, dir, datasetSerial)),
        col("dataset_id") === col("ds_id"))
      .select("dataset_serial", "storage_dir", "file_name")
    frameFiles.unionByName(wholeFiles)
      .orderBy("storage_dir", "file_name")
  }
}
