package graft.imaging

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Deterministic derivation of the imagingDB data model from the
  * driver-generated TPC-H-ish tables.
  *
  * Schema mirrors the reference ORM models:
  *  - `data_set`      — reference/imaging_db/database/dataset.py:21-37
  *  - `frames`        — reference/imaging_db/database/frames.py:10-46
  *  - `frames_global` — reference/imaging_db/database/frames_global.py:10-60
  *  - `file_global`   — reference/imaging_db/database/file_global.py:10-31
  *
  * The identical derivation is inlined as a DuckDB CTE in
  * [[graft.Oracles.imagingCte]]; the two must stay in lockstep — the
  * driver hash-compares every query against the oracle.
  *
  * Mapping (documented in SURVEY.md §3):
  *  - one order = one dataset; `dataset_serial` follows the reference
  *    format PROJECT-YYYY-MM-DD-HH-MM-SS-ID (dataset.py:10-19 parses
  *    the date/time back out of it).
  *  - one lineitem of a non-'O' order = one 2D frame with c/z/t/p
  *    indices, frame file name in the `im_c###_z###_t###_p###` style of
  *    file_splitter.py `_get_imname`, and a sha256 content hash (the
  *    (partkey,suppkey) seed recurs, so duplicate "content" exists for
  *    dedup operators, like identical frames uploaded twice would).
  */
object ImagingModel {

  /** data_set: id, dataset_serial, description, microscope, frames,
    * date_time, parent_id.
    */
  def dataSet(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hh = col("o_orderkey") % 24
    val mi = col("o_custkey") % 60
    val ss = (col("o_orderkey") * 7) % 60
    o.select(
      col("o_orderkey").as("id"),
      concat(
        lit("PRJ"), (col("o_custkey") % 7).cast("string"), lit("-"),
        lpad(year(col("o_orderdate")).cast("string"), 4, "0"), lit("-"),
        lpad(month(col("o_orderdate")).cast("string"), 2, "0"), lit("-"),
        lpad(dayofmonth(col("o_orderdate")).cast("string"), 2, "0"), lit("-"),
        lpad(hh.cast("string"), 2, "0"), lit("-"),
        lpad(mi.cast("string"), 2, "0"), lit("-"),
        lpad(ss.cast("string"), 2, "0"), lit("-"),
        col("o_orderkey").cast("string")).as("dataset_serial"),
      col("o_orderpriority").as("description"),
      concat(lit("scope-"), (col("o_custkey") % 5).cast("string"))
        .as("microscope"),
      (col("o_orderstatus") =!= "O").as("frames"),
      expr("""make_timestamp(year(o_orderdate), month(o_orderdate),
              day(o_orderdate), o_orderkey % 24, o_custkey % 60,
              (o_orderkey * 7) % 60)""").as("date_time"),
      when(col("o_orderkey") % 32 === 0 && col("o_orderkey") >= 32,
        expr("o_orderkey div 32")).as("parent_id"))
  }

  /** frames: one row per 2D frame of every frames=true dataset. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    framesDerived(
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      spark, dir)

  /** frames restricted to the dataset keys in `keys(keyCol)` BEFORE
    * the expensive per-frame derivation (sha256, name concat) runs —
    * "project late": a needle query over a derived fact must filter on
    * the raw key column first, or it pays the full derivation for rows
    * a later join throws away (Catalyst pushes filters below a Project
    * but never reorders a join above one).
    */
  def framesFor(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String): DataFrame =
    framesDerived(
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .join(broadcast(keys.select(col(keyCol).as("l_orderkey"))),
          Seq("l_orderkey"), "left_semi"),
      spark, dir)

  private def framesDerived(li: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val framesOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "O")
      .select("o_orderkey")
    val cIdx = (col("l_suppkey") % 4).cast("int")
    val zIdx = (col("l_partkey") % 8).cast("int")
    val tIdx = (col("l_linenumber") - 1).cast("int")
    val pIdx = (col("l_orderkey") % 6).cast("int")
    val fId = col("l_orderkey") * 10 + col("l_linenumber")
    val chName = when(cIdx === 0, "DAPI").when(cIdx === 1, "GFP")
      .when(cIdx === 2, "Cy3").otherwise("TxRed")
    // per-frame MicroManager-style metadata JSON (frames.py
    // metadata_json, json_operations.py MICROMETA_SCHEMA), with
    // planted conformance violations for the img_meta_validate audit:
    // every 7th frame id omits the required Slice key, every 11th
    // writes Channel as a number (must be string), every 13th writes
    // ChannelIndex as a string (must be integer). Deterministic and
    // mirrored verbatim in the oracle CTE.
    val metaJson = concat(
      lit("""{"MicroManagerMetadata":{"ChannelIndex":"""),
      when(fId % 13 === 0, concat(lit("\""), cIdx.cast("string"), lit("\"")))
        .otherwise(cIdx.cast("string")),
      when(fId % 7 === 0, lit(""))
        .otherwise(concat(lit(""","Slice":"""), zIdx.cast("string"))),
      lit(""","FrameIndex":"""), tIdx.cast("string"),
      lit(""","PositionIndex":"""), pIdx.cast("string"),
      lit(""","Channel":"""),
      when(fId % 11 === 0, cIdx.cast("string"))
        .otherwise(concat(lit("\""), chName, lit("\""))),
      lit(""","Exposure-ms":"""), ((fId % 90) + 10).cast("string"),
      lit("}}"))
    li.join(framesOrders, col("l_orderkey") === col("o_orderkey"))
      .select(
        fId.as("id"),
        cIdx.as("channel_idx"),
        chName.as("channel_name"),
        zIdx.as("slice_idx"),
        tIdx.as("time_idx"),
        pIdx.as("pos_idx"),
        concat(
          lit("im_c"), lpad(cIdx.cast("string"), 3, "0"),
          lit("_z"), lpad(zIdx.cast("string"), 3, "0"),
          lit("_t"), lpad(tIdx.cast("string"), 3, "0"),
          lit("_p"), lpad(pIdx.cast("string"), 3, "0"),
          lit("_"), col("l_orderkey").cast("string"),
          lit("_"), col("l_linenumber").cast("string"),
          lit(".png")).as("file_name"),
        sha2(concat(col("l_partkey").cast("string"), lit("-"),
          col("l_suppkey").cast("string")), 256).as("sha256"),
        metaJson.as("metadata_json"),
        col("l_orderkey").as("frames_global_id"))
  }

  /** Exact distinct count of a small-int column (domain < 64) as a
    * single codegen'd long-bitmap aggregate.
    */
  private def bitmapCard(c: String) =
    expr(s"cast(bit_count(bit_or(shiftleft(1L, $c))) as bigint)")

  /** The one frames_global aggregate: per-dataset stack counts of the
    * frames `f`, one row per `frames_global_id`. Exact distinct counts
    * as 64-bit membership bitmaps: four countDistincts would go through
    * RewriteDistinctAggregates' Expand (4x the fact rows + a shuffle),
    * and collect_set falls out of codegen into ObjectHashAggregate. The
    * grid indices are < 64 by construction (§3: c%4, z%8, t=line-1,
    * p%6); for an unbounded domain swap in size(collect_set(...)).
    */
  def globalsOf(f: DataFrame): DataFrame =
    f.groupBy(col("frames_global_id"))
      .agg(
        count(lit(1)).as("nbr_frames"),
        bitmapCard("slice_idx").as("nbr_slices"),
        bitmapCard("channel_idx").as("nbr_channels"),
        bitmapCard("time_idx").as("nbr_timepoints"),
        bitmapCard("pos_idx").as("nbr_positions"))

  /** frames_global.metadata_json (the dataset-level JSONB the
    * reference's jsonb_queries.ipynb searches by protein) as a function
    * of the dataset id alone, mirrored verbatim in the oracle CTE.
    */
  def datasetMetaJson(id: Column): Column =
    concat(lit("{\"protein_name\":\""),
      element_at(array(proteinNames.map(lit): _*), (id % 12 + 1).cast("int")),
      lit("\",\"well\":\""),
      lit("ABCDEFGH").substr((id % 8).cast("int") + 1, lit(1)),
      ((id % 12) + 1).cast("string"),
      lit("\"}"))

  /** frames_global: per-dataset stack metadata recomputed from frames
    * (what file_splitter.py assembles at upload time).
    */
  def framesGlobal(spark: SparkSession, dir: String): DataFrame =
    framesGlobalOf(frames(spark, dir), dataSet(spark, dir))
      .drop("dataset_serial")

  /** frames_global rows plus `dataset_serial` for the datasets of the
    * data_set slice `ds`, from their frames `f`: the whole catalog for
    * [[framesGlobal]], one dataset's own frames for a per-dataset lookup.
    */
  def framesGlobalOf(f: DataFrame, ds: DataFrame): DataFrame =
    globalsOf(f)
      .join(ds.select("id", "dataset_serial"),
        col("frames_global_id") === col("id"))
      .select(
        col("frames_global_id").as("id"),
        col("nbr_frames"),
        lit(2048).as("im_width"), lit(2048).as("im_height"),
        col("nbr_slices"), col("nbr_channels"),
        lit(1).as("im_colors"),
        col("nbr_timepoints"), col("nbr_positions"),
        lit("uint16").as("bit_depth"),
        concat(lit("raw_frames/"), col("dataset_serial")).as("storage_dir"),
        datasetMetaJson(col("frames_global_id")).as("metadata_json"),
        col("frames_global_id").as("dataset_id"),
        col("dataset_serial"))

  /** The deterministic protein rotation behind frames_global's
    * metadata_json (publicly known tagged-line targets; TOPOR is the
    * serial the reference notebook demos).
    */
  private[imaging] val proteinNames: Seq[String] = Seq(
    "TOPOR", "LMNB1", "SEC61B", "TOMM20", "ACTB", "TUBA1B",
    "CANX", "FBL", "GAPDH", "HIST1H2BJ", "MYH10", "VIM")

  /** file_global: frames=false datasets stored as whole files. */
  def fileGlobal(spark: SparkSession, dir: String): DataFrame =
    dataSet(spark, dir).filter(!col("frames")).select(
      col("id"),
      concat(lit("raw_files/"), col("dataset_serial")).as("storage_dir"),
      concat(col("dataset_serial"), lit(".tif")).as("file_name"),
      sha2(col("dataset_serial"), 256).as("sha256"),
      col("id").as("dataset_id"))
}
