package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.{DataExport, ImagingDb, ImagingModel, ImagingOps}
import graft.imaging.ImagingDb.SearchCriteria
import graft.tools.PlanAudit

class ImagingDbSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{sfDir, spark}

  private lazy val someSerial = ImagingModel
    .dataSet(spark, sfDir).filter(col("frames"))
    .join(graft.tables.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("id2")),
      col("id") === col("id2"), "left_semi")
    .orderBy("dataset_serial").select("dataset_serial")
    .head().getString(0)

  test("getDatasets with no criteria returns every dataset") {
    val all = ImagingDb.getDatasets(spark, sfDir).count()
    assert(all === ImagingModel.dataSet(spark, sfDir).count())
  }

  test("getDatasets composes criteria like the reference search_dict") {
    val hits = ImagingDb.getDatasets(spark, sfDir,
      SearchCriteria(projectId = Some("PRJ3"),
        microscope = Some("scope-2")))
    assert(hits.count() > 0)
    assert(hits.filter(!col("dataset_serial").contains("PRJ3")
      || !col("microscope").contains("scope-2")).count() === 0)
    // a narrower search is a subset of the wider one
    val wider = ImagingDb.getDatasets(spark, sfDir,
      SearchCriteria(projectId = Some("PRJ3")))
    assert(hits.count() <= wider.count())
  }

  test("getDatasets metaContains matches the JSONB containment query") {
    // the reference notebook's search (jsonb_queries.ipynb cell 4):
    // datasets whose frames_global metadata carries the protein
    val hits = ImagingDb.getDatasets(spark, sfDir,
      SearchCriteria(metaContains = Some(("protein_name", "TOPOR"))))
    assert(hits.count() > 0)
    // exactly the driver-checked containment operator's dataset set
    val expected = graft.imaging.ImagingOps.metaSearch(spark, sfDir)
      .select("dataset_serial")
    assert(hits.select("dataset_serial").collect().toSeq ===
      expected.collect().toSeq)
    // the semi join must not multiply dataset rows
    assert(hits.groupBy("dataset_serial").count()
      .filter(col("count") > 1).count() === 0)
    // an absent value matches nothing, not everything
    assert(ImagingDb.getDatasets(spark, sfDir,
      SearchCriteria(metaContains = Some(("protein_name", "NOPE"))))
      .count() === 0)
  }

  test("getFramesSubset slices on the requested dimensions only") {
    val sub = ImagingDb.getFramesSubset(spark, sfDir, someSerial,
      channelNames = Some(Seq("DAPI", "GFP")), sliceIds = Some(Seq(0, 1)))
    assert(sub.filter(!col("channel_name").isin("DAPI", "GFP")
      || !col("slice_idx").isin(0, 1)).count() === 0)
    val all = ImagingDb.getFramesSubset(spark, sfDir, someSerial)
    assert(sub.count() <= all.count() && all.count() > 0)
  }

  test("getFramesMeta carries consistent global metadata") {
    val meta = ImagingDb.getFramesMeta(spark, sfDir, someSerial)
    val rows = meta.collect()
    assert(rows.nonEmpty)
    // nbr_frames equals the actual row count and is constant
    assert(rows.map(_.getAs[Long]("nbr_frames")).distinct.toSeq ===
      Seq(rows.length.toLong))
    // the dataset-level JSONB rides along, one value per dataset
    assert(rows.map(_.getAs[String]("metadata_json")).distinct.length === 1)
    assert(rows.head.getAs[String]("metadata_json")
      .contains("\"protein_name\""))
  }

  test("getFramesMeta slices rows but keeps WHOLE-dataset globals") {
    // the reference shape (db_operations.py:426, notebook cell 35):
    // dimension criteria cut frames_meta; global_meta still describes
    // the full dataset
    val all = ImagingDb.getFramesMeta(spark, sfDir, someSerial).collect()
    val sub = ImagingDb.getFramesMeta(spark, sfDir, someSerial,
      channelNames = Some(Seq("DAPI", "GFP")), sliceIds = Some(Seq(0, 1)))
      .collect()
    assert(sub.nonEmpty && sub.length < all.length)
    assert(sub.forall(r => Seq("DAPI", "GFP")
      .contains(r.getAs[String]("channel_name"))))
    assert(sub.forall(r => Seq(0, 1).contains(r.getAs[Int]("slice_idx"))))
    // globals unchanged by the slicing
    assert(sub.head.getAs[Long]("nbr_frames") ===
      all.head.getAs[Long]("nbr_frames"))
    assert(sub.head.getAs[Long]("nbr_channels") ===
      all.head.getAs[Long]("nbr_channels"))
  }

  test("getFilenames returns the frames branch for a frames dataset") {
    val files = ImagingDb.getFilenames(spark, sfDir, someSerial)
    assert(files.count() > 0)
    assert(files.filter(!col("storage_dir").startsWith("raw_frames/"))
      .count() === 0)
  }

  test("getFilenames slicing composes and is a subset of unsliced") {
    val all = ImagingDb.getFilenames(spark, sfDir, someSerial)
    val sliced = ImagingDb.getFilenames(spark, sfDir, someSerial,
      channelNames = Some(Seq("DAPI", "GFP")), sliceIds = Some(Seq(0, 1)))
    assert(sliced.count() <= all.count())
    assert(sliced.except(all).count() === 0, "sliced ⊄ unsliced")
    // the slicing must agree with getFramesSubset on the same criteria:
    // identical file sets, dimension for dimension
    val subsetFiles = ImagingDb.getFramesSubset(spark, sfDir, someSerial,
      channelNames = Some(Seq("DAPI", "GFP")), sliceIds = Some(Seq(0, 1)))
      .select("file_name")
    assert(sliced.select("file_name").except(subsetFiles).count() === 0)
    assert(subsetFiles.except(sliced.select("file_name")).count() === 0)
    // narrowing further can only shrink the result
    val narrower = ImagingDb.getFilenames(spark, sfDir, someSerial,
      channelNames = Some(Seq("DAPI", "GFP")), sliceIds = Some(Seq(0, 1)),
      timeIds = Some(Seq(0)))
    assert(narrower.count() <= sliced.count())
  }

  test("metaContains survives hostile keys (quotes/brackets/dots)") {
    import ImagingDb.metaContainsPredicate
    import spark.implicits._
    // keys that would break a string-interpolated JSON path must
    // still match their actual field — and a missing hostile key
    // must match NOTHING (null-safe), never throw or match everything
    val hostile = Seq("pro'tein", "a]b[c", "do.t", "q\"uote")
    val df = hostile.zipWithIndex.map { case (k, i) =>
      val kj = k.replace("\\", "\\\\").replace("\"", "\\\"")
      (i, s"""{"$kj": "v$i", "plain": "p$i"}""")
    }.toDF("id", "metadata_json")
    hostile.zipWithIndex.foreach { case (k, i) =>
      val hits = df.filter(metaContainsPredicate(col("metadata_json"), k, s"v$i"))
      assert(hits.count() === 1, s"hostile key $k did not match")
      assert(hits.head().getInt(0) === i)
      assert(df.filter(
        metaContainsPredicate(col("metadata_json"), k, "WRONG")).count() === 0)
    }
    // missing key → no rows, and getDatasets end-to-end stays sane
    assert(df.filter(
      metaContainsPredicate(col("metadata_json"), "absent']x", "v")).count() === 0)
    assert(ImagingDb.getDatasets(spark, sfDir,
      SearchCriteria(metaContains = Some(("protein']name", "TOPOR"))))
      .count() === 0)
  }

  test("channels kwarg: scalar int, name list, and the type check") {
    import ImagingDb.Channels
    // notebook shape get_frames_meta(channels=1): all-int → channel_idx
    val byId = ImagingDb.getFramesSubset(spark, sfDir, someSerial,
      channels = Some(Channels.of(1)))
    assert(byId.count() > 0)
    assert(byId.filter(col("channel_idx") =!= 1).count() === 0)
    assert(byId.collect().toSeq ===
      ImagingDb.getFramesSubset(spark, sfDir, someSerial,
        channelIds = Some(Seq(1))).collect().toSeq)
    // all-str list → channel_name, same rows as the split kwarg
    val byName = ImagingDb.getFramesMeta(spark, sfDir, someSerial,
      channels = Some(Channels.of(Seq("DAPI", "GFP"))))
    assert(byName.count() > 0)
    assert(byName.collect().toSeq ===
      ImagingDb.getFramesMeta(spark, sfDir, someSerial,
        channelNames = Some(Seq("DAPI", "GFP"))).collect().toSeq)
    // getFilenames takes the kwarg too
    assert(ImagingDb.getFilenames(spark, sfDir, someSerial,
        channels = Some(Channels("DAPI"))).collect().toSeq ===
      ImagingDb.getFilenames(spark, sfDir, someSerial,
        channelNames = Some(Seq("DAPI"))).collect().toSeq)
    // mixed list → the reference's TypeError
    intercept[IllegalArgumentException] { Channels.of(Seq("Cy3", 1)) }
    // both the kwarg and a split list at once → the reference's assert
    intercept[IllegalArgumentException] {
      ImagingDb.getFramesSubset(spark, sfDir, someSerial,
        channels = Some(Channels(1)), channelNames = Some(Seq("DAPI")))
        .count()
    }
  }

  test("export writes frames_meta.csv and a valid global_metadata.json") {
    import graft.imaging.DataExport
    val out = java.nio.file.Files
      .createTempDirectory("graft_export").toString
    val n = DataExport.exportMeta(spark, sfDir, someSerial, out)
    assert(n > 0)
    // the CSV round-trips with the same row count and columns
    val csv = spark.read.option("header", "true")
      .csv(s"$out/frames_meta.csv")
    assert(csv.count() === n)
    assert(csv.columns.contains("file_name")
      && csv.columns.contains("sha256"))
    // the JSON carries every validate_global_meta key, non-null
    val json = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/global_metadata.json")).get(0)
    val parsed = spark.read.json(
      spark.createDataset(Seq(json))(
        org.apache.spark.sql.Encoders.STRING))
    DataExport.GlobalMetaKeys.foreach { k =>
      assert(parsed.columns.contains(k), s"missing global key $k")
      assert(parsed.filter(col(k).isNull).count() === 0)
    }
  }

  test("getDatasets(metaContains) parses no JSON over lineitem rows") {
    val q = ImagingDb.getDatasets(spark, sfDir, SearchCriteria(
      projectId = Some("PRJ3"), metaContains = Some(("protein_name", "TOPOR"))))
    val plan = q.queryExecution.executedPlan
    assert(PlanAudit.jsonOverScan(plan, "lineitem").isEmpty, plan.treeString)
  }

  test("getFramesMeta aggregates only the target dataset's frames") {
    val plan = ImagingDb.getFramesMeta(spark, sfDir, someSerial)
      .queryExecution.executedPlan
    val aggs = collect(plan) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty)
    // every aggregate's input passes through the one-serial filter
    aggs.foreach(a => assert(a.treeString.contains(someSerial),
      s"aggregate over all datasets:\n${a.treeString}"))
  }

  test("per-dataset globals equal the whole-catalog frames_global rows") {
    val global = ImagingModel.framesGlobal(spark, sfDir)
      .join(ImagingModel.dataSet(spark, sfDir).select(
        col("id").as("ds_id"), col("dataset_serial")),
        col("dataset_id") === col("ds_id"))
    val globalCols = Seq("nbr_frames", "nbr_slices", "nbr_channels",
      "nbr_timepoints", "nbr_positions", "metadata_json")
    val serials = global.filter(col("nbr_frames") > 1)
      .orderBy("dataset_serial").select("dataset_serial")
      .collect().map(_.getString(0))
    assert(serials.length >= 4)
    val meta = ImagingOps.globalMeta(spark, sfDir)
    serials.indices.by(serials.length / 4).map(serials).foreach { s =>
      val expected = global.filter(col("dataset_serial") === s)
        .select(globalCols.map(col): _*).collect().toSeq
      assert(expected.length === 1)
      val all = ImagingDb.getFramesMeta(spark, sfDir, s)
      // sliced on the time point of its first frame, so never empty
      val t = all.head().getAs[Int]("time_idx")
      Seq(all, ImagingDb.getFramesMeta(spark, sfDir, s, timeIds = Some(Seq(t))))
        .foreach(fm => assert(fm.select(globalCols.map(col): _*).distinct()
          .collect().toSeq === expected, s))
      assert(DataExport.globalMetaRow(spark, sfDir, s).collect().toSeq ===
        meta.filter(col("dataset_serial") === s)
          .select("dataset_serial", DataExport.GlobalMetaKeys: _*)
          .collect().toSeq, s)
    }
  }

  test("getFilenames returns one whole file for a frames=false dataset") {
    val serial = ImagingModel.dataSet(spark, sfDir).filter(!col("frames"))
      .orderBy("dataset_serial").select("dataset_serial").head().getString(0)
    val rows = ImagingDb.getFilenames(spark, sfDir, serial).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq((serial, s"raw_files/$serial", s"$serial.tif")))
  }
}
