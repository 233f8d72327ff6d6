package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.{ImagingModel, ImagingOps, SplitterIngest}

class ImagingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{sfDir, spark}

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dataset serial round-trips through the reference parse") {
    val bad = ImagingOps.serialDatetime(spark, sfDir)
      .filter(col("consistent") =!= 1).count()
    assert(bad === 0)
  }

  test("frames subset honors every slicing dimension") {
    val rows = ImagingOps.framesSubset(spark, sfDir)
    assert(rows.count() > 0)
    assert(rows.filter(!col("channel_name").isin("DAPI", "Cy3")).count() === 0)
    assert(rows.filter(col("slice_idx") > 3).count() === 0)
    assert(rows.filter(col("time_idx") > 2).count() === 0)
  }

  test("global meta is consistent with raw frames") {
    val g = ImagingOps.globalMeta(spark, sfDir)
    val total = g.agg(sum("nbr_frames")).head().getLong(0)
    assert(total === ImagingModel.frames(spark, sfDir).count())
    assert(g.filter(col("nbr_channels") > 4).count() === 0)
    assert(g.filter(col("nbr_slices") > 8).count() === 0)
  }

  test("sha dedup only reports real duplicate groups") {
    val d = ImagingOps.shaDedup(spark, sfDir)
    assert(d.count() > 0)
    assert(d.filter(col("n_frames") <= 1).count() === 0)
  }

  test("splitter ingest round-trips the frame indices") {
    // carry the original indices alongside so no self-join is needed
    // ((orderkey, linenumber) is not unique in this data, so file_name
    // is not a join key)
    val d = ImagingModel.dataSet(spark, sfDir)
      .select(col("id").as("ds_id"), col("dataset_serial"))
    val listing = ImagingModel.frames(spark, sfDir)
      .join(d, col("frames_global_id") === col("ds_id"))
      .select(col("dataset_serial"), col("file_name"),
        col("channel_idx").as("c0"), col("slice_idx").as("z0"),
        col("time_idx").as("t0"), col("pos_idx").as("p0"))
    val parsed = SplitterIngest.parseIndices(listing)
    assert(parsed.count() === listing.count())
    assert(parsed.filter(col("c0") =!= col("channel_idx")
      || col("z0") =!= col("slice_idx")
      || col("t0") =!= col("time_idx")
      || col("p0") =!= col("pos_idx")).count() === 0)
  }

  test("metadata ingest twin matches the filename-parse path") {
    // the OME-TIFF path derives indices + channel name from each
    // page's MicroManagerMetadata JSON; restrict to frames whose
    // planted metadata is conformant (the audit's violation rows
    // would parse to nulls by design)
    val f = ImagingModel.frames(spark, sfDir)
      .filter(col("id") % 7 =!= 0 && col("id") % 11 =!= 0
        && col("id") % 13 =!= 0)
    val listing = f.select(
      col("frames_global_id").cast("string").as("dataset_serial"),
      col("metadata_json"),
      col("channel_idx").as("c0"), col("slice_idx").as("z0"),
      col("time_idx").as("t0"), col("pos_idx").as("p0"),
      col("channel_name").as("n0"))
    val parsed = SplitterIngest.parseMetadata(listing)
    assert(parsed.count() === listing.count())
    // JSON-derived indices and channel NAME equal the stored truth
    assert(parsed.filter(col("c0") =!= col("channel_idx")
      || col("z0") =!= col("slice_idx")
      || col("t0") =!= col("time_idx")
      || col("p0") =!= col("pos_idx")
      || col("n0") =!= col("channel_name")).count() === 0)
    // generated names follow the im_c###_z###_t###_p### convention
    assert(parsed.filter(!col("file_name")
      .rlike("^im_c\\d{3}_z\\d{3}_t\\d{3}_p\\d{3}\\.png$")).count() === 0)
    // both ingest paths assemble identical global metadata
    val gMeta = SplitterIngest.globalMetaFromFrames(parsed)
    val gName = SplitterIngest.globalMetaFromFrames(
      SplitterIngest.parseIndices(
        parsed.select("dataset_serial", "file_name")))
    assert(gMeta.except(gName).count() === 0)
    assert(gName.except(gMeta).count() === 0)
  }

  test("globalMetaFromFrames keeps the countDistinct rows and schema " +
      "with no Expand or exchange") {
    import spark.implicits._
    // the distinct-aggregate form the aggregate replaced
    def reference(parsed: DataFrame) = parsed.groupBy("dataset_serial")
      .agg(
        count(lit(1)).as("nbr_frames"),
        countDistinct(col("slice_idx")).as("nbr_slices"),
        countDistinct(col("channel_idx")).as("nbr_channels"),
        countDistinct(col("time_idx")).as("nbr_timepoints"),
        countDistinct(col("pos_idx")).as("nbr_positions"))
    // wrapped indices: 40 pages over 2 channels x 3 slices; more than
    // 64 distinct values: 100 slices
    val tifId = SplitterIngest.parseTifId(Seq(
        ("wrap", 40, "channels=2\nslices=3", 1, 16),
        ("wide", 200, "channels=2\nslices=100", 1, 8))
      .toDF("dataset_serial", "nbr_frames", "im_description",
        "samples_per_pixel", "bits_per_sample"))
    // null indices: an ome_tiff listing whose pages lack Slice (all of
    // one dataset, some of another) or PositionIndex
    def page(c: Int, z: Option[Int], t: Int, p: Option[Int]) =
      "{\"MicroManagerMetadata\":{" + (Seq(s"\"ChannelIndex\":$c",
        s"\"FrameIndex\":$t", "\"Channel\":\"DAPI\"") ++
        z.map(v => s"\"Slice\":$v") ++
        p.map(v => s"\"PositionIndex\":$v")).mkString(",") + "}}"
    val ome = SplitterIngest.parseMetadata(Seq(
        ("noslice", page(0, None, 0, Some(0))),
        ("noslice", page(1, None, 1, Some(0))),
        ("some", page(0, Some(0), 0, None)),
        ("some", page(0, None, 0, Some(2))),
        ("some", page(1, Some(3), 0, Some(2))))
      .toDF("dataset_serial", "metadata_json"))
    for (parsed <- Seq(tifId, ome)) {
      val got = SplitterIngest.globalMetaFromFrames(parsed)
      val want = reference(parsed)
      assert(got.schema === want.schema)
      assert(got.orderBy("dataset_serial").collect().toSeq ===
        want.orderBy("dataset_serial").collect().toSeq)
      val plan = got.queryExecution.executedPlan
      assert(collect(plan) {
        case e: org.apache.spark.sql.execution.ExpandExec => e
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, plan.toString)
    }
    assert(SplitterIngest.globalMetaFromFrames(tifId)
      .orderBy("dataset_serial").collect().map(_.toSeq).toSeq === Seq(
        Seq("wide", 200L, 100L, 2L, 1L, 1L), Seq("wrap", 40L, 3L, 2L, 1L, 1L)))
    assert(SplitterIngest.globalMetaFromFrames(ome)
      .filter(col("dataset_serial") === "noslice").head().getLong(2) === 0L)
  }

  test("frame info from summary follows the GRAY/RGB and bit-depth rules") {
    import spark.implicits._
    // set_frame_info (tiffolder_splitter.py:43-66): GRAY* → 1 color,
    // anything else → 3; BitDepth 16/8 → uint16/uint8, else invalid
    val s = Seq(
      ("a", """{"Summary":{"PixelType":"GRAY16","BitDepth":16,"Width":15,"Height":10}}"""),
      ("b", """{"Summary":{"PixelType":"RGB32","BitDepth":8,"Width":4,"Height":3}}"""),
      ("c", """{"Summary":{"PixelType":"GRAY8","BitDepth":12,"Width":1,"Height":1}}"""))
      .toDF("dataset_serial", "summary_json")
    val out = SplitterIngest.frameInfoFromSummary(s).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getInt(3) === 1 && out("a").getString(4) === "uint16"
      && out("a").getBoolean(5) && out("a").getInt(1) === 15
      && out("a").getInt(2) === 10)
    assert(out("b").getInt(3) === 3 && out("b").getString(4) === "uint8"
      && out("b").getBoolean(5))
    assert(out("c").getInt(3) === 1 && out("c").isNullAt(4)
      && !out("c").getBoolean(5))
  }

  test("folder splitter twin matches the filename-parse global meta") {
    // folder-layout listing: one folder per dataset, SMS-style names
    // with underscore-bearing channel names and a per-frame permutation
    // of the t/p/z token order; expected values ride along and join
    // back on (dataset_serial, src_name)
    val d = ImagingModel.dataSet(spark, sfDir)
      .select(col("id").as("ds_id"), col("dataset_serial"))
    val base = ImagingModel.frames(spark, sfDir)
      .filter(col("frames_global_id") % 25 === 0)
      .join(d, col("frames_global_id") === col("ds_id"))
      .select(col("dataset_serial"), col("id"),
        col("slice_idx").as("z0"), col("time_idx").as("t0"),
        col("pos_idx").as("p0"),
        expr("""case channel_idx when 0 then 'DAPI' when 1 then 'GFP_high'
                when 2 then 'Cy3' else 'Tx_Red' end""").as("ch"),
        concat(lit("t"), lpad(col("time_idx").cast("string"), 3, "0")).as("tt"),
        concat(lit("p"), lpad(col("pos_idx").cast("string"), 3, "0")).as("pt"),
        concat(lit("z"), lpad(col("slice_idx").cast("string"), 3, "0")).as("zt"))
    val expected = base.select(col("dataset_serial"), col("z0"), col("t0"),
      col("p0"), col("ch"),
      concat(lit("img_"), col("ch"), lit("_"),
        expr("""case cast(id % 3 as int)
                when 0 then concat(tt, '_', pt, '_', zt)
                when 1 then concat(zt, '_', tt, '_', pt)
                else concat(pt, '_', zt, '_', tt) end"""),
        lit(".tif")).as("src_name"))
    val listing = expected.select(col("dataset_serial"),
      concat(lit("/upload/"), col("dataset_serial"), lit("/"),
        col("src_name")).as("file_path"))
    val summaries = expected.select("dataset_serial").distinct()
      .withColumn("summary_json",
        lit("""{"Summary":{"PixelType":"GRAY16","BitDepth":16,"Width":2048,"Height":2048}}"""))
    val parsed = SplitterIngest.parseFolder(listing, summaries)
    assert(parsed.count() === listing.count())
    // parsed indices + channel name match the planted truth.
    // (orderkey, linenumber) is not unique in this data (see the
    // round-trip test above), so identical src_names can repeat within
    // a dataset — such rows are full-row duplicates, safe to collapse
    // for the comparison join
    val joined = parsed.join(
      expected.dropDuplicates(Seq("dataset_serial", "src_name")),
      Seq("dataset_serial", "src_name"))
    assert(joined.count() === parsed.count())
    assert(joined.filter(col("z0") =!= col("slice_idx")
      || col("t0") =!= col("time_idx") || col("p0") =!= col("pos_idx")
      || col("ch") =!= col("channel_name")).count() === 0)
    // folder frame info lands on every frame row
    assert(parsed.filter(col("im_colors") =!= 1
      || col("bit_depth") =!= "uint16" || !col("valid_bit_depth")
      || col("im_width") =!= 2048).count() === 0)
    // generated db names follow the im_c###_z###_t###_p### convention
    assert(parsed.filter(!col("file_name")
      .rlike("^im_c\\d{3}_z\\d{3}_t\\d{3}_p\\d{3}\\.png$")).count() === 0)
    // channel_idx is a first-seen dense index per folder: one channel
    // per index, every index < the folder's channel count
    val perDs = parsed.groupBy("dataset_serial")
      .agg(countDistinct("channel_name").as("nch"),
        countDistinct("channel_idx").as("nidx"),
        max("channel_idx").as("maxidx"))
    assert(perDs.filter(col("nch") =!= col("nidx")
      || col("maxidx") >= col("nch")).count() === 0)
    // global-meta parity with the filename-parse ingest path over the
    // generated names
    val gFolder = SplitterIngest.globalMetaFromFrames(parsed)
    val gName = SplitterIngest.globalMetaFromFrames(
      SplitterIngest.parseIndices(
        parsed.select("dataset_serial", "file_name")))
    assert(gFolder.except(gName).count() === 0)
    assert(gName.except(gFolder).count() === 0)
  }

  test("tif-id splitter derives frame info and acquisition-order indices") {
    import spark.implicits._
    val files = Seq(
      ("dsA", 24, "ImageJ=1.52\nimages=24\nchannels=2\nslices=3\nframes=4\nhyperstack=true", 1, 16),
      ("dsB", 4, "ImageJ=1.52\nchannels=2\nframes=2", 3, 32),
      ("dsC", 1, "no dims in this description", 1, 12))
      .toDF("dataset_serial", "nbr_frames", "im_description",
        "samples_per_pixel", "bits_per_sample")
    val out = SplitterIngest.parseTifId(files)

    // dsA: channels=2, slices=3, frames(timepoints)=4 → 24 pages in
    // acquisition order product(time, pos, slice, channel), channel
    // fastest (tif_id_splitter.py:138-144)
    val a = out.filter(col("dataset_serial") === "dsA")
    assert(a.count() === 24)
    def idx(page: Int) = a.filter(col("page_idx") === page)
      .select("channel_idx", "slice_idx", "pos_idx", "time_idx")
      .head()
    assert(idx(0).toSeq === Seq(0, 0, 0, 0))
    assert(idx(1).toSeq === Seq(1, 0, 0, 0))   // channel fastest
    assert(idx(2).toSeq === Seq(0, 1, 0, 0))   // then slice
    assert(idx(6).toSeq === Seq(0, 0, 0, 1))   // C*Z pages → next time
    assert(idx(23).toSeq === Seq(1, 2, 0, 3))  // last page
    assert(a.filter(col("bit_depth") =!= "uint16" || col("float2uint")
      || !col("valid_bit_depth") || col("im_colors") =!= 1).count() === 0)
    // the derived frames feed the shared global-meta assembly
    val gA = SplitterIngest.globalMetaFromFrames(a).head()
    assert(gA.toSeq.drop(1) === Seq(24L, 3L, 2L, 4L, 1L))

    // dsB: BitsPerSample 32 → uint16 with the float2uint conversion
    // flag; SamplesPerPixel 3 → RGB; absent slices/positions default 1
    val b = out.filter(col("dataset_serial") === "dsB")
    assert(b.count() === 4)
    assert(b.filter(col("bit_depth") =!= "uint16" || !col("float2uint")
      || col("im_colors") =!= 3 || col("nbr_slices") =!= 1
      || col("nbr_positions") =!= 1).count() === 0)
    assert(idx(0).toSeq === Seq(0, 0, 0, 0))

    // dsC: no parsable dims → all default 1; bit depth 12 is the
    // reference's ValueError, surfaced as NULL + invalid flag
    val c = out.filter(col("dataset_serial") === "dsC").head()
    assert(c.getAs[Int]("nbr_channels") === 1
      && c.getAs[Int]("nbr_timepoints") === 1)
    assert(c.isNullAt(c.fieldIndex("bit_depth"))
      && !c.getAs[Boolean]("valid_bit_depth"))
    // generated names stay in the shared convention
    assert(out.filter(!col("file_name")
      .rlike("^im_c\\d{3}_z\\d{3}_t\\d{3}_p\\d{3}\\.png$")).count() === 0)

    // a zero-page (empty/corrupt) tif yields ZERO frame rows — not the
    // two phantom pages sequence(0, -1)'s inferred step would fabricate
    val empty = SplitterIngest.parseTifId(Seq(
      ("dsE", 0, "ImageJ=1.52", 1, 16))
      .toDF("dataset_serial", "nbr_frames", "im_description",
        "samples_per_pixel", "bits_per_sample"))
    assert(empty.count() === 0)
  }

  test("meta audit counts exactly the planted violation rates") {
    val f = ImagingModel.frames(spark, sfDir)
    val expectedMissing = f.filter(col("id") % 7 === 0).count()
    val expectedBadType = f.filter(col("id") % 11 === 0
      || col("id") % 13 === 0).count()
    val audit = ImagingOps.metaValidate(spark, sfDir)
      .agg(sum("n_missing_key"), sum("n_type_mismatch"), sum("n_frames"),
        sum("n_valid")).head()
    assert(audit.getLong(0) === expectedMissing)
    assert(audit.getLong(1) === expectedBadType)
    // every frame is either valid or flagged (flags can overlap)
    assert(audit.getLong(3) <= audit.getLong(2))
    assert(audit.getLong(3) >=
      audit.getLong(2) - expectedMissing - expectedBadType)
  }

  test("needle queries return empty, not errors, for unknown serials") {
    import graft.imaging.ImagingDb
    val none = "NOPE-2099-01-01-00-00-00-9999"
    assert(ImagingDb.getFramesSubset(spark, sfDir, none).count() === 0)
    assert(ImagingDb.getFramesMeta(spark, sfDir, none).count() === 0)
    assert(ImagingDb.getFilenames(spark, sfDir, none).count() === 0)
  }

  test("ingest flags already-registered datasets") {
    val listing = ImagingModel.frames(spark, sfDir).limit(100)
      .select(lit("NEW-2026-01-01-00-00-00-1").as("dataset_serial"),
        col("file_name"))
    val registered = ImagingModel.dataSet(spark, sfDir)
    val out = SplitterIngest.ingest(listing, registered)
    assert(out.filter(col("already_registered")).count() === 0)
    val dupListing = listing
      .withColumn("dataset_serial",
        lit(registered.select("dataset_serial").head().getString(0)))
    assert(SplitterIngest.ingest(dupListing, registered)
      .filter(!col("already_registered")).count() === 0)
  }
}
