package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.Cli

/** The CLI surface (cli/query_data.py, data_downloader.py,
  * data_uploader.py twins): flag parsing, dispatch, and that each
  * subcommand produces the same artifacts as the underlying library
  * call it wraps.
  */
class CliSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  private val sfDir = TestSpark.sfDir

  private def captureOut(body: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8")
  }

  test("query prints exactly the serials getDatasets returns") {
    val crit = graft.imaging.ImagingDb.SearchCriteria(
      projectId = Some("PRJ3"),
      description = Some("URGENT"))
    val expected = graft.imaging.ImagingDb
      .getDatasets(spark, sfDir, crit)
      .select("dataset_serial").collect().map(_.getString(0))
    assert(expected.nonEmpty, "test criteria must match something")
    val out = capturedLines(Seq("query", "--dir", sfDir,
      "--project_id", "PRJ3", "--description", "URGENT"))
    assert(out.toSeq == expected.toSeq)
  }

  test("query date-range flags filter like the library call") {
    val out = capturedLines(Seq("query", "--dir", sfDir,
      "--start_date", "1995-06-01", "--end_date", "1995-06-30"))
    val expected = graft.imaging.ImagingDb.getDatasets(spark, sfDir,
        graft.imaging.ImagingDb.SearchCriteria(
          startDate = Some(java.sql.Timestamp.valueOf("1995-06-01 00:00:00")),
          endDate = Some(java.sql.Timestamp.valueOf("1995-06-30 00:00:00"))))
      .select("dataset_serial").collect().map(_.getString(0))
    assert(out.toSeq == expected.toSeq)
  }

  test("query validates date format and date order (cli_utils parity)") {
    // end before start → assert_date_order trips (exit 2, not a crash)
    assert(Cli.run(spark, Seq("query", "--dir", sfDir,
      "--start_date", "1995-06-30", "--end_date", "1995-06-01")) == 2)
    // malformed date → validate_date's message path (exit 2)
    assert(Cli.run(spark, Seq("query", "--dir", sfDir,
      "--start_date", "1995/06/01")) == 2)
    // equal dates also fail: the reference asserts strictly-after
    assert(Cli.run(spark, Seq("query", "--dir", sfDir,
      "--start_date", "1995-06-01", "--end_date", "1995-06-01")) == 2)
  }

  private def capturedLines(args: Seq[String]): Array[String] = {
    var lines = Array.empty[String]
    val txt = captureOut {
      assert(Cli.run(spark, args) == 0)
    }
    lines = txt.split("\n").filter(_.nonEmpty)
    lines
  }

  test("download writes metadata export + filtered manifest") {
    val serial = graft.imaging.ImagingDb.getDatasets(spark, sfDir)
      .select("dataset_serial").head().getString(0)
    val dest = tempDir("cli_dl").toString
    assert(Cli.run(spark, Seq("download", "--dir", sfDir,
      "--id", serial, "--dest", dest, "-c", "DAPI", "GFP")) == 0)
    assert(Files.exists(Paths.get(s"$dest/$serial/global_metadata.json")))
    assert(Files.exists(Paths.get(s"$dest/$serial/frames_meta.csv")))
    // the reference's file contract: manifest.csv is a plain FILE a
    // consumer opens directly, not a Spark part-file directory
    assert(Files.isRegularFile(Paths.get(s"$dest/$serial/manifest.csv")))
    assert(!Files.exists(Paths.get(s"$dest/$serial/_manifest_tmp")))
    val manifest = spark.read.option("header", "true")
      .csv(s"$dest/$serial/manifest.csv")
    val expected = graft.imaging.ImagingDb.getFilenames(spark, sfDir,
      serial, channelNames = Some(Seq("DAPI", "GFP"))).count()
    assert(manifest.count() == expected)
  }

  test("download --mount moves real bytes from the frame store") {
    import org.apache.spark.sql.functions.{col, expr}
    val serial = graft.imaging.ImagingDb.getDatasets(spark, sfDir)
      .filter(col("frames"))
      .select("dataset_serial").head().getString(0)
    // populate local storage for that dataset (the upload side)
    val mount = tempDir("cli_mount").toString
    val framed = graft.multimodal.BinaryFrames.withPayload(spark, sfDir)
      .join(graft.imaging.ImagingModel.dataSet(spark, sfDir)
        .filter(col("dataset_serial") === serial)
        .select(col("id").as("ds_id")),
        expr("frame_id div 10") === col("ds_id"))
    val st = new graft.sources.FrameStorage(mount, s"raw_frames/$serial")
    st.uploadFrames(framed)
    // CLI download with the mount: bytes must land under dest/frames
    val dest = tempDir("cli_dl3").toString
    assert(Cli.run(spark, Seq("download", "--dir", sfDir,
      "--id", serial, "--dest", dest, "--mount", mount)) == 0)
    val out = Paths.get(s"$dest/$serial/frames")
    assert(Files.exists(out))
    val fetched = Files.list(out).count()
    val expected = spark.read.option("header", "true")
      .csv(s"$dest/$serial/manifest.csv")
      .filter(col("storage_dir") === s"raw_frames/$serial").count()
    assert(fetched === expected && fetched > 0)
  }

  test("multi-flag values may be negative numbers (argparse parity)") {
    // argparse treats '-1' as a value when no option looks numeric;
    // the span must not stop at it (indices are non-negative today,
    // but the flag surface shouldn't reject argparse-legal input)
    val (_, m, _) = Cli.parseOpts(Seq(
      "-p", "-1", "2", "-t", "3", "--slices", "-2.5", "0"))
    assert(m("positions") == Seq("-1", "2"))
    assert(m("times") == Seq("3"))
    assert(m("slices") == Seq("-2.5", "0"))
    // real flags still terminate the span
    intercept[IllegalArgumentException] {
      Cli.parseOpts(Seq("-p", "--no-download"))
    }
  }

  test("download --no-download/--no-metadata skip their artifacts") {
    val serial = graft.imaging.ImagingDb.getDatasets(spark, sfDir)
      .select("dataset_serial").head().getString(0)
    val dest = tempDir("cli_dl2").toString
    assert(Cli.run(spark, Seq("download", "--dir", sfDir,
      "--id", serial, "--dest", dest, "--no-download")) == 0)
    assert(Files.exists(Paths.get(s"$dest/$serial/global_metadata.json")))
    assert(!Files.exists(Paths.get(s"$dest/$serial/manifest.csv")))
  }

  test("upload runs the splitter twin over the csv's listings") {
    val tmp = tempDir("cli_up")
    val listing = tmp.resolve("frames.txt")
    Files.writeString(listing,
      (for (c <- 0 to 1; z <- 0 to 2; t <- 0 to 1)
        yield f"im_c$c%03d_z$z%03d_t$t%03d_p000_7_1.png")
        .mkString("\n"))
    val csv = tmp.resolve("upload.csv")
    Files.writeString(csv,
      s"dataset_id,file_name,description\nUP-2026-01-01-00-00-00-0001,$listing,test\n")
    val cfg = tmp.resolve("config.json")
    Files.writeString(cfg,
      """{"upload_type": "frames", "frames_format": "sms_name"}""")
    val store = tmp.resolve("store").toString
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", store)) == 0)
    val frames = spark.read.parquet(s"$store/frames.parquet")
    assert(frames.count() == 12)
    val gm = spark.read.parquet(s"$store/global_meta.parquet").head()
    assert(gm.getAs[Long]("nbr_frames") == 12)
    assert(gm.getAs[Long]("nbr_channels") == 2)
    assert(gm.getAs[Long]("nbr_slices") == 3)
    assert(gm.getAs[Long]("nbr_timepoints") == 2)
  }

  test("upload dispatches ome_tiff listings to the metadata splitter") {
    val tmp = tempDir("cli_up_ome")
    val listing = tmp.resolve("pages.txt")
    Files.writeString(listing,
      (for (c <- 0 to 1; z <- 0 to 1) yield
        s"""{"MicroManagerMetadata":{"ChannelIndex":$c,"Slice":$z,""" +
          s""""FrameIndex":0,"PositionIndex":0,"Channel":"ch$c"}}""")
        .mkString("\n"))
    val csv = tmp.resolve("upload.csv")
    Files.writeString(csv,
      s"dataset_id,file_name,description\nOME-2026-01-01-00-00-00-0001,$listing,t\n")
    val cfg = tmp.resolve("config.json")
    Files.writeString(cfg,
      """{"upload_type": "frames", "frames_format": "ome_tiff"}""")
    val store = tmp.resolve("store").toString
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", store)) == 0)
    val frames = spark.read.parquet(s"$store/frames.parquet")
    assert(frames.count() == 4)
    // channel names came from the JSON, generated names from indices
    assert(frames.filter(col("channel_name") === "ch1").count() == 2)
    assert(frames.filter(
      col("file_name") === "im_c001_z001_t000_p000.png").count() == 1)
  }

  test("upload config: frames_format defaults to sms_name and values " +
      "lower-case; malformed JSON is an error") {
    val tmp = tempDir("cli_up_cfg")
    val listing = tmp.resolve("frames.txt")
    Files.writeString(listing,
      (0 to 2).map(z => f"im_c000_z$z%03d_t000_p000.png").mkString("\n"))
    val csv = tmp.resolve("upload.csv")
    Files.writeString(csv,
      s"dataset_id,file_name,description\nCFG-2026-01-01-00-00-00-0001,$listing,t\n")
    def upload(config: String): Int = {
      val cfg = Files.writeString(tmp.resolve("config.json"), config)
      Cli.run(spark, Seq("upload", "--csv", csv.toString,
        "--config", cfg.toString, "--store", tmp.resolve("store").toString))
    }
    // no frames_format: the sms_name splitter runs; upload_type is
    // matched lower-cased
    assert(upload("""{"upload_type": "FRAMES"}""") == 0)
    assert(spark.read.parquet(s"$tmp/store/frames.parquet")
      .filter(col("slice_idx") === 2).count() == 1)
    assert(upload("""{"upload_type": "frames", "frames_format": "SMS_NAME"}""") == 0)
    // the reference's json.load raises on malformed JSON; defaults are
    // not a fall-back for a broken config
    assert(upload("""{"upload_type": "frames", "frames_format": "sms_name"""") == 2)
    assert(upload("""{"upload_type": "frames"} trailing""") == 2)
    assert(upload("") == 2)
  }

  test("upload csv columns are found by header name; a quoted field may " +
      "hold a comma") {
    val tmp = tempDir("cli_up_csv")
    val listing = tmp.resolve("frames.txt")
    Files.writeString(listing,
      (0 to 3).map(z => f"im_c000_z$z%03d_t000_p000.png").mkString("\n"))
    val serial = "CSV-2026-01-01-00-00-00-0001"
    val csv = tmp.resolve("upload.csv")
    // RFC 4180: the description is quoted, holds a comma and a doubled
    // quote, and sits before the two columns the upload reads
    Files.writeString(csv, "description,file_name,dataset_id\n" +
      "\"plate 1, well \"\"A\"\"\"," + s"$listing,$serial\n")
    assert(Cli.uploadRows(csv.toString) === Seq(serial -> listing.toString))
    val cfg = Files.writeString(tmp.resolve("config.json"),
      """{"upload_type": "frames", "frames_format": "sms_name"}""")
    val store = tmp.resolve("store").toString
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", store)) == 0)
    val frames = spark.read.parquet(s"$store/frames.parquet")
    assert(frames.count() == 4)
    assert(frames.select("dataset_serial").distinct().collect()
      .map(_.getString(0)).toSeq === Seq(serial))
  }

  test("upload csv without a file_name column or data rows is an error") {
    val tmp = tempDir("cli_up_nocol")
    val cfg = Files.writeString(tmp.resolve("config.json"),
      """{"upload_type": "frames", "frames_format": "sms_name"}""")
    def upload(body: String): Int = {
      val csv = Files.writeString(tmp.resolve("upload.csv"), body)
      Cli.run(spark, Seq("upload", "--csv", csv.toString,
        "--config", cfg.toString, "--store", tmp.resolve("s").toString))
    }
    val missing = "dataset_id,description\nNOCOL-0001,t\n"
    assert(upload(missing) == 2)
    val e = intercept[IllegalArgumentException](
      Cli.uploadRows(tmp.resolve("upload.csv").toString))
    assert(e.getMessage.contains("no file_name column"))
    assert(upload("dataset_id,file_name\n") == 2)
    assert(!Files.exists(tmp.resolve("s")))
  }

  test("upload rejects formats the CLI cannot honestly run") {
    val tmp = tempDir("cli_up_bad")
    val listing = tmp.resolve("l.txt")
    Files.writeString(listing, "whatever.tif")
    val csv = tmp.resolve("u.csv")
    Files.writeString(csv, s"dataset_id,file_name\nX,$listing\n")
    val cfg = tmp.resolve("c.json")
    Files.writeString(cfg,
      """{"upload_type": "frames", "frames_format": "tif_folder"}""")
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", tmp.resolve("s").toString)) == 2)
  }

  test("bad arguments exit 2, unknown subcommand exits 2") {
    assert(Cli.run(spark, Seq("query")) == 2) // missing --dir
    assert(Cli.run(spark, Seq("download", "--dir", sfDir)) == 2)
    assert(Cli.run(spark, Seq("nonsense")) == 2)
    assert(Cli.run(spark, Seq.empty) == 2)
    // a flag-shaped token is not a value (argparse semantics) — this
    // must error, not write into a directory named "--no-download"
    assert(Cli.run(spark, Seq("download", "--dir", sfDir,
      "--id", "X", "--dest", "--no-download")) == 2)
    // operational failures keep the exit-code contract too
    assert(Cli.run(spark, Seq("query", "--dir", "/no/such/dir")) == 2)
  }
}
