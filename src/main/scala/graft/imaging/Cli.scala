package graft.imaging

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FrameStorage, FrameStorageApi}

/** Thin CLI over the library — the reference's three entry points
  * (imaging_db/cli/query_data.py, data_downloader.py,
  * data_uploader.py) re-expressed as one `main` with subcommands. The
  * semantics live in [[ImagingDb]] / [[DataExport]] /
  * [[SplitterIngest]]; this layer only parses arguments, so a
  * reference CLI user keeps their flag surface:
  *
  *  - `query --dir D [--project_id P] [--microscope M]
  *    [--start_date YYYY-MM-DD] [--end_date YYYY-MM-DD]
  *    [--description S]` — prints matching dataset serials
  *    (query_data.py:10-52, minus `--login`: the connection string is
  *    the table directory here).
  *  - `download --dir D --id SERIAL --dest OUT [--mount M]
  *    [-p|--positions i...] [-t|--times i...] [-c|--channels name...]
  *    [-z|--slices i...] [--no-metadata] [--no-download]` — writes
  *    `OUT/SERIAL/frames_meta.csv` + `global_metadata.json`
  *    (data_downloader.py:13-110; `--no-*` toggles match), plus the
  *    storage manifest (`manifest.csv`). With `--mount M` (the
  *    local-storage mount point, local_storage.py:30-44) it MOVES THE
  *    BYTES: every manifest frame is copied from
  *    `M/raw_frames/SERIAL/` into `OUT/SERIAL/frames/` through
  *    [[graft.sources.FrameStorage.downloadManifest]] — one Spark job
  *    that copies each manifest name by key inside its partition, with
  *    no listing and no driver-side file list.
  *  - `upload --csv F --config F --store OUT` — the uploader contract
  *    (data_uploader.py:19-58): csv rows (dataset_id, file_name,
  *    description), config JSON with upload_type/frames_format;
  *    file_name points at a frame-name listing (one name per line) —
  *    runs the matching splitter twin and writes frames +
  *    global_meta parquet under OUT.
  *
  * Every subcommand runs a few bounded Spark jobs and never collects a
  * fact table (query prints serials — dataset-count rows; download
  * exports one dataset; upload registers the csv's datasets). An
  * upload parses the csv on the driver, then splits every file once in
  * one job that also stores the frames (`--mount`) and writes
  * `frames.parquet`; a second, shuffle-free job aggregates that table
  * into `global_meta.parquet`. A `tif_id` upload runs these two jobs
  * only.
  */
object Cli {

  private val usage =
    """usage:
      |  graft.Cli query    --dir DIR [--project_id P] [--microscope M]
      |                     [--start_date YYYY-MM-DD] [--end_date YYYY-MM-DD]
      |                     [--description S]
      |  graft.Cli download --dir DIR --id SERIAL --dest OUT [--mount M]
      |                     [-p|--positions i ...] [-t|--times i ...]
      |                     [-c|--channels name ...] [-z|--slices i ...]
      |                     [--no-metadata] [--no-download]
      |  graft.Cli upload   --csv FILE --config FILE --store OUT
      |                     [--mount M]
      |""".stripMargin

  /** Flags taking N values (reference nargs='+'). */
  private val multiFlags = Map(
    "-p" -> "positions", "--positions" -> "positions",
    "-t" -> "times", "--times" -> "times",
    "-c" -> "channels", "--channels" -> "channels",
    "-z" -> "slices", "--slices" -> "slices")
  /** Boolean toggles (reference store_false/store_true actions). */
  private val boolFlags = Set("--no-metadata", "--no-download")

  /** argparse's negative-number rule: a '-'-prefixed token is only an
    * option if it isn't shaped like a negative number (argparse
    * applies this because no registered option looks numeric — true
    * here too), so `-p -1 -2` binds the values, `-p 1 -t 2` stops at
    * the real flag.
    */
  private def looksLikeFlag(a: String): Boolean =
    a.startsWith("-") && !a.matches("""-\.?\d.*""")

  /** argparse-shaped parse: `--key value`, `--multi v1 v2 ...`,
    * bare toggles. Returns (scalars, multi-value lists, toggles).
    */
  private[graft] def parseOpts(args: Seq[String])
      : (Map[String, String], Map[String, Seq[String]], Set[String]) = {
    var scalars = Map.empty[String, String]
    var multis = Map.empty[String, Seq[String]]
    var bools = Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) {
      rest = rest match {
        case f :: tail if boolFlags(f) =>
          bools += f.stripPrefix("--"); tail
        case f :: tail if multiFlags.contains(f) =>
          val (vals, next) = tail.span(a => !looksLikeFlag(a))
          require(vals.nonEmpty, s"$f needs at least one value")
          multis += (multiFlags(f) -> (multis.getOrElse(multiFlags(f),
            Seq.empty) ++ vals))
          next
        case f :: v :: tail if f.startsWith("--") =>
          // argparse semantics: a flag-shaped token is NOT a value —
          // binding it would silently swallow the next option
          // (`--dest --no-download` must error, not write to a
          // directory named "--no-download")
          require(!v.startsWith("--"), s"$f needs a value, got $v")
          scalars += (f.stripPrefix("--") -> v); tail
        case bad =>
          throw new IllegalArgumentException(
            s"cannot parse arguments at: ${bad.mkString(" ")}")
      }
    }
    (scalars, multis, bools)
  }

  def main(args: Array[String]): Unit = {
    val code = run(graft.GraftSession.local(), args.toSeq)
    if (code != 0) {
      System.err.println(usage)
      sys.exit(code)
    }
  }

  /** Dispatch; returns a process exit code (testable without exiting). */
  def run(spark: SparkSession, args: Seq[String]): Int =
    try {
      args.headOption match {
        case Some("query") => query(spark, args.tail); 0
        case Some("download") => download(spark, args.tail); 0
        case Some("upload") => upload(spark, args.tail); 0
        case _ => 2
      }
    } catch {
      // the CLI's contract is message + exit code for ANY operational
      // failure (bad flags, nonexistent --dir, unreadable listing) —
      // not a raw stack trace for everything beyond argument errors
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"error: ${e.getMessage}"); 2
    }

  private def req(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))

  /** query_data.py: criteria → matching dataset serials on stdout. */
  private def query(spark: SparkSession, args: Seq[String]): Unit = {
    val (s, _, _) = parseOpts(args)
    val dir = req(s, "dir")
    // cli_utils.py:44-55 validate_date: strict YYYY-MM-DD, a clear
    // message on anything else
    def day(k: String): Option[Timestamp] = s.get(k).map { d =>
      val ld = try java.time.LocalDate.parse(d)
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            "Incorrect data format, should be YYYY-MM-DD") }
      Timestamp.valueOf(ld.atStartOfDay())
    }
    // cli_utils.py:57-68 assert_date_order, applied exactly when both
    // bounds are present (query_data.py:83-86)
    for (sd <- day("start_date"); ed <- day("end_date"))
      require(ed.after(sd),
        s"End date ${s("end_date")} must come after start date " +
          s("start_date"))
    val crit = ImagingDb.SearchCriteria(
      projectId = s.get("project_id"),
      microscope = s.get("microscope"),
      startDate = day("start_date"),
      endDate = day("end_date"),
      description = s.get("description"))
    ImagingDb.getDatasets(spark, dir, crit)
      .select("dataset_serial").collect()
      .foreach(r => println(r.getString(0)))
  }

  /** data_downloader.py: one dataset's metadata export + the storage
    * manifest for the (optionally dimension-filtered) frame subset.
    */
  private def download(spark: SparkSession, args: Seq[String]): Unit = {
    val (s, m, b) = parseOpts(args)
    val dir = req(s, "dir")
    val id = req(s, "id")
    val dest = req(s, "dest")
    val out = s"$dest/$id"
    if (!b("no-metadata")) DataExport.exportMeta(spark, dir, id, out)
    if (!b("no-download")) {
      def ints(k: String) = m.get(k).map(_.map(_.toInt))
      // cached: both the --mount byte copy and the csv write below are
      // actions over this plan — without the cache the manifest join
      // runs twice
      val manifest = ImagingDb.getFilenames(spark, dir, id,
        channelNames = m.get("channels"),
        sliceIds = ints("slices"), timeIds = ints("times"),
        posIds = ints("positions")).cache()
      // real byte movement when the storage mount is given
      // (data_downloader.py's fetch loop): manifest frames copy by
      // name from the dataset's raw_frames directory into OUT/frames
      // in one job — no listing, no driver-side file list
      s.get("mount").foreach { mount =>
        val st = new FrameStorage(mount, s"raw_frames/$id")
        val n = st.downloadManifest(spark,
          manifest.filter(col("storage_dir") === s"raw_frames/$id"),
          s"$out/frames")
        println(s"downloaded $n frames to $out/frames")
      }
      // Spark's csv writer emits a DIRECTORY of part files; the
      // reference data_downloader's contract is a plain FILE at
      // $out/manifest.csv (consumers open that path directly), so
      // write to a temp dir and promote the single part file. The
      // write itself stays distributed — no .collect() on the frame
      // list, the coalesce(1) only merges at the sink.
      val tmpDir = s"$out/_manifest_tmp"
      manifest
        .coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(tmpDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val tmp = new org.apache.hadoop.fs.Path(tmpDir)
      val fs = tmp.getFileSystem(conf)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"manifest write produced no part file under $tmpDir"))
      val target = new org.apache.hadoop.fs.Path(s"$out/manifest.csv")
      if (fs.exists(target)) fs.delete(target, true)
      // Hadoop rename reports failure as false, not an exception — a
      // silent false here would delete the only copy below
      require(fs.rename(part, target),
        s"could not promote $part to $target")
      fs.delete(tmp, true)
      manifest.unpersist()
    }
  }

  /** The upload csv's (dataset_id, file_name) pairs, one per data row.
    * An operator-sized file, so the driver parses it (RFC 4180 quoting:
    * a quoted field may hold commas) and finds both columns by header
    * name; a missing column or value and a header-only file are errors.
    */
  private[graft] def uploadRows(csv: String): Seq[(String, String)] = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings()
    settings.setLineSeparatorDetectionEnabled(true)
    settings.getFormat.setComment('\u0000')
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    val all = new com.univocity.parsers.csv.CsvParser(settings)
      .parseAll(Files.newBufferedReader(Paths.get(csv)))
    require(all.size > 1, s"upload csv has no data rows: $csv")
    val header = all.get(0).toSeq
    val Seq(id, file) = Seq("dataset_id", "file_name").map { c =>
      val i = header.indexOf(c)
      require(i >= 0, s"upload csv has no $c column: $csv")
      i
    }
    (1 until all.size).map { n =>
      val Seq(serial, name) = Seq(id, file).map { i =>
        val v = all.get(n).lift(i).orNull
        require(v != null && v.nonEmpty,
          s"upload csv row $n has no ${header(i)}: $csv")
        v
      }
      (serial, name)
    }
  }

  /** data_uploader.py: csv of datasets + config JSON → splitter twin
    * → frames + global_meta parquet under --store.
    */
  private def upload(spark: SparkSession, args: Seq[String]): Unit = {
    val (s, _, _) = parseOpts(args)
    val csv = req(s, "csv")
    val config = req(s, "config")
    val store = req(s, "store")
    require(Files.exists(Paths.get(csv)), s"File doesn't exist: $csv")
    require(Files.exists(Paths.get(config)), s"File doesn't exist: $config")
    // the reference's json.load: parsed on the driver, and malformed
    // JSON is an error, not a silent fall-back to the defaults
    val cfg = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readTree(Files.readString(Paths.get(config)))
    require(cfg.isObject, s"config is not a JSON object: $config")
    def cfgKey(k: String, default: String): String = Option(cfg.get(k))
      .filterNot(_.isNull).fold(default)(_.asText.toLowerCase)
    val uploadType = cfgKey("upload_type", "frames")
    require(Set("frames", "file")(uploadType),
      s"upload_type must be frames or file, got $uploadType")
    val format = cfgKey("frames_format", "sms_name")
    val rows = uploadRows(csv)
    import spark.implicits._
    // one listing per csv row (reference: one splitter run per
    // dataset), each line as column `lineCol`; rows-per-upload is
    // operator-bounded, not corpus-scale
    def listing(lineCol: String): DataFrame = rows.map { case (serial, file) =>
      spark.read.text(file).select(
        lit(serial).as("dataset_serial"), col("value").as(lineCol))
    }.reduce(_ unionByName _)
    // the byte-level splitters' terminal step (data_uploader
    // upload_frames): with --mount each frame's PNG lands in its own
    // dataset's storage inside the task that split it, and only the
    // payload-free metadata rows go on to the frames table
    def stored(frames: DataFrame): DataFrame =
      s.get("mount").fold(frames.drop("payload")) { mount =>
        FrameStorageApi.writeThrough(frames, rows.map { case (serial, _) =>
          serial -> new FrameStorage(mount, s"raw_frames/$serial")
        }.toMap)
      }.withColumn("already_registered", lit(false))
    // dispatch to the declared splitter twin — each format's input
    // shape follows the reference: a frame-name listing for sms_name,
    // per-page MicroManagerMetadata JSON lines for ome_tiff, the
    // multi-page tiff FILE itself for tif_id, the dataset FOLDER
    // (single-page *.tif + metadata.txt) for tif_folder — all four of
    // get_splitter_class's formats dispatch from config alone
    // the reference accepts spelling aliases per format
    // (aux_utils.py:31-60 get_splitter_class: ome_tif/tiff →
    // OmeTiffSplitter, tiff_id → TifIDSplitter, tiff_folder →
    // TifFolderSplitter)
    val canonical = format match {
      case "ome_tif" | "tiff" => "ome_tiff"
      case "tiff_id" => "tif_id"
      case "tiff_folder" => "tif_folder"
      case f => f
    }
    val parsed = canonical match {
      case "sms_name" => SplitterIngest.ingest(listing("file_name"),
        Seq.empty[String].toDF("dataset_serial"))
      case "ome_tiff" =>
        SplitterIngest.parseMetadata(listing("metadata_json"))
          .withColumn("already_registered", lit(false))
      case "tif_id" =>
        // the csv's file_name IS the multi-page tiff: real byte-level
        // split (tif_id_splitter.py get_frames_and_metadata) — pages
        // decode on executors and payloads re-encode as PNG
        val tiffs = rows.map { case (serial, path) =>
          require(Files.exists(Paths.get(path)),
            s"File doesn't exist: $path")
          spark.read.format("binaryFile").load(path)
            .select(lit(serial).as("dataset_serial"), col("content"))
        }.reduce(_ unionByName _)
        stored(SplitterIngest.splitTiff(spark, tiffs).toDF())
      case "tif_folder" =>
        // the csv's file_name IS the dataset folder
        // (tiffolder_splitter.py:236-305 get_frames_and_metadata):
        // single-page *.tif frames named SMS-style, frame info from
        // the folder's metadata.txt Summary — real byte-level split
        val folders = rows.map { case (serial, folder) =>
          require(Files.isDirectory(Paths.get(folder)),
            s"Folder doesn't exist: $folder")
          val metaPath = Paths.get(folder, "metadata.txt")
          require(Files.exists(metaPath),
            s"File doesn't exist: $metaPath")
          (serial, folder, Files.readString(metaPath))
        }
        val listing = folders.map { case (serial, folder, _) =>
          spark.read.format("binaryFile").load(s"$folder/*.tif")
            .select(lit(serial).as("dataset_serial"),
              col("path").as("file_path"), col("content"))
        }.reduce(_ unionByName _)
        val summaries = folders.toSeq
          .map { case (serial, _, meta) => (serial, meta) }
          .toDF("dataset_serial", "summary_json")
        stored(SplitterIngest.splitFolder(spark, listing, summaries))
      case other => throw new IllegalArgumentException(
        s"frames_format '$other' is not a reference splitter format " +
          "(supported: sms_name, ome_tiff, tif_id, tif_folder)")
    }
    val framesPath = s"$store/frames.parquet"
    parsed.write.mode("overwrite").parquet(framesPath)
    // from the table just written: re-running the splitter plan would
    // decode and encode every page again
    SplitterIngest.globalMetaFromFrames(
        spark.read.schema(parsed.schema).parquet(framesPath))
      .write.mode("overwrite").parquet(s"$store/global_meta.parquet")
  }
}
