package graft.imaging

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{ImageCodec, TiffCodec}

/** Upload-path twin (SURVEY.md §2.5): the reference's splitter pipeline
  * (file_splitter.py + filename_parsers.py) as one distributed batch
  * job — from a listing of frame file names to registered frames rows
  * plus per-dataset global metadata, the two tables insert_frames
  * (db_operations.py:145-215) writes.
  *
  * At 100 TB this is the ingest shape: the listing is a dataframe (from
  * object-store inventory), parsing is pure column work, and the
  * per-dataset metadata aggregate runs over one upload's payload-free
  * rows in one partition, with no shuffle.
  */
object SplitterIngest {

  /** parse_idx_from_name (filename_parsers.py:83-117): extract the four
    * c/z/t/p integers from `im_c###_z###_t###_p###*.ext` names.
    * Input: (dataset_serial, file_name). Output adds channel_idx,
    * slice_idx, time_idx, pos_idx, channel_name.
    */
  def parseIndices(listing: DataFrame): DataFrame =
    listing
      // digit-RUN extraction per token, like the reference's
      // re.findall(r'\d+') — robust to the extension riding on the
      // last token (`p003.png`) and to suffixed names alike
      .withColumn("channel_idx",
        expr("cast(regexp_extract(split_part(file_name, '_', 2), '[0-9]+', 0) as int)"))
      .withColumn("slice_idx",
        expr("cast(regexp_extract(split_part(file_name, '_', 3), '[0-9]+', 0) as int)"))
      .withColumn("time_idx",
        expr("cast(regexp_extract(split_part(file_name, '_', 4), '[0-9]+', 0) as int)"))
      .withColumn("pos_idx",
        expr("cast(regexp_extract(split_part(file_name, '_', 5), '[0-9]+', 0) as int)"))
      .withColumn("channel_name", col("channel_idx").cast("string"))

  /** OME-TIFF ingest twin — ometif_splitter.py split_file +
    * json_operations.py get_metadata_from_tags: the four indices and
    * the channel NAME come from each page's embedded
    * MicroManagerMetadata JSON (schema-driven field pull), not from
    * the file name; the frame file name is then GENERATED in the
    * `im_c###_z###_t###_p###` convention (file_splitter.py
    * _get_imname), exactly the reverse of [[parseIndices]].
    * Input: (dataset_serial, metadata_json). Output matches
    * [[parseIndices]]' column set plus the generated file_name, so
    * [[globalMetaFromFrames]] and [[ingest]]'s uniqueness audit are
    * shared verbatim between the filename-parse and metadata ingest
    * paths. All JSON-path extraction is per-row column work — the
    * listing never shuffles.
    */
  def parseMetadata(listing: DataFrame): DataFrame = {
    def fld(k: String) =
      get_json_object(col("metadata_json"), s"$$.MicroManagerMetadata.$k")
    listing
      .withColumn("channel_idx", fld("ChannelIndex").cast("int"))
      .withColumn("slice_idx", fld("Slice").cast("int"))
      .withColumn("time_idx", fld("FrameIndex").cast("int"))
      .withColumn("pos_idx", fld("PositionIndex").cast("int"))
      .withColumn("channel_name", fld("Channel"))
      .withColumn("file_name", imName)
  }

  /** The generated frame file name — file_splitter.py `_get_imname`:
    * `im_c###_z###_t###_p###.png` from the four index columns.
    */
  private def imName: org.apache.spark.sql.Column = concat(
    lit("im_c"), lpad(col("channel_idx").cast("string"), 3, "0"),
    lit("_z"), lpad(col("slice_idx").cast("string"), 3, "0"),
    lit("_t"), lpad(col("time_idx").cast("string"), 3, "0"),
    lit("_p"), lpad(col("pos_idx").cast("string"), 3, "0"),
    lit(".png"))

  /** The global metadata the splitter assembles per dataset
    * (file_splitter.py set_global_meta): frame counts and per-dimension
    * cardinalities, validated the way meta_utils.validate_global_meta
    * requires every field present. A cardinality counts the distinct
    * non-null indices, as `countDistinct` does.
    *
    * One upload's payload-free frames rows are bounded by what its
    * operator uploads (the csv's datasets times their pages), so they
    * are aggregated in ONE partition: the grouping needs no exchange and
    * each cardinality is the size of a per-group set rather than a
    * distinct aggregate, which Spark would plan as an Expand plus two
    * exchanges. The aggregate adds no job to the one that writes it.
    */
  def globalMetaFromFrames(parsed: DataFrame): DataFrame = {
    def cardinality(c: String) = size(collect_set(col(c))).cast("long")
    parsed.coalesce(1).groupBy("dataset_serial")
      .agg(
        count(lit(1)).as("nbr_frames"),
        cardinality("slice_idx").as("nbr_slices"),
        cardinality("channel_idx").as("nbr_channels"),
        cardinality("time_idx").as("nbr_timepoints"),
        cardinality("pos_idx").as("nbr_positions"))
  }

  /** Full ingest: listing → parsed frames + global meta, with the
    * insert-time uniqueness check (assert_unique_id) as an audit
    * column: datasets already registered are flagged, not inserted.
    */
  def ingest(listing: DataFrame, registered: DataFrame): DataFrame = {
    val parsed = parseIndices(listing)
    val existing = registered.select(col("dataset_serial").as("reg_serial"))
      .distinct()
    parsed.join(broadcast(existing),
        col("dataset_serial") === col("reg_serial"), "left")
      .withColumn("already_registered", col("reg_serial").isNotNull)
      .drop("reg_serial")
  }

  /** Frame info from a folder's metadata.txt Summary record —
    * TifFolderSplitter.set_frame_info (tiffolder_splitter.py:43-66):
    * PixelType containing "GRAY" → im_colors 1, anything else → 3
    * (RGB); BitDepth 16/8 → uint16/uint8, any other value is the
    * reference's ValueError — surfaced here as bit_depth NULL +
    * valid_bit_depth=false so one bad folder flags instead of killing
    * a 100 TB ingest job. Input: (dataset_serial, summary_json) where
    * summary_json is the metadata.txt content. One json_tuple pulls
    * all four fields in a single parse.
    */
  def frameInfoFromSummary(summaries: DataFrame): DataFrame =
    summaries
      .withColumn("s", get_json_object(col("summary_json"), "$.Summary"))
      .select(col("*"),
        json_tuple(col("s"), "PixelType", "BitDepth", "Width", "Height")
          .as(Seq("px_type", "bd_raw", "w_raw", "h_raw")))
      .select(
        col("dataset_serial"),
        col("w_raw").cast("int").as("im_width"),
        col("h_raw").cast("int").as("im_height"),
        when(instr(col("px_type"), "GRAY") > 0, 1).otherwise(3)
          .as("im_colors"),
        when(col("bd_raw").cast("int") === 16, "uint16")
          .when(col("bd_raw").cast("int") === 8, "uint8")
          .as("bit_depth"))
      .withColumn("valid_bit_depth", col("bit_depth").isNotNull)

  /** TifFolderSplitter ingest twin — the folder-layout upload
    * (tiffolder_splitter.py:236-305 get_frames_and_metadata): one
    * folder per dataset, `*.tif` frames named in the SMS style
    * (`img_<channel>_<t/p/z tokens>.tif`, channel may carry
    * underscores), frame info from the folder's metadata.txt.
    *
    * Input: `listing` (dataset_serial, file_path) and `summaries`
    * (dataset_serial, summary_json). Output: one row per frame with
    * the parsed indices, the channel_idx assigned by FIRST-SEEN order
    * of the channel name within its folder (the reference's expanding
    * channel_names list over name-sorted files), the generated
    * `im_c###_z###_t###_p###` db file name (_get_imname), and the
    * folder's frame info. Parsing is per-row column work; the only
    * shuffles are the tiny per-(dataset, channel) census and its
    * broadcast join back.
    */
  def parseFolder(listing: DataFrame, summaries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val named = listing
      .withColumn("src_name", expr("element_at(split(file_path, '/'), -1)"))
    val parsed = SmsTokens.parse(named, "src_name")
    // first-seen channel indexing: census one row per (dataset,
    // channel) ranked by the first file introducing the channel —
    // dense_rank over the census only, never the frame rows
    val census = parsed.groupBy("dataset_serial", "channel_name")
      .agg(min("src_name").as("first_file"))
      .withColumn("channel_idx",
        (dense_rank().over(Window.partitionBy("dataset_serial")
          .orderBy("first_file")) - 1).cast("int"))
      .select("dataset_serial", "channel_name", "channel_idx")
    parsed.join(broadcast(census), Seq("dataset_serial", "channel_name"))
      .join(broadcast(frameInfoFromSummary(summaries)),
        Seq("dataset_serial"), "left")
      .select(col("dataset_serial"), col("src_name"),
        col("channel_idx"), col("channel_name"),
        col("slice_idx"), col("time_idx"), col("pos_idx"),
        imName.as("file_name"),
        col("im_width"), col("im_height"), col("im_colors"),
        col("bit_depth"), col("valid_bit_depth"))
  }

  /** TifID splitter ingest twin — tif_id_splitter.py:36-92: frame info
    * from the first page's tif tags plus the ImageJ ImageDescription
    * param string, for stacks with no per-page metadata.
    *
    * Input: one row per tif FILE with (dataset_serial, nbr_frames,
    * im_description, samples_per_pixel, bits_per_sample, image_length,
    * image_width). Per set_frame_info: im_colors = SamplesPerPixel;
    * BitsPerSample 16 → uint16, 8 → uint8, 32 → uint16 with
    * float2uint=true (the reference's float-to-uint16 conversion
    * path), else invalid (NULL + flag, the batch form of its
    * ValueError). Per _get_params_from_str: the description is
    * newline-separated `key=value` lines; `channels`, `frames`
    * (= timepoints), `slices`, `positions` each default to 1 when
    * absent.
    *
    * Each file then explodes into its nbr_frames frame rows with
    * indices assigned in the reference's declared acquisition order
    * (tif_id_splitter.py:138-144 itertools.product(time, pos, slice,
    * channel) — channel fastest), i.e. the mixed-radix decomposition
    * of the page number. Pure per-row column work + one bounded
    * explode; nothing shuffles.
    */
  /** One split frame from a real TIFF byte stream: the metadata row
    * [[parseTifId]] derives plus the page's pixels re-encoded as the
    * PNG payload the storage layer keeps (file_splitter.py uploads
    * `im_stack` pages as `.png`). `sha256` is over the page's
    * canonical big-endian sample bytes — the frames-table dedup hash.
    */
  case class TiffFrame(dataset_serial: String, page_idx: Int,
    channel_idx: Int, slice_idx: Int, time_idx: Int, pos_idx: Int,
    file_name: String, im_width: Int, im_height: Int, im_colors: Int,
    bit_depth: String, sha256: String, payload: Array[Byte])

  /** BYTE-LEVEL TifID ingest — the part of tif_id_splitter.py the
    * metadata twin [[parseTifId]] could not cover: actually reading
    * the multi-page TIFF (`tifffile.TiffFile(...)`,
    * tif_id_splitter.py:111-157) and splitting it into per-frame PNG
    * payloads. Frame info comes from each page's own tags
    * (set_frame_info: SamplesPerPixel → im_colors, BitsPerSample →
    * bit_depth, ImageLength/Width); the c/z/t/p indices from the
    * FIRST page's ImageDescription `key=value` dims in the declared
    * acquisition order (channel fastest — the same mixed radix as
    * [[parseTifId]]).
    *
    * Shape at 100 TB: one TIFF file = one row (binaryFile source),
    * the codec loop is per-partition executor work (the
    * [[graft.multimodal.BinaryFrames]] mapPartitions shape), frames
    * fan out with no shuffle at all. `files`: (dataset_serial,
    * content).
    */
  def splitTiff(spark: SparkSession, files: DataFrame): Dataset[TiffFrame] = {
    import spark.implicits._
    files.select(col("dataset_serial"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (serial, bytes) =>
          val pages = TiffCodec.readPages(bytes)
          val dims = dimsFromDescription(pages.head.imageDescription)
          val (nc, nt, ns, np) = dims
          pages.zipWithIndex.map { case (p, i) =>
            val channel = i % nc
            val slice = (i / nc) % ns
            val pos = (i / (nc * ns)) % np
            val time = (i / (nc * ns * np)) % nt
            val isFloat = p.sampleFormat == 3
            val (payload, sha) = encodePage(p)
            val ext = if (isFloat) "raw" else "png"
            val name =
              f"im_c$channel%03d_z$slice%03d_t$time%03d_p$pos%03d.$ext"
            TiffFrame(serial, i, channel, slice, time, pos, name,
              p.width, p.height, p.samplesPerPixel,
              if (isFloat) "float32"
              else if (p.bitsPerSample == 16) "uint16" else "uint8",
              sha, payload)
          }
        }
      }
  }

  /** BYTE-LEVEL TifFolder ingest — the part of tiffolder_splitter.py
    * the metadata twin [[parseFolder]] could not cover: actually
    * reading each single-page `*.tif` in the dataset folder
    * (serialize_upload, tiffolder_splitter.py:107-160) and
    * re-encoding its pixels as the PNG payload frame storage keeps.
    * Metadata comes from [[parseFolder]] (SMS-style names + the
    * folder's metadata.txt Summary); `sha256` is over the page's
    * canonical big-endian sample bytes — the frames-table dedup hash,
    * the [[splitTiff]] convention.
    *
    * Shape at 100 TB: one frame file = one row (binaryFile source),
    * the codec loop is per-partition executor work, and the only
    * shuffle is the (dataset, src_name)-keyed join of the metadata
    * rows onto their payloads — both sides corpus-sized but uniformly
    * keyed. `files`: (dataset_serial, file_path, content).
    */
  def splitFolder(spark: SparkSession, files: DataFrame,
      summaries: DataFrame): DataFrame = {
    import spark.implicits._
    val parsed = parseFolder(
      files.select("dataset_serial", "file_path"), summaries)
    val payloads = files
      .select(col("dataset_serial"),
        expr("element_at(split(file_path, '/'), -1)").as("src_name"),
        col("content"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it => it.map { case (serial, name, bytes) =>
        val p = TiffCodec.readPages(bytes).head
        // folder frames are stored as .png (BitDepth 8/16,
        // tiffolder_splitter.py set_frame_info): no float payloads
        require(p.sampleFormat != 3, s"$name: float32 page in a tif folder")
        val (payload, sha) = encodePage(p)
        (serial, name, sha, payload)
      }}
      .toDF("dataset_serial", "src_name", "sha256", "payload")
    parsed.join(payloads, Seq("dataset_serial", "src_name"))
  }

  /** One decoded page → (payload, sha256 hex): the stored payload and
    * the frames-table dedup hash (file_splitter.py `_generate_hash`).
    * Integer pages re-encode as PNG (the reference's frame format) and
    * hash their canonical big-endian 16-bit sample bytes; float pages
    * (SampleFormat 3, no lossless PNG mapping) keep their raw
    * little-endian IEEE bits as the opaque payload, typed by
    * bit_depth, and hash those bits.
    */
  private def encodePage(p: TiffCodec.TiffPage): (Array[Byte], String) = {
    val n = p.samples.length
    val (payload, canonical) = (p.samplesPerPixel, p.bitsPerSample) match {
      case (1, 32) if p.sampleFormat == 3 =>
        val raw = java.nio.ByteBuffer.allocate(4 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < n) { raw.putInt(p.samples(j)); j += 1 }
        (raw.array, raw.array)
      case (ch, bits) =>
        val png = (ch, bits) match {
          case (1, 8) => ImageCodec.encodeGray8(p.samples.map(_.toByte),
            p.width, p.height)
          case (1, 16) => ImageCodec.encodeGray16(p.samples,
            p.width, p.height)
          case (3, 8) => ImageCodec.encodeRgb8(p.samples.map(_.toByte),
            p.width, p.height)
          case (3, 16) => ImageCodec.encodeRgb16(p.samples,
            p.width, p.height)
        }
        val be = java.nio.ByteBuffer.allocate(2 * n)
        var j = 0
        while (j < n) { be.putShort(p.samples(j).toShort); j += 1 }
        (png, be.array)
    }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical).map(b => f"${b & 0xff}%02x").mkString
    (payload, sha)
  }

  /** tif_id_splitter._get_params_from_str: newline-separated
    * `key=value` dims off the ImageJ ImageDescription, each defaulting
    * to 1 ("frames" = timepoints). Executor-side, no Spark types.
    */
  private def dimsFromDescription(
      desc: Option[String]): (Int, Int, Int, Int) = {
    val kv = desc.iterator.flatMap(_.split("\n")).flatMap { line =>
      val i = line.indexOf('=')
      // reference: s.find(key) == 0 — the key must LEAD the line
      if (i > 0) Some(line.substring(0, i).trim -> line.substring(i + 1).trim)
      else None
    }.toMap
    def dim(k: String) = kv.get(k)
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(_ > 0).getOrElse(1)
    (dim("channels"), dim("frames"), dim("slices"), dim("positions"))
  }

  def parseTifId(files: DataFrame): DataFrame = {
    // line must START with the key (reference: s.find(key) == 0)
    def dim(key: String) = coalesce(
      expr(s"try_cast(nullif(regexp_extract(im_description, " +
        s"'(?m)^$key=([0-9]+)', 1), '') as int)"),
      lit(1))
    files
      .withColumn("nbr_channels", dim("channels"))
      .withColumn("nbr_timepoints", dim("frames"))
      .withColumn("nbr_slices", dim("slices"))
      .withColumn("nbr_positions", dim("positions"))
      .withColumn("im_colors", col("samples_per_pixel").cast("int"))
      .withColumn("bit_depth",
        when(col("bits_per_sample").isin(16, 32), "uint16")
          .when(col("bits_per_sample") === 8, "uint8"))
      .withColumn("float2uint", col("bits_per_sample") === 32)
      .withColumn("valid_bit_depth", col("bit_depth").isNotNull)
      // a zero-page (empty/corrupt) tif yields zero frame rows — and
      // must be filtered BEFORE the sequence: Spark infers step -1 for
      // sequence(0, -1) and would fabricate two phantom pages [0, -1]
      .filter(col("nbr_frames") > 0)
      .withColumn("i",
        explode(expr("sequence(0, cast(nbr_frames as int) - 1)")))
      .withColumn("channel_idx",
        expr("cast(i % nbr_channels as int)"))
      .withColumn("slice_idx",
        expr("cast((i div nbr_channels) % nbr_slices as int)"))
      .withColumn("pos_idx",
        expr("cast((i div (nbr_channels * nbr_slices)) % nbr_positions as int)"))
      .withColumn("time_idx",
        expr("cast((i div (nbr_channels * nbr_slices * nbr_positions)) % nbr_timepoints as int)"))
      .withColumn("file_name", imName)
      .withColumnRenamed("i", "page_idx")
  }
}

/** The SMS file-name token grammar shared by the query-side audit
  * (ImagingOps.parseSmsChannel) and the folder-splitter ingest twin:
  * `img_<channel>_<three t/p/z tokens in any order>.<ext>` where the
  * channel name may itself contain underscores (all leading tokens
  * joined back), and each index token is a letter + 3 digits matched
  * by first letter + length, not position (filename_parsers.py:36-80).
  */
private[imaging] object SmsTokens {
  /** Adds the parsed channel/time/pos/slice columns (under the given
    * output names) from `nameCol`; scratch columns dropped.
    */
  def parse(df: DataFrame, nameCol: String,
      chOut: String = "channel_name", tOut: String = "time_idx",
      pOut: String = "pos_idx", zOut: String = "slice_idx"): DataFrame = {
    def idxOf(letter: String) = expr(
      s"""cast(substring(case
            when left(l1, 1) = '$letter' and length(l1) = 4 then l1
            when left(l2, 1) = '$letter' and length(l2) = 4 then l2
            when left(l3, 1) = '$letter' and length(l3) = 4 then l3
          end, 2) as int)""")
    df
      .withColumn("allp",
        expr(s"split(substring($nameCol, 1, length($nameCol) - 4), '_')"))
      .withColumn("parts", expr("slice(allp, 2, size(allp) - 1)"))
      .withColumn(chOut,
        expr("array_join(slice(parts, 1, size(parts) - 3), '_')"))
      .withColumn("l1", expr("element_at(parts, size(parts) - 2)"))
      .withColumn("l2", expr("element_at(parts, size(parts) - 1)"))
      .withColumn("l3", expr("element_at(parts, size(parts))"))
      .withColumn(tOut, idxOf("t"))
      .withColumn(pOut, idxOf("p"))
      .withColumn(zOut, idxOf("z"))
      .drop("allp", "parts", "l1", "l2", "l3")
  }
}
