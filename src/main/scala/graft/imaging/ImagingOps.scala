package graft.imaging

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The imagingDB query surface (SURVEY.md §2.1), batch-generalized:
  * where the reference answers one dataset at a time over an ORM
  * session, these operators answer the same question for *every*
  * dataset in one distributed plan — the shape that survives 100 TB.
  *
  * Scale notes: the dataset dimension (one row per dataset) is tiny
  * next to the frames fact, so every frames⋈data_set join broadcasts
  * the dimension; per-dataset metadata aggregates are partial-agg
  * (map-side combine) shuffles on the dataset key only.
  */
object ImagingOps {
  import ImagingModel._

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Multi-criterion dataset search — db_operations.py:52-90
    * (get_datasets): serial/microscope/description substring + date
    * range, ordered by serial.
    */
  def datasetSearch(spark: SparkSession, dir: String): DataFrame =
    dataSet(spark, dir)
      .filter(col("dataset_serial").contains("PRJ3"))
      .filter(col("microscope").contains("scope-2"))
      .filter(col("date_time") >= lit("1997-01-01 00:00:00").cast("timestamp"))
      .filter(col("date_time") <= lit("1998-12-31 23:59:59").cast("timestamp"))
      .filter(col("description").contains("URGENT"))
      .select(
        col("dataset_serial"), col("description"), col("microscope"),
        fmt(col("date_time")).as("date_str"),
        col("frames").cast("int").as("frames_flag"))
      .orderBy("dataset_serial")

  /** Serial → timestamp parse — dataset.py:10-19 (_serial_to_date_time):
    * split the serial on '-', rebuild the timestamp, audit it against
    * the stored date_time.
    */
  def serialDatetime(spark: SparkSession, dir: String): DataFrame =
    dataSet(spark, dir)
      .select(
        col("dataset_serial"),
        expr("split_part(dataset_serial, '-', 1)").as("project"),
        fmt(expr(
          """make_timestamp(
               cast(split_part(dataset_serial, '-', 2) as int),
               cast(split_part(dataset_serial, '-', 3) as int),
               cast(split_part(dataset_serial, '-', 4) as int),
               cast(split_part(dataset_serial, '-', 5) as int),
               cast(split_part(dataset_serial, '-', 6) as int),
               cast(split_part(dataset_serial, '-', 7) as int))"""))
          .as("parsed_str"),
        col("date_time"))
      .select(
        col("dataset_serial"), col("project"), col("parsed_str"),
        (col("parsed_str") === fmt(col("date_time"))).cast("int")
          .as("consistent"))
      .orderBy("dataset_serial")

  /** Multi-dimensional frame slicing — db_operations.py:308-380
    * (_get_frames_subset): channels by name, slices/times by index
    * IN-lists, internal ids dropped, ordered output. Batch form: all
    * scope-1 datasets at once.
    */
  def framesSubset(spark: SparkSession, dir: String): DataFrame = {
    val d = dataSet(spark, dir).filter(col("microscope") === "scope-1")
      .select(col("id").as("ds_id"), col("dataset_serial"))
    frames(spark, dir)
      .filter(col("channel_name").isin("DAPI", "Cy3"))
      .filter(col("slice_idx").isin(0, 1, 2, 3))
      .filter(col("time_idx").isin(0, 1, 2))
      .join(broadcast(d), col("frames_global_id") === col("ds_id"))
      .select("dataset_serial", "channel_idx", "slice_idx", "time_idx",
        "pos_idx", "channel_name", "file_name", "sha256")
      .orderBy("dataset_serial", "file_name", "sha256")
  }

  /** Full frame+global metadata for one dataset —
    * db_operations.py:409-458 (get_frames_meta): frames ⋈ frames_global
    * ⋈ data_set for the first frames=true serial, ordered by file_name.
    */
  def framesMeta(spark: SparkSession, dir: String): DataFrame = {
    // resolve the target dataset from the dimension side first (orders
    // scan + a column-pruned lineitem key scan), then filter the frames
    // fact once and compute its global metadata from that filtered
    // slice — instead of materializing frames_global for every dataset
    val d = dataSet(spark, dir).filter(col("frames"))
      .select(col("id").as("ds_id"), col("dataset_serial"))
    // no distinct on the key scan: left_semi dedups inherently, and the
    // pre-distinct would cost a full exchange over the fact keys
    val liKeys = graft.tables.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("li_key"))
    // scalar-subquery shape: resolve the one target dataset to a
    // literal on the driver (a 1-row action), so the frames derivation
    // filters on the raw key column and the predicate reaches the
    // parquet scan — the needle-query plan a metadata lookup needs.
    // The dimension broadcasts and the fact keys stream map-side into
    // a TakeOrdered(1) — no shuffle at all in the resolution.
    // headOption: a degenerate corpus with no frames-bearing dataset
    // must yield an empty result, not NoSuchElementException; the
    // impossible -1 key keeps the plan shape (and schema) intact
    val targetId = liKeys
      .join(broadcast(d), col("li_key") === col("ds_id"))
      .select("ds_id", "dataset_serial")
      .orderBy("dataset_serial").limit(1).collect()
      .headOption.map(_.getLong(0)).getOrElse(-1L)
    val targetDs = d.filter(col("ds_id") === targetId)
    // the literal filter pushes through the derivation Project into the
    // lineitem scan (PushedFilters on l_orderkey), so sha256/name
    // concat run for the target dataset's rows only
    val f = frames(spark, dir)
      .filter(col("frames_global_id") === targetId)
      .join(broadcast(targetDs), col("frames_global_id") === col("ds_id"))
    f.join(broadcast(globalsOf(f)), Seq("frames_global_id"))
      .select(col("dataset_serial"), col("file_name"), col("channel_idx"),
        col("channel_name"), col("slice_idx"), col("time_idx"),
        col("pos_idx"), col("sha256"), col("nbr_frames"),
        lit(2048).as("im_width"), lit(2048).as("im_height"),
        col("nbr_slices"), col("nbr_channels"), lit(1).as("im_colors"),
        col("nbr_timepoints"), col("nbr_positions"),
        lit("uint16").as("bit_depth"),
        concat(lit("raw_frames/"), col("dataset_serial")).as("storage_dir"))
      .orderBy("file_name", "sha256")
  }

  /** storage_dir + file names per dataset — db_operations.py:257-306
    * (get_filenames): frames branch ∪ file_global branch for every
    * PRJ2 dataset.
    */
  def filenames(spark: SparkSession, dir: String): DataFrame = {
    // storage_dir is functionally dependent on the serial, so derive it
    // on the dimension side instead of joining the frames_global
    // aggregate back in — saves a full groupBy of the frames fact
    val d = dataSet(spark, dir)
      .filter(col("dataset_serial").startsWith("PRJ2"))
      .select(col("id").as("ds_id"), col("dataset_serial"),
        concat(lit("raw_frames/"), col("dataset_serial")).as("storage_dir"))
    val frameFiles = framesFor(spark, dir, d, "ds_id")
      .join(broadcast(d), col("frames_global_id") === col("ds_id"))
      .select("dataset_serial", "storage_dir", "file_name")
    val wholeFiles = fileGlobal(spark, dir)
      .join(broadcast(d.drop("storage_dir")), col("dataset_id") === col("ds_id"))
      .select("dataset_serial", "storage_dir", "file_name")
    frameFiles.unionByName(wholeFiles)
      .orderBy("dataset_serial", "storage_dir", "file_name")
  }

  /** Per-dataset global metadata — db_operations.py:382-407
    * (_get_global_meta) recomputed from frames the way
    * file_splitter.py assembles it at upload.
    */
  def globalMeta(spark: SparkSession, dir: String): DataFrame =
    framesGlobalOf(frames(spark, dir), dataSet(spark, dir))
      .select("dataset_serial", "nbr_frames", "im_width", "im_height",
        "nbr_slices", "nbr_channels", "im_colors", "nbr_timepoints",
        "nbr_positions", "bit_depth", "storage_dir")
      .orderBy("dataset_serial")

  /** Metadata-JSON containment search — notebooks/jsonb_queries.ipynb
    * cell 4: `session.query(DataSet).join(FramesGlobal).join(Frames)
    * .filter(FramesGlobal.metadata_json.contains({"protein_name":
    * "TOPOR"}))` — every dataset whose stack-level JSONB carries the
    * given key/value. As in [[ImagingDb.getDatasets]], the JSON
    * predicate runs on the data_set dimension and the matching ids
    * reach the frames scan as literals, so only their frames are
    * counted and no frame row ever parses JSON.
    */
  def metaSearch(spark: SparkSession, dir: String,
      protein: String = "TOPOR"): DataFrame = {
    val ids = ImagingDb.metaMatchIds(dataSet(spark, dir), "protein_name",
      protein)
    val f = frames(spark, dir).filter(col("frames_global_id").isin(ids: _*))
    framesGlobalOf(f, broadcast(dataSet(spark, dir)))
      .select(col("dataset_serial"), lit(protein).as("protein_name"),
        col("nbr_frames"))
      .orderBy("dataset_serial")
  }

  /** Distinct metadata-JSON values for a key —
    * notebooks/jsonb_queries.ipynb cell 6: `query(FramesGlobal
    * .metadata_json['protein_name']).distinct().order_by(...)`. The
    * distinct runs over dataset-cardinality extracted strings — a
    * partial-agg shuffle of ≤|proteins| rows per task.
    */
  def metaValues(spark: SparkSession, dir: String): DataFrame =
    framesGlobal(spark, dir)
      .select(get_json_object(col("metadata_json"), "$.protein_name")
        .as("protein_name"))
      .distinct()
      .orderBy("protein_name")

  /** Serial-uniqueness audit — db_operations.py:104-114
    * (assert_unique_id) as a batch audit: per-project serial counts and
    * duplicate census.
    */
  def uniqueness(spark: SparkSession, dir: String): DataFrame =
    dataSet(spark, dir)
      .select(expr("split_part(dataset_serial, '-', 1)").as("project"),
        col("dataset_serial"))
      .groupBy("project")
      .agg(
        count(lit(1)).as("n_datasets"),
        countDistinct(col("dataset_serial")).as("n_serials"))
      .select(col("project"), col("n_datasets"), col("n_serials"),
        (col("n_datasets") - col("n_serials")).as("dup_serials"))
      .orderBy("project")

  /** Parent/child dataset lineage — db_operations.py:116-143
    * (_get_parent): children rolled up per parent serial.
    */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    val d = dataSet(spark, dir)
    val child = d.select(col("parent_id"), col("dataset_serial").as("child_serial"))
      .filter(col("parent_id").isNotNull)
    val parent = d.select(col("id").as("p_id"),
      col("dataset_serial").as("parent_serial"))
    child.join(parent, col("parent_id") === col("p_id"))
      .groupBy("parent_serial")
      .agg(count(lit(1)).as("n_children"),
        min("child_serial").as("first_child"))
      .orderBy("parent_serial")
  }

  /** Duplicate-frame detection by content hash — frames.py sha256 +
    * meta_utils.py:73-103 (gen_sha256): hash → group → census. The
    * 100 TB shape: only the 64-char digest shuffles, never pixels.
    */
  def shaDedup(spark: SparkSession, dir: String): DataFrame =
    frames(spark, dir)
      .groupBy("sha256")
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("frames_global_id")).as("n_datasets"),
        min("file_name").as("first_file"))
      .filter(col("n_frames") > 1)
      .orderBy(col("n_frames").desc, col("sha256"))
      .limit(200)

  /** Cross-dataset duplication audit — which dataset PAIRS share
    * frame content (a re-uploaded acquisition, a copied position
    * series): the 50 pairs sharing the most sha256 digests, named by
    * serial. The pair derivation is the LSH-bucket discipline applied
    * to digests: only digests present in 2..20 datasets pair up
    * (singletons carry no signal; a hotter digest is background
    * content — calibration frames — whose pair set explodes
    * quadratically, so it drops like a hot LSH bucket). Only 64-char
    * digests and dataset keys shuffle; the digest self-join is
    * co-partitioned corpus-scale by design, and the serial
    * annotation joins 50 broadcast rows after the TakeOrdered cut.
    */
  def datasetOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the doc_span_dedup shuffle-width trade: every exchange keys on
    // the first 60 bits of the digest (8-byte long) instead of the
    // 64-char hex string — a prefix collision merely co-buckets two
    // digests (the 2..20 band and the pair counts absorb it, and
    // doc_hash_collision_audit is the standing monitor for exactly
    // this family of base-hash truncations)
    val hKey = expr("cast(conv(substring(sha256, 1, 15), 16, 10) as bigint)")
    val sd = frames(spark, dir)
      .select(hKey.as("h"), col("frames_global_id").as("ds"))
      .distinct()
    val shareable = sd.groupBy("h")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= 20)
      .select("h")
    val pool = sd.join(shareable, "h")
    val top = pool.select(col("h"), col("ds").as("d1"))
      .join(pool.select(col("h"), col("ds").as("d2")), "h")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("shared_digests"))
      .orderBy(col("shared_digests").desc, col("d1"), col("d2"))
      .limit(50)
    def serialOf(n: Int) = dataSet(spark, dir)
      .select(col("id").as(s"d$n"), col("dataset_serial").as(s"serial$n"))
    broadcast(top)
      .join(serialOf(1), "d1").join(serialOf(2), "d2")
      .select(col("serial1"), col("serial2"), col("shared_digests"))
      .orderBy(col("shared_digests").desc, col("serial1"), col("serial2"))
  }

  /** Grid-completeness audit — datasets whose observed c×z×t×p grid
    * size disagrees with the frame count (missing frames at upload,
    * the failure mode file_splitter.py guards against).
    */
  def frameGaps(spark: SparkSession, dir: String): DataFrame =
    globalMeta(spark, dir)
      .select(col("dataset_serial"), col("nbr_frames"),
        (col("nbr_slices") * col("nbr_channels") * col("nbr_timepoints")
          * col("nbr_positions")).as("grid_size"))
      .filter(col("grid_size") =!= col("nbr_frames"))
      .select(col("dataset_serial"), col("nbr_frames"), col("grid_size"),
        (col("grid_size") - col("nbr_frames")).as("missing"))
      .orderBy("dataset_serial")

  /** File-name index parsing — filename_parsers.py:83-117
    * (parse_idx_from_name): extract the c/z/t/p integers back out of
    * `im_c###_z###_t###_p###_*.png` names and audit vs stored indices.
    */
  def parseSmsName(spark: SparkSession, dir: String): DataFrame =
    frames(spark, dir)
      .filter(col("frames_global_id") % 50 === 0)
      .select(col("file_name"),
        expr("cast(substr(split_part(file_name, '_', 2), 2) as int)").as("c_parsed"),
        expr("cast(substr(split_part(file_name, '_', 3), 2) as int)").as("z_parsed"),
        expr("cast(substr(split_part(file_name, '_', 4), 2) as int)").as("t_parsed"),
        expr("cast(substr(split_part(file_name, '_', 5), 2) as int)").as("p_parsed"),
        col("channel_idx"), col("slice_idx"), col("time_idx"), col("pos_idx"))
      .select(col("file_name"), col("c_parsed"), col("z_parsed"),
        col("t_parsed"), col("p_parsed"),
        (col("c_parsed") === col("channel_idx") &&
          col("z_parsed") === col("slice_idx") &&
          col("t_parsed") === col("time_idx") &&
          col("p_parsed") === col("pos_idx")).cast("int").as("consistent"))
      .orderBy("file_name")

  /** True SMS-name parsing — filename_parsers.py:36-80
    * (parse_sms_name): `img_channelname_t***_p***_z***.tif` where the
    * channel name is a STRING that may contain extra underscores (all
    * leading tokens joined back together), the three t/p/z tokens are
    * order-independent (matched by first letter + length 4, not
    * position), and channel_name → channel_idx is assigned by
    * FIRST-SEEN order per dataset — the reference's expanding
    * channel_names list, with files processed in sorted-name order.
    *
    * Names are synthesized from the frames derivation with
    * underscore-bearing channel names (GFP_high, Tx_Red) and a
    * per-frame permutation of the t/p/z token order, so every branch
    * of the parser is exercised; the parse then recovers everything
    * from the file name alone and audits against the stored indices.
    *
    * Scale shape: parsing is pure per-row column work; the only
    * shuffle is the tiny per-(dataset, channel) first-seen census,
    * which broadcasts back into the frame rows.
    */
  def parseSmsChannel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = frames(spark, dir).filter(col("frames_global_id") % 25 === 0)
    val named = f.select(
      col("frames_global_id").as("ds_id"), col("id"),
      col("slice_idx"), col("time_idx"), col("pos_idx"),
      expr("""case channel_idx when 0 then 'DAPI' when 1 then 'GFP_high'
              when 2 then 'Cy3' else 'Tx_Red' end""").as("sms_channel"),
      concat(lit("t"), lpad(col("time_idx").cast("string"), 3, "0")).as("tt"),
      concat(lit("p"), lpad(col("pos_idx").cast("string"), 3, "0")).as("pt"),
      concat(lit("z"), lpad(col("slice_idx").cast("string"), 3, "0")).as("zt"))
      .select(col("ds_id"), col("slice_idx"), col("time_idx"), col("pos_idx"),
        concat(lit("img_"), col("sms_channel"), lit("_"),
          expr("""case cast(id % 3 as int)
                  when 0 then concat(tt, '_', pt, '_', zt)
                  when 1 then concat(zt, '_', tt, '_', pt)
                  else concat(pt, '_', zt, '_', tt) end"""),
          lit(".tif")).as("file_name"))
    // the parser proper — the shared SMS token grammar (see
    // [[SmsTokens]], also the folder-splitter ingest path): everything
    // below sees ONLY (ds_id, file_name) plus the stored indices it
    // audits against
    val fields = SmsTokens.parse(named, "file_name",
        chOut = "channel_parsed", tOut = "time_parsed",
        pOut = "pos_parsed", zOut = "slice_parsed")
      .select("ds_id", "file_name", "channel_parsed",
        "time_parsed", "pos_parsed", "slice_parsed",
        "slice_idx", "time_idx", "pos_idx")
    // first-seen channel indexing: census one row per (dataset,
    // channel), ranked by the first file that introduced the channel —
    // dense_rank over the census only, never over the frame rows
    val census = fields.groupBy("ds_id", "channel_parsed")
      .agg(min("file_name").as("first_file"))
      .withColumn("channel_idx_assigned",
        (dense_rank().over(Window.partitionBy("ds_id")
          .orderBy("first_file")) - 1).cast("int"))
      .select("ds_id", "channel_parsed", "channel_idx_assigned")
    fields.join(broadcast(census), Seq("ds_id", "channel_parsed"))
      .select(col("ds_id"), col("file_name"), col("channel_parsed"),
        col("channel_idx_assigned"), col("time_parsed"), col("pos_parsed"),
        col("slice_parsed"),
        (col("time_parsed") === col("time_idx")
          && col("pos_parsed") === col("pos_idx")
          && col("slice_parsed") === col("slice_idx")).cast("int")
          .as("consistent"))
      .orderBy("ds_id", "file_name")
  }

  /** Metadata-JSON conformance audit — json_operations.py
    * MICROMETA_SCHEMA (validate_schema) + meta_utils.py:45-70 as a
    * batch gate: per dataset, how many frames' metadata_json are
    * missing a required MicroManagerMetadata key and how many carry a
    * type violation (index fields must be JSON numbers, Channel a JSON
    * string). The reference validates one upload at a time; this is
    * the same check over every dataset in one pass — pure per-row
    * JSON-path work plus one partial-agg shuffle on the dataset key.
    */
  def metaValidate(spark: SparkSession, dir: String): DataFrame = {
    val required = Seq("ChannelIndex", "Slice", "FrameIndex",
      "PositionIndex", "Channel")
    // TWO JSON parses per row, not ten: one get_json_object pulls the
    // MicroManagerMetadata subobject, one json_tuple extracts all five
    // required fields from it in a single pass — at 100 TB the parse
    // count IS the cost of this audit
    val withFields = frames(spark, dir)
      .select(col("frames_global_id"), col("metadata_json"),
        get_json_object(col("metadata_json"), "$.MicroManagerMetadata")
          .as("mm"))
      .select(col("frames_global_id"), col("metadata_json"),
        json_tuple(col("mm"), required: _*))
      .toDF(Seq("frames_global_id", "metadata_json")
        ++ required.map("f_" + _): _*)
    val missing = required.map(k =>
      when(col("f_" + k).isNull, 1).otherwise(0)).reduce(_ + _)
    // a JSON string value is a quote right after the key's colon —
    // whitespace-tolerant so pretty-printed metadata audits the same
    // as the compact form; numbers are unquoted
    def isStr(k: String) =
      col("metadata_json").rlike("\"" + k + "\"\\s*:\\s*\"")
    val badType =
      Seq("ChannelIndex", "Slice", "FrameIndex", "PositionIndex").map(k =>
        when(col("f_" + k).isNotNull && isStr(k), 1).otherwise(0))
        .reduce(_ + _) +
      when(col("f_Channel").isNotNull && !isStr("Channel"), 1).otherwise(0)
    withFields
      .select(col("frames_global_id"), missing.as("nm"), badType.as("nb"))
      .join(broadcast(dataSet(spark, dir).select(col("id").as("ds_id"),
        col("dataset_serial"))), col("frames_global_id") === col("ds_id"))
      .groupBy("dataset_serial")
      .agg(count(lit(1)).as("n_frames"),
        sum((col("nm") > 0).cast("int")).as("n_missing_key"),
        sum((col("nb") > 0).cast("int")).as("n_type_mismatch"),
        sum((col("nm") === 0 && col("nb") === 0).cast("int")).as("n_valid"))
      .orderBy("dataset_serial")
  }

  /** Serial-format validation — cli_utils.py:4-30 (validate_id): the
    * <ID>-YYYY-MM-DD-HH-MM-SS-<SSSS> convention, audited per project
    * (8 parts, 4-char year, 2-char time fields, 4-char serial).
    */
  def validateId(spark: SparkSession, dir: String): DataFrame =
    dataSet(spark, dir)
      .select(expr("split_part(dataset_serial, '-', 1)").as("project"),
        (size(split(col("dataset_serial"), "-")) === 8 &&
          length(expr("split_part(dataset_serial, '-', 2)")) === 4 &&
          length(expr("split_part(dataset_serial, '-', 3)")) === 2 &&
          length(expr("split_part(dataset_serial, '-', 4)")) === 2 &&
          length(expr("split_part(dataset_serial, '-', 5)")) === 2 &&
          length(expr("split_part(dataset_serial, '-', 6)")) === 2 &&
          length(expr("split_part(dataset_serial, '-', 7)")) === 2 &&
          length(expr("split_part(dataset_serial, '-', 8)")) === 4)
          .cast("int").as("valid"))
      .groupBy("project")
      .agg(sum(col("valid")).as("n_valid"),
        sum(lit(1) - col("valid")).as("n_invalid"))
      .orderBy("project")

  /** Stack-assembly coordinates — data_storage.py:34-70
    * (make_stack_from_meta): each frame's position in the downloaded
    * X Y C Z C T P stack is its index in the sorted unique values of
    * each dimension — i.e. a dense rank per dataset. Batch form over
    * all scope-3 datasets.
    */
  def stackPositions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dataSet(spark, dir).filter(col("microscope") === "scope-3")
      .select(col("id").as("ds_id"), col("dataset_serial"))
    def pos(idxCol: String) = (dense_rank().over(
      Window.partitionBy("dataset_serial").orderBy(idxCol)) - 1)
      .cast("int")
    frames(spark, dir)
      .join(broadcast(d), col("frames_global_id") === col("ds_id"))
      .select(col("dataset_serial"), col("file_name"), col("sha256"),
        col("slice_idx"), col("channel_idx"), col("time_idx"), col("pos_idx"))
      .withColumn("z_pos", pos("slice_idx"))
      .withColumn("c_pos", pos("channel_idx"))
      .withColumn("t_pos", pos("time_idx"))
      .withColumn("p_pos", pos("pos_idx"))
      .select("dataset_serial", "file_name", "sha256",
        "z_pos", "c_pos", "t_pos", "p_pos")
      .orderBy("dataset_serial", "file_name", "sha256")
  }

  /** ML-group file-name parsing — filename_parsers.py:5-33
    * (parse_ml_name): `[plate]_[stack#]_[protein]_PyProcessed.tif` →
    * plate_id, stack_nbr, protein_name, rolled up per plate. File
    * names synthesized from the part table the same way on both sides.
    */
  def parseMlName(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.part(spark, dir)
      .select(concat_ws("_",
        expr("replace(p_brand, ' ', '')"), col("p_partkey"),
        expr("replace(p_type, ' ', '-')"), lit("PyProcessed.tif"))
        .as("file_name"))
      .select(
        expr("split_part(file_name, '_', 1)").as("plate_id"),
        expr("cast(split_part(file_name, '_', 2) as bigint)").as("stack_nbr"),
        expr("split_part(file_name, '_', 3)").as("protein_name"))
      .groupBy("plate_id")
      .agg(count(lit(1)).as("n_files"),
        countDistinct(col("protein_name")).as("n_proteins"),
        min("stack_nbr").as("min_stack"))
      .orderBy("plate_id")

  /** Storage report with subtotal hierarchy: ROLLUP over
    * (project, microscope) — per-scope rows, per-project subtotals and
    * a grand total in one pass (NULL group labels coalesced to 'ALL'
    * for deterministic cross-engine ordering).
    */
  def storageRollup(spark: SparkSession, dir: String): DataFrame = {
    // Pre-aggregate per (project, microscope) first — one shuffle over the
    // big side; the rollup's Expand then triples only the tiny aggregate,
    // not the fact table. Frame counts come from [[globalsOf]], not
    // framesGlobal, whose dataSet join (for storage_dir) it never reads.
    val perScope = globalsOf(frames(spark, dir))
      .join(broadcast(dataSet(spark, dir).select(col("id").as("ds_id"),
        expr("split_part(dataset_serial, '-', 1)").as("prj_key"),
        col("microscope").as("scope_key"))),
        col("frames_global_id") === col("ds_id"))
      .groupBy("prj_key", "scope_key")
      .agg(count(lit(1)).as("nd"), sum("nbr_frames").as("tf"))
    // The ROLLUP tail is a hand-built catalyst Aggregate (see
    // GraftSqlBridge.rollupSums): Dataset-API rollup() over a plan
    // whose dim side re-reads a relation already present under the
    // fact side trips DetectAmbiguousSelfJoin at analysis (even with
    // aliases / fresh scans), and the earlier temp-view + spark.sql
    // detour paid view registration + a second full resolution of the
    // subtree on every call.
    org.apache.spark.sql.GraftSqlBridge
      .rollupSums(perScope, Seq("prj_key", "scope_key"),
        Seq("nd" -> "n_datasets", "tf" -> "total_frames"))
      .select(
        coalesce(col("prj_key"), lit("ALL")).as("project_g"),
        coalesce(col("scope_key"), lit("ALL")).as("microscope_g"),
        col("n_datasets"), col("total_frames"))
      .orderBy("project_g", "microscope_g")
  }

  /** Per-dataset channel matrix — frames pivoted on channel_name with
    * the reference's fixed channel vocabulary (file_splitter.py names
    * channels at upload). Explicit pivot values keep this a single
    * partial-agg shuffle (no values-discovery pass), and the dimension
    * join broadcasts.
    */
  def channelPivot(spark: SparkSession, dir: String): DataFrame =
    frames(spark, dir)
      .join(broadcast(dataSet(spark, dir)
        .select(col("id").as("ds_id"), col("dataset_serial"))),
        col("frames_global_id") === col("ds_id"))
      .groupBy("dataset_serial")
      .pivot("channel_name", Seq("DAPI", "GFP", "Cy3", "TxRed"))
      .count()
      .select(col("dataset_serial"),
        coalesce(col("DAPI"), lit(0L)).as("n_dapi"),
        coalesce(col("GFP"), lit(0L)).as("n_gfp"),
        coalesce(col("Cy3"), lit(0L)).as("n_cy3"),
        coalesce(col("TxRed"), lit(0L)).as("n_txred"))
      .orderBy("dataset_serial")

  /** Multi-level lineage — the transitive closure of _get_parent
    * (db_operations.py:116-143): every derived dataset resolved to its
    * ROOT ancestor with its derivation depth, via pointer-jumping over
    * the parent edge list. Rounds = max chain depth (parent keys are
    * id/32, so depth ≤ log₃₂(max id)); each round is one distributed
    * join over a checkpointed edge table, and the depth-sum invariant
    * (strictly increasing until the fixpoint) gives a scalar
    * convergence check.
    */
  def lineageDepth(spark: SparkSession, dir: String): DataFrame = {
    val base = dataSet(spark, dir).select("id", "parent_id")
      .localCheckpoint(false)
    var cur = base.select(col("id"),
      coalesce(col("parent_id"), col("id")).as("anc"),
      when(col("parent_id").isNull, lit(0L)).otherwise(lit(1L))
        .as("depth"))
      .localCheckpoint(false)
    def depthSum(df: DataFrame): Long = {
      val r = df.agg(sum("depth")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prev = -1L
    var sum0 = depthSum(cur)
    var round = 0
    while (sum0 != prev && round < 16) {
      prev = sum0
      val next = cur
        .join(base.select(col("id").as("anc"), col("parent_id").as("gp")),
          Seq("anc"), "left")
        .select(col("id"),
          coalesce(col("gp"), col("anc")).as("anc"),
          (col("depth") + when(col("gp").isNotNull, 1L).otherwise(0L))
            .as("depth"))
        .localCheckpoint(false)
      cur.unpersist(false)
      cur = next
      sum0 = depthSum(cur)
      round += 1
    }
    require(sum0 == prev,
      s"ancestor chase did not converge within 16 rounds")
    val serials = dataSet(spark, dir)
      .select(col("id").as("sid"), col("dataset_serial"))
    cur.filter(col("depth") > 0)
      .join(broadcast(serials), col("id") === col("sid"))
      .select(col("dataset_serial"), col("anc"), col("depth"))
      .join(broadcast(serials.withColumnRenamed("dataset_serial",
        "root_serial")), col("anc") === col("sid"))
      .select("dataset_serial", "root_serial", "depth")
      .orderBy("dataset_serial")
  }

  /** Datasets imaged in both DAPI and TxRed, per project — the set
    * intersection pattern (INTERSECT = distinct + co-grouped semi
    * match, one shuffle per side on the dataset key).
    */
  def channelOverlap(spark: SparkSession, dir: String): DataFrame = {
    val f = frames(spark, dir)
    def withCh(name: String) =
      f.filter(col("channel_name") === name)
        .select("frames_global_id").distinct()
    withCh("DAPI").intersect(withCh("TxRed"))
      .join(broadcast(dataSet(spark, dir).select(col("id").as("ds_id"),
        expr("split_part(dataset_serial, '-', 1)").as("project"))),
        col("frames_global_id") === col("ds_id"))
      .groupBy("project")
      .agg(count(lit(1)).as("n_both"))
      .orderBy("project")
  }

  /** Storage capacity report per project — filestorage/: frame counts
    * and estimated bytes (w×h×2 for uint16) rolled up from
    * frames_global.
    */
  /** Storage growth time series — the capacity-planning trend every
    * storage service plots (the temporal companion of
    * [[storageReport]]): datasets, frames and estimated bytes ingested
    * per calendar month, with running cumulative totals. The fact
    * collapses to one row per month BEFORE the cumulative window, so
    * the unpartitioned running sum orders a bounded calendar-month
    * series (decades = hundreds of rows), never corpus rows.
    */
  def datasetGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = framesGlobal(spark, dir)
      .join(broadcast(dataSet(spark, dir).select(col("id").as("ds_id"),
        date_format(col("date_time"), "yyyy-MM").as("month"))),
        col("dataset_id") === col("ds_id"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_datasets"),
        sum("nbr_frames").as("month_frames"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("month")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    monthly
      .withColumn("cum_frames", sum(col("month_frames")).over(w))
      .withColumn("cum_bytes",
        (col("cum_frames") * lit(2048L * 2048L * 2L)))
      .orderBy("month")
  }

  def storageReport(spark: SparkSession, dir: String): DataFrame =
    framesGlobal(spark, dir)
      .join(broadcast(dataSet(spark, dir).select(col("id").as("ds_id"),
        expr("split_part(dataset_serial, '-', 1)").as("project"))),
        col("dataset_id") === col("ds_id"))
      .groupBy("project")
      .agg(
        count(lit(1)).as("n_datasets"),
        sum("nbr_frames").as("total_frames"),
        sum(col("nbr_frames") * lit(2048L * 2048L * 2L)).as("est_bytes"))
      .orderBy("project")
}
