package graft.sources

import java.nio.file.{FileSystems, Files, Paths, StandardCopyOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.multimodal.ImageCodec

/** The storage contract the reference's DataStorage base class defines
  * (data_storage.py:9-264) with the DISTRIBUTED transfer paths shared
  * across backends: the reference parallelizes uploads/downloads with a
  * per-dataset process/thread pool (data_storage.py:161,
  * s3_storage.py:102); here the same role is played by executor
  * parallelism — uploads are a `mapPartitions` writer loop over the
  * frame DataFrame, manifest copies and deletes a `mapPartitions`
  * walk that gets or deletes each named object by key, and whole-set
  * reads come back through Spark's `binaryFile` source, so a
  * 1000-executor cluster moves 1000 frames at a time with no
  * coordinator loop, identically for every backend. Each byte path is
  * one shuffle-free Spark job whose per-partition counts the driver
  * adds up.
  *
  * Backends supply only the reference's true per-backend seams:
  * existence semantics (directory checks for local_storage.py,
  * key-prefix listings for s3_storage.py), the conditional-create
  * primitive, and the visibility check a task runs before writing.
  *
  * Writes are executor-side write-through: the bytes go to storage
  * inside the task that holds them ([[FrameStorageApi.putAll]] is the
  * one writer loop), never through the driver. An upload that splits
  * a stack routes each frame to its own dataset's storage in the split
  * task itself ([[FrameStorageApi.writeThrough]]), so the split runs
  * once and only payload-free metadata rows leave the task.
  */
trait FrameStorageApi extends Serializable {

  /** Backend root + raw_frames|raw_files + dataset ID — the base every
    * stored frame of this dataset lives under, readable both by
    * Spark's sources and by the single-file nio paths.
    */
  def idStoragePath: String

  /** A dataset ID may enter storage once (local_storage.py:49-56 /
    * s3_storage.py:34-45).
    */
  def assertUniqueId(): Unit

  /** True iff the storage path is free to write (local_storage.py:58-69
    * / s3_storage.py:47-61).
    */
  def nonexistentStoragePath(storagePath: String): Boolean

  def getStoragePath(fileName: String): String =
    s"$idStoragePath/$fileName"

  /** Driver-side preparation before a distributed write (local: create
    * the dataset directory; bucket-shaped stores have no directories —
    * the emulation materializes the prefix).
    */
  protected def prepareUpload(): Unit

  /** Executor-side ATOMIC conditional create: write `fileName` iff no
    * object holds that name yet; false (skip) otherwise. The
    * reference's check-then-write (local_storage.py:116-118,
    * s3_storage.py:91-104) races when two workers carry the same name —
    * an atomic create can't double-write.
    */
  protected def putNew(fileName: String, bytes: Array[Byte]): Boolean

  /** Executor-side visibility check, run once per partition before any
    * write: a task that can't see the storage root is on a node where
    * the mount/bucket isn't shared — fail loudly rather than write to
    * a local disk nobody will read.
    */
  protected def checkVisible(): Unit

  /** Executor-side delete primitive: remove the named object under
    * the dataset base iff present; true when something was deleted
    * (local: unlink the file; object store: DeleteObject on the key —
    * both idempotent, a missing name is false, never an error).
    */
  protected def deleteObject(fileName: String): Boolean =
    Files.deleteIfExists(Paths.get(getStoragePath(fileName)))

  /** Distributed frame upload (upload_frames, local_storage.py:85-106 /
    * s3_storage.py:72-104): every (file_name, payload) row lands as a
    * real object under the dataset base; existing names are skipped per
    * the reference's overwrite guard. Returns (written, skipped) —
    * the reference prints skips; a Spark job surfaces them as data.
    * The writes run in [[FrameStorageApi.putAll]], the one writer loop;
    * each partition returns its two counts and the driver adds them up,
    * so the upload is one job with no shuffle.
    */
  def uploadFrames(framed: DataFrame): (Long, Long) = {
    prepareUpload()
    val self = this
    val spark = framed.sparkSession
    import spark.implicits._
    framed.select(col("file_name"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        val written = FrameStorageApi.putAll(rows)(
          _ => self, _._1, _._2)((_, w) => w)
        var (w, s) = (0L, 0L)
        written.foreach(if (_) w += 1 else s += 1)
        Iterator.single((w, s))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((w, s), (pw, ps)) => (w + pw, s + ps) }
  }

  /** Single-image upload with the overwrite guard (upload_im,
    * local_storage.py:122-136 / s3_storage.py:123-145). True if written.
    */
  def uploadIm(imName: String, png: Array[Byte]): Boolean = {
    prepareUpload()
    putNew(imName, png)
  }

  /** raw_files branch: register a file into storage unopened
    * (upload_file, local_storage.py:138-151 / s3_storage.py:147-161).
    */
  def uploadFile(filePath: String): Unit = {
    assertUniqueId()
    prepareUpload()
    val name = Paths.get(filePath).getFileName.toString
    Files.copy(Paths.get(filePath), Paths.get(getStoragePath(name)),
      StandardCopyOption.COPY_ATTRIBUTES)
  }

  /** Fetch one frame's pixels (get_im, local_storage.py:153-164 /
    * s3_storage.py:163-176 — IMREAD_ANYDEPTH parity via
    * [[ImageCodec.decodeGray]]).
    */
  def getIm(fileName: String): (Int, Int, Array[Int]) =
    ImageCodec.decodeGray(
      Files.readAllBytes(Paths.get(getStoragePath(fileName))))

  /** The whole dataset's stored bytes as a DataFrame — Spark's
    * binaryFile source: a DISTRIBUTED scan with path pruning, the
    * cluster-shaped replacement for the reference's thread-pool
    * `get_stack` loop (data_storage.py:150-168). On a real object
    * store the same code reads `s3a://bucket/...` — the source speaks
    * any Hadoop filesystem. Columns: file_name, payload.
    */
  def readFrames(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", FrameStorageApi.FrameGlob)
      .load(idStoragePath)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("content").as("payload"))

  /** Download-path stack assembly from REAL stored bytes
    * (get_stack_from_meta, data_storage.py:198-241): stored frames
    * join their c/z/t/p indices from `framesMeta`, then the ordered
    * per-dataset stack + squeeze dim-order come from the same
    * aggregate the metadata path proves
    * ([[graft.multimodal.BinaryFrames.assembleStacksOf]]).
    *
    * `framesMeta` needs (dataset_id, file_name, channel_idx,
    * slice_idx, time_idx, pos_idx); `geometry` per-dataset
    * (dataset_id, im_height, im_width, im_colors).
    */
  def stackFromStorage(spark: SparkSession, framesMeta: DataFrame,
      geometry: DataFrame): DataFrame =
    graft.multimodal.BinaryFrames.assembleStacksOf(
      readFrames(spark).join(framesMeta, Seq("file_name"))
        .select(col("dataset_id"), col("channel_idx"), col("slice_idx"),
          col("time_idx"), col("pos_idx"), col("payload")),
      geometry)

  /** Distributed byte download (download_files, data_storage.py:243-253):
    * copy the named files from storage into `destDir` without opening
    * them. Returns files copied.
    */
  def downloadFiles(spark: SparkSession, fileNames: Seq[String],
      destDir: String): Long = {
    import spark.implicits._
    if (fileNames.isEmpty) 0L
    else downloadManifest(spark, fileNames.toDF("file_name"), destDir)
  }

  /** Manifest-driven download with NO driver-side file list and no
    * listing: each manifest name is copied by key from its storage path
    * inside the manifest's own partition ([[walkManifest]]), so only
    * the named frames are read, and manifests scale past what a driver
    * could hold. A name repeated across partitions is copied and
    * counted by one task only: the first to claim it in a per-call
    * claims directory under `destDir`, which the driver removes when
    * the job ends. Returns files copied.
    */
  def downloadManifest(spark: SparkSession, manifest: DataFrame,
      destDir: String): Long = {
    Files.createDirectories(Paths.get(destDir))
    val claims = Files.createDirectory(
      Paths.get(destDir, s".claims-${java.util.UUID.randomUUID}"))
    val claimsDir = claims.toString
    val self = this
    try walkManifest(manifest) { () =>
      self.checkVisible()
      FrameStorage.assertMounted(destDir)
    } { name =>
      FrameStorageApi.claim(claimsDir, name) && {
        Files.copy(Paths.get(self.getStoragePath(name)),
          Paths.get(destDir, name), StandardCopyOption.REPLACE_EXISTING)
        true
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(claims.toFile)
  }

  /** Single-file download, unopened (download_file,
    * local_storage.py:166-176 / s3_storage.py:178-195).
    */
  def downloadFile(fileName: String, destDir: String): Unit = {
    Files.createDirectories(Paths.get(destDir))
    Files.copy(Paths.get(getStoragePath(fileName)),
      Paths.get(destDir, fileName), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stored frame NAMES as a DataFrame — the listing-only projection
    * of [[readFrames]]: the binaryFile source prunes the `content`
    * column when it isn't selected, so this is a distributed file
    * LISTING, no payload bytes move. The manifest paths
    * ([[downloadManifest]], [[deleteManifest]]) never list: they act
    * on the manifest's names by key.
    */
  def listFrames(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", FrameStorageApi.FrameGlob)
      .load(idStoragePath)
      .select(element_at(split(col("path"), "/"), -1).as("file_name"))

  /** Manifest-driven distributed blob delete — [[downloadManifest]]'s
    * walk with an unlink in place of the copy, and the piece a takedown
    * legally targets: the stored PNG BYTES of the victim frames. Each
    * manifest name is deleted by key inside its partition — no listing
    * and no driver-side file list, scaling to manifests a driver
    * couldn't hold (a victim dataset's frame roster comes straight off
    * the metadata store as a DataFrame). The unlink is atomic, so a
    * name repeated across partitions counts once. Idempotent:
    * already-gone names count zero. Returns blobs deleted.
    */
  def deleteManifest(spark: SparkSession, manifest: DataFrame): Long = {
    val self = this
    walkManifest(manifest)(() => self.checkVisible())(self.deleteObject)
  }

  /** The one by-name walker of the manifest byte paths: one job over
    * `manifest`'s `file_name` column, no listing and no shuffle. Each
    * partition runs `check` once, then `act` once per distinct name
    * that is a plain frame name ([[FrameStorageApi.isFrameName]]) and
    * is stored as a regular file directly under [[idStoragePath]];
    * `act` is true when it copied or deleted that object. The driver
    * adds up the partitions' counts. Null, unsafe and missing names
    * count 0; a name repeated across partitions counts once only if
    * `act` itself is exactly-once across tasks.
    */
  private def walkManifest(manifest: DataFrame)(check: () => Unit)(
      act: String => Boolean): Long = {
    val root = idStoragePath
    manifest.select(col("file_name").cast("string"))
      .as[String](Encoders.STRING)
      .mapPartitions { names =>
        check()
        val seen = scala.collection.mutable.HashSet.empty[String]
        Iterator.single(names.count(name =>
          FrameStorageApi.isFrameName(name) && seen.add(name) &&
            Files.isRegularFile(Paths.get(root, name)) && act(name)).toLong)
      }(Encoders.scalaLong)
      .collect().sum
  }

  /** Bulk dataset takedown: remove EVERY stored object under the
    * dataset base — the whole-prefix delete a compliance pass runs
    * when the dataset itself is the victim (local: remove the dataset
    * directory, local_storage.py's unit of existence; object store:
    * delete every key under the prefix, the batched DeleteObjects
    * idiom). Driver-side walk on purpose: one dataset's blob roster
    * is the unit of acquisition, and the surgical frame-level path
    * ([[deleteManifest]]) is the distributed one. Returns objects
    * removed; 0 when the dataset was never stored.
    */
  def deleteDatasetBlobs(): Long = {
    val root = Paths.get(idStoragePath)
    if (!Files.exists(root)) return 0L
    var n = 0L
    val stream = Files.walk(root)
    try {
      // children before parents (reverse path order), files counted,
      // the emulation's materialized prefix directories just removed
      stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach { p =>
          if (Files.isRegularFile(p)) { Files.delete(p); n += 1 }
          else Files.delete(p)
        }
    } finally stream.close()
    n
  }
}

object FrameStorageApi {

  /** Every stored frame object: `.png` for integer frames and `.raw`
    * for the float32 frames the TIFF splitter keeps as raw IEEE bits
    * (PNG has no lossless float mapping). The byte-moving paths list,
    * copy and delete both; a PNG decode of a `.raw` payload fails.
    */
  val FrameGlob = "*.{png,raw}"

  /** A manifest name the byte paths act on: one path element (no `/`,
    * no NUL), not hidden (no leading `.` or `_`, the names Spark's file
    * sources skip, `..` among them) and matching [[FrameGlob]] — the
    * names a listing of the dataset base could return.
    */
  private def isFrameName(name: String): Boolean =
    name != null && !name.exists(c => c == '/' || c == '\u0000') &&
      !name.startsWith(".") && !name.startsWith("_") &&
      frameGlob.matches(Paths.get(name))

  private lazy val frameGlob =
    FileSystems.getDefault.getPathMatcher(s"glob:$FrameGlob")

  /** The cross-task dedup of a manifest copy: true iff this task's
    * partition owns `name` in `claimsDir`. The first task to claim a
    * name creates a symbolic link named after it whose target is the
    * task's partition index (one atomic create, so two partitions never
    * both win); a retried attempt of the owning partition reads its own
    * index back and owns the name again.
    */
  private def claim(claimsDir: String, name: String): Boolean = {
    val owner = Paths.get(TaskContext.getPartitionId().toString)
    val link = Paths.get(claimsDir, name)
    try { Files.createSymbolicLink(link, owner); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.readSymbolicLink(link) == owner
    }
  }

  /** The one executor-side writer loop of every distributed upload.
    * Each row's payload goes to its `storage` through the atomic
    * conditional create: a retried task or a re-run skips names that
    * already exist (the reference's overwrite guard). `emit` turns the
    * row and its written flag into the output. Each storage's
    * visibility check runs once per partition, on the first row routed
    * to it. The driver has run every storage's `prepareUpload` before
    * the job.
    */
  private def putAll[A, B](rows: Iterator[A])(
      storage: A => FrameStorageApi, name: A => String,
      payload: A => Array[Byte])(emit: (A, Boolean) => B): Iterator[B] = {
    val checked = scala.collection.mutable.Set.empty[FrameStorageApi]
    rows.map { r =>
      val st = storage(r)
      if (checked.add(st)) st.checkVisible()
      emit(r, st.putNew(name(r), payload(r)))
    }
  }

  /** Upload write-through: every (dataset_serial, file_name, payload,
    * ...) row of `framed` writes its payload to the storage `route`
    * maps its serial to (a serial missing from `route` fails the task),
    * inside the task that produced the row, and the result is `framed`
    * without `payload`. Lazy: the writes run
    * with the caller's one action over the result, so the plan that
    * produced the payloads runs once. The driver prepares every routed
    * storage here, before that action.
    */
  def writeThrough(framed: DataFrame,
      route: Map[String, FrameStorageApi]): DataFrame = {
    route.values.foreach(_.prepareUpload())
    val schema = framed.schema
    val Seq(k, n, p) =
      Seq("dataset_serial", "file_name", "payload").map(schema.fieldIndex)
    val keep = schema.indices.filter(_ != p).toArray
    framed.mapPartitions(rows => putAll(rows)(
      r => route(r.getString(k)), _.getString(n), _.getAs[Array[Byte]](p))(
      (r, _) => Row.fromSeq(keep.map(r.get))))(
      Encoders.row(StructType(keep.map(schema(_)))))
  }
}
