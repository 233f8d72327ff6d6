package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{BinaryFrames, ImageCodec}
import graft.sources.{FrameStorage, FrameStorageApi, S3FrameStorage}

/** Real blob transfer (data_storage.py twin): bytes genuinely move —
  * frames land as PNG objects, read back pixel-exact, with the
  * reference's uniqueness + overwrite guards. The quartet runs
  * unchanged against every backend of [[FrameStorageApi]] (the
  * reference's DataStorage subclasses promise exactly this
  * substitutability between local_storage and s3_storage).
  */
abstract class FrameStorageContract extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  def backend: String
  def mkStorage(root: String, storageDir: String): FrameStorageApi

  private def mount() = tempDir(s"graft_${backend}_mount").toString

  /** One dataset's frames with real PNG payloads + grid indices —
    * smallest dataset that still has ≥6 frames (the download test
    * slices 5 distinct names).
    */
  private def oneDataset() = {
    val framed = BinaryFrames.withPayload(spark, sfDir)
      .withColumn("dataset_id", expr("frame_id div 10"))
    val dsId = framed.groupBy("dataset_id").count()
      .filter(col("count") >= 6)
      .agg(min("dataset_id")).head().getLong(0)
    (framed.filter(col("dataset_id") === dsId), dsId)
  }

  test(s"[$backend] upload writes real PNG files; read-back is pixel-exact") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.assertUniqueId() // nothing there yet
    val (written, skipped) = st.uploadFrames(framed)
    val rows = framed.count()
    // the synthetic lineitem carries one duplicate (orderkey,
    // linenumber) in this dataset, so two frames share a name — the
    // atomic conditional create writes one and skips the other (the
    // reference's overwrite-guard semantics, race-free)
    val distinctNames = framed.select("file_name").distinct().count()
    assert(written === distinctNames && written + skipped === rows)
    val onDisk = Files.list(Paths.get(st.idStoragePath)).count()
    assert(onDisk === distinctNames)
    // read back through the distributed binaryFile scan: every
    // singly-named frame's decoded pixels equal the uploaded
    // payload's pixels (a duplicated name holds whichever row won)
    val back = st.readFrames(spark).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val sentRows = framed.select("file_name", "payload").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val singles = sentRows.groupBy(_._1).filter(_._2.length == 1)
    assert(back.keySet === sentRows.map(_._1).toSet)
    assert(singles.nonEmpty)
    for ((name, Array((_, png))) <- singles) {
      assert(ImageCodec.decodeGray(back(name))._3.toSeq
        === ImageCodec.decodeGray(png)._3.toSeq, s"pixel drift in $name")
    }
  }

  test(s"[$backend] write-through stores each row under its own " +
      "dataset and keeps only the metadata row") {
    val m = mount()
    val (framed, _) = oneDataset()
    val split = framed.withColumn("dataset_serial",
      when(col("frame_id") % 2 === 0, "even").otherwise("odd"))
    val route = Seq("even", "odd")
      .map(s => s -> mkStorage(m, s"raw_frames/$s")).toMap
    val rows = FrameStorageApi.writeThrough(split, route)
    assert(rows.columns.toSeq === split.columns.filter(_ != "payload").toSeq)
    assert(rows.count() === split.count())
    for ((serial, st) <- route) {
      val want = split.filter(col("dataset_serial") === serial)
        .select("file_name").distinct().collect().map(_.getString(0)).toSet
      assert(st.listFrames(spark).collect().map(_.getString(0)).toSet
        === want, serial)
    }
  }

  test(s"[$backend] uniqueness and overwrite guards match the reference") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.uploadFrames(framed)
    // dataset now exists → assert_unique_id must refuse
    intercept[IllegalArgumentException] { st.assertUniqueId() }
    // re-upload: every frame skipped, none clobbered
    val (written, skipped) = st.uploadFrames(framed)
    assert(written === 0L && skipped === framed.count())
    // single-image guard (upload_im): false on existing path
    val name = framed.select("file_name").head().getString(0)
    assert(!st.uploadIm(name, ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)))
    assert(st.uploadIm("im_extra.png",
      ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)))
    // a missing mount point / bucket refuses up front
    intercept[IllegalArgumentException] {
      mkStorage(s"$m/nope", "raw_frames/x")
    }
  }

  test(s"[$backend] stack assembly from stored bytes matches the metadata path") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.uploadFrames(framed)
    val meta = graft.imaging.ImagingModel.frames(spark, sfDir)
      .filter(expr("id div 10") === dsId)
      .select(lit(dsId).as("dataset_id"), col("file_name"),
        col("channel_idx"), col("slice_idx"), col("time_idx"),
        col("pos_idx"))
    val geometry = graft.imaging.ImagingModel.framesGlobal(spark, sfDir)
      .filter(col("dataset_id") === dsId)
      .select(col("dataset_id"), col("im_height"), col("im_width"),
        col("im_colors"))
    val stored = st.stackFromStorage(spark, meta, geometry).head()
    assert(stored.getAs[Long]("n_frames") === framed.count())
    val stack = stored.getSeq[org.apache.spark.sql.Row](
      stored.fieldIndex("stack"))
    val coords = stack.map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(coords === coords.sorted)
    assert(stored.getAs[String]("dim_order").nonEmpty)
  }

  test(s"[$backend] distributed download copies exact bytes") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.uploadFrames(framed)
    val names = framed.select("file_name").collect().map(_.getString(0))
    val dest = tempDir("graft_dl").toString
    val n = st.downloadFiles(spark, names.take(3).toSeq, dest)
    assert(n === 3L)
    for (name <- names.take(3)) {
      val got = Files.readAllBytes(Paths.get(dest, name))
      val src = Files.readAllBytes(Paths.get(st.getStoragePath(name)))
      assert(got.toSeq === src.toSeq)
    }
    // manifest-driven (no driver list): semi-join copy of 2 names
    import spark.implicits._
    val manifest = names.slice(3, 5).toSeq.toDF("file_name")
    val dest2 = tempDir("graft_dl2").toString
    assert(st.downloadManifest(spark, manifest, dest2) === 2L)
    assert(Files.list(Paths.get(dest2)).count() === 2L)
  }

  test(s"[$backend] a manifest download reads no more input bytes " +
      "than it copies") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.uploadFrames(framed)
    val names = st.listFrames(spark).orderBy("file_name")
      .collect().map(_.getString(0)).take(4).toSeq
    val copied = names.map(n => Files.size(Paths.get(st.getStoragePath(n))))
      .sum
    import spark.implicits._
    val manifest = names.toDF("file_name")
    val dest = tempDir("graft_dl_read").toString
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      assert(st.downloadManifest(spark, manifest, dest) === 4L)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(read.get <= copied,
      s"fetching 4 frames ($copied bytes) read ${read.get} input bytes")
    for (n <- names) assert(Files.readAllBytes(Paths.get(dest, n)).toSeq ===
      Files.readAllBytes(Paths.get(st.getStoragePath(n))).toSeq)
  }

  test(s"[$backend] manifest copy and delete act on stored plain names " +
      "only, each once, and touch nothing outside the dataset base") {
    val m = mount()
    val st = mkStorage(m, "raw_frames/ds")
    val png = ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)
    for (n <- Seq("a.png", "b.png", "c.png")) assert(st.uploadIm(n, png))
    // decoys each unsafe name would reach: a sibling of the dataset
    // base, a nested object and a non-frame object
    val base = Paths.get(st.idStoragePath)
    val decoys = Seq(base.resolveSibling("x.png"), base.resolve("sub/x.png"),
      base.resolve("x.tif"))
    for (d <- decoys) {
      Files.createDirectories(d.getParent)
      Files.write(d, png)
    }
    import spark.implicits._
    val names = Seq("a.png", "../x.png", "sub/x.png", "b.png",
      "x.tif", "missing.png", null, "a.png")
    val rdd = spark.sparkContext.parallelize(names, 2)
    assert(rdd.glom().collect().count(_.contains("a.png")) === 2)
    val manifest = rdd.toDF("file_name")
    val dest = tempDir("graft_dl_safe")
    assert(st.downloadManifest(spark, manifest, dest.toString) === 2L)
    assert(Files.list(dest).iterator.asScala.map(_.getFileName.toString)
      .toSet === Set("a.png", "b.png"))
    assert(st.deleteManifest(spark, manifest) === 2L)
    assert(Files.list(base).iterator.asScala.map(_.getFileName.toString)
      .toSet === Set("c.png", "sub", "x.tif"))
    for (d <- decoys) assert(Files.readAllBytes(d).toSeq === png.toSeq, d)
  }

  test(s"[$backend] takedown deletes exactly the manifest's blobs; " +
      "the bulk pass empties the dataset prefix") {
    val m = mount()
    val (framed, dsId) = oneDataset()
    val st = mkStorage(m, s"raw_frames/$dsId")
    st.uploadFrames(framed)
    val names = st.listFrames(spark).orderBy("file_name")
      .collect().map(_.getString(0))
    assert(names.length >= 6)
    val (victims, kept) = names.splitAt(2)
    // survivors' bytes snapshot BEFORE the delete
    val keptBytes = kept.map(n =>
      n -> Files.readAllBytes(Paths.get(st.getStoragePath(n))).toSeq)
    import spark.implicits._
    val manifest = victims.toSeq.toDF("file_name")
    assert(st.deleteManifest(spark, manifest) === victims.length.toLong)
    // the blob dir holds no victim frame — the compliance check
    for (v <- victims)
      assert(!Files.exists(Paths.get(st.getStoragePath(v))),
        s"victim blob $v survived the takedown")
    // survivors byte-identical, nothing else touched
    for ((n, bytes) <- keptBytes)
      assert(Files.readAllBytes(Paths.get(st.getStoragePath(n))).toSeq
        === bytes, s"survivor blob $n changed")
    assert(st.listFrames(spark).count() === kept.length.toLong)
    // idempotent: the same manifest deletes nothing the second time
    assert(st.deleteManifest(spark, manifest) === 0L)
    // bulk dataset takedown: every remaining object under the prefix
    // leaves, and the dataset id is free to re-acquire (the
    // assertUniqueId guard passes again — forget-then-reaccept)
    assert(st.deleteDatasetBlobs() === kept.length.toLong)
    st.assertUniqueId()
    assert(st.deleteDatasetBlobs() === 0L)
  }
}

class FrameStorageSpec extends FrameStorageContract {
  def backend = "local"
  def mkStorage(root: String, dir: String) = new FrameStorage(root, dir)
}

class S3FrameStorageSpec extends FrameStorageContract {
  def backend = "s3"
  def mkStorage(root: String, dir: String) = new S3FrameStorage(root, dir)

  test("[s3] existence is a string-prefix listing, not a directory stat") {
    val bucket = tempDir("graft_s3_bucket").toString
    val st1 = new S3FrameStorage(bucket, "raw_frames/ds1")
    assert(st1.uploadIm("a.png", ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)))
    // key-granular check: an exact key that exists vs one that doesn't
    assert(!st1.nonexistentStoragePath("raw_frames/ds1/a.png"))
    assert(st1.nonexistentStoragePath("raw_frames/ds1/b.png"))
    intercept[IllegalArgumentException] { st1.assertUniqueId() }
    // boto3 parity footgun: with ONLY ds10's object in the bucket, the
    // raw string prefix `raw_frames/ds1` still matches
    // `raw_frames/ds10/b.png` — the twin reproduces the API's
    // behavior rather than papering over it (callers scope with a
    // trailing separator, exactly as against the real service)
    val bucket2 = tempDir("graft_s3_bucket2").toString
    val st10 = new S3FrameStorage(bucket2, "raw_frames/ds10")
    assert(st10.uploadIm("b.png", ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)))
    intercept[IllegalArgumentException] {
      new S3FrameStorage(bucket2, "raw_frames/ds1").assertUniqueId()
    }
    // the separator-scoped prefix is clean
    assert(new S3FrameStorage(bucket2, "raw_frames/ds1")
      .nonexistentStoragePath("raw_frames/ds1/"))
  }
}
