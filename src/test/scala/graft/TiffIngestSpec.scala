package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.{Cli, SplitterIngest}
import graft.multimodal.{BinaryFrames, ImageCodec, TiffCodec}
import graft.multimodal.TiffCodec.TiffPage
import graft.sources.FrameStorage

/** Real TIFF byte-level ingest (tif_id_splitter.py twin): a planted
  * multi-page TIFF splits into frame rows + PNG payloads pixel-exact
  * against the planted arrays, through the from-scratch baseline-TIFF
  * reader — and the Cli upload path drives it end to end into frame
  * storage.
  */
class TiffIngestSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark

  /** channels=2 × slices=2 × frames(time)=2 gray16 stack with
    * per-page planted pixels keyed by page index.
    */
  private def plantPixels(page: Int): Array[Int] =
    Array.tabulate(6 * 5)(i => (i * 4099 + page * 7717) % 65536)

  /** The planted stack; `first` offsets the page keys, so stacks
    * planted with different offsets carry different pixels.
    */
  private def plantedTiff(lzw: Boolean, predictor: Int,
      tileSize: Option[(Int, Int)] = None, first: Int = 0): Array[Byte] = {
    val pages = (0 until 8).map(p =>
      TiffPage(6, 5, 16, 1, None, plantPixels(first + p)))
    TiffCodec.write(pages, lzw = lzw, predictor = predictor,
      description = Some("channels=2\nslices=2\nframes=2\nunrelated=9"),
      tileSize = tileSize)
  }

  /** tif_id page name of page `i` of the planted 2 x 2 x 2 stack. */
  private def pageName(i: Int): String =
    f"im_c${i % 2}%03d_z${(i / 2) % 2}%03d_t${(i / 4) % 2}%03d_p000.png"

  /** `Cli upload` of the (serial, tiff bytes) stacks as tif_id with
    * `--mount`; returns the store directory.
    */
  private def uploadTifId(dir: Path, stacks: Seq[(String, Array[Byte])],
      mount: String): String = {
    val rows = stacks.map { case (serial, bytes) =>
      val tif = Files.write(dir.resolve(s"$serial.tif"), bytes)
      s"$serial,$tif,planted"
    }
    val csv = dir.resolve("upload.csv")
    Files.writeString(csv,
      ("dataset_id,file_name,description" +: rows).mkString("\n") + "\n")
    val cfg = dir.resolve("config.json")
    Files.writeString(cfg,
      """{"upload_type": "frames", "frames_format": "tif_id"}""")
    val store = dir.resolve("store").toString
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", store,
      "--mount", mount)) === 0)
    store
  }

  test("TIFF codec: every shape round-trips; both endians decode") {
    val rnd = new scala.util.Random(11)
    for {
      (ch, bits) <- Seq((1, 8), (1, 16), (3, 8), (3, 16))
      lzw <- Seq(false, true)
      pred <- Seq(1, 2)
      if lzw || pred == 1
    } {
      val page = TiffPage(23, 17, bits, ch, None,
        Array.fill(23 * 17 * ch)(rnd.nextInt(1 << bits)))
      val back = TiffCodec.readPages(
        TiffCodec.write(Seq(page), lzw, pred, Some("slices=1")))
      assert(back.length === 1)
      assert(back(0).bitsPerSample === bits)
      assert(back(0).samplesPerPixel === ch)
      assert(back(0).samples.toSeq === page.samples.toSeq,
        s"ch=$ch bits=$bits lzw=$lzw pred=$pred")
    }
    // big-endian (MM) files decode too: javax.imageio writes MM
    val bi = new java.awt.image.BufferedImage(16, 9,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val planted = Array.tabulate(16 * 9)(i => (i * 2654435761L % 65536).toInt)
    planted.zipWithIndex.foreach { case (v, i) =>
      bi.getRaster.setSample(i % 16, i / 16, 0, v) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "tiff", bos)
    val mm = TiffCodec.readPages(bos.toByteArray)
    assert(mm.head.samples.toSeq === planted.toSeq)
    // non-TIFF bytes fail loudly
    intercept[IllegalArgumentException] {
      TiffCodec.readPages(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    }
  }

  test("TIFF tiled + planar layouts round-trip at every shape") {
    val rnd = new scala.util.Random(17)
    // 37x21 with 16x16 tiles: 3x2 tile grid with right+bottom edge
    // padding, so the unpadded-copy path is genuinely exercised
    for {
      (ch, bits) <- Seq((1, 8), (1, 16), (3, 8), (3, 16))
      tile <- Seq(None, Some((16, 16)))
      planar <- Seq(false, true)
      lzw <- Seq(false, true)
      pred <- Seq(1, 2)
      if lzw || pred == 1
      if tile.nonEmpty || planar // plain strip-chunky covered above
    } {
      val page = TiffPage(37, 21, bits, ch, None,
        Array.fill(37 * 21 * ch)(rnd.nextInt(1 << bits)))
      val back = TiffCodec.readPages(TiffCodec.write(Seq(page), lzw, pred,
        None, tileSize = tile, planar = planar))
      assert(back.length === 1)
      assert((back(0).width, back(0).height) === (37, 21))
      assert(back(0).samples.toSeq === page.samples.toSeq,
        s"ch=$ch bits=$bits tile=$tile planar=$planar lzw=$lzw pred=$pred")
    }
    // multi-page tiled stacks keep page identity
    val pages = (0 until 4).map(p =>
      TiffPage(20, 18, 16, 1, None,
        Array.tabulate(20 * 18)(i => (i * 31 + p * 9973) % 65536)))
    val back = TiffCodec.readPages(
      TiffCodec.write(pages, lzw = true, predictor = 2,
        tileSize = Some((16, 16))))
    assert(back.length === 4)
    for ((p, i) <- back.zipWithIndex)
      assert(p.samples.toSeq === pages(i).samples.toSeq, s"page $i")
  }

  test("TIFF tiled layout interoperates with the JDK codec both ways") {
    val rnd = new scala.util.Random(19)
    val planted = Array.fill(70 * 50)(rnd.nextInt(65536))
    // JDK-written tiled TIFF (the layout real OME-TIFF exporters emit)
    // through our reader
    val wtr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wtr.setOutput(ios)
    val param = wtr.getDefaultWriteParam
    param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setTiling(32, 32, 0, 0)
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bi = new java.awt.image.BufferedImage(70, 50,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    planted.zipWithIndex.foreach { case (v, i) =>
      bi.getRaster.setSample(i % 70, i / 70, 0, v) }
    wtr.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close()
    val theirs = TiffCodec.readPages(bos.toByteArray)
    assert(theirs.head.samples.toSeq === planted.toSeq)
    // our tiled file through the JDK reader
    val page = TiffPage(70, 50, 16, 1, None, planted)
    val ours = TiffCodec.write(Seq(page), lzw = true, predictor = 1,
      tileSize = Some((32, 32)))
    val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(im != null, "javax.imageio could not read our tiled TIFF")
    val viaImageIo = Array.tabulate(70 * 50)(i =>
      im.getRaster.getSample(i % 70, i / 70, 0))
    assert(viaImageIo.toSeq === planted.toSeq)
  }

  test("TIFF LZW interoperates with the JDK codec across width bumps") {
    // >60k random 16-bit samples: the code stream crosses the
    // 9->10->11->12-bit boundaries and a table reset — any
    // early-change off-by-one desynchronizes and fails loudly
    val rnd = new scala.util.Random(13)
    val page = TiffPage(210, 150, 16, 1, None,
      Array.fill(210 * 150)(rnd.nextInt(65536)))
    // predictor 1 here: the JDK READER rejects predictor 2 at 16-bit
    // (its own limitation); the width-bump interop is what's under test
    val ours = TiffCodec.write(Seq(page), lzw = true, predictor = 1)
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ours))
    assert(im != null, "javax.imageio could not read our LZW TIFF")
    val viaImageIo = Array.tabulate(210 * 150)(i =>
      im.getRaster.getSample(i % 210, i / 210, 0))
    assert(viaImageIo.toSeq === page.samples.toSeq)
    // predictor-2 interop at 8-bit, where the JDK does support it
    val page8 = TiffPage(120, 90, 8, 1, None,
      Array.fill(120 * 90)(rnd.nextInt(256)))
    val ours8 = TiffCodec.write(Seq(page8), lzw = true, predictor = 2)
    val im8 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ours8))
    assert(im8 != null, "javax.imageio could not read our pred-2 TIFF")
    val via8 = Array.tabulate(120 * 90)(i =>
      im8.getRaster.getSample(i % 120, i / 120, 0))
    assert(via8.toSeq === page8.samples.toSeq)
    // and the other direction: the JDK's LZW stream through our reader
    val wtr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wtr.setOutput(ios)
    val param = wtr.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bi = new java.awt.image.BufferedImage(210, 150,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    page.samples.zipWithIndex.foreach { case (v, i) =>
      bi.getRaster.setSample(i % 210, i / 210, 0, v) }
    wtr.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close()
    val theirs = TiffCodec.readPages(bos.toByteArray)
    assert(theirs.head.samples.toSeq === page.samples.toSeq)
  }

  test("splitTiff: planted 8-page stack -> frame rows + exact PNGs") {
    import spark.implicits._
    // third shape: a TILED stack (16x16 tiles over 6x5 pages — pure
    // edge-tile padding) through the SAME ingest path, so the upload
    // pipeline is proven on the layout real OME-TIFF exporters emit
    for ((lzw, pred, tile) <- Seq((false, 1, None), (true, 2, None),
        (true, 1, Some((16, 16))))) {
      val files = Seq(("TIFF-2026-01", plantedTiff(lzw, pred, tile)))
        .toDF("dataset_serial", "content")
      val frames = SplitterIngest.splitTiff(spark, files).collect()
        .sortBy(_.page_idx)
      assert(frames.length === 8)
      // acquisition order: channel fastest, then slice, then time
      // (tif_id_splitter.py itertools.product(time, pos, slice, chan))
      for ((f, i) <- frames.zipWithIndex) {
        assert(f.channel_idx === i % 2)
        assert(f.slice_idx === (i / 2) % 2)
        assert(f.pos_idx === 0)
        assert(f.time_idx === (i / 4) % 2)
        assert(f.file_name === pageName(i))
        assert((f.im_width, f.im_height) === (6, 5))
        assert(f.im_colors === 1 && f.bit_depth === "uint16")
        val (w, h, px) = ImageCodec.decodeGray(f.payload)
        assert(w === 6 && h === 5)
        assert(px.toSeq === plantPixels(i).toSeq, s"page $i lzw=$lzw")
      }
      assert(frames.map(_.sha256).distinct.length === 8)
    }
  }

  /** A 4-page float32 stack (2 channels x 2 slices) — the
    * quantitative-phase export.
    */
  private def plantFloats(page: Int): Array[Float] =
    Array.tabulate(6 * 5)(i => (i * 0.125f - page * 3.5f) *
      (if ((i + page) % 2 == 0) 1f else -1f))

  private def plantedFloatTiff(): Array[Byte] =
    TiffCodec.write((0 until 4).map(p => TiffPage(6, 5, 32, 1, None,
        plantFloats(p).map(java.lang.Float.floatToIntBits),
        sampleFormat = 3)),
      description = Some("channels=2\nslices=2\nframes=1"))

  test("splitTiff: planted float stack -> pixel-exact raw frames") {
    import spark.implicits._
    // payloads are the raw IEEE bits, typed float32, lossless by
    // construction
    val tiff = plantedFloatTiff()
    val files = Seq(("TIFF-F-2026-01", tiff))
      .toDF("dataset_serial", "content")
    val frames = SplitterIngest.splitTiff(spark, files).collect()
      .sortBy(_.page_idx)
    assert(frames.length === 4)
    for ((f, i) <- frames.zipWithIndex) {
      assert(f.bit_depth === "float32")
      assert(f.file_name.endsWith(".raw"))
      assert(f.payload.length === 6 * 5 * 4)
      val bb = java.nio.ByteBuffer.wrap(f.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val got = Array.fill(6 * 5)(bb.getFloat)
      assert(got.toSeq === plantFloats(i).toSeq, s"page $i")
    }
    assert(frames.map(_.sha256).distinct.length === 4)
  }

  test("Cli upload tif_id: real TIFF -> store parquet + storage PNGs") {
    val dir = tempDir("graft_tifup")
    val mount = tempDir("graft_tifmount").toString
    val store = uploadTifId(dir,
      Seq("TIFF-2026-02" -> plantedTiff(lzw = true, predictor = 2)), mount)
    // registered frames: 8 rows, the generated db names, global meta
    val frames = spark.read.parquet(s"$store/frames.parquet")
    assert(frames.count() === 8)
    assert(frames.columns.contains("sha256") &&
      !frames.columns.contains("payload"))
    val meta = spark.read.parquet(s"$store/global_meta.parquet").head()
    assert(meta.getAs[Long]("nbr_frames") === 8)
    assert(meta.getAs[Long]("nbr_channels") === 2)
    assert(meta.getAs[Long]("nbr_slices") === 2)
    assert(meta.getAs[Long]("nbr_timepoints") === 2)
    assert(meta.getAs[Long]("nbr_positions") === 1)
    // storage holds the 8 real PNGs, pixel-exact vs the planted pages
    val stored = Paths.get(mount, "raw_frames/TIFF-2026-02")
    assert(Files.list(stored).count() === 8)
    for (i <- 0 until 8) {
      val png = Files.readAllBytes(stored.resolve(pageName(i)))
      val (w, h, px) = ImageCodec.decodeGray(png)
      assert(w === 6 && h === 5)
      assert(px.toSeq === plantPixels(i).toSeq, s"stored page $i")
    }
  }

  test("Cli upload tif_id: two serials -> each dataset's storage holds " +
      "exactly its own PNGs; a re-run writes nothing") {
    val dir = tempDir("graft_tifup2")
    val mount = tempDir("graft_tifmount2").toString
    val serials = Seq("TIFF-2026-A", "TIFF-2026-B")
    // each serial's stack carries its own pixels (page keys 8k..8k+7),
    // so a frame routed to the other serial's storage shows
    val store = uploadTifId(dir, serials.zipWithIndex.map { case (s, k) =>
      s -> plantedTiff(lzw = true, predictor = 2, first = 8 * k) }, mount)
    assert(spark.read.parquet(s"$store/frames.parquet").count() === 16)
    val meta = spark.read.parquet(s"$store/global_meta.parquet")
      .orderBy("dataset_serial").collect()
    assert(meta.map(_.getAs[String]("dataset_serial")).toSeq === serials)
    assert(meta.forall(_.getAs[Long]("nbr_frames") == 8))
    for ((serial, k) <- serials.zipWithIndex) {
      val stored = Paths.get(mount, "raw_frames", serial)
      val names = Files.list(stored).iterator.asScala
        .map(_.getFileName.toString).toSet
      assert(names === (0 until 8).map(pageName).toSet, serial)
      for (i <- 0 until 8) {
        val (w, h, px) = ImageCodec.decodeGray(
          Files.readAllBytes(stored.resolve(pageName(i))))
        assert(w === 6 && h === 5)
        assert(px.toSeq === plantPixels(8 * k + i).toSeq,
          s"$serial stored page $i")
      }
    }
    // re-running the same csv into the same mount: every frame exists,
    // so nothing is written and no stored file's bytes or mtime move
    def snapshot() = serials.flatMap { serial =>
      Files.list(Paths.get(mount, "raw_frames", serial)).iterator.asScala
        .map(f => (f.toString, Files.readAllBytes(f).toSeq,
          Files.getLastModifiedTime(f)))
    }.sortBy(_._1)
    val before = snapshot()
    Thread.sleep(20) // a rewrite would carry a later mtime
    uploadTifId(dir, serials.zipWithIndex.map { case (s, k) =>
      s -> plantedTiff(lzw = true, predictor = 2, first = 8 * k) }, mount)
    assert(snapshot() === before)
  }

  test("Cli upload tif_id reads each TIFF exactly once") {
    // 64x64 uncompressed pages: each stack (64 KB) outweighs the csv
    // and the frames-table read-back together, so any TIFF read twice
    // pushes the input past tiff bytes + the smallest stack
    def stack(k: Int) = TiffCodec.write((0 until 8).map(p =>
        TiffPage(64, 64, 16, 1, None,
          Array.tabulate(64 * 64)(i => (i * 31 + (8 * k + p) * 977) % 65536))),
      description = Some("channels=2\nslices=2\nframes=2"))
    val stacks = Seq("READ-2026-A" -> stack(0), "READ-2026-B" -> stack(1))
    val dir = tempDir("graft_tifread")
    val mount = tempDir("graft_tifreadmount").toString
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val read = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      uploadTifId(dir, stacks, mount)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val sizes = stacks.map(_._2.length.toLong)
    assert(read.get >= sizes.sum && read.get < sizes.sum + sizes.min,
      s"upload read ${read.get} input bytes for ${sizes.sum} TIFF bytes")
    assert(Files.list(Paths.get(mount, "raw_frames", "READ-2026-B"))
      .count() === 8)
  }

  test("float tif_id frames (.raw) download, list and delete by manifest; " +
      "a PNG decode of them fails loudly") {
    val dir = tempDir("graft_tifupf")
    val mount = tempDir("graft_tifmountf").toString
    val serial = "TIFF-F-2026-02"
    val store = uploadTifId(dir, Seq(serial -> plantedFloatTiff()), mount)
    val st = new FrameStorage(mount, s"raw_frames/$serial")
    val manifest = spark.read.parquet(s"$store/frames.parquet")
      .select("file_name")
    val names = manifest.collect().map(_.getString(0)).toSet
    assert(names.size === 4 && names.forall(_.endsWith(".raw")))
    assert(st.listFrames(spark).collect().map(_.getString(0)).toSet
      === names)
    val dest = tempDir("graft_tifdlf").toString
    assert(st.downloadManifest(spark, manifest, dest) === 4L)
    for (n <- names)
      assert(Files.readAllBytes(Paths.get(dest, n)).toSeq ===
        Files.readAllBytes(Paths.get(st.getStoragePath(n))).toSeq, n)
    val e = intercept[Exception] {
      BinaryFrames.decodeFrames(spark,
        st.readFrames(spark).withColumn("frame_id", lit(0L))).collect()
    }
    assert(e.getMessage.contains("PNG signature"))
    // a takedown of the dataset's frames removes the .raw blobs too
    assert(st.deleteManifest(spark, manifest) === 4L)
    assert(Files.list(Paths.get(st.idStoragePath)).count() === 0L)
  }

  test("Cli upload tif_folder: folder of single-page tifs -> store " +
      "parquet + storage PNGs") {
    val dir = tempDir("graft_tiffolder")
    val folder = dir.resolve("acq")
    Files.createDirectory(folder)
    // 2 channels × 2 slices, SMS-style names; DAPI sorts before phase
    // so first-seen channel indexing must give DAPI 0, phase 1
    def px(i: Int): Array[Int] =
      Array.tabulate(6 * 5)(j => (i * 1001 + j * 7) % 65536)
    val names = Seq("img_DAPI_t000_p000_z000.tif",
      "img_DAPI_t000_p000_z001.tif",
      "img_phase_t000_p000_z000.tif",
      "img_phase_t000_p000_z001.tif")
    for ((n, i) <- names.zipWithIndex)
      Files.write(folder.resolve(n),
        TiffCodec.write(Seq(TiffPage(6, 5, 16, 1, None, px(i)))))
    Files.writeString(folder.resolve("metadata.txt"),
      """{"Summary":{"PixelType":"GRAY16","BitDepth":16,"Width":6,"Height":5}}""")
    val csv = dir.resolve("upload.csv")
    Files.writeString(csv,
      s"dataset_id,file_name,description\nFOLDER-2026-03,$folder,acq\n")
    val cfg = dir.resolve("config.json")
    // the reference's tiff_folder spelling alias must canonicalize
    Files.writeString(cfg,
      """{"upload_type": "frames", "frames_format": "tiff_folder"}""")
    val store = dir.resolve("store").toString
    val mount = tempDir("graft_foldermount").toString
    assert(Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", cfg.toString, "--store", store,
      "--mount", mount)) === 0)
    val frames = spark.read.parquet(s"$store/frames.parquet")
    assert(frames.count() === 4)
    assert(frames.columns.contains("sha256") &&
      !frames.columns.contains("payload"))
    // folder frame info + first-seen channel indexing
    assert(frames.filter(col("bit_depth") =!= "uint16"
      || col("im_width") =!= 6 || col("im_colors") =!= 1).count() === 0)
    val chIdx = frames.select("channel_name", "channel_idx").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(chIdx === Map("DAPI" -> 0, "phase" -> 1))
    val meta = spark.read.parquet(s"$store/global_meta.parquet").head()
    assert(meta.getAs[Long]("nbr_frames") === 4)
    assert(meta.getAs[Long]("nbr_channels") === 2)
    assert(meta.getAs[Long]("nbr_slices") === 2)
    assert(meta.getAs[Long]("nbr_timepoints") === 1)
    assert(meta.getAs[Long]("nbr_positions") === 1)
    // storage holds the 4 real PNGs pixel-exact vs the planted frames
    val stored = Paths.get(mount, "raw_frames/FOLDER-2026-03")
    assert(Files.list(stored).count() === 4)
    for ((c, z, i) <- Seq((0, 0, 0), (0, 1, 1), (1, 0, 2), (1, 1, 3))) {
      val name = f"im_c$c%03d_z$z%03d_t000_p000.png"
      val (w, h, got) = ImageCodec.decodeGray(
        Files.readAllBytes(stored.resolve(name)))
      assert(w === 6 && h === 5)
      assert(got.toSeq === px(i).toSeq, s"stored frame $name")
    }
  }

  test("TIFF 32-bit float gray (SampleFormat 3) round-trips exactly") {
    // the ometif_splitter.py:68 quantitative-phase export shape
    val floats = Array.tabulate(19 * 11) { i =>
      java.lang.Float.intBitsToFloat(
        (i * 2654435761L).toInt & 0x7f7fffff) * // finite by masking exp
        (if (i % 2 == 0) 1f else -1f)
    }
    val bits = floats.map(java.lang.Float.floatToIntBits)
    for (lzw <- Seq(false, true)) {
      val page = TiffPage(19, 11, 32, 1, None, bits, sampleFormat = 3)
      val back = TiffCodec.readPages(
        TiffCodec.write(Seq(page), lzw = lzw, predictor = 1,
          description = Some("slices=1")))
      assert(back.length === 1)
      assert(back(0).sampleFormat === 3)
      assert(back(0).bitsPerSample === 32)
      // bit-exact: raw IEEE bits survive the container untouched
      assert(back(0).samples.toSeq === bits.toSeq, s"lzw=$lzw")
      assert(back(0).floats.toSeq === floats.toSeq)
    }
    // the typed view refuses a uint page
    intercept[IllegalArgumentException] {
      TiffPage(2, 1, 16, 1, None, Array(1, 2)).floats
    }
    // loud failures: signed-int samples, 32-bit uint, float predictor
    val floatTiff = TiffCodec.write(
      Seq(TiffPage(19, 11, 32, 1, None, bits, sampleFormat = 3)))
    def patchShortTagValue(b: Array[Byte], tag: Int, v: Int): Array[Byte] = {
      // little-endian single-page writer layout: IFD at u32(4)
      val out = b.clone()
      val ifd = ((b(4) & 0xff) | ((b(5) & 0xff) << 8) |
        ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24))
      val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
      var e = 0
      var found = false
      while (e < n && !found) {
        val off = ifd + 2 + 12 * e
        val t = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
        if (t == tag) {
          out(off + 8) = (v & 0xff).toByte
          out(off + 9) = ((v >>> 8) & 0xff).toByte
          found = true
        }
        e += 1
      }
      assert(found, s"tag $tag not in planted file")
      out
    }
    val signed = patchShortTagValue(floatTiff, 339, 2)
    val e1 = intercept[IllegalArgumentException] {
      TiffCodec.readPages(signed) }
    assert(e1.getMessage.contains("SampleFormat"))
    val uint32 = patchShortTagValue(floatTiff, 339, 1)
    intercept[IllegalArgumentException] { TiffCodec.readPages(uint32) }
    intercept[IllegalArgumentException] {
      TiffCodec.write(Seq(TiffPage(19, 11, 32, 1, None, bits,
        sampleFormat = 3)), lzw = true, predictor = 2)
    }
    // javax.imageio cross-check where supported: the JDK TIFF plugin
    // reads float rasters on this platform or returns null — only a
    // successful read is compared, a null is recorded and skipped
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(floatTiff))
    if (im != null) {
      val r = im.getRaster
      val got = Array.tabulate(19 * 11)(i =>
        r.getSampleFloat(i % 19, i / 19, 0))
      assert(got.toSeq === floats.toSeq,
        "javax.imageio float decode disagrees")
    } else info("javax.imageio cannot read float TIFF here; skipped")
  }

  test("TIFF 8-bit palette pages expand through their 16-bit colormap") {
    val rnd = new scala.util.Random(29)
    val w = 21; val h = 13
    val indices = Array.fill(w * h)(rnd.nextInt(256))
    // planted 16-bit colormap: reds, greens, blues (TIFF6 tag 320)
    val cm = Array.tabulate(3 * 256)(i => (i * 40503) % 65536)
    for (lzw <- Seq(false, true)) {
      val bytes = TiffCodec.write(
        Seq(TiffPage(w, h, 8, 1, None, indices)),
        lzw = lzw, colorMap = Some(cm))
      val back = TiffCodec.readPages(bytes)
      assert(back.length === 1)
      // palette expands to a chunky 16-bit RGB page
      assert(back(0).samplesPerPixel === 3)
      assert(back(0).bitsPerSample === 16)
      val exp = indices.flatMap(ix =>
        Seq(cm(ix), cm(256 + ix), cm(512 + ix)))
      assert(back(0).samples.toSeq === exp.toSeq, s"lzw=$lzw")
    }
    // loud failures: bad colormap length at write, stripped map at read
    intercept[IllegalArgumentException] {
      TiffCodec.write(Seq(TiffPage(w, h, 8, 1, None, indices)),
        colorMap = Some(cm.take(512)))
    }
    // javax.imageio writes standard palette TIFFs; our reader must
    // expand them to the same colors the JDK reports
    val icm = new java.awt.image.IndexColorModel(8, 256,
      Array.tabulate(256)(i => ((cm(i) >>> 8) & 0xff).toByte),
      Array.tabulate(256)(i => ((cm(256 + i) >>> 8) & 0xff).toByte),
      Array.tabulate(256)(i => ((cm(512 + i) >>> 8) & 0xff).toByte))
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    indices.zipWithIndex.foreach { case (v, i) =>
      bi.getRaster.setSample(i % w, i / w, 0, v) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "tiff", bos)
    val jdkBack = TiffCodec.readPages(bos.toByteArray)
    if (jdkBack(0).samplesPerPixel == 3) {
      // the JDK wrote palette-color: compare the high bytes (the JDK
      // colormap is 8-bit, ours 16) against what it displays
      val shown = Array.tabulate(w * h) { i =>
        val rgb = bi.getRGB(i % w, i / w)
        Seq((rgb >>> 16) & 0xff, (rgb >>> 8) & 0xff, rgb & 0xff)
      }.flatten
      val oursHigh = jdkBack(0).samples.map(_ >>> 8)
      assert(oursHigh.toSeq === shown.toSeq,
        "palette expansion disagrees with the JDK's rendering")
    } else info("JDK wrote palette as expanded RGB/gray; skipped")
  }
}
