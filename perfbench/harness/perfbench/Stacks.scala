package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.imaging.Cli
import graft.multimodal.BinaryFrames
import graft.sources.FrameStorage

/** stack_roundtrip: upload seeded multi-page TIFF stacks through the
  * CLI, then fetch a slice and decode one dataset back from storage.
  * Expected names and pixel sums come from the generator's own pages.
  */
final class Stacks(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long) extends Workload {
  import spark.implicits._

  val (nc, nz, nt, np) = (4, 4, 2, 1)
  val Side = 256
  val Pool = 8
  val PerUpload = 2
  val pages = nc * nz * nt * np
  val warmupOps = 1

  private var stackDir: Path = _
  private var mount = ""
  private var config = ""
  /** Per pool stack: its TIFF bytes on disk and each page's pixel sum. */
  private var tiffBytes = Array.empty[Long]
  private var pageSums = Array.empty[Array[Long]]

  /** (c, z, t, p) of page `i` in the tif_id splitter's page order:
    * channel fastest, then slice, position, time.
    */
  def dims(i: Int): (Int, Int, Int, Int) =
    (i % nc, (i / nc) % nz, (i / (nc * nz * np)) % nt, (i / (nc * nz)) % np)

  def pageName(i: Int): String = {
    val (c, z, t, p) = dims(i)
    f"im_c$c%03d_z$z%03d_t$t%03d_p$p%03d.png"
  }

  def setup(rep: Int): Unit = {
    stackDir = Files.createDirectories(work.resolve(s"stacks_$rep"))
    mount = Files.createDirectories(work.resolve(s"mount_$rep")).toString
    val desc = s"channels=$nc\nslices=$nz\nframes=$nt\npositions=$np\n"
    val made = (0 until Pool).map { s =>
      val px = (0 until pages).map(j => Planted.frame(seed * 1000003L + s * 1009L + j, Side, Side))
      val f = stackDir.resolve(s"stack_$s.tif")
      Files.write(f, Planted.tiff(px, Side, Side, desc))
      (Files.size(f), px.map(_.foldLeft(0L)(_ + _)).toArray)
    }
    tiffBytes = made.map(_._1).toArray
    pageSums = made.map(_._2).toArray
    config = stackDir.resolve("config.json").toString
    Files.writeString(stackDir.resolve("config.json"),
      """{"upload_type": "frames", "frames_format": "tif_id"}""")
    // the mount's first registered dataset: one pool stack through the
    // CLI, so set-up covers graft's upload path and not only the inputs
    val csv = stackDir.resolve("setup.csv")
    Files.writeString(csv, "dataset_id,file_name,description\n" +
      s"STK-setup-$rep,${stackDir.resolve("stack_0.tif")},stack 0\n")
    val store = stackDir.resolve("store")
    val code = Cli.run(spark, Seq("upload", "--csv", csv.toString,
      "--config", config, "--store", store.toString, "--mount", mount))
    require(code == 0, s"set-up upload exited with $code")
    val registered = spark.read.parquet(s"$store/frames.parquet").count()
    require(registered == pages, s"set-up upload registered $registered of $pages pages")
  }

  /** (count, bytes) of the files under `p` whose names end in `ext`. */
  private def treeBytes(p: Path, ext: String): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator.asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(ext)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  def op(i: Int, warm: Boolean): Op = {
    val tag = if (warm) s"w$i" else s"$i"
    val r = new java.util.SplittableRandom(seed * 7919L + i + (if (warm) 500000 else 0))
    val picks = (0 until PerUpload).map(_ => r.nextInt(Pool))
    val serials = picks.indices.map(d => s"STK-$tag-$d")
    val opDir = Files.createDirectories(work.resolve(s"ops/op$tag"))
    val csv = opDir.resolve("upload.csv")
    Files.writeString(csv, ("dataset_id,file_name,description" +:
      serials.zip(picks).map { case (s, k) =>
        s"$s,${stackDir.resolve(s"stack_$k.tif")},stack $k" }).mkString("\n") + "\n")
    val store = opDir.resolve("store")
    // a fixed slice shape, two channels x two slices x one time point,
    // at seeded positions
    def two(n: Int) = { val a = r.nextInt(n); Seq(a, (a + 1 + r.nextInt(n - 1)) % n) }
    val slice = (two(nc), two(nz), Seq(r.nextInt(nt)))
    var steps = Map.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val (out, ms) = Main.timed(body)
      steps += name -> ms
      out
    }
    val t0 = System.nanoTime()
    try {
      val code = step("upload")(tracer.span("imaging.cli", "upload")(Cli.run(spark,
        Seq("upload", "--csv", csv.toString, "--config", config,
          "--store", store.toString, "--mount", mount))))
      require(code == 0, s"upload exited with $code")
      val first = serials.head
      val storage = new FrameStorage(mount, s"raw_frames/$first")
      val copied = step("fetch") {
        val manifest = spark.read.parquet(s"$store/frames.parquet")
          .filter(col("dataset_serial") === first &&
            col("channel_idx").isin(slice._1: _*) &&
            col("slice_idx").isin(slice._2: _*) &&
            col("time_idx").isin(slice._3: _*))
          .select("file_name")
        tracer.span("sources.frame_storage", "downloadManifest")(
          storage.downloadManifest(spark, manifest, opDir.resolve("fetched").toString))
      }
      val decoded = step("decode")(tracer.spanRows("multimodal", "decodeFrames",
          (a: Array[BinaryFrames.FrameFeature]) => a.length.toLong) {
        val framed = storage.readFrames(spark).withColumn("frame_id",
          expr("""cast(substring(file_name, 5, 3) as bigint) * 1000000 +
            cast(substring(file_name, 10, 3) as bigint) * 10000 +
            cast(substring(file_name, 15, 3) as bigint) * 100 +
            cast(substring(file_name, 20, 3) as bigint)"""))
        BinaryFrames.decodeFrames(spark, framed).collect()
      })
      val ms = Main.ms(t0)

      // outside checks: names, counts and pixel sums vs the planted pages
      val expected = (0 until pages).map(pageName).toSet
      val stored = spark.read.parquet(s"$store/frames.parquet")
        .select("dataset_serial", "file_name").as[(String, String)].collect()
      serials.foreach { s =>
        val names = stored.filter(_._1 == s).map(_._2)
        require(names.length == pages && names.toSet == expected,
          s"$s: registered ${names.length} frames, expected $pages planted pages")
      }
      val wantSlice = (0 until pages).map(dims).count { case (c, z, t, _) =>
        slice._1.contains(c) && slice._2.contains(z) && slice._3.contains(t)
      }
      require(copied == wantSlice, s"fetched $copied frames, expected $wantSlice")
      require(decoded.length == pages, s"decoded ${decoded.length} of $pages frames")
      val sums = pageSums(picks.head)
      (0 until pages).foreach { j =>
        val (c, z, t, p) = dims(j)
        val id = c * 1000000L + z * 10000L + t * 100L + p
        val f = decoded.find(_.frame_id == id)
          .getOrElse(sys.error(s"page $j missing from the decode"))
        require(f.width == Side && f.height == Side && f.sum_px == sums(j),
          s"page $j: decoded sum ${f.sum_px} != planted ${sums(j)}")
      }
      val (objects, pngBytes) = serials.map(s => treeBytes(java.nio.file.Paths.get(mount, "raw_frames", s), ".png"))
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      val (_, parquetBytes) = treeBytes(store, ".parquet")
      Op("roundtrip", ms, ok = true, "", steps, Map(
        "frames_up" -> (PerUpload * pages).toDouble,
        "frames_fetched" -> (copied + decoded.length).toDouble,
        "tiff_bytes" -> picks.map(tiffBytes(_)).sum.toDouble,
        "objects_written" -> objects.toDouble,
        "objects_skipped" -> (stored.length - objects).toDouble,
        "png_bytes" -> pngBytes.toDouble,
        "parquet_bytes" -> parquetBytes.toDouble))
    } catch {
      case NonFatal(e) => Op("roundtrip", Main.ms(t0), ok = false, String.valueOf(e), steps, Map.empty)
    }
  }
}
