package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.Cli
import graft.multimodal.{ImageCodec, TiffCodec}
import graft.multimodal.TiffCodec.TiffPage
import graft.sources.{FrameStorage, FrameStorageApi, S3FrameStorage}

/** Each byte path of a stack round trip is bounded by Spark jobs, not
  * data: at a few frames every job costs its scheduling latency. A
  * `tif_id` upload splits and stores in one job and aggregates its
  * global metadata in a second; a frame upload, a manifest copy and a
  * manifest delete are one job each.
  */
class ByteJobsSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{jobsOf, spark}

  test("a two-stack tif_id Cli upload runs at most 2 Spark jobs") {
    val dir = tempDir("graft_jobs_up")
    val mount = tempDir("graft_jobs_mount").toString
    val serials = Seq("JOBS-A", "JOBS-B")
    val rows = serials.zipWithIndex.map { case (serial, k) =>
      val pages = (0 until 8).map(p => TiffPage(6, 5, 16, 1, None,
        Array.tabulate(6 * 5)(i => (i * 31 + (8 * k + p) * 977) % 65536)))
      val tif = Files.write(dir.resolve(s"$serial.tif"), TiffCodec.write(
        pages, description = Some("channels=2\nslices=2\nframes=2")))
      s"$serial,$tif,stack $k"
    }
    val csv = Files.writeString(dir.resolve("upload.csv"),
      ("dataset_id,file_name,description" +: rows).mkString("\n") + "\n")
    val cfg = Files.writeString(dir.resolve("config.json"),
      """{"upload_type": "frames", "frames_format": "tif_id"}""")
    val store = dir.resolve("store").toString
    val (code, jobs) = jobsOf(Cli.run(spark, Seq("upload",
      "--csv", csv.toString, "--config", cfg.toString, "--store", store,
      "--mount", mount)))
    assert(code === 0)
    assert(jobs <= 2, s"the upload ran $jobs jobs")
    assert(spark.read.parquet(s"$store/global_meta.parquet")
      .orderBy("dataset_serial").collect().map(_.toSeq).toSeq ===
      serials.map(s => Seq(s, 8L, 2L, 2L, 2L, 1L)))
  }

  for ((backend, mk) <- Seq[(String, (String, String) => FrameStorageApi)](
      "local" -> (new FrameStorage(_, _)),
      "s3" -> (new S3FrameStorage(_, _)))) {
    test(s"[$backend] uploadFrames, downloadManifest and deleteManifest " +
        "run one job each") {
      import spark.implicits._
      val st = mk(tempDir("graft_jobs_blobs").toString, "raw_frames/ds")
      val png = ImageCodec.encodeGray8(new Array[Byte](4), 2, 2)
      val names = (0 until 6).map(i => f"im_c$i%03d_z000_t000_p000.png")
      val framed = names.map(n => (n, png)).toDF("file_name", "payload")
      val (counts, upJobs) = jobsOf(st.uploadFrames(framed))
      assert(counts === ((6L, 0L)))
      assert(upJobs === 1)
      val manifest = names.take(4).toDF("file_name")
      val dest = tempDir("graft_jobs_dl").toString
      val (copied, dlJobs) =
        jobsOf(st.downloadManifest(spark, manifest, dest))
      assert(copied === 4L && dlJobs === 1)
      val (deleted, rmJobs) = jobsOf(st.deleteManifest(spark, manifest))
      assert(deleted === 4L && rmJobs === 1)
      assert(Files.list(Paths.get(st.idStoragePath)).count() === 2L)
    }
  }
}
