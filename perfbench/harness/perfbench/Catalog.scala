package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.imaging.{Cli, ImagingDb}
import graft.imaging.ImagingDb.{Channels, SearchCriteria}
import graft.multimodal.ImageCodec
import graft.sources.{FrameStorage, Retrieval, TermIndexStore, VectorIndex}

/** catalog_lookup: the seeded request list that run.py wrote next to
  * the tables, served one request at a time. Every result goes to
  * results.jsonl, which run.py checks against DuckDB.
  */
final class Catalog(spark: SparkSession, tracer: Tracer, work: Path,
    data: Path) extends Workload {
  import spark.implicits._

  private val reqs = Main.json.readTree(data.resolve("requests.json").toFile)
  private val warmReqs = reqs.get("warm").asScala.toIndexedSeq
  private val timedReqs = reqs.get("timed").asScala.toIndexedSeq
  /** Datasets whose frames set-up stores in the mount, with their
    * frame file names.
    */
  private val mount = reqs.get("mount").properties.asScala.map { e =>
    e.getKey -> e.getValue.asScala.map(_.asText).toSeq
  }.toSeq
  private val results = Files.newBufferedWriter(work.resolve("results.jsonl"))
  private var dir = ""
  private var mountDir = ""

  val warmupOps: Int = warmReqs.size
  override val rotation: Int = reqs.get("rotation").asInt
  val FrameSide = 128

  def setup(rep: Int): Unit = {
    val d = Files.createDirectories(work.resolve(s"cat_$rep"))
    Seq("orders", "lineitem", "documents", "embeddings").foreach { t =>
      Files.createLink(d.resolve(s"$t.parquet"), data.resolve(s"$t.parquet"))
    }
    dir = d.toString
    mountDir = Files.createDirectories(work.resolve(s"mount_$rep")).toString
    TermIndexStore.ensureBuilt(spark, dir)
    VectorIndex.ensureBuilt(spark, dir)
    mount.foreach { case (serial, names) =>
      val frames = names.map { n =>
        val px = Planted.frame(n.hashCode.toLong, FrameSide, FrameSide)
        (n, ImageCodec.encodeGray16(px, FrameSide, FrameSide))
      }.toDF("file_name", "payload")
      new FrameStorage(mountDir, s"raw_frames/$serial").uploadFrames(frames)
    }
  }

  override def info: Map[String, Any] = Map("dir" -> dir, "mount" -> mountDir)

  private def opt(r: JsonNode, k: String): Option[JsonNode] =
    Option(r.get(k)).filterNot(_.isNull)
  private def ints(r: JsonNode, k: String): Option[Seq[Int]] =
    opt(r, k).map(_.asScala.map(_.asInt).toSeq)
  private def strs(r: JsonNode, k: String): Option[Seq[String]] =
    opt(r, k).map(_.asScala.map(_.asText).toSeq)
  private def day(r: JsonNode, k: String): Option[Timestamp] =
    opt(r, k).map(n => Timestamp.valueOf(n.asText + " 00:00:00"))
  private def channels(r: JsonNode): Option[Channels] =
    opt(r, "channels").map { c =>
      if (c.has("names")) Channels.ByName(c.get("names").asScala.map(_.asText).toSeq)
      else Channels.ById(c.get("ids").asScala.map(_.asInt).toSeq)
    }

  /** A call that returns a DataFrame: the plan build and the collect
    * are separate spans.
    */
  private def query(layer: String, fn: String)(plan: => DataFrame): Array[Row] = {
    val df = tracer.span(layer, s"$fn.plan")(plan)
    tracer.spanRows(layer, s"$fn.exec", (r: Array[Row]) => r.length.toLong)(df.collect())
  }

  private def cells(rows: Array[Row]): java.util.List[java.util.List[String]] =
    rows.map(r => r.toSeq.map(v => String.valueOf(v)).asJava).toSeq.asJava

  private def sha256(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Run one request; returns its output for the outside check. */
  private def serve(i: Int, warm: Boolean, r: JsonNode): Map[String, Any] = {
    def serial = r.get("serial").asText
    r.get("kind").asText match {
      case "datasets" =>
        val crit = SearchCriteria(
          projectId = strs(r, "project").map(_.head),
          microscope = strs(r, "microscope").map(_.head),
          startDate = day(r, "start"), endDate = day(r, "end"),
          description = strs(r, "description").map(_.head),
          metaContains = strs(r, "meta").map(m => (m(0), m(1))))
        val rows = query("imaging", "getDatasets")(
          ImagingDb.getDatasets(spark, dir, crit))
        val serials = rows.map(_.getAs[String]("dataset_serial")).toSeq
        Map("n" -> rows.length, "sha" -> sha256(serials))
      case "subset" =>
        val rows = query("imaging", "getFramesSubset")(
          ImagingDb.getFramesSubset(spark, dir, serial, channels(r),
            sliceIds = ints(r, "z"), timeIds = ints(r, "t"), posIds = ints(r, "p")))
        Map("rows" -> cells(rows))
      case "meta" =>
        val rows = query("imaging", "getFramesMeta")(
          ImagingDb.getFramesMeta(spark, dir, serial, channels(r),
            sliceIds = ints(r, "z"), timeIds = ints(r, "t"), posIds = ints(r, "p")))
        Map("rows" -> cells(rows))
      case "text" =>
        val rows = query("sources.retrieval", "searchText")(
          Retrieval.searchText(spark, dir, r.get("q").asText, 5))
        Map("rows" -> cells(rows))
      case "vec" =>
        val v = r.get("v").asScala.map(_.floatValue).toArray
        val rows = query("sources.retrieval", "searchVec")(
          Retrieval.searchVec(spark, dir, v, 5))
        Map("rows" -> cells(rows))
      case "download" =>
        // frames and manifest only: the metadata export would triple
        // the request's cost, and getFramesMeta covers that derivation
        val dest = work.resolve(s"download/${if (warm) "w" else ""}op$i").toString
        val flags = Seq("c" -> strs(r, "c"), "z" -> strs(r, "z"),
          "t" -> strs(r, "t"), "p" -> strs(r, "p"))
          .flatMap { case (f, v) => v.toSeq.flatMap(s"-$f" +: _) }
        val code = tracer.span("imaging.cli", "download")(Cli.run(spark,
          Seq("download", "--dir", dir, "--id", serial, "--dest", dest,
            "--mount", mountDir, "--no-metadata") ++ flags))
        require(code == 0, s"download exited with $code")
        val frames = java.nio.file.Paths.get(dest, serial, "frames")
        val copied = Files.list(frames)
        val bytes = try copied.iterator.asScala.map(Files.size).sum finally copied.close()
        Map("dest" -> s"$dest/$serial", "bytes" -> bytes)
    }
  }

  def op(i: Int, warm: Boolean): Op = {
    val r = if (warm) warmReqs(i) else timedReqs(i % timedReqs.size)
    val t0 = System.nanoTime()
    val (out, err) =
      try (serve(i, warm, r), "")
      catch { case NonFatal(e) => (Map.empty[String, Any], String.valueOf(e)) }
    val ms = Main.ms(t0)
    if (!warm) {
      val line = Map("i" -> i, "req" -> r, "ok" -> err.isEmpty, "err" -> err,
        "out" -> out.asJava)
      results.write(Main.json.writeValueAsString(line.asJava))
      results.newLine()
      results.flush()
    }
    Op(r.get("class").asText, ms, err.isEmpty, err, Map.empty,
      out.get("bytes").map(b => "bytes_copied" -> b.asInstanceOf[Long].toDouble).toMap)
  }
}
