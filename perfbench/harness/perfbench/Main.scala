package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One closed-loop operation as the client saw it. `steps` holds the
  * wall time of its parts, `extra` the workload's own counts.
  */
final case class Op(cls: String, ms: Double, ok: Boolean, err: String,
    steps: Map[String, Double], extra: Map[String, Double])

/** A workload: `setup` builds its state from scratch under a fresh
  * directory (run several times; the last one is used), then `op` runs
  * one closed-loop operation and returns what it did. The timed ops
  * cycle through a fixed mix of `rotation` ops, and a run times whole
  * rotations only, so the mix it reports never depends on speed.
  */
trait Workload {
  def setup(rep: Int): Unit
  def warmupOps: Int
  def rotation: Int = 1
  def op(i: Int, warm: Boolean): Op
  /** Workload-level facts written next to the ops (paths for the
    * outside checks, input sizes).
    */
  def info: Map[String, Any] = Map.empty
}

object Main {
  val json = new ObjectMapper()
  val SetupReps = 3

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, ms(t0))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opt("trace") == "1")
    val seed = opt("seed").toLong
    val w: Workload = opt("workload") match {
      case "catalog_lookup" =>
        new Catalog(spark, tracer, work, Paths.get(opt("data")))
      case "stack_roundtrip" => new Stacks(spark, tracer, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      Reference.warm()
      val setupS = (1 to SetupReps).map { k =>
        Reference.sample()
        timed(w.setup(k))._2 / 1e3
      }
      val warm = (0 until w.warmupOps).map { i =>
        Reference.sample()
        w.op(i, warm = true)
      }
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val threads = ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val alloc0 = threads.getTotalThreadAllocatedBytes
      val gc0 = gcMs()
      tracer.recording = true
      val ops = ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      while (ms(t0) < seconds * 1e3 || ops.size % w.rotation != 0) {
        Reference.sample()
        ops += w.op(ops.size, warm = false)
      }
      val measuredS = ms(t0) / 1e3
      Reference.sample()
      tracer.recording = false
      tracer.settle()
      val peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val gc = (gcMs() - gc0).toDouble
      val allocMb = (threads.getTotalThreadAllocatedBytes - alloc0) / 1048576.0
      System.gc()
      val memory = Map("gc_ms" -> gc, "heap_peak_mb" -> peakMb, "alloc_mb" -> allocMb,
        "heap_live_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
      write(work.resolve("result.json"), setupS, warm, ops.toSeq, w.rotation,
        measuredS, tracer, w.info, memory)
    } finally spark.stop()
  }

  private def opMap(o: Op) = Map(
    "cls" -> o.cls, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err,
    "steps" -> o.steps.asJava, "extra" -> o.extra.asJava).asJava

  private def write(out: Path, setupS: Seq[Double], warm: Seq[Op],
      ops: Seq[Op], rotation: Int, measuredS: Double, tracer: Tracer,
      info: Map[String, Any], memory: Map[String, Double]): Unit = {
    val spans = tracer.spans.map(s => Map(
      "layer" -> s.layer, "fn" -> s.fn, "ms" -> s.ms, "rows" -> s.rows,
      "failed" -> s.failed, "c" -> s.counters.toSeq.asJava).asJava)
    val doc = (Map(
      "setup_s" -> setupS.asJava,
      "warmup" -> warm.map(opMap).asJava,
      "ops" -> ops.map(opMap).asJava,
      "measured_s" -> measuredS,
      "spans" -> spans.asJava,
      "info" -> info.map { case (k, v) => k -> toJava(v) }.asJava,
      "vm_hwm_kb" -> vmHwmKb(),
      "ref_ms" -> Reference.samples.asJava,
      "ref_nominal_ms" -> Reference.NominalMs,
      "rotation" -> rotation) ++ memory).asJava
    Files.writeString(out, json.writeValueAsString(doc))
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM (VmHWM), in kB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
