package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The bench loop: one real batch query, one real drain and two
  * entries that always fail, through [[Bench.run]].
  */
class BenchSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  test("the bench line keeps its fields, state and errors, and escapes " +
      "error text") {
    val message = "say \"hi\" \\ \u0001 done"
    val real = Bench.entries(spark, sfDir)
      .filter(e => Set("img_serial_datetime", "stream_dedup")(e.name))
    assert(real.map(_.name) === Seq("img_serial_datetime", "stream_dedup"))
    val base = Files.createTempDirectory("graft_bench_spec")
    val src = base.resolve("in")
    spark.range(4).write.parquet(src.toString)
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("drain failed") else x)
    val failing = Seq(
      Bench.Entry("batch_fails",
        () => throw new IllegalStateException(message), retry = true),
      Bench.Entry("drain_fails", () => Bench.drain(
        spark.readStream.schema("id long").parquet(src.toString)
          .select(boom(col("id"))).writeStream.format("noop")
          .trigger(Trigger.AvailableNow()).start())))
    val line =
      try Bench.run(spark, sfDir, real ++ failing)
      finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)

    assert(line.linesIterator.size === 1 && !line.contains('\n'))
    val root = new ObjectMapper().readTree(line)
    assert(root.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "queries", "stream_state", "noisy", "regressed", "errors", "sf"))
    val queries = root.get("queries")
    assert(queries.fieldNames().asScala.toSeq ===
      Seq("img_serial_datetime", "stream_dedup"))
    assert(root.get("value").asDouble() ===
      queries.elements().asScala.map(_.asDouble()).sum)
    val errors = root.get("errors")
    assert(errors.fieldNames().asScala.toSeq ===
      Seq("batch_fails", "drain_fails"))
    assert(errors.get("batch_fails").asText() ===
      s"java.lang.IllegalStateException: $message")
    val state = root.get("stream_state")
    assert(state.fieldNames().asScala.toSeq === Seq("stream_dedup"))
    assert(state.get("stream_dedup").get("state_rows").asLong() > 0)
    assert(root.get("sf").asText() === sfDir)
  }
}
