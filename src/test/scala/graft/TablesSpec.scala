package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

class TablesSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a nested table layout fails loudly instead of caching") {
    val dir = Files.createTempDirectory("graft_tables").toString
    spark.range(4).withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("nested directory"))
  }

  test("part files with equal (mtime, length) do not cancel out") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val table = Paths.get(dir, "region.parquet")
    spark.range(5).coalesce(1).write.parquet(table.toString)
    val part = Files.list(table).filter(_.getFileName.toString
      .matches("part-.*\\.parquet")).findFirst().get()
    val tableMtime = Files.getLastModifiedTime(table)
    assert(Tables.load(spark, dir, "region").count() === 5)
    // two more copies sharing one (mtime, length), with the directory's
    // own mtime restored: only their names tell the new layout apart
    val shared = FileTime.fromMillis(1000000000000L)
    Seq("part-a.parquet", "part-b.parquet").foreach { n =>
      Files.setLastModifiedTime(Files.copy(part, table.resolve(n)), shared)
    }
    Files.setLastModifiedTime(table, tableMtime)
    assert(Tables.load(spark, dir, "region").count() === 15)
  }
}
