package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocumentStore, VectorIndex}
import graft.streaming.VecStream

class VecStreamSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  private def indexSet(table: String) =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getInt(0), s.getLong(1))).toList))
      .toSet

  private def clearAll(tables: String*): Unit =
    tables.foreach(DocumentStore.clearStale(spark, _))

  test("streamed index equals the batch build and searches identically") {
    val src = tempDir("graft_vecsrc").toString
    val ckpt = tempDir("graft_vecckpt").toString
    val table = "graft_stream_vecindex"
    val base = "graft_stream_vecreg"
    VecStream.reset(base)
    clearAll(table, base + "_v0", base + "_v1")

    val e = graft.tables.Tables.embeddings(spark, sfDir)
    e.filter(col("vec_id") < 250).coalesce(1)
      .write.parquet(src + "/f1.parquet")
    e.filter(col("vec_id") >= 250).coalesce(1)
      .write.parquet(src + "/f2.parquet")
    val source = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/*.parquet")
    val q = VecStream.ingestIndex(spark, source, table, base, sfDir, ckpt)
    q.awaitTermination()

    // row parity with the one-shot batch build
    val batchRows = graft.ops.VectorOps.indexRows(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getInt(0), s.getLong(1))).toList))
      .toSet
    assert(indexSet(table) === batchRows)

    // search parity with the inline IVF+PQ operator
    val viaStream = graft.ops.VectorOps
      .searchIndex(spark, sfDir, VectorIndex.read(spark, table))
      .collect().map(_.toSeq).toSeq
    val inline = graft.ops.VectorOps.knnIvfPq(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaStream === inline)

    // the registry census sums to the corpus size
    val reg = VecStream.currentRegistry(base).get
    assert(spark.table(reg).agg(sum("n")).collect()(0).getLong(0)
      === e.count())
  }

  test("a replayed batch is a no-op, surviving a JVM restart") {
    val table = "graft_replay_vecindex"
    val base = "graft_replay_vecreg"
    VecStream.reset(base)
    clearAll(table, base + "_v0", base + "_v1")
    val e = graft.tables.Tables.embeddings(spark, sfDir)
    val b0 = e.filter(col("vec_id") < 100)
    val b1 = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)

    VecStream.absorbBatch(spark, b0, table, base, sfDir, 0L)
    VecStream.absorbBatch(spark, b1, table, base, sfDir, 1L)
    val before = indexSet(table)
    // same-JVM replay
    VecStream.absorbBatch(spark, b1, table, base, sfDir, 1L)
    assert(indexSet(table) === before)
    // restart: in-memory registry gone, durable one must still guard
    VecStream.reset(base)
    VecStream.absorbBatch(spark, b0, table, base, sfDir, 0L)
    VecStream.absorbBatch(spark, b1, table, base, sfDir, 1L)
    assert(indexSet(table) === before)
    assert(VecStream.currentRegistry(base).get === base + "_v1")
  }

  test("crash between append and registry advance: restart replay " +
      "auto-settles the duplicated index rows") {
    val table = "graft_crash_vecindex"
    val base = "graft_crash_vecreg"
    VecStream.reset(base)
    clearAll(table, base + "_v0", base + "_v1", base + "_v2")
    val e = graft.tables.Tables.embeddings(spark, sfDir)
    val b0 = e.filter(col("vec_id") < 100)
    val b1 = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)

    VecStream.absorbBatch(spark, b0, table, base, sfDir, 0L)
    // simulate the crash window for batch 1: the append lands, the
    // registry does NOT advance, the JVM dies
    VectorIndex.append(spark, b1, table, sfDir)
    VecStream.reset(base)
    // restart: the checkpoint redelivers batch 1; absorb re-appends
    // (rows now duplicated) and the post-recovery settle must rewrite
    // exactly the disagreeing buckets back to one copy per vector
    VecStream.absorbBatch(spark, b1, table, base, sfDir, 1L)
    val rows = spark.table(table)
    assert(rows.count() === 200)
    assert(rows.groupBy("vec_id").count().filter(col("count") > 1)
      .count() === 0, "duplicate index rows survived the settle")
    // and a fresh search over the settled index matches the batch
    // build restricted to the ingested ids
    val expected = graft.ops.VectorOps.indexRows(spark, sfDir)
      .filter(col("vec_id") < 200).collect().length
    assert(rows.count() === expected)
  }
}
