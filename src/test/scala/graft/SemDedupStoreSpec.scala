package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VectorOps
import graft.sources.SemDedupStore

/** Incremental SemDeDup against the cell-partitioned store: stored
  * vectors always win, in-batch keep-first applies, reads prune to
  * the probed cells' partitions, and the accumulated store never
  * holds a probe-geometry tau pair.
  */
class SemDedupStoreSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  test("ingest drops stored-first + in-batch, prunes reads, and the " +
      "store stays tau-pair free across batches") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sdstore").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_sd LOCATION '$tmp'")
    try {
      SemDedupStore.build(spark, sfDir, "graft_sd.store")
      val e = graft.tables.Tables.embeddings(spark, sfDir)
      assert(spark.table("graft_sd.store").count() === e.count())

      // batch 1: 6 exact copies of stored vectors (must drop
      // stored-first), 4 genuinely-new vectors (negated embeddings —
      // cosine −1 to their source, and the raw corpus has no ±tau
      // pairs, so they must append), and one in-batch exact dup of a
      // new vector (larger id — must drop keep-first)
      val copies = e
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 300)
        .select((col("vec_id") + 5000000L).as("vec_id"),
          col("embedding"))
      val fresh = e.filter(col("vec_id").isin(1L, 2L, 3L, 4L))
        .select((col("vec_id") + 6000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val freshDup = fresh.filter(col("vec_id") === 6000001L)
        .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
      val batch1 = copies.unionByName(fresh).unionByName(freshDup)
      val s1 = SemDedupStore.ingest(spark, batch1, "graft_sd.store",
        sfDir)
      assert(s1.nBatch === 11)
      assert(s1.nDroppedVsStore === 6, s"copies must drop: $s1")
      assert(s1.nDroppedInBatch === 1, s"in-batch dup must drop: $s1")
      assert(s1.nAppended === 4, s"fresh vectors must survive: $s1")
      assert(spark.table("graft_sd.store").count() === e.count() + 4)

      // batch 2: a copy of a batch-1 SURVIVOR — the accumulated state
      // must catch it (cross-batch dedup, the whole point)
      val b2 = fresh.filter(col("vec_id") === 6000002L)
        .select((col("vec_id") + 200L).as("vec_id"), col("embedding"))
      val s2 = SemDedupStore.ingest(spark, b2, "graft_sd.store", sfDir)
      assert(s2.nDroppedVsStore === 1 && s2.nAppended === 0,
        s"batch-1 survivor's copy must drop against the store: $s2")
      // a one-vector batch probes at most its 2 nearest cells
      assert(s2.nCellsTouched <= 2)

      // partition pruning is real: a cell-filtered read touches a
      // strict subset of the store's files
      val all = spark.table("graft_sd.store")
      val oneCell = all.select("cell").head().getLong(0)
      val pruned = all.filter(col("cell") === oneCell)
      assert(pruned.inputFiles.length < all.inputFiles.length,
        "cell filter did not prune partitions")

      // the invariant the store exists for: NO probe-geometry tau
      // pair among accepted vectors, across all batches (the raw
      // corpus itself carries none — its only near-dups are the
      // planted +1e6 copies, which build() does not include)
      val store = all.select(col("vec_id"), col("embedding"))
      val k = VectorOps.derivedK(e.count())
      val cents = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val probedAll = VectorOps.probedFrame(store, cents)
      val pairs = VectorOps
        .probeEdges(probedAll, probedAll.filter(col("prank") === 0))
        .filter(col("sim") >= 0.85)
      assert(pairs.count() === 0,
        "accepted vectors contain an undetected tau pair")

      // at-least-once replay: re-delivering batch 1 verbatim must be
      // a stored-state no-op — survivors skip by id, drops re-drop
      val s1r = SemDedupStore.ingest(spark, batch1, "graft_sd.store",
        sfDir)
      assert(s1r.nReplayed === 4 && s1r.nAppended === 0,
        s"replayed batch not a no-op: $s1r")
      assert(spark.table("graft_sd.store").count() === e.count() + 4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_sd.store")
      spark.sql("DROP DATABASE IF EXISTS graft_sd")
    }
  }

  test("streamed semantic-dedup ingest: drops at ingest rate, and a " +
      "full from-scratch replay is a stored-state no-op") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sdstore2").toString
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS graft_sd2 LOCATION '$tmp'")
    try {
      SemDedupStore.build(spark, sfDir, "graft_sd2.store")
      val e = graft.tables.Tables.embeddings(spark, sfDir)
      val src = java.nio.file.Files
        .createTempDirectory("graft_sdsrc").toString
      // file 1: exact copies of stored vectors (must all drop);
      // file 2: genuinely-new negated vectors (must all append)
      val copies = e
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 300)
        .select((col("vec_id") + 5000000L).as("vec_id"),
          col("embedding"))
      val fresh = e.filter(col("vec_id").isin(1L, 2L, 3L, 4L))
        .select((col("vec_id") + 6000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      copies.coalesce(1).write.parquet(src + "/f1.parquet")
      fresh.coalesce(1).write.parquet(src + "/f2.parquet")
      def source = spark.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
      val ckpt1 = java.nio.file.Files
        .createTempDirectory("graft_sdckpt1").toString
      graft.streaming.VecStream
        .ingestDedup(spark, source, "graft_sd2.store", sfDir, ckpt1)
        .awaitTermination()
      val after = spark.table("graft_sd2.store")
      assert(after.count() === e.count() + 4)
      assert(after.filter(col("vec_id") >= 5000000L
        && col("vec_id") < 6000000L).count() === 0,
        "a copy of a stored vector slipped into the store")
      // from-scratch replay: a FRESH checkpoint re-delivers every
      // micro-batch — the id-based crash discipline must make the
      // whole rerun a stored-state no-op
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("graft_sdckpt2").toString
      graft.streaming.VecStream
        .ingestDedup(spark, source, "graft_sd2.store", sfDir, ckpt2)
        .awaitTermination()
      assert(spark.table("graft_sd2.store").count() === e.count() + 4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_sd2.store")
      spark.sql("DROP DATABASE IF EXISTS graft_sd2")
    }
  }

  test("compaction collapses per-cell file debt and preserves " +
      "contents and partition-pruned reads") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sdstore4").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_sd4 LOCATION '$tmp'")
    val t = "graft_sd4.store"
    try {
      SemDedupStore.build(spark, sfDir, t)
      val e = graft.tables.Tables.embeddings(spark, sfDir)
      // accrue append debt: three single-vector batches of genuinely
      // new vectors (negated — no ±tau pair in the corpus), each
      // landing one file into its primary cell's directory
      (1 to 3).foreach { i =>
        val b = e.filter(col("vec_id") === i.toLong)
          .select((col("vec_id") + 7000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))
        SemDedupStore.ingest(spark, b, t, sfDir)
      }
      val rows0 = spark.table(t).select("vec_id", "cell")
        .orderBy("vec_id").collect().toSeq
      val dir = graft.sources.DocumentStore.tableDir(spark, t)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def cellFiles(): Map[String, Int] =
        fs.listStatus(dir).filter(_.getPath.getName.startsWith("cell="))
          .map(d => d.getPath.getName ->
            fs.listStatus(d.getPath)
              .count(_.getPath.getName.startsWith("part-"))).toMap
      val before = cellFiles()
      assert(before.values.exists(_ > 1),
        s"expected per-cell append debt, got $before")
      SemDedupStore.compact(spark, t)
      val after = cellFiles()
      assert(after.keySet === before.keySet, "cells must survive")
      assert(after.values.forall(_ === 1),
        s"every cell must settle to one file, got $after")
      // contents identical; the pruned read path still works (another
      // ingest routes, prunes to its probed cells and drops a copy)
      assert(spark.table(t).select("vec_id", "cell")
        .orderBy("vec_id").collect().toSeq === rows0)
      val copy = e.filter(col("vec_id") === 10L)
        .select((col("vec_id") + 7100000L).as("vec_id"),
          col("embedding"))
      val s = SemDedupStore.ingest(spark, copy, t, sfDir)
      assert(s.nDroppedVsStore === 1 && s.nAppended === 0, s"$s")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql("DROP DATABASE IF EXISTS graft_sd4")
    }
  }

  test("ingest stats count a repeated replayed vec_id once per row, " +
      "never fanned out") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sdstore5").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_sd5 LOCATION '$tmp'")
    val t = "graft_sd5.store"
    try {
      SemDedupStore.build(spark, sfDir, t)
      // one stored vector delivered twice in one batch: both rows are
      // replays of the stored row
      val twice = graft.tables.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") === 7L).select("vec_id", "embedding")
      val s = SemDedupStore.ingest(spark, twice.unionByName(twice), t,
        sfDir)
      assert(s.nBatch === 2 && s.nReplayed === 2 && s.nAppended === 0,
        s"$s")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql("DROP DATABASE IF EXISTS graft_sd5")
    }
  }
}
