package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps
import graft.sources.MinHashStore

/** Incremental MinHash-LSH near-dup against the bucketed band index:
  * stored docs always win, in-batch keep-first applies, replay is an
  * id-based no-op, the band index heals a doc/band append crash
  * window, and the accumulated store never holds a confirmed near-dup
  * pair.
  */
class MinHashStoreSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  private def freshDocs = {
    import spark.implicits._
    // token-unique texts: no shingle can collide with the word-soup
    // corpus or with each other
    Seq(
      (6000001L, "qz1a qz1b qz1c qz1d qz1e qz1f"),
      (6000002L, "qz2a qz2b qz2c qz2d qz2e qz2f"),
      (6000003L, "qz3a qz3b qz3c qz3d qz3e qz3f"),
      (6000004L, "qz4a qz4b qz4c qz4d qz4e qz4f")
    ).toDF("doc_id", "text")
  }

  test("ingest drops stored-first + in-batch, replay is a no-op, and " +
      "the store stays near-dup free across batches") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mh LOCATION '$tmp'")
    val t = "graft_mh.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      val stored0 = spark.table(t).count()
      val corpus = DedupOps.corpus(spark, sfDir)
      // build collapses the planted +1e6 exact copies keep-first
      assert(stored0 < corpus.count())
      assert(spark.table(t + "_bands").count() === stored0 * 16,
        "16 band rows per stored doc")

      // batch 1: copies of stored docs under new ids (stored-first
      // drops), 4 token-unique fresh docs (append), and one in-batch
      // copy of a fresh doc under a larger id (keep-first drop)
      val copies = spark.table(t)
        .filter(col("doc_id") % 101 === 0 && col("doc_id") < 1000000L)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val nCopies = copies.count()
      assert(nCopies >= 2, "need at least two stored copies to plant")
      val freshDup = freshDocs.filter(col("doc_id") === 6000001L)
        .select((col("doc_id") + 100L).as("doc_id"), col("text"))
      val batch1 = copies.unionByName(freshDocs).unionByName(freshDup)
      val s1 = MinHashStore.ingest(spark, batch1, t)
      assert(s1.nBatch === nCopies + 5)
      assert(s1.nDroppedVsStore === nCopies, s"copies must drop: $s1")
      assert(s1.nDroppedInBatch === 1, s"in-batch dup must drop: $s1")
      assert(s1.nAppended === 4, s"fresh docs must survive: $s1")
      assert(s1.nHotKeysSkipped === 0)
      assert(spark.table(t).count() === stored0 + 4)
      assert(spark.table(t + "_bands").count() === (stored0 + 4) * 16)

      // batch 2: a copy of a batch-1 SURVIVOR — the accumulated state
      // must catch it (cross-batch near-dup, the whole point)
      val b2 = freshDocs.filter(col("doc_id") === 6000002L)
        .select((col("doc_id") + 200L).as("doc_id"), col("text"))
      val s2 = MinHashStore.ingest(spark, b2, t)
      assert(s2.nDroppedVsStore === 1 && s2.nAppended === 0,
        s"batch-1 survivor's copy must drop against the store: $s2")

      // the invariant the store exists for: NO confirmed near-dup
      // pair among accepted docs, across all batches
      assert(DedupOps.minhashPairsOf(
        spark.table(t).select("doc_id", "text")).count() === 0,
        "accepted docs contain an undetected near-dup pair")

      // at-least-once replay: re-delivering batch 1 verbatim must be
      // a stored-state no-op — survivors skip by id, drops re-drop
      val s1r = MinHashStore.ingest(spark, batch1, t)
      assert(s1r.nReplayed === 4 && s1r.nAppended === 0,
        s"replayed batch not a no-op: $s1r")
      assert(spark.table(t).count() === stored0 + 4)
      assert(spark.table(t + "_bands").count() === (stored0 + 4) * 16)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh")
    }
  }

  test("both store tables ride their bucket layouts: kb / doc_id " +
      "aggregations run with zero exchanges") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore0").toString
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS graft_mh0 LOCATION '$tmp'")
    val t = "graft_mh0.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      for ((name, df) <- Seq(
          "band-key census" -> spark.table(t + "_bands")
            .groupBy("kb").agg(count(lit(1)).as("n")),
          "doc-id lookup census" -> spark.table(t)
            .groupBy("doc_id").agg(count(lit(1)).as("n")))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"$name must ride the bucket layout, not shuffle:\n$plan")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh0")
    }
  }

  test("band index heals the doc-append/band-append crash window on " +
      "redelivery") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore2").toString
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS graft_mh2 LOCATION '$tmp'")
    val t = "graft_mh2.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      val stored0 = spark.table(t).count()
      // simulate the crash: the doc append committed, the band append
      // did not — the doc exists with NO band rows
      freshDocs.filter(col("doc_id") === 6000003L)
        .write.bucketBy(32, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(t)
      spark.sql(s"REFRESH TABLE $t")
      assert(spark.table(t + "_bands")
        .filter(col("doc_id") === 6000003L).count() === 0)
      // redelivery of the batch containing that doc: id-replay skips
      // the doc append, band repair fills the missing index rows
      val sr = MinHashStore.ingest(spark,
        freshDocs.filter(col("doc_id") === 6000003L), t)
      assert(sr.nReplayed === 1 && sr.nAppended === 0, s"$sr")
      assert(spark.table(t + "_bands")
        .filter(col("doc_id") === 6000003L).count() === 16,
        "band repair must restore the crashed doc's index rows")
      assert(spark.table(t).count() === stored0 + 1)
      // and a doc near-dup to the healed one now drops via the index
      val s2 = MinHashStore.ingest(spark,
        freshDocs.filter(col("doc_id") === 6000003L)
          .select((col("doc_id") + 300L).as("doc_id"), col("text")), t)
      assert(s2.nDroppedVsStore === 1 && s2.nAppended === 0, s"$s2")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh2")
    }
  }

  test("hot band keys are skipped loudly, never silently: a " +
      "zero-cap ingest reports every probed key and drops nothing " +
      "against the store") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore4").toString
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS graft_mh4 LOCATION '$tmp'")
    val t = "graft_mh4.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      val copy = spark.table(t).filter(col("doc_id") === 0L)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      // cap 0: every stored band key the batch probes is "hot" — the
      // copy slips through the store check (and the stats say so)
      val s = MinHashStore.ingest(spark, copy, t, maxBucket = 0)
      assert(s.nHotKeysSkipped >= 16,
        s"all 16 probed keys must be reported as skipped: $s")
      assert(s.nDroppedVsStore === 0 && s.nAppended === 1,
        s"a fully-capped probe can't drop: $s")
      // the default cap catches the same copy (planted under a new id)
      val s2 = MinHashStore.ingest(spark, copy
        .select((col("doc_id") + 1L).as("doc_id"), col("text")), t)
      assert(s2.nHotKeysSkipped === 0 && s2.nDroppedVsStore === 1,
        s"default cap must catch the copy: $s2")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh4")
    }
  }

  test("streamed near-dup ingest: drops at ingest rate, and a full " +
      "from-scratch replay is a stored-state no-op") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore3").toString
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS graft_mh3 LOCATION '$tmp'")
    val t = "graft_mh3.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      val stored0 = spark.table(t).count()
      val src = java.nio.file.Files
        .createTempDirectory("graft_mhsrc").toString
      val copies = spark.table(t)
        .filter(col("doc_id") % 101 === 0 && col("doc_id") < 1000000L)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      copies.coalesce(1).write.parquet(src + "/f1.parquet")
      freshDocs.coalesce(1).write.parquet(src + "/f2.parquet")
      def source = spark.readStream.schema(freshDocs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
      val ckpt1 = java.nio.file.Files
        .createTempDirectory("graft_mhckpt1").toString
      graft.streaming.DocsStream
        .ingestNearDedup(spark, source, t, ckpt1)
        .awaitTermination()
      assert(spark.table(t).count() === stored0 + 4)
      assert(spark.table(t)
        .filter(col("doc_id") >= 5000000L && col("doc_id") < 6000000L)
        .count() === 0,
        "a copy of a stored doc slipped into the store")
      // from-scratch replay: a FRESH checkpoint re-delivers every
      // micro-batch — the id-based crash discipline must make the
      // whole rerun a stored-state no-op
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("graft_mhckpt2").toString
      graft.streaming.DocsStream
        .ingestNearDedup(spark, source, t, ckpt2)
        .awaitTermination()
      assert(spark.table(t).count() === stored0 + 4)
      assert(spark.table(t + "_bands").count() === (stored0 + 4) * 16)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh3")
    }
  }

  test("compaction collapses the band-index file debt a drain accrues " +
      "and preserves contents, layouts and further ingests") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore4").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mh4 LOCATION '$tmp'")
    val t = "graft_mh4.store"
    def partFiles(table: String): Int = {
      val dir = graft.sources.DocumentStore.tableDir(spark, table)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(dir).count(_.getPath.getName.startsWith("part-"))
    }
    try {
      import spark.implicits._
      MinHashStore.build(spark, sfDir, t)
      // accrue append debt: three fresh single-doc batches, each
      // landing one-plus files per touched bucket in BOTH layouts
      (1 to 3).foreach { i =>
        MinHashStore.ingest(spark,
          Seq((6100000L + i, s"qc${i}a qc${i}b qc${i}c qc${i}d qc${i}e"))
            .toDF("doc_id", "text"), t)
      }
      val docs0 = spark.table(t).orderBy("doc_id").collect().toSeq
      val bands0 = spark.table(t + "_bands")
        .orderBy("doc_id", "kb").collect().toSeq
      val before = partFiles(t + "_bands")
      assert(before > graft.sources.DocumentStore.DefaultBuckets,
        s"expected band-index append debt, got $before files")
      MinHashStore.compact(spark, t)
      assert(partFiles(t) <= graft.sources.DocumentStore.DefaultBuckets)
      assert(partFiles(t + "_bands") <=
        graft.sources.DocumentStore.DefaultBuckets)
      // contents byte-identical, further ingests still behave: a copy
      // of a compacted doc drops stored-first, a fresh doc appends
      assert(spark.table(t).orderBy("doc_id").collect().toSeq === docs0)
      assert(spark.table(t + "_bands")
        .orderBy("doc_id", "kb").collect().toSeq === bands0)
      val s = MinHashStore.ingest(spark, Seq(
          (6200001L, "qc1a qc1b qc1c qc1d qc1e"),
          (6200002L, "qw2a qw2b qw2c qw2d qw2e"))
        .toDF("doc_id", "text"), t)
      assert(s.nDroppedVsStore === 1 && s.nAppended === 1, s"$s")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql("DROP DATABASE IF EXISTS graft_mh4")
    }
  }

  test("compaction fails loudly on a retired copy an interrupted swap " +
      "left behind, and keeps it") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mhstore5").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mh5 LOCATION '$tmp'")
    val t = "graft_mh5.store"
    try {
      MinHashStore.build(spark, sfDir, t)
      // a crash between the retire and move loops strands the retired
      // part files: the table alone no longer holds those rows
      val dir = graft.sources.DocumentStore.tableDir(spark, t)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = fs.listStatus(dir)
        .filter(_.getPath.getName.startsWith("part-")).head.getPath
      val retired = new org.apache.hadoop.fs.Path(dir.getParent,
        dir.getName + "_compact_retired")
      val stranded = new org.apache.hadoop.fs.Path(retired, live.getName)
      fs.mkdirs(retired)
      assert(fs.rename(live, stranded))
      spark.sql(s"REFRESH TABLE $t")
      val err = intercept[IllegalArgumentException](
        MinHashStore.compact(spark, t))
      assert(err.getMessage.contains(retired.getName), err.getMessage)
      assert(fs.exists(stranded),
        "the stranded retired copy must survive the refused pass")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_staging")
      spark.sql("DROP DATABASE IF EXISTS graft_mh5")
    }
  }
}
