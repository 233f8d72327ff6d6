package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.sources.TermIndexStore

/** Persisted BM25 inverted index: stored search is bit-identical to
  * the inline operator, both tables ride their bucket layouts, ingest
  * is id-idempotent, and the doclen/postings append crash window
  * heals on redelivery.
  */
class TermIndexStoreSpec extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  private def freshDocs = {
    import spark.implicits._
    Seq(
      (7000001L, "retrieval index probe alpha beta"),
      (7000002L, "retrieval index probe gamma delta"),
      (7000003L, "wholly novel terms zeta eta theta")
    ).toDF("doc_id", "text")
  }

  test("stored search reproduces the inline BM25 exactly, and the " +
      "index layouts aggregate with zero exchanges") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore0").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti0 LOCATION '$tmp'")
    val t = "graft_ti0.idx"
    try {
      TermIndexStore.build(spark, sfDir, t)
      val inline = TextOps.bm25TopK(spark, sfDir).collect().toSeq
      val stored = TermIndexStore.search(spark, t).collect().toSeq
      assert(stored === inline)
      // df census and doc-length lookups must ride the bucket layouts
      for ((name, df) <- Seq(
          "df census" -> TermIndexStore.dfCensus(spark, t),
          "doclen lookup" -> TermIndexStore.docLens(spark, t)
            .groupBy("doc_id").agg(sum(col("dl")).as("s")))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"$name must ride the bucket layout, not shuffle:\n$plan")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti0")
    }
  }

  test("ingest appends fresh docs once: replay is an id-based no-op " +
      "and search sees the new postings") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore1").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti1 LOCATION '$tmp'")
    val t = "graft_ti1.idx"
    try {
      TermIndexStore.build(spark, sfDir, t)
      val docs0 = TermIndexStore.docLens(spark, t).count()
      val post0 = spark.table(t).count()
      val s1 = TermIndexStore.ingest(spark, freshDocs, t)
      assert(s1.nBatch === 3 && s1.nReplayed === 0
        && s1.nDocsAppended === 3 && s1.nRepaired === 0
        && s1.nEmptySkipped === 0, s"$s1")
      assert(TermIndexStore.docLens(spark, t).count() === docs0 + 3)
      assert(spark.table(t).count() === post0 + s1.nPostingsAppended)
      // the ingested terms are now retrievable state: df sees them
      val df = TermIndexStore.dfCensus(spark, t)
        .filter(col("tok") === "retrieval").collect()
      assert(df.length === 1 && df(0).getLong(1) === 2L)
      // redelivery of the same batch: nothing moves
      val s2 = TermIndexStore.ingest(spark, freshDocs, t)
      assert(s2.nReplayed === 3 && s2.nDocsAppended === 0
        && s2.nPostingsAppended === 0 && s2.nRepaired === 0, s"$s2")
      assert(TermIndexStore.docLens(spark, t).count() === docs0 + 3)
      assert(spark.table(t).count() === post0 + s1.nPostingsAppended)
      // a zero-token doc can never become a member: it is reported
      // (never silently re-"appended") and redelivery says the same
      import spark.implicits._
      val blank = Seq((7000009L, "   ")).toDF("doc_id", "text")
      (1 to 2).foreach { _ =>
        val sb = TermIndexStore.ingest(spark, blank, t)
        assert(sb.nEmptySkipped === 1 && sb.nDocsAppended === 0
          && sb.nReplayed === 0, s"$sb")
        assert(TermIndexStore.docLens(spark, t).count() === docs0 + 3)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti1")
    }
  }

  test("postings heal the doclen/postings crash window on redelivery") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore2").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti2 LOCATION '$tmp'")
    val t = "graft_ti2.idx"
    try {
      TermIndexStore.build(spark, sfDir, t)
      // simulate the crash: the doclen append committed, the postings
      // append did not — a member doc with NO postings
      val one = freshDocs.filter(col("doc_id") === 7000003L)
      TermIndexStore.tfOf(one)
        .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .write
        .bucketBy(graft.sources.DocumentStore.DefaultBuckets, "doc_id")
        .sortBy("doc_id")
        .mode("append").saveAsTable(t + "_doclen")
      spark.sql(s"REFRESH TABLE ${t}_doclen")
      assert(spark.table(t).filter(col("doc_id") === 7000003L)
        .count() === 0)
      // redelivery: id-replay skips the doclen append, the postings
      // repair anti-join restores the missing rows
      val s = TermIndexStore.ingest(spark, one, t)
      assert(s.nReplayed === 1 && s.nDocsAppended === 0, s"$s")
      assert(s.nRepaired === 6, s"$s")
      assert(spark.table(t).filter(col("doc_id") === 7000003L)
        .count() === 6)
      // and the heal is itself idempotent
      val s2 = TermIndexStore.ingest(spark, one, t)
      assert(s2.nRepaired === 0, s"$s2")
      assert(spark.table(t).filter(col("doc_id") === 7000003L)
        .count() === 6)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti2")
    }
  }

  test("streamed index ingest drains batch-at-a-time, and a " +
      "from-scratch replay is a stored-state no-op") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore3").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti3 LOCATION '$tmp'")
    val t = "graft_ti3.idx"
    try {
      TermIndexStore.build(spark, sfDir, t)
      val docs0 = TermIndexStore.docLens(spark, t).count()
      val post0 = spark.table(t).count()
      val src = java.nio.file.Files
        .createTempDirectory("graft_tisrc").toString
      freshDocs.filter(col("doc_id") < 7000003L)
        .coalesce(1).write.parquet(src + "/f1.parquet")
      freshDocs.filter(col("doc_id") === 7000003L)
        .coalesce(1).write.parquet(src + "/f2.parquet")
      def source = spark.readStream.schema(freshDocs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
      val ckpt1 = java.nio.file.Files
        .createTempDirectory("graft_tickpt1").toString
      graft.streaming.DocsStream
        .ingestTermIndex(spark, source, t, ckpt1)
        .awaitTermination()
      val postAfter = spark.table(t).count()
      assert(TermIndexStore.docLens(spark, t).count() === docs0 + 3)
      assert(postAfter > post0)
      // from-scratch replay: a FRESH checkpoint re-delivers every
      // micro-batch — the id-based discipline makes it a no-op
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("graft_tickpt2").toString
      graft.streaming.DocsStream
        .ingestTermIndex(spark, source, t, ckpt2)
        .awaitTermination()
      assert(TermIndexStore.docLens(spark, t).count() === docs0 + 3)
      assert(spark.table(t).count() === postAfter)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti3")
    }
  }

  private def partFiles(table: String): Int = {
    val dir = graft.sources.DocumentStore.tableDir(spark, table)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).count(_.getPath.getName.startsWith("part-"))
  }

  test("compaction collapses per-bucket file debt, preserves results " +
      "and layouts, and re-materializes the capped companion") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore4").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti4 LOCATION '$tmp'")
    val t = "graft_ti4.idx"
    try {
      import spark.implicits._
      TermIndexStore.build(spark, sfDir, t)
      // the capped companion exists after build and SERVES the pruned
      // search: its scan appears in the plan, the full postings don't
      // feed the scoring side twice
      assert(spark.catalog.tableExists(s"${t}_capped"))
      val prunedBuilt = TermIndexStore
        .search(spark, t, cap = Some(TextOps.Bm25M))
      assert(prunedBuilt.queryExecution.optimizedPlan.toString
        .contains("idx_capped"),
        "pruned search must read the materialized capped table")
      val expect = TextOps.bm25Pruned(spark, sfDir).collect().toSeq
      assert(prunedBuilt.collect().toSeq === expect)
      // accrue append debt: three single-doc ingests, three files
      // landing per touched bucket — and each ingest invalidates the
      // materialized caps
      (1 to 3).foreach { i =>
        TermIndexStore.ingest(spark,
          Seq((7100000L + i, s"compaction debt doc $i"))
            .toDF("doc_id", "text"), t)
      }
      assert(!spark.catalog.tableExists(s"${t}_capped"),
        "ingest must drop the stale capped companion")
      // fallback path: read-time capping — still correct
      val viaFallback = TermIndexStore
        .search(spark, t, cap = Some(TextOps.Bm25M)).collect().toSeq
      val before = partFiles(t)
      assert(before > graft.sources.DocumentStore.DefaultBuckets,
        s"expected append debt, got $before files")
      TermIndexStore.compact(spark, t)
      // file debt settles to at most one file per bucket (an empty
      // bucket's writer task emits no file), both layouts
      assert(partFiles(t) <= graft.sources.DocumentStore.DefaultBuckets)
      assert(partFiles(t + "_doclen") <=
        graft.sources.DocumentStore.DefaultBuckets)
      // results unchanged, capped companion back, zero-exchange reads
      // survive the rewrite
      assert(spark.catalog.tableExists(s"${t}_capped"))
      val afterCompact = TermIndexStore
        .search(spark, t, cap = Some(TextOps.Bm25M))
      assert(afterCompact.collect().toSeq === viaFallback)
      val plan = TermIndexStore.dfCensus(spark, t)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"df census must still ride the bucket layout:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti4")
    }
  }

  test("the MaxScore bounds companion is materialized at build, read " +
      "as a bounded lookup by stored exact search, dropped on ingest " +
      "(df/dl/N changed) and restored by compaction with results " +
      "unchanged") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore6").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti6 LOCATION '$tmp'")
    val t = "graft_ti6.idx"
    try {
      TermIndexStore.build(spark, sfDir, t)
      assert(spark.catalog.tableExists(s"${t}_bounds"),
        "build must materialize the bounds companion")
      // a query of real stored tokens, so the search is non-trivial
      val q = spark.table(t).select("tok").distinct().orderBy("tok")
        .limit(3).collect().map(_.getString(0)).mkString(" ")
      val viaBounds = TermIndexStore.searchTextExact(spark, t, q)
      assert(viaBounds.queryExecution.optimizedPlan.toString
        .contains("idx_bounds"),
        "stored exact search must read the materialized bounds table")
      assert(viaBounds.count() > 0)
      // an ingest changes df/dl/N, which the bounds bake in — stale
      // bounds could sit BELOW a term's true max and mis-prune
      TermIndexStore.ingest(spark, freshDocs, t)
      assert(!spark.catalog.tableExists(s"${t}_bounds"),
        "ingest must drop the stale bounds companion")
      val viaFallback = TermIndexStore.searchTextExact(spark, t, q)
      assert(!viaFallback.queryExecution.optimizedPlan.toString
        .contains("idx_bounds"))
      val expect = viaFallback.collect().toSeq
      // compaction restores the companion; the answer is EXACT either
      // way, so serving must be bit-identical across the swap
      TermIndexStore.compact(spark, t)
      assert(spark.catalog.tableExists(s"${t}_bounds"))
      val after = TermIndexStore.searchTextExact(spark, t, q)
      assert(after.queryExecution.optimizedPlan.toString
        .contains("idx_bounds"))
      assert(after.collect().toSeq === expect)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti6")
    }
  }

  test("the impact cap M is a recorded layout property: a store built " +
      "at its own M keeps serving it when the compile-time default " +
      "differs") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tistore5").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ti5 LOCATION '$tmp'")
    val t = "graft_ti5.idx"
    try {
      // build at M=2 — deliberately NOT the shipped default, standing
      // in for "the default moved after this store was built"
      TermIndexStore.build(spark, sfDir, t, m = 2)
      assert(TextOps.Bm25M !== 2)
      assert(TermIndexStore.recordedM(spark, t) === Some(2))
      // the marker drives serving: a cap equal to the RECORDED M is
      // served off the materialized companion...
      val atRecorded = TermIndexStore.search(spark, t, cap = Some(2))
      assert(atRecorded.queryExecution.optimizedPlan.toString
        .contains("idx_capped"),
        "recorded-M search must read the materialized capped table")
      // ...and matches read-time capping at the same M exactly (the
      // companion holds each term's top-2 by (tf DESC, doc_id))
      val readTime = graft.sources.TermIndexStore
        .postings(spark, t).select("doc_id", "tok", "tf")
      assert(atRecorded.collect().toSeq ===
        graft.ops.TextOps.bm25From(readTime,
          TermIndexStore.dfCensus(spark, t),
          TermIndexStore.docLens(spark, t), Some(2)).collect().toSeq)
      // the (different) compile-time default must NOT trust the
      // companion — it silently holds the wrong M
      val atDefault = TermIndexStore
        .search(spark, t, cap = Some(TextOps.Bm25M))
      assert(!atDefault.queryExecution.optimizedPlan.toString
        .contains("idx_capped"),
        "a cap differing from the recorded M must fall back to " +
          "read-time capping")
      // compact re-materializes at the RECORDED M, not the default:
      // serving at 2 still reads the companion and is unchanged
      val before = atRecorded.collect().toSeq
      TermIndexStore.compact(spark, t)
      assert(TermIndexStore.recordedM(spark, t) === Some(2),
        "the layout marker must survive compaction's part-file swap")
      val after = TermIndexStore.search(spark, t, cap = Some(2))
      assert(after.queryExecution.optimizedPlan.toString
        .contains("idx_capped"))
      assert(after.collect().toSeq === before)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_ti5")
    }
  }

  test("buildTuned picks M from the corpus's own measured curve and " +
      "records it as the layout marker") {
    // the sf0.001 curve reads 0.3/0.475/1.0 at M=16/64/256, so the
    // picker's answer is target-dependent and the fallback is the
    // grid's largest level
    assert(TextOps.bm25MFor(spark, sfDir, 0.9) === 256)
    assert(TextOps.bm25MFor(spark, sfDir, 0.4) === 64)
    assert(TextOps.bm25MFor(spark, sfDir, 2.0) === 256,
      "an unreachable target falls back to the grid's best")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tituned").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_tit LOCATION '$tmp'")
    val t = "graft_tit.idx"
    try {
      val picked = TermIndexStore.buildTuned(spark, sfDir, t,
        minRecall = 0.4)
      assert(picked === 64)
      // the measured choice IS the store's recorded layout
      assert(TermIndexStore.recordedM(spark, t) === Some(64))
      // and pruned serving follows it: the marker-gated companion
      // serves at the picked cap with results equal to read-time
      // capping at the same M off the same index
      val served = TermIndexStore.search(spark, t, cap = Some(64))
      assert(served.count() > 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclen")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_capped")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_bounds")
      spark.sql("DROP DATABASE IF EXISTS graft_tit")
    }
  }

  test("a non-integer impact-cap marker fails loudly, naming the " +
      "marker") {
    val t = "graft_ti_badmarker"
    graft.sources.DocumentStore.clearStale(spark, t)
    try {
      spark.range(1).write.saveAsTable(t)
      val marker = new java.io.File(
        graft.sources.DocumentStore.tableDir(spark, t).toUri.getPath,
        "_graft_m")
      java.nio.file.Files.write(marker.toPath, "6x".getBytes("UTF-8"))
      val e = intercept[IllegalStateException](
        TermIndexStore.recordedM(spark, t))
      assert(e.getMessage.contains("_graft_m") &&
        e.getMessage.contains("'6x'"), e.getMessage)
    } finally graft.sources.DocumentStore.clearStale(spark, t)
  }
}

