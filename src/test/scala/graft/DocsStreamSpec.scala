package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DocumentStore
import graft.streaming.DocsStream

class DocsStreamSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  private def censusOf(base: String) = spark.table(
    DocsStream.currentCensus(base).getOrElse(fail(s"no census for $base")))

  test("streaming ingest keeps the dedup census equal to the batch " +
      "census of everything ingested") {
    val src = tempDir("graft_docsrc").toString
    val ckpt = tempDir("graft_docckpt").toString
    val docTable = "graft_stream_docs"
    val censusBase = "graft_stream_census"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v1")) DocumentStore.clearStale(spark, t)

    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // batch 1: the first half of the corpus; batch 2: the second half
    // PLUS re-keyed copies of some batch-1 docs — cross-batch
    // duplicates only the census merge can see
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(src + "/f1.parquet")
    docs.filter(col("doc_id") >= 250)
      .unionByName(docs.filter(col("doc_id") < 250 && col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 9000000L))
      .coalesce(1).write.parquet(src + "/f2.parquet")

    val source = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // force ≥2 micro-batches
      .parquet(src + "/*.parquet")
    val q = DocsStream.ingestDedup(spark, source, docTable, censusBase,
      ckpt)
    q.awaitTermination()

    // expected: the census computed directly over everything ingested
    val ingested = docs.unionByName(
      docs.filter(col("doc_id") < 250 && col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 9000000L))
    val expected = ingested
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val got = censusOf(censusBase)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected)

    // the cross-batch duplicates are visible with batch-1 keepers
    val dups = censusOf(censusBase).filter(col("n") >= 2)
      .filter(col("keeper") < 250)
    assert(dups.count() > 0, "cross-batch duplicate groups missing")

    // the doc store itself holds every ingested row in bucket layout
    assert(spark.table(docTable).count() === ingested.count())
  }

  test("a replayed micro-batch is a no-op (at-least-once safety)") {
    val docTable = "graft_replay_docs"
    val censusBase = "graft_replay_census"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v1")) DocumentStore.clearStale(spark, t)
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 100)

    DocsStream.absorbBatch(spark, docs, docTable, censusBase, 0L)
    val after1 = censusOf(censusBase).agg(
      count(lit(1)), sum("n")).collect().head
    val stored1 = spark.table(docTable).count()
    // foreachBatch redelivers the SAME batchId after a failure —
    // the second application must change nothing
    DocsStream.absorbBatch(spark, docs, docTable, censusBase, 0L)
    val after2 = censusOf(censusBase).agg(
      count(lit(1)), sum("n")).collect().head
    assert(after2 === after1, "replay double-counted the census")
    assert(spark.table(docTable).count() === stored1,
      "replay re-appended the doc store")
  }

  test("replay idempotency survives a JVM restart: the registry is " +
      "recovered from the warehouse, not the in-memory cache") {
    val docTable = "graft_durable_docs"
    val censusBase = "graft_durable_census"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v1", censusBase + "_v2"))
      DocumentStore.clearStale(spark, t)
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val batch0 = docs.filter(col("doc_id") < 100)
    val batch1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)

    DocsStream.absorbBatch(spark, batch0, docTable, censusBase, 0L)
    DocsStream.absorbBatch(spark, batch1, docTable, censusBase, 1L)
    val censusRows = censusOf(censusBase)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val stored = spark.table(docTable).count()

    // a JVM restart loses BOTH the in-memory registry and the
    // in-memory catalog entry; the warehouse directory survives.
    // Simulate the catalog loss without losing the data: move the
    // census dir aside, drop the (managed) table, move it back
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(conf)
    val dir = new org.apache.hadoop.fs.Path(wh, s"${censusBase}_v1")
    val aside = new org.apache.hadoop.fs.Path(wh, s"${censusBase}_aside")
    assert(fs.rename(dir, aside))
    spark.sql(s"DROP TABLE ${censusBase}_v1")
    assert(fs.rename(aside, dir))
    DocsStream.reset(censusBase)

    // the checkpoint replays batch 1 after the restart — the durable
    // registry (batchId in the committed version's name) must make it
    // a no-op even though this JVM never applied it
    DocsStream.absorbBatch(spark, batch1, docTable, censusBase, 1L)
    assert(DocsStream.currentCensus(spark, censusBase)
      === Some(s"${censusBase}_v1"))
    val afterReplay = censusOf(censusBase)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(afterReplay === censusRows,
      "post-restart replay changed the recovered census")
    assert(spark.table(docTable).count() === stored,
      "post-restart replay re-appended the doc store")

    // and the recovered census still merges the NEXT batch with zero
    // exchanges — resurrection kept the bucket layout
    val batch2 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    DocsStream.absorbBatch(spark, batch2, docTable, censusBase, 2L)
    val expected = batch0.unionByName(batch1).unionByName(batch2)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val got = censusOf(censusBase)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected)
  }

  test("a crash mid-census-write is never recovered as state: " +
      "_SUCCESS gates the durable registry") {
    val censusBase = "graft_partial_census"
    val docTable = "graft_partial_docs"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v7")) DocumentStore.clearStale(spark, t)
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 50)
    DocsStream.absorbBatch(spark, docs, docTable, censusBase, 0L)
    // plant a HIGHER-id version dir with no _SUCCESS — the footprint
    // of a census write that died mid-flight
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(conf)
    val partial = new org.apache.hadoop.fs.Path(wh, s"${censusBase}_v7")
    fs.mkdirs(partial)
    DocsStream.reset(censusBase)
    // recovery must pick v0 (committed), prune v7 (partial), and a
    // replay of batch 0 stays a no-op
    assert(DocsStream.currentCensus(spark, censusBase)
      === Some(s"${censusBase}_v0"))
    assert(!fs.exists(partial), "partial version must be pruned")
  }

  test("recovery auto-settles the replayed append without a manual " +
      "vacuum call (crash between append and census advance)") {
    val docTable = "graft_autovac_docs"
    val censusBase = "graft_autovac_census"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v1", docTable + "_vacuum_staging"))
      DocumentStore.clearStale(spark, t)
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val batch0 = docs.filter(col("doc_id") < 100)
    val batch1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)

    DocsStream.absorbBatch(spark, batch0, docTable, censusBase, 0L)
    // crash window: batch 1's APPEND lands, the census never advances
    DocumentStore.append(batch1, docTable)
    // driver restart: in-memory registry gone, warehouse survives
    DocsStream.reset(censusBase)
    // foreachBatch redelivers batch 1 — recovery resolves v0, the
    // replay re-appends (store now holds batch 1 twice), and the
    // END-of-batch auto-settlement must remove the duplicate rows
    // with NO manual vacuum call
    DocsStream.absorbBatch(spark, batch1, docTable, censusBase, 1L)

    val expected = batch0.unionByName(batch1).count()
    assert(spark.table(docTable).count() === expected,
      "recovered ingest left replayed duplicate rows in the store")
    val censusTotal = censusOf(censusBase)
      .agg(sum("n")).collect().head.getLong(0)
    assert(censusTotal === expected,
      "census and store disagree after auto-settlement")
    // and the store holds no byte-identical duplicates at all
    assert(spark.table(docTable).distinct().count() === expected)
  }

  test("vacuum settles the store's at-least-once append debt, " +
      "rewriting only the disagreeing buckets") {
    val docTable = "graft_vacuum_docs"
    val censusBase = "graft_vacuum_census"
    DocsStream.reset(censusBase)
    for (t <- Seq(docTable, censusBase + "_batch", censusBase + "_v0",
        censusBase + "_v1", docTable + "_vacuum_staging"))
      DocumentStore.clearStale(spark, t)
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val batch0 = docs.filter(col("doc_id") < 200)
    val batch1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 230)
    DocsStream.absorbBatch(spark, batch0, docTable, censusBase, 0L)
    DocsStream.absorbBatch(spark, batch1, docTable, censusBase, 1L)
    // the crash: batch 1's append landed, the census commit didn't,
    // and the replay re-ran the whole step — the store now holds
    // batch 1 twice while the registry-guarded census counted it once
    DocumentStore.append(batch1, docTable)
    val census = DocsStream.currentCensus(spark, censusBase).get
    val censusTotal = spark.table(census)
      .agg(sum("n")).collect().head.getLong(0)
    assert(spark.table(docTable).count() === censusTotal + batch1.count(),
      "setup: store must carry the duplicate append")

    // snapshot every bucket file before the vacuum
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val conf = spark.sparkContext.hadoopConfiguration
    val storeDir = new org.apache.hadoop.fs.Path(wh, docTable)
    val fs = storeDir.getFileSystem(conf)
    def listing(): Map[String, Long] =
      fs.listStatus(storeDir).filter(_.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName -> st.getLen).toMap
    val before = listing()

    val stats = DocumentStore.vacuum(spark, docTable, census)
    assert(stats.removedRows === batch1.count(),
      "vacuum must remove exactly the replayed rows")
    assert(stats.affectedBuckets.nonEmpty)
    assert(spark.table(docTable).count() === censusTotal,
      "store and census must agree after the vacuum")
    // full parity, not just counts: the store is the batches, once
    val expected = batch0.unionByName(batch1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = spark.table(docTable).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)

    // untouched buckets' files survive byte-identical; affected
    // buckets' old files are gone
    val after = listing()
    val affectedSet = stats.affectedBuckets.toSet
    val bucketRe = "_(\\d{5})\\.".r
    def bucketOf(name: String): Int =
      bucketRe.findFirstMatchIn(name).get.group(1).toInt
    for ((name, len) <- before if !affectedSet.contains(bucketOf(name)))
      assert(after.get(name) === Some(len),
        s"untouched bucket file $name was rewritten")
    for ((name, _) <- before if affectedSet.contains(bucketOf(name)))
      assert(!after.contains(name),
        s"affected bucket file $name survived the rewrite")

    // idempotent: a second vacuum finds nothing to settle
    val again = DocumentStore.vacuum(spark, docTable, census)
    assert(again.affectedBuckets.isEmpty && again.removedRows === 0L)
  }
}
