package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The bench: times every [[Entry]] and prints ONE JSON line
  * (mirrored to `BENCH_SELF.json`) with the fields `metric`, `value`
  * (total seconds), `unit`, `queries` (seconds per entry), `stream_state`
  * (state rows and bytes per drain), `noisy`, `regressed`, `errors` and
  * `sf`.
  *
  * Entry kinds ([[entries]]):
  *  - batch: every [[SparkEntry.queries]] key, timed through `count()`;
  *  - drain: the 15 Structured Streaming drains (`Trigger.AvailableNow`),
  *    each timed by [[drain]] and reporting its state;
  *  - build: `s3_frames_read`, `frame_stats_build`, `audio_stats_build`.
  *
  * Attempt policy ([[run]]): every entry runs twice and reports the
  * minimum of its successful runs; every failed run is recorded under
  * `errors`, and an entry with no successful run is absent from
  * `queries`. A batch entry whose two fastest runs disagree by more than
  * 2× gets fresh runs up to 4 attempts and is flagged `noisy` if they
  * still disagree. An entry past 2× its seconds in the previous committed
  * artifact (and past 0.5 s) is flagged `regressed`; a batch entry first
  * gets up to 2 fresh attempts. Drains and builds are expensive, so they
  * run exactly twice.
  */
object Bench {

  /** One timed run: seconds, plus a drain's state (rows, bytes) — each
    * -1 when no progress carried state operators.
    */
  final case class Sample(seconds: Double, state: Option[(Long, Long)] = None)

  /** A named timed run; `retry` entries (batch) get the noise and canary
    * re-runs, the others run exactly twice.
    */
  final case class Entry(name: String, run: () => Sample,
      retry: Boolean = false)

  private def timed(body: => Any): Sample = {
    val t0 = System.nanoTime()
    body
    Sample((System.nanoTime() - t0) / 1e9)
  }

  /** Times `start` (source build + query start) through the query's
    * drain, then reads its state from the query progress.
    */
  def drain(start: => StreamingQuery): Sample = {
    val t0 = System.nanoTime()
    val q = start
    // bounded wait: a wedged stream must fail this entry, not hang the
    // whole bench run
    if (!q.awaitTermination(300000L)) { q.stop(); sys.error("stream timeout") }
    Sample((System.nanoTime() - t0) / 1e9, Some(stateMetrics(q)))
  }

  private def noopDrain(ds: => Dataset[_]): Sample =
    drain(ds.writeStream.format("noop").trigger(Trigger.AvailableNow()).start())

  private def memoryDrain(spark: SparkSession, name: String)(
      df: => DataFrame): Sample =
    try drain(df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    finally spark.catalog.dropTempView(name)

  /** Total state rows + bytes from the last progress that reported
    * state operators — the 100 TB risk a wall-clock number hides:
    * state that grows with the stream instead of the watermark.
    * (-1, -1) when NO progress carried state operators (a stateless
    * pipeline, e.g. a foreachBatch export): emitted as null in the
    * artifact so "stateless by construction" never reads as
    * "measured zero".
    */
  private def stateMetrics(q: StreamingQuery): (Long, Long) =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty).map { pr =>
      (pr.stateOperators.map(_.numRowsTotal).sum,
        pr.stateOperators.map(_.memoryUsedBytes).sum)
    }.getOrElse((-1L, -1L))

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with `provider` as the session's state store, restoring
    * the previous setting after.
    */
  private def withStateStore[A](spark: SparkSession, provider: String)(
      body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A fresh temp directory for `body`, deleted after: each drain run
    * writes source files, a checkpoint and often a store copy, which at
    * the 30× dirs would leak GBs of /tmp per artifact refresh.
    */
  private def withTempDir[A](prefix: String)(body: Path => A): A = {
    val base = Files.createTempDirectory(prefix)
    try body(base)
    finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  /** A table of the sf dir as a file-stream source. The source handles
    * BOTH physical layouts, because each one fails silently under the
    * other's configuration: a directory-layout table (the ScaleGen
    * replicas) must be the source path itself — a
    * `pathGlobFilter=<table>.parquet` on the parent matches no leaf
    * part files and drains an EMPTY stream (which made every prior
    * round's 10× stream numbers vacuous); a single-file table (the
    * generated sf dirs) can't BE the source path — the file
    * stream source wants a directory, and the entry errors out.
    */
  private def fileStream(spark: SparkSession, sfDir: String,
      table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    // layout probe through Hadoop's FileSystem, not java.io.File — a
    // java.io probe is always false for hdfs://-s3a://-style URIs, so
    // a remote directory layout would silently fall into the glob
    // branch and drain empty
    val hp = new org.apache.hadoop.fs.Path(path)
    val isDir = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hp).isDirectory
    if (isDir) spark.readStream.schema(schema).parquet(path)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(sfDir)
  }

  /** The events table as a file stream with the ns-long ts converted to
    * a proper timestamp.
    */
  private def streamingEvents(spark: SparkSession, sfDir: String) = {
    val src = fileStream(spark, sfDir, "events")
    // ts arrives as ns-long (timestamp[ns] under nanosAsLong) or as a
    // real timestamp (timestamp[us] layout, tz'd or NTZ); the stream
    // needs TimestampType
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    src.schema("ts").dataType match {
      case TimestampType => src
      case TimestampNTZType =>
        src.withColumn("ts", col("ts").cast(TimestampType))
      case _ => src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** The watermarked typed events the arbitrary-stateful drains consume. */
  private def typedEvents(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    streamingEvents(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "30 minutes")
      .as[graft.streaming.EventsStream.Event]
  }

  /** Setup of the store-ingest drains (untimed): `batch` split on
    * `id % 4` into four single-file micro-batches under `dir`.
    */
  private def writeBatches(batch: DataFrame, id: String, dir: String): Unit =
    (0 until 4).foreach(i => batch.filter(col(id) % 4 === i)
      .coalesce(1).write.parquet(s"$dir/f$i.parquet"))

  /** The stream over [[writeBatches]]' files, one file per trigger. */
  private def batchStream(batch: DataFrame, dir: String): DataFrame =
    batch.sparkSession.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*.parquet")

  private def runId(): String = java.lang.Long.toHexString(System.nanoTime())

  /** Streaming vector-index ingest throughput: the embeddings corpus
    * drained through [[graft.streaming.VecStream.ingestIndex]] in four
    * micro-batches (route + PQ-encode against the frozen codebooks,
    * cell-bucket append, registry version per batch) — the FAISS
    * `index.add()` loop end to end, including the bootstrap settle.
    * foreachBatch sink → stateless by construction (null state in the
    * artifact). Source-file layout is setup, not timed.
    */
  private def streamVecIngestBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_vec") { base =>
    // UNIQUE names per run: the registry is durable BY NAME in the
    // warehouse (that's its crash contract), so a reused base from an
    // earlier run/JVM would be "recovered" and turn every batch into
    // a replayed no-op
    val run = runId()
    val table = s"graft_bench_vecindex_$run"
    val reg = s"graft_bench_vecreg_$run"
    graft.streaming.VecStream.reset(reg)
    try {
      val src = base.resolve("src").toString
      val e = graft.tables.Tables.embeddings(spark, sfDir)
      val n = e.count()
      writeBatches(e, "vec_id", src)
      val s = drain(graft.streaming.VecStream.ingestIndex(spark,
        batchStream(e, src), table, reg, sfDir, base.resolve("ckpt").toString))
      require(graft.sources.VectorIndex.read(spark, table).count() == n,
        "streamed index dropped rows")
      s
    } finally {
      // drop the index and EVERY registry version (batchIds are in the
      // table names; leaving any version leaks warehouse dirs) —
      // enumerated from the warehouse, not a hardcoded range, so a
      // run with more micro-batches than expected still cleans up
      val versions = {
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prefix = s"${reg.toLowerCase}_v"
        if (fs.exists(wh))
          fs.listStatus(wh).toSeq.map(_.getPath.getName)
            .filter(n => n.startsWith(prefix)
              && n.drop(prefix.length).forall(_.isDigit))
        else Seq.empty
      }
      (table +: versions).foreach(t =>
        scala.util.Try(graft.sources.DocumentStore.clearStale(spark, t)))
      graft.streaming.VecStream.reset(reg)
    }
  }

  /** Streaming SEMANTIC-dedup ingest throughput: a pre-built
    * cell-partitioned [[graft.sources.SemDedupStore]] absorbs four
    * micro-batches in which every stored vector arrives again under a
    * new id (even base ids — must drop against the store) or negated
    * (odd — genuinely new, must append unless an in-batch replica
    * twin collapses it first). Times the drain only; the store build
    * is setup, like the other persisted-store entries.
    */
  private def streamSemDedupBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_sdd") { base =>
    val table = s"graft_bench_sdstore_${runId()}"
    try {
      graft.sources.SemDedupStore.build(spark, sfDir, table)
      val src = base.resolve("src").toString
      val e = graft.tables.Tables.embeddings(spark, sfDir)
      val n = e.count()
      val batch = e.select(
        (col("vec_id") + 5000000L).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(transform(col("embedding"), x => -x))
          .as("embedding"))
      writeBatches(batch, "vec_id", src)
      val s = drain(graft.streaming.VecStream.ingestDedup(spark,
        batchStream(batch, src), table, sfDir, base.resolve("ckpt").toString))
      val total = spark.table(table).count()
      require(total > n && total < 2 * n,
        s"dedup ingest landed $total rows against a base of $n")
      s
    } finally graft.sources.DocumentStore.clearStale(spark, table)
  }

  /** Streaming NEAR-dup ingest throughput (text side): a pre-built
    * [[graft.sources.MinHashStore]] absorbs four micro-batches in
    * which every stored document arrives again under a new id — even
    * base ids verbatim (must drop against the band index + exact
    * Jaccard), odd ids with token-unique fresh text (must append).
    * Times the drain only; the store build is setup.
    */
  private def streamNearDedupBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_mhd") { base =>
    val table = s"graft_bench_mhstore_${runId()}"
    try {
      graft.sources.MinHashStore.build(spark, sfDir, table)
      val src = base.resolve("src").toString
      val stored0 = spark.table(table).count()
      val batch = spark.table(table).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(expr("""concat('qa', doc_id, ' qb', doc_id,
            ' qc', doc_id, ' qd', doc_id, ' qe', doc_id)"""))
          .as("text"))
      writeBatches(batch, "doc_id", src)
      val s = drain(graft.streaming.DocsStream.ingestNearDedup(spark,
        batchStream(batch, src), table, base.resolve("ckpt").toString))
      val total = spark.table(table).count()
      require(total > stored0 && total < 2 * stored0,
        s"near-dup ingest landed $total rows against a base of $stored0")
      s
    } finally graft.sources.MinHashStore.clear(spark, table)
  }

  /** Streaming BM25-index ingest drain: build the inverted index on
    * the corpus, then absorb a 4-micro-batch stream of NEW documents
    * (fresh ids, mixed repeated/novel vocabulary) through
    * [[graft.streaming.DocsStream.ingestTermIndex]] — tokenize is
    * batch-sized, appends ride both bucket layouts.
    */
  private def streamTermIndexBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_tix") { base =>
    val table = s"graft_bench_tistore_${runId()}"
    try {
      graft.sources.TermIndexStore.build(spark, sfDir, table)
      val src = base.resolve("src").toString
      val docs0 = graft.sources.TermIndexStore.docLens(spark, table)
        .count()
      val batch = graft.tables.Tables.documents(spark, sfDir).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(expr("""concat(text, ' xq', doc_id % 97)"""))
          .as("text"))
      writeBatches(batch, "doc_id", src)
      // expected membership growth = the batch's TOKENIZED distinct
      // ids (a whitespace-only doc never lands a doclen row), not a
      // bare 2x assumption on the corpus shape
      val expected = docs0 + graft.sources.TermIndexStore.tfOf(batch)
        .select("doc_id").distinct().count()
      val s = drain(graft.streaming.DocsStream.ingestTermIndex(spark,
        batchStream(batch, src), table, base.resolve("ckpt").toString))
      val total = graft.sources.TermIndexStore.docLens(spark, table)
        .count()
      require(total == expected,
        s"index ingest landed $total member docs, expected $expected")
      s
    } finally graft.sources.TermIndexStore.clear(spark, table)
  }

  /** Streaming decode-once stats ingest throughput: the frame corpus
    * drained through [[graft.streaming.ImgStream.ingestStats]] in
    * four micro-batches — each frame pays its PNG decode exactly once
    * at arrival and lands as [[graft.sources.FrameStats]] sufficient
    * statistics in batch-scoped parquet (every later QC read is
    * decode-free). foreachBatch sink → stateless by construction.
    * Source-file layout is setup, not timed.
    */
  private def streamFrameStatsBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_fsi") { base =>
    val src = base.resolve("src").toString
    val store = base.resolve("st").toString
    val f = graft.imaging.ImagingModel.frames(spark, sfDir)
    val n = f.count()
    writeBatches(f, "id", src)
    val s = drain(graft.streaming.ImgStream.ingestStats(spark,
      batchStream(f, src), store, base.resolve("ckpt").toString))
    require(
      graft.streaming.ImgStream.readStats(spark, store).count() == n,
      "streamed stats dropped rows")
    s
  }

  /** Streaming decode-once AUDIO stats ingest throughput: the clip
    * corpus drained through [[graft.streaming.AudStream.ingestStats]]
    * in four micro-batches — each clip pays its ONE fused WAV decode
    * at arrival and lands as [[graft.sources.AudioStats]] moments in
    * batch-scoped parquet. Source files carry the encoded payloads
    * (clips arrive as bytes from the recorder); encoding them is
    * setup, not timed.
    */
  private def streamAudioStatsBench(spark: SparkSession,
      sfDir: String): Sample = withTempDir("graft_bench_aui") { base =>
    val src = base.resolve("src").toString
    val store = base.resolve("st").toString
    val c = graft.multimodal.BinaryAudio.withAudioPayload(spark, sfDir)
    val n = c.count()
    writeBatches(c, "clip_id", src)
    val s = drain(graft.streaming.AudStream.ingestStats(spark,
      batchStream(c, src), store, base.resolve("ckpt").toString))
    require(
      graft.streaming.AudStream.readStats(spark, store).count() == n,
      "streamed audio stats dropped rows")
    s
  }

  /** Streaming training-export sink throughput: the whole documents
    * table drained through [[graft.streaming.DocsStream.ingestExport]]
    * into a fresh batch-scoped sharded layout — times the
    * exactly-once overwrite path end to end (source discovery,
    * micro-batch shard shuffle, sorted sharded write, marker).
    */
  private def streamDocExportBench(spark: SparkSession,
      sfDir: String): Sample = {
    val src = fileStream(spark, sfDir, "documents")
    withTempDir("graft_bench_export") { base =>
      val out = base.resolve("ex").toString
      val s = drain(graft.streaming.DocsStream.ingestExport(spark, src, out,
        base.resolve("ckpt").toString))
      // an empty drain must fail the entry, not commit a vacuous number
      require(
        graft.sources.TrainingExport.readStreamed(spark, out).count() > 0,
        "streaming export drained no rows")
      s
    }
  }

  /** Object-store read path under bench load (VERDICT r5 #6): a 5%
    * frame slice is uploaded ONCE per scale dir into the emulated
    * S3 bucket (amortized like the persisted-store builds — upload is
    * the write side the storage specs already time-box), then the
    * timed body runs the DISTRIBUTED read a download does: binaryFile
    * scan over the bucket → per-partition PNG decode → pixel-stat
    * aggregate. On a real deployment the same code reads s3a:// keys.
    */
  private def s3FramesBench(spark: SparkSession, sfDir: String): Sample = {
    val base = sfDir.reverse.takeWhile(_ != '/').reverse
    val bucket = s"/tmp/graft_s3_bench_$base"
    new java.io.File(bucket).mkdirs()
    val storage = new graft.sources.S3FrameStorage(bucket, "raw_frames/bench")
    val marker = new java.io.File(s"$bucket/_graft_uploaded")
    if (!marker.exists()) {
      val framed = graft.multimodal.BinaryFrames.withPayload(spark, sfDir)
        .filter(expr("(frame_id div 10) % 20 = 0"))
      storage.uploadFrames(framed)
      marker.createNewFile()
    }
    timed {
      graft.multimodal.BinaryFrames.decodeFrames(spark,
          storage.readFrames(spark)
            .select(xxhash64(col("file_name")).as("frame_id"),
              col("payload")))
        .toDF()
        .agg(count(lit(1)).as("n"), sum("sum_px").as("sum_px"),
          max("max_px").as("max_px"))
        .collect()
    }
  }

  /** A decode-once store build, end to end, written to a run-unique
    * name so the timed build never collides with the warmed store the
    * `*_stored` read entries measure against.
    */
  private def storeBuild(spark: SparkSession, kind: String)(
      write: String => Unit): Sample = {
    val table = s"graft_bench_${kind}_${runId()}"
    try timed(write(table))
    finally scala.util.Try(graft.sources.DocumentStore.clearStale(spark, table))
  }

  /** Every bench entry, in artifact order: the batch queries by name,
    * the drains, then the builds.
    */
  def entries(spark: SparkSession, sfDir: String): Seq[Entry] = {
    import graft.streaming.EventsStream._
    def entry(name: String)(run: => Sample) = Entry(name, () => run)
    val batch = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      Entry(name, () => timed(fn(spark, sfDir).count()), retry = true)
    }
    batch ++ Seq(
      // the windowed aggregation over the whole events table: source
      // discovery + micro-batch execution + state store, the full
      // streaming path a production job runs
      entry("stream_events_window")(memoryDrain(spark, "bench_stream")(
        windowedCounts(streamingEvents(spark, sfDir)))),
      // overlapping (10 min / 5 min) windows: twice the window keys per
      // event, state still volume-independent
      entry("stream_sliding")(memoryDrain(spark, "bench_slide")(
        slidingCounts(streamingEvents(spark, sfDir)))),
      // MapState top-k evidence: state bounded by users × (k + bounds)
      entry("stream_topk_evidence")(withStateStore(spark, RocksDb)(
        noopDrain(sessionTopk(spark, typedEvents(spark, sfDir))))),
      entry("stream_dedup")(noopDrain(
        dedupedEvents(streamingEvents(spark, sfDir)))),
      // the drain-safe event-time sessionizer: watermark timeouts
      // terminate under AvailableNow (processing-time ones would hang)
      entry("stream_sessions")(noopDrain(
        sessionizeEventTime(spark, typedEvents(spark, sfDir)))),
      // watermarked stream-stream join, state bounded by the 30-day
      // range condition
      entry("stream_enrich")(noopDrain(
        enrichedWithSignup(streamingEvents(spark, sfDir)))),
      // transformWithState (typed ValueState + event-time timers) and
      // its ListState/MapState digest need the RocksDB provider
      entry("stream_tws_sessions")(withStateStore(spark, RocksDb)(
        noopDrain(sessionizeTws(spark, typedEvents(spark, sfDir))))),
      entry("stream_journey_digest")(withStateStore(spark, RocksDb)(
        noopDrain(journeyDigest(spark, typedEvents(spark, sfDir))))),
      entry("stream_doc_export")(streamDocExportBench(spark, sfDir)),
      entry("stream_vec_ingest")(streamVecIngestBench(spark, sfDir)),
      entry("stream_semdedup_ingest")(streamSemDedupBench(spark, sfDir)),
      entry("stream_neardedup_ingest")(streamNearDedupBench(spark, sfDir)),
      entry("stream_bm25_ingest")(streamTermIndexBench(spark, sfDir)),
      entry("stream_framestats_ingest")(streamFrameStatsBench(spark, sfDir)),
      entry("stream_audiostats_ingest")(streamAudioStatsBench(spark, sfDir)),
      entry("s3_frames_read")(s3FramesBench(spark, sfDir)),
      // the decode-once builds the QC family's stored reads amortize
      entry("frame_stats_build")(storeBuild(spark, "framestats")(
        graft.sources.FrameStats.write(spark, sfDir, _))),
      entry("audio_stats_build")(storeBuild(spark, "audiostats")(
        graft.sources.AudioStats.write(spark, sfDir, _))))
  }

  /** Per-query seconds from a previous committed bench artifact, IF it
    * measured the same scale directory (matched by basename — the same
    * table set lives under different roots across rounds/replicas).
    * The within-run canary is blind to UNIFORM contention: when the
    * whole box is loaded, both timing runs slow down together, agree
    * with each other, and a corrupted number ships silently (round 4's
    * driver artifact ran 2-6× its isolated twin with `noisy` empty).
    * The only reference that catches that is a DIFFERENT run on a
    * different day — the previous round's committed artifact.
    */
  private def priorBench(sfDir: String): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", "BENCH_PREV.json")
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    try {
      val om = new ObjectMapper()
      val root = om.readTree(f)
      val priorSf = Option(root.get("sf")).map(_.asText("")).getOrElse("")
      def base(p: String) = p.reverse.takeWhile(_ != '/').reverse
      if (base(priorSf) != base(sfDir)) return Map.empty
      val qs = root.get("queries")
      if (qs == null) return Map.empty
      // minima aging (the cross-round ratchet fix): minmerge stamps
      // each minimum with the date its value was last REPRODUCED; a
      // stamp older than 14 days (or an unstamped pre-policy
      // artifact entry) is a historical best today's box may simply
      // not reach, so its canary bar relaxes from 2x to 3x — encoded
      // here by inflating the prior by 1.5 (callers keep the 2x
      // comparison). A fresh minimum keeps the strict bar.
      val stamps = Option(root.get("stamps"))
      val staleBefore = java.time.LocalDate.now().minusDays(14)
      def ageFactor(q: String): Double = {
        val stamp = stamps.flatMap(s => Option(s.get(q))).map(_.asText(""))
        stamp.filter(_.nonEmpty)
          .flatMap(d => scala.util.Try(java.time.LocalDate.parse(d)).toOption)
          match {
            case Some(d) if !d.isBefore(staleBefore) => 1.0
            case _ => 1.5
          }
      }
      val it = qs.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> e.getValue.asDouble() * ageFactor(e.getKey)
      }
      b.result()
    } catch { case _: Exception => Map.empty }
  }

  /** Runs every entry under the attempt policy (see the object doc) and
    * returns the artifact line.
    */
  def run(spark: SparkSession, sfDir: String, entries: Seq[Entry]): String = {
    // cross-run canary reference: the previous round's committed
    // artifact (same scale dir only). Contention only ever ADDS time,
    // so "this run is >2x the last committed run" is evidence the box
    // is loaded even when the two within-run timings agree.
    val prior = priorBench(sfDir)
    val om = new ObjectMapper()
    val queries = om.createObjectNode()
    val state = om.createObjectNode()
    val noisy = scala.collection.mutable.SortedSet.empty[String]
    val regressed =
      scala.collection.mutable.SortedMap.empty[String, (Double, Double)]
    // a run that THROWS must never commit its (fast) failure time as a
    // min — a 50 ms crash would "improve" the artifact
    val errors = scala.collection.mutable.SortedMap.empty[String, String]
    var total = 0.0
    entries.foreach { e =>
      def attempt(): Option[Sample] =
        try Some(e.run())
        catch { case t: Throwable =>
          errors(e.name) =
            (t.getClass.getName + ": " + String.valueOf(t.getMessage)).take(200)
          None
        }
      var attempts = 2
      var samples = List(attempt(), attempt()).flatten
      def retry(): Unit = {
        samples = attempt().toList ::: samples
        attempts += 1
      }
      // load canary: on a contended box the first two runs can diverge
      // wildly (round 3's sf0.1 artifact carried 7-8x noise that would
      // mask a real regression)
      def spread = samples.map(_.seconds).sorted.take(2) match {
        case Seq(a, b) => b > a * 2
        case _ => false
      }
      def best = samples.minBy(_.seconds)
      // sub-half-second entries are noise-band and exempt
      def slow(p: Double) = best.seconds > p * 2 && best.seconds > 0.5
      if (samples.nonEmpty) {
        if (e.retry) {
          while (spread && attempts < 4) retry()
          if (spread) noisy += e.name
        }
        for (p <- prior.get(e.name) if p > 0) {
          val cap = attempts + 2
          while (e.retry && slow(p) && attempts < cap) retry()
          if (slow(p)) regressed(e.name) = (p, best.seconds)
        }
        queries.put(e.name, best.seconds)
        total += best.seconds
        // bounded-state evidence: the best run's final state
        best.state.foreach { case (rows, bytes) =>
          val st = state.putObject(e.name)
          if (rows < 0) st.putNull("state_rows") else st.put("state_rows", rows)
          if (bytes < 0) st.putNull("state_bytes")
          else st.put("state_bytes", bytes)
        }
      }
    }
    val line = om.createObjectNode()
    line.put("metric", "total").put("value", total).put("unit", "sec")
    line.set("queries", queries)
    line.set("stream_state", state)
    val noisyArr = line.putArray("noisy")
    noisy.foreach(noisyArr.add(_))
    val reg = line.putObject("regressed")
    regressed.foreach { case (k, (p, v)) =>
      reg.putObject(k).put("prior", p).put("now", v)
    }
    val err = line.putObject("errors")
    errors.foreach { case (k, m) => err.put(k, m) }
    line.put("sf", sfDir)
    om.writeValueAsString(line)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm the session once (executor threads, codegen compiler,
    // parquet footers) so per-query numbers measure the queries.
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.tables.Tables.names.foreach { t =>
      graft.tables.Tables.load(spark, sfDir, t).schema
    }
    // persisted-store entries measure the READ side: build the stores
    // here, outside any timed run (the build is the one shuffle the
    // bucket layout amortizes across every later query)
    graft.sources.DocumentStore.ensureBuilt(spark, sfDir)
    graft.sources.VectorIndex.ensureBuilt(spark, sfDir)
    graft.sources.VectorIndex.ensureBuiltRotated(spark, sfDir)
    graft.sources.FrameStats.ensureBuilt(spark, sfDir)
    graft.sources.AudioStats.ensureBuilt(spark, sfDir)
    graft.sources.TermIndexStore.ensureBuilt(spark, sfDir)
    graft.streaming.ImgStream.ensureStreamedStats(spark, sfDir)
    // dev-only subset filter (comma-separated names); unset for full
    // runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val line = run(spark, sfDir,
      entries(spark, sfDir).filter(e => only.forall(_(e.name))))
    println(line)
    // Belt-and-braces for the stdout contract: any log decoration a
    // launcher wraps around stdout (sbt's forked-run logger prefixed
    // every line with "[info] " until r15) must not blind the consumer,
    // so the same line is mirrored to a well-known file in the cwd.
    try {
      val w = new java.io.PrintWriter("BENCH_SELF.json", "UTF-8")
      try w.println(line) finally w.close()
    } catch { case _: Exception => () }
    spark.stop()
  }
}
