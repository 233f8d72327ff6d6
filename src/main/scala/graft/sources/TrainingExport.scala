package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.tables.Tables

/** Sharded training-data export — the terminal operator of the
  * dedup → filter → sample pipeline: lay the corpus out as
  * hash-sharded parquet a trainer streams shard by shard.
  *
  * 100 TB design:
  *  - shard = the deterministic md5 bucket of the doc key
  *    ([[graft.ops.TextOps.shardCol]]) — reproducible across runs,
  *    engines and cluster sizes, unlike `pmod(hash(...))` whose seed
  *    and algorithm are engine-private. [[graft.ops.TextOps.shardStats]]
  *    is the pre-flight audit of exactly this assignment;
  *  - ONE exchange: a repartition on the shard key so writer tasks own
  *    whole shards, then `partitionBy(shard)` lays out `shard=N`
  *    directories. A trainer (or [[readShard]]) reads one directory,
  *    partition-pruned at the source — scanning 1/nShards of the
  *    corpus to read one shard is the contract;
  *  - rows inside a writer task sort by the md5 stream order
  *    ([[graft.ops.TextOps.ordCol]]), so a shard file IS the
  *    [[graft.ops.TextOps.packStats]] packing stream: a sequential
  *    reader sees docs in the audited concat-then-cut order;
  *  - nShards is a LAYOUT PROPERTY, recorded in a `_graft_nshards`
  *    marker at export time and read back by every mutating pass —
  *    an append or takedown running with a different modulus than
  *    the export was written with would route victims to the wrong
  *    directories and silently miss them. At 100 TB nShards scales
  *    with the corpus while every plan here is unchanged.
  */
object TrainingExport {

  private val Marker = "_graft_nshards"

  /** Record the export's shard modulus next to its data. */
  private def writeMarker(spark: SparkSession, out: String,
      nShards: Int): Unit =
    DocumentStore.writeIntMarker(spark,
      new org.apache.hadoop.fs.Path(out), Marker, nShards)

  /** The modulus this export was written with, if the marker exists
    * (exports written before the marker era fall back to the caller's
    * parameter).
    */
  def shardCount(spark: SparkSession, out: String): Option[Int] =
    DocumentStore.readIntMarker(spark, new org.apache.hadoop.fs.Path(out),
      Marker)

  private def layoutShards(spark: SparkSession, out: String,
      fallback: Int): Int = shardCount(spark, out).getOrElse(fallback)

  /** Write the documents table as a sharded training export. */
  def export(spark: SparkSession, dir: String, out: String,
      nShards: Int = 64): Unit =
    exportCorpus(spark, Tables.documents(spark, dir), out, nShards)

  /** THE layout contract, defined once: shard assignment + packing
    * order + one exchange + in-task sort. Every sink (parquet, JSONL,
    * streaming batch) routes through here — the specs prove the
    * contract against this one definition, so a future change cannot
    * silently fork one format's layout from the others'.
    */
  private def sharded(df: DataFrame, nShards: Int): DataFrame =
    resharded(df
      .withColumn("shard", TextOps.shardCol(nShards))
      .withColumn("ord", TextOps.ordCol), nShards)

  /** [[sharded]] for frames that ALREADY carry shard/ord (compaction
    * and delete rebuilds re-sort existing layout columns).
    */
  private def resharded(df: DataFrame, nTasks: Int): DataFrame =
    df.repartition(nTasks, col("shard"))
      .sortWithinPartitions("shard", "ord", "doc_id")

  /** Write any corpus with a `doc_id` column as a sharded export. */
  def exportCorpus(spark: SparkSession, corpus: DataFrame, out: String,
      nShards: Int): Unit = {
    sharded(corpus, nShards)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(out)
    writeMarker(spark, out, nShards)
  }

  /** Append a new document batch into an existing export: the
    * deterministic shard assignment (the modulus read from the
    * export's own marker) routes batch rows into their existing
    * `shard=N` directories (new files per batch — the
    * append-compaction trade [[ImagingStore.compact]] documents).
    * O(batch) work regardless of export size: nothing existing is
    * read or rewritten, which is what makes the sink incremental the
    * way [[DocumentStore.append]] is.
    */
  def appendCorpus(spark: SparkSession, batch: DataFrame, out: String,
      nShards: Int = 64): Unit = {
    val n = layoutShards(spark, out, nShards)
    sharded(batch, n)
      .write.mode(SaveMode.Append)
      .partitionBy("shard").parquet(out)
  }

  /** One shard, partition-pruned: the scan must read only the
    * `shard=N` directory (TrainingExportSpec asserts the
    * PartitionFilters), never list-and-filter the whole export.
    */
  def readShard(spark: SparkSession, out: String, shard: Int): DataFrame =
    spark.read.parquet(out).filter(col("shard") === shard)

  /** Compact an export that has accrued append debt: each
    * [[appendCorpus]] lands one file batch per shard directory, and a
    * trainer streaming a shard pays per-file open/seek overhead — the
    * same small-files debt [[ImagingStore.compact]] settles for the
    * frame store. One repartition exchange rebuilds one writer task
    * per shard and re-sorts the merged rows into the packing stream
    * order, so the compacted shard file is byte-for-byte the layout a
    * fresh [[exportCorpus]] of the combined corpus would have written.
    */
  def compactShards(spark: SparkSession, in: String, out: String,
      nShards: Int = 64): Unit = {
    val n = layoutShards(spark, in, nShards)
    resharded(spark.read.parquet(in), n)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(out)
    writeMarker(spark, out, n)
  }

  /** Targeted document deletion — the takedown / right-to-be-forgotten
    * pass a training corpus must support. The deterministic shard
    * assignment (modulus from the export's marker, so a caller can't
    * silently run the wrong layout) locates every victim's directory
    * WITHOUT scanning the export: only the ≤ nShards affected
    * `shard=N` directories are read, anti-joined and rewritten;
    * every other shard's files are never opened, let alone rewritten
    * — O(affected shards), not O(corpus), which at 100 TB is the
    * difference between a minutes-long surgical pass and a
    * full-corpus rewrite. The rewrite re-sorts the survivors, so
    * affected shards keep the packing stream order.
    *
    * The affected shards swap through [[PartitionSwap]] (staging
    * root `<out>_delete_staging`), and [[PartitionSwap.recover]] runs
    * first: a shard stranded under `retired/shard=N` by an
    * interrupted pass is restored before the next pass overwrites the
    * staging root (TrainingExportSpec pins it).
    *
    * The affected-shard collect is bounded by nShards (a layout
    * constant), never by corpus or victim count.
    */
  def deleteDocs(spark: SparkSession, out: String, ids: DataFrame,
      nShards: Int = 64): Unit = {
    val n = layoutShards(spark, out, nShards)
    val staging = out + "_delete_staging"
    PartitionSwap.recover(spark, out, staging)
    val victims = ids.select(col("doc_id"))
      .withColumn("shard", TextOps.shardCol(n))
    val affected = victims.select("shard").distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return
    resharded(spark.read.parquet(out)
        .filter(col("shard").isin(affected: _*))
        .join(victims.select("doc_id"), Seq("doc_id"), "left_anti"),
        affected.length)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(staging)
    PartitionSwap.swap(spark, out, staging,
      affected.toIndexedSeq.map(s => s"shard=$s"))
  }

  /** Post-write manifest: per-shard row counts straight off the
    * export's own partition column — the check a downstream trainer
    * runs against [[graft.ops.TextOps.shardStats]] before consuming.
    */
  def manifest(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("shard")

  /** JSONL twin of [[exportCorpus]] — the interchange format most
    * training stacks consume directly (one JSON object per line,
    * newline-delimited). Identical layout contract: md5 shard
    * assignment, one repartition exchange, rows inside each shard file
    * in the audited packing order, `shard=N` directory per shard, the
    * nShards marker. Spark's `text` sink takes exactly one value
    * column beside the partition column, which is what the
    * `to_json(struct(...))` projection produces; JSON strings are
    * UTF-8 with escaped newlines, so one line is always one document.
    */
  def exportJsonl(spark: SparkSession, corpus: DataFrame, out: String,
      nShards: Int = 64): Unit = {
    val cols = corpus.columns.map(col)
    sharded(corpus, nShards)
      .select(col("shard"), to_json(struct(cols: _*)).as("value"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").text(out)
    writeMarker(spark, out, nShards)
  }

  /** One micro-batch of a STREAMING export, exactly-once by
    * construction: batch `id` lands (whole, sorted, sharded) under
    * `batches/batch=<id>/shard=N`, and a foreachBatch replay simply
    * OVERWRITES that batch directory with identical content — no
    * registry, no settlement pass, because the idempotency lives in
    * the path, not in bookkeeping. This is the strongest of the three
    * sink disciplines in this codebase (DocsStream's census needs a
    * durable registry because its merge folds state; a plain
    * appendCorpus is at-least-once); the price is one directory level
    * per batch — the small-files debt [[compactStreamed]] settles.
    * The shard modulus still comes from the export's marker, so a
    * stream resumed against an existing layout keeps its routing.
    */
  def exportBatch(spark: SparkSession, batch: DataFrame, out: String,
      batchId: Long, nShards: Int = 64): Unit = {
    val n = layoutShards(spark, out, nShards)
    sharded(batch, n)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(s"$out/batches/batch=$batchId")
    if (shardCount(spark, out).isEmpty) writeMarker(spark, out, n)
  }

  /** Everything a streaming export has landed so far (partition
    * columns `batch`, `shard` from the directory layout). A filter on
    * `shard` partition-prunes across every batch directory — reading
    * one shard of the streamed corpus never lists another shard's
    * files.
    */
  def readStreamed(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(s"$out/batches")

  /** True when one path contains (or is) the other after URI
    * normalization — the guard both streamed-compaction passes use:
    * an Overwrite of a destination inside the source would delete the
    * batch directories the lazy read is still scanning (a raw string
    * `dest != store` compare misses `store + "/"` and `..` variants).
    */
  private[graft] def pathsOverlap(a: String, b: String): Boolean = {
    def norm(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.normalize()
        .toString.stripSuffix("/")
    val (na, nb) = (norm(a), norm(b))
    na == nb || na.startsWith(nb + "/") || nb.startsWith(na + "/")
  }

  /** Fold a streamed export's batch directories into one canonical
    * sharded layout at `dest` ([[exportCorpus]] semantics: one writer
    * task per shard, stream order rebuilt across batches). `dest`
    * must differ from `out`; the batch directories survive until the
    * caller deletes them, so a crash mid-compact loses nothing.
    */
  def compactStreamed(spark: SparkSession, out: String, dest: String,
      nShards: Int = 64): Unit = {
    require(!pathsOverlap(out, dest),
      s"compactStreamed needs a fresh destination outside the export " +
        s"(got out=$out dest=$dest)")
    val n = layoutShards(spark, out, nShards)
    exportCorpus(spark,
      readStreamed(spark, out).drop("batch", "shard", "ord"), dest, n)
  }

  /** Takedown for the streamed LANDING dirs — the export-side twin of
    * [[graft.streaming.ImgStream.deleteStatsDatasets]]: [[deleteDocs]]
    * covers the canonical `shard=N` layout, but a victim document that
    * streamed in still has rows under every `batches/batch=<id>/shard=N`
    * directory that landed it. [[PartitionSwap.takedown]] over `batches`
    * with (batch, shard) as the partition columns, survivors staged in
    * the packing order. Idempotent. Returns rows removed.
    */
  def deleteStreamedDocs(spark: SparkSession, out: String,
      ids: DataFrame): Long =
    PartitionSwap.takedown(spark, s"$out/batches", Seq("batch", "shard"),
      "doc_id", ids, Seq("ord", "doc_id"))

  /** One JSONL shard parsed back to rows — partition-pruned like
    * [[readShard]]; `schema` is the document schema the export was
    * written with (JSONL carries no schema of its own — the reader
    * owns it, the usual contract of the format).
    */
  def readJsonlShard(spark: SparkSession, out: String, shard: Int,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.text(out)
      .filter(col("shard") === shard)
      .select(from_json(col("value"), schema).as("doc"))
      .select("doc.*")
}
