package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.DocumentStore

/** Streaming document ingest wired into the incremental dedup state —
  * the loop a growing 100 TB corpus actually runs: micro-batches of
  * new documents land in the bucketed [[DocumentStore]] layout and the
  * persistent digest census absorbs each batch with the zero-exchange
  * full-outer merge ([[DocumentStore.mergedCensus]]). Per micro-batch
  * cost is O(batch + census) — stored text is NEVER rescanned, which
  * is the whole contract: dedup state stays current at ingest rate,
  * not at corpus-rescan rate.
  *
  * Every entry point drains through [[MicroBatch.drain]]. The census
  * is a [[MicroBatch.VersionedRegistry]] bucketed by `h`, so a
  * recovered census keeps the zero-exchange merge; its settle step is
  * the census-guided [[DocumentStore.vacuum]], which rewrites only the
  * buckets whose counts disagree. The census is the authoritative
  * dedup state: it is rebuilt from the batch DataFrame, never from the
  * store, so a replayed append can duplicate store rows but never
  * census counts.
  */
object DocsStream {

  private val registry = new MicroBatch.VersionedRegistry(
    bucketKey = Some("h"), settleColdStart = false)

  /** The current census table for a base, if any batch has landed in
    * this JVM (see [[currentCensus(spark:*]] for the recovery-aware
    * variant a fresh JVM uses).
    */
  def currentCensus(censusBase: String): Option[String] =
    registry.current(censusBase)

  /** Recovery-aware census lookup: consults the durable registry when
    * this JVM has no in-memory entry.
    */
  def currentCensus(spark: SparkSession,
      censusBase: String): Option[String] =
    registry.current(spark, censusBase)

  /** Drop the IN-MEMORY registry state for a base — what a JVM
    * restart does to the cache; the durable registry is untouched.
    */
  private[graft] def reset(censusBase: String): Unit =
    registry.reset(censusBase)

  /** Start the ingest loop over a streaming `source` of documents
    * (any plan with `doc_id` and `text` columns). Each micro-batch:
    *  1. appends to the bucketed doc store (digest computed at write
    *     time, co-located with existing buckets);
    *  2. collapses to a batch census (one batch-sized shuffle — the
    *     only exchange in the loop);
    *  3. merges it with the current census version into
    *     `<base>_v<batchId>` (zero-exchange bucketed merge).
    */
  def ingestDedup(spark: SparkSession, source: DataFrame,
      docTable: String, censusBase: String,
      checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, batchId) =>
      absorbBatch(spark, batch, docTable, censusBase, batchId)
    }

  /** Streaming NEAR-dup ingest: each micro-batch flows through
    * [[graft.sources.MinHashStore.ingest]] — signature pass, band-
    * index probe, exact-Jaccard confirmation, survivor append.
    * Idempotency is the store's id-based replay discipline (a crash
    * between the doc and band appends heals on redelivery via the
    * store's band-repair anti-join), so there is no registry.
    */
  def ingestNearDedup(spark: SparkSession, source: DataFrame,
      storeTable: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, _) =>
      graft.sources.MinHashStore.ingest(spark, batch, storeTable)
      ()
    }

  /** Streaming retrieval-index ingest: each micro-batch flows through
    * [[graft.sources.TermIndexStore.ingest]] — batch-sized tokenize,
    * doclen-then-postings bucket-layout appends. Idempotency is the
    * store's id-based replay skip (plus its postings-repair anti-join
    * for the append crash window), so there is no registry.
    */
  def ingestTermIndex(spark: SparkSession, source: DataFrame,
      storeTable: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, _) =>
      graft.sources.TermIndexStore.ingest(spark, batch, storeTable)
      ()
    }

  /** Streaming TRAINING-EXPORT ingest — the terminal sink of the
    * continuous corpus build: micro-batches of (cleaned, deduped)
    * documents land directly in the sharded training-export layout
    * via [[graft.sources.TrainingExport.exportBatch]], which overwrites
    * its own `batches/batch=<id>` directory, so a replay is
    * byte-idempotent without a registry. Pair with [[ingestDedup]]
    * upstream (census-gated keepers) and
    * [[graft.sources.TrainingExport.compactStreamed]] downstream (the
    * periodic small-files settlement a trainer-facing layout runs).
    */
  def ingestExport(spark: SparkSession, source: DataFrame,
      out: String, checkpoint: String,
      nShards: Int = 64): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, batchId) =>
      graft.sources.TrainingExport
        .exportBatch(spark, batch, out, batchId, nShards)
    }

  /** One ingest step — also the batch-mode entry (a backfill driver
    * can call it directly, supplying its own monotonic batch ids).
    * Replay-idempotent across restarts ([[MicroBatch.VersionedRegistry]]).
    * The first batch's census is the state itself; later batches
    * write a bucketed batch census and merge it with the current one.
    */
  def absorbBatch(spark: SparkSession, batch: DataFrame,
      docTable: String, censusBase: String, batchId: Long): Unit =
    registry.absorb(spark, censusBase, batchId,
        DocumentStore.vacuum(spark, docTable, _)) { prev =>
      DocumentStore.append(batch, docTable)
      val batchCensus = batch
        .withColumn("h", md5(lower(trim(col("text")))))
        .groupBy("h")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      prev.fold(batchCensus) { cur =>
        val batchTable = s"${censusBase}_batch"
        DocumentStore.clearStale(spark, batchTable)
        registry.write(batchCensus, batchTable)
        DocumentStore.mergedCensus(spark, cur, batchTable)
      }
    }
}
