package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.VectorIndex

/** Streaming vector ingest wired into the persisted IVF+PQ index:
  * micro-batches of new embeddings route and PQ-encode against the
  * FROZEN codebooks of the original corpus ([[VectorIndex.append]], the
  * FAISS `index.add()` path) and land in the cell-bucketed index
  * layout. Per micro-batch cost is O(batch); the stored index is never
  * rescanned and search plans are unchanged — the index stays current
  * at ingest rate.
  *
  * Every entry point drains through [[MicroBatch.drain]]. The index
  * path keeps the cumulative per-cell row census `(cell, n)` as a
  * [[MicroBatch.VersionedRegistry]] of plain parquet (≤ nCells rows,
  * no bucket layout to preserve). Duplicate index rows are real
  * corruption for search (a duplicated vector occupies two top-k
  * slots), so its settle step, [[VectorIndex.settle]] — the
  * bucket-granular distinct rewrite against the registry counts — also
  * runs after the first batch of a base with no committed version.
  */
object VecStream {

  private val registry = new MicroBatch.VersionedRegistry(
    bucketKey = None, settleColdStart = true)

  def currentRegistry(base: String): Option[String] =
    registry.current(base)

  /** Drop in-memory registry state — what a JVM restart does. The
    * durable registry in the warehouse is untouched.
    */
  private[graft] def reset(base: String): Unit = registry.reset(base)

  /** Start the ingest loop over a streaming `source` of embeddings
    * (`vec_id`, `embedding`, `label`). Each micro-batch appends
    * encoded rows to the bucketed index and advances the per-cell
    * registry census.
    */
  def ingestIndex(spark: SparkSession, source: DataFrame,
      indexTable: String, registryBase: String, codebookDir: String,
      checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, batchId) =>
      absorbBatch(spark, batch, indexTable, registryBase, codebookDir,
        batchId)
    }

  /** Streaming SEMANTIC-dedup ingest over the cell-partitioned
    * [[graft.sources.SemDedupStore]] — the vector twin of
    * [[DocsStream.ingestDedup]]: each micro-batch routes against the
    * frozen codebook, drops within-tau newcomers (stored-first, then
    * in-batch keep-first) and appends survivors to their cells'
    * partitions. There is NO registry: the store's replay idempotency
    * is id-based ([[graft.sources.SemDedupStore.ingest]]'s crash
    * discipline), so a re-delivered micro-batch is a stored-state
    * no-op by construction.
    */
  def ingestDedup(spark: SparkSession, source: DataFrame,
      storeTable: String, codebookDir: String,
      checkpoint: String): StreamingQuery =
    MicroBatch.drain(source, checkpoint) { (batch, _) =>
      graft.sources.SemDedupStore.ingest(spark, batch, storeTable,
        codebookDir)
      ()
    }

  /** One ingest step — also the batch-mode entry. Replay-idempotent
    * across restarts ([[MicroBatch.VersionedRegistry]]). The next
    * registry version is the previous one plus this batch's cell
    * counts (≤ nCells rows a side — trivial by construction).
    */
  def absorbBatch(spark: SparkSession, batch: DataFrame,
      indexTable: String, registryBase: String, codebookDir: String,
      batchId: Long): Unit =
    registry.absorb(spark, registryBase, batchId,
        VectorIndex.settle(spark, indexTable, _)) { prev =>
      VectorIndex.append(spark, batch, indexTable, codebookDir)
      val cb = graft.tables.Tables.embeddings(spark, codebookDir)
      val batchCounts = graft.ops.VectorOps
        .coarseCellsOf(batch, cb)
        .groupBy("cell").agg(count(lit(1)).as("n"))
      prev.fold(batchCounts) { reg =>
        spark.table(reg)
          .select(col("cell"), col("n").as("n_a"))
          .join(batchCounts.select(col("cell"), col("n").as("n_b")),
            Seq("cell"), "full_outer")
          .select(col("cell"),
            (coalesce(col("n_a"), lit(0L))
              + coalesce(col("n_b"), lit(0L))).as("n"))
      }
    }
}
