package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF+PQ index — the build/search separation a production
  * ANN service runs (FAISS trains and writes the index once; queries
  * only read it). [[graft.ops.VectorOps.knnIvfPq]] derives cell
  * routing and PQ codes inline and pays a corpus-sized vec_id join to
  * marry them; this store materializes that join ONCE at build time
  * into a single table — (vec_id, cell, codes[8]) — bucketed by cell,
  * so search-time plans touch one table, prune to the probed cells,
  * and never join on the corpus axis at all.
  *
  * Layout: bucketed + sorted by `cell` (the probe key). A cell-probe
  * scan reports its distribution on `cell`, so the per-cell work in a
  * search plan rides the bucket layout the same way
  * [[DocumentStore]]'s census rides its digest buckets.
  */
object VectorIndex {

  val DefaultBuckets = 16

  /** Build: coarse-route every vector to its nearest of the 16 seed
    * centroids (cosine, ties to the smaller id — identical to the
    * inline path), PQ-encode it (8 subspaces × 16 sub-centroids, L2),
    * and persist one row per vector with its codes as a compact
    * array. The one corpus-axis join in the system happens HERE, once.
    */
  def build(spark: SparkSession, dir: String, table: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    val routed = graft.ops.VectorOps.indexRows(spark, dir)
    routed.write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("overwrite").saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Incremental add — the FAISS `index.add()` path: batch vectors
    * route and PQ-encode against the FROZEN codebooks of the original
    * corpus at `codebookDir` (an index never retrains per add) and
    * append in the same cell-bucket layout, so old and new rows stay
    * co-located and every search plan is unchanged. O(batch) per
    * call; the stored index is never rescanned.
    */
  def append(spark: SparkSession, batch: DataFrame, table: String,
      codebookDir: String, nBuckets: Int = DefaultBuckets): Unit = {
    val cb = graft.tables.Tables.embeddings(spark, codebookDir)
    graft.ops.VectorOps.indexRowsOf(batch, cb)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("append").saveAsTable(table)
    // any earlier read of the table (e.g. the bootstrap settle pass)
    // cached its file listing in the relation cache; an appended file
    // is invisible through that cache until the table refreshes
    spark.sql(s"REFRESH TABLE $table")
  }

  /** Settle the index's at-least-once append debt against a per-cell
    * registry census (`(cell, n)` — authoritative cumulative counts,
    * maintained by [[graft.streaming.VecStream]]): same
    * bucket-granular retire-aside-then-swap pass as
    * [[DocumentStore.vacuum]], rewriting ONLY buckets whose physical
    * counts disagree. Full-row distinct is exact settlement because a
    * replayed append re-writes byte-identical (vec_id, cell, codes)
    * rows and vec_ids are unique across batches.
    */
  def settle(spark: SparkSession, table: String, registryTable: String,
      nBuckets: Int = DefaultBuckets): DocumentStore.VacuumStats = {
    import org.apache.spark.sql.functions._
    val expected = spark.table(registryTable)
      .groupBy(pmod(hash(col("cell")), lit(nBuckets)).as("b"))
      .agg(sum("n").as("census_n"))
    DocumentStore.vacuumKeyed(spark, table, "cell", expected, nBuckets)
  }

  /** Takedown — the right-to-be-forgotten pass for the ANN index:
    * victims' cell buckets are found by one column-pruned
    * (vec_id, cell) scan (two skinny columns of the codes table —
    * never the codes themselves), then only those buckets rewrite
    * through the shared retire-aside-then-swap pass. Works unchanged
    * for the rotated index (same table shape); the frozen codebooks /
    * OPQ plan are corpus-level training artifacts and deliberately
    * DON'T retrain on delete — the FAISS `remove_ids` contract: the
    * index serves the kept set exactly as a fresh add-only build of
    * it would, because search touches victims only as stored rows.
    */
  def deleteVecs(spark: SparkSession, table: String, ids: DataFrame,
      nBuckets: Int = DefaultBuckets): DocumentStore.DeleteStats =
    DocumentStore.deleteByIdKeyed(spark, table, "cell", "vec_id", ids,
      nBuckets)

  /** Search the persisted index: identical semantics (and results —
    * VectorIndexSpec asserts row parity) to the inline
    * [[graft.ops.VectorOps.knnIvfPq]], but the corpus side is ONE
    * bucketed scan of (vec_id, cell, codes) — no routing recompute, no
    * code recompute, no corpus-axis join.
    */
  def search(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.ops.VectorOps.searchIndex(spark, dir, read(spark, table))

  /** The companion table holding a rotated index's FROZEN OPQ plan
    * (the raw [[graft.ops.VectorOps.opqRotationsRaw]] rows: one row
    * per rotated dim pair with its Jacobi (c, s) weights, ≤32 rows).
    * FAISS stores the OPQMatrix inside the index file for the same
    * reason: the transform is part of the index's identity — every
    * later add and every query must rotate through the weights the
    * codes were built under, never a recomputed plan.
    */
  private def planTable(table: String): String = table + "_plan"

  /** Build the OPQ-rotated IVF+PQ index — the FAISS
    * OPQMatrix + IVFPQ composition: train the rotation on the corpus
    * ([[graft.ops.VectorOps.opqRotationsRaw]], the mutual-best Jacobi
    * pair census), PERSIST it as the index's plan table, then rotate
    * the corpus through the stored plan (not the in-memory frame —
    * the parquet round-trip is the authoritative copy) and run the
    * standard build in rotated space: coarse-route, PQ-encode, one
    * (vec_id, cell, codes) row per vector bucketed by cell. Rotation
    * is orthogonal, so cells/codes are the rotated-space optimum the
    * distortion drop `emb_opq_distortion` measures.
    */
  def buildRotated(spark: SparkSession, dir: String, table: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    import graft.ops.VectorOps
    val e = graft.tables.Tables.embeddings(spark, dir)
    VectorOps.opqRotationsRaw(e)
      .write.mode("overwrite").saveAsTable(planTable(table))
    val rot = VectorOps
      .rotatedWith(spark, e, spark.table(planTable(table)))
      .select(col("vec_id"), col("rvec").as("embedding"),
        lit(0).as("label"))
    graft.ops.VectorOps.indexRowsOf(rot, rot)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("overwrite").saveAsTable(table)
  }

  /** Incremental add to the rotated index: the batch rotates through
    * the index's STORED plan — never a plan retrained on the batch
    * (VectorIndexSpec plants a batch whose own rotation would differ
    * and proves the stored plan wins) — then routes and encodes
    * against the frozen rotated codebooks, exactly [[append]]'s
    * contract lifted into the rotated space. O(batch) per call.
    */
  def appendRotated(spark: SparkSession, batch: DataFrame, table: String,
      codebookDir: String, nBuckets: Int = DefaultBuckets): Unit = {
    import graft.ops.VectorOps
    val plan = spark.table(planTable(table))
    def rotate(df: DataFrame): DataFrame =
      VectorOps.rotatedWith(spark, df, plan)
        .select(col("vec_id"), col("rvec").as("embedding"),
          lit(0).as("label"))
    val cb = rotate(graft.tables.Tables.embeddings(spark, codebookDir)
      .filter(col("vec_id") < 16))
    VectorOps.indexRowsOf(rotate(batch), cb)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("append").saveAsTable(table)
    spark.sql(s"REFRESH TABLE $table")
  }

  /** Search the rotated index: queries and the 16 coarse/PQ seeds
    * rotate through the STORED plan (16 rows of codec work — the
    * corpus is touched only as codes), then the identical probed ADC
    * plan as [[search]]. Same-plan rotation on both sides preserves
    * L2 exactly, so result drift vs the unrotated index is purely
    * OPQ's quantization-error redistribution.
    */
  def searchRotated(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    import graft.ops.VectorOps
    val seeds = VectorOps.rotatedWith(spark,
        graft.tables.Tables.embeddings(spark, dir)
          .filter(col("vec_id") < 16),
        spark.table(planTable(table)))
      .select(col("vec_id"), col("rvec").as("embedding"))
    VectorOps.searchIndexOf(seeds, read(spark, table))
  }

  /** Build once per JVM ([[DocumentStore.buildOnce]]). */
  def ensureBuilt(spark: SparkSession, dir: String): String = {
    val table = DocumentStore.tableName("graft_vecindex", dir)
    DocumentStore.buildOnce(spark, table)(build(spark, dir, table))
  }

  /** The driver-checked twin of `emb_knn_ivfpq` over the persisted
    * index (same results, same oracle SQL): search-time cost is one
    * bucketed index scan + broadcast probe/distance tables — the
    * FAISS build/search split with the build amortized at
    * [[ensureBuilt]] (Bench warms it so the timed entry measures
    * search).
    */
  def searchFor(spark: SparkSession, dir: String): DataFrame =
    search(spark, dir, ensureBuilt(spark, dir))

  /** The driver-checked twin `emb_knn_refine_indexed`: two-stage
    * refine (ADC over-fetch + exact-cosine rescore) off the persisted
    * codes — same oracle as the inline `emb_knn_refine`; the rung
    * that lifts the stored corners' measured PQ ceiling.
    */
  def searchRefineFor(spark: SparkSession, dir: String): DataFrame =
    graft.ops.VectorOps.knnRefineIndexed(spark, dir,
      read(spark, ensureBuilt(spark, dir)))

  /** [[ensureBuilt]] for the rotated index (plan table + index table
    * cleared and rebuilt together — a stale plan under a fresh index,
    * or vice versa, would silently change every search result).
    */
  def ensureBuiltRotated(spark: SparkSession, dir: String): String = {
    val table = DocumentStore.tableName("graft_vecindex_opq", dir)
    DocumentStore.buildOnce(spark, table, planTable(table))(
      buildRotated(spark, dir, table))
  }

  /** The driver-checked twin `emb_knn_opq_indexed`: IVF+PQ search
    * over the persisted OPQ-rotated index — the full FAISS
    * OPQMatrix + IVFPQ serving path with the build (rotation training
    * included) amortized at [[ensureBuiltRotated]].
    */
  def searchForRotated(spark: SparkSession, dir: String): DataFrame =
    searchRotated(spark, dir, ensureBuiltRotated(spark, dir))
}
