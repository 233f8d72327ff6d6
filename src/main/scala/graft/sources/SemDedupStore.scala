package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VectorOps

/** Cell-PARTITIONED full-precision vector store with incremental
  * SemDeDup at ingest — the vector-side analog of [[DocumentStore]]'s
  * incremental digest census: a growing corpus must not re-run
  * semantic dedup over everything it already accepted, so the store
  * keeps each accepted vector in its primary IVF cell's own partition
  * directory and an arriving batch pays only
  *
  *  - one batch-sized routing pass against the FROZEN coarse
  *    codebook (an index never retrains per add — the
  *    [[VectorIndex.append]] discipline),
  *  - a pair stage against ONLY the cells the batch probes: the
  *    stored side is a partition-PRUNED read (`cell IN (...)` over
  *    the ≤ 2·batch probed cells — spec-asserted to touch a strict
  *    subset of the store's files), never a corpus rescan,
  *  - one partition-granular append of the survivors.
  *
  * Drop policy is the production incremental rule: stored vectors
  * always win (keep-STORED-first — an accepted vector is never
  * retroactively evicted by a newcomer), and within the batch the
  * usual keep-first (smaller vec_id) applies. Both checks run the
  * same 2-probe boundary geometry as [[VectorOps.semDedupProbe]], so
  * a near-dup pair straddling a cell boundary is caught whenever
  * either end's primary cell is among the other's probes.
  *
  * Crash discipline (the stream wrapper's foreachBatch is
  * at-least-once): replay idempotency is ID-BASED, with no registry
  * at all — vec_ids are unique by contract, a survivor's primary
  * cell is always among its own probed cells, and the survivor
  * append is job-atomic, so a re-delivered batch rediscovers its own
  * earlier survivors in the pruned read and skips them; dropped rows
  * re-drop by the same deterministic rules. Re-ingesting any batch
  * is a stored-state no-op (spec-proved).
  *
  * 100 TB: per-batch cost is O(batch·targetCell) pair work +
  * O(touched partitions) read + O(batch) write; the cell count knob
  * is k ∝ N via the codebook corpus ([[VectorOps.derivedK]]), so the
  * per-partition footprint stays flat as the corpus grows.
  */
object SemDedupStore {

  /** Frozen coarse centroids from the codebook corpus — k derives
    * from the codebook corpus count once; appends never retrain.
    */
  private def centsOf(spark: SparkSession,
      codebookDir: String): DataFrame = {
    val e = graft.tables.Tables.embeddings(spark, codebookDir)
    val k = VectorOps.derivedK(e.count())
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
  }

  /** One-time build: the corpus routed to its primary cells and
    * stored cell-partitioned (vec_id, embedding, nrm, cell).
    */
  def build(spark: SparkSession, dir: String, table: String): Unit = {
    val corpus = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    VectorOps.probedFrame(corpus, centsOf(spark, dir))
      .filter(col("prank") === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      // one task per cell before the partitioned write: without this
      // every shuffle task writes a sliver into every cell directory
      // (tasks×cells files) and the store's LISTING cost — paid by
      // every later pruned read — grows super-linearly with appends
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Small-file settlement: every ingest appends one file per touched
    * cell per batch, so a long drain accrues per-cell file debt that
    * every pruned read pays through listing and opens (the exact
    * failure the build's `repartition(cell)` discipline bounds
    * per-batch but cannot bound across batches). The settle pass
    * rewrites the store with one writer task per cell (same
    * `repartition(cell)` + `partitionBy(cell)` layout, so partition
    * pruning survives), then swaps every `cell=` directory through
    * [[PartitionSwap.swapTable]].
    */
  def compact(spark: SparkSession, table: String): Unit = {
    val n0 = spark.table(table).count()
    PartitionSwap.swapTable(spark, table, "compact", _ => true) { staging =>
      spark.table(table)
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").saveAsTable(staging)
      val n1 = spark.table(staging).count()
      require(n0 == n1,
        s"compaction must preserve rows in $table: $n0 -> $n1")
    }
  }

  /** What a takedown pass did: cells rewritten, rows removed. */
  final case class DeleteStats(affectedCells: Seq[Long],
    removedRows: Long)

  /** Takedown — the right-to-be-forgotten pass at cell-PARTITION
    * granularity (this store's layout unit, where the bucketed stores
    * swap bucket files): victims' cells come from one column-pruned
    * (vec_id, cell) projection — cell is the partition column, so the
    * scan reads ONE skinny data column — and only those `cell=N`
    * directories are read (partition-pruned), anti-joined and
    * swapped in through [[PartitionSwap.swapTable]]. A cell emptied by
    * the delete stages nothing and its directory simply disappears —
    * the pruned reads never ask for it again. The affected-cell
    * collect is bounded by the victims' distinct primary cells
    * (≤ min(|victims|, k)).
    *
    * Semantics match the from-scratch contract: the store holds
    * accepted survivors, survivors are mutually over-tau-free, so the
    * post-delete store IS the build of (stored minus victims); docs a
    * victim once dropped at ingest were never store rows and stay
    * gone — an accepted vector is never retroactively re-admitted.
    */
  def deleteVecs(spark: SparkSession, table: String,
      ids: DataFrame): DeleteStats = {
    val victims = ids.select("vec_id")
    val cells = read(spark, table).select("vec_id", "cell")
      .join(victims, Seq("vec_id"), "left_semi")
      .select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    if (cells.isEmpty) return DeleteStats(Nil, 0L)
    val hit = read(spark, table)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val before = hit.count()
    val cellDirs = cells.map(c => s"cell=$c").toSet
    val after = PartitionSwap.swapTable(spark, table, "delete",
        cellDirs) { staging =>
      hit.join(victims, Seq("vec_id"), "left_anti")
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").saveAsTable(staging)
      spark.table(staging).count()
    }
    DeleteStats(cells.toSeq, before - after)
  }

  /** Per-ingest report: batch size, replayed rows skipped by id,
    * drops against the stored state, in-batch keep-first drops (the
    * sets can overlap), survivors appended, and the
    * partition-pruning evidence (cells touched).
    */
  final case class IngestStats(nBatch: Long, nReplayed: Long,
    nDroppedVsStore: Long, nDroppedInBatch: Long, nAppended: Long,
    nCellsTouched: Long)

  /** Absorb one batch of (vec_id, embedding) rows: route against the
    * frozen codebook, drop within-tau newcomers (stored-first, then
    * in-batch keep-first), append the survivors to their primary
    * cells' partitions.
    */
  def ingest(spark: SparkSession, batch: DataFrame, table: String,
      codebookDir: String, tau: Double = 0.85): IngestStats = {
    val cents = centsOf(spark, codebookDir)
    // batch-sized — checkpointed because the routing feeds the cell
    // list, both pair stages and the append
    val probed = VectorOps.probedFrame(
        batch.select(col("vec_id"), col("embedding")), cents)
      .localCheckpoint(false)
    // the bounded driver list that makes the stored read prunable:
    // ≤ 2·batch distinct cells
    val cells = probed.select("cell").distinct()
      .collect().map(_.getLong(0))
    val stored = read(spark, table)
      .filter(col("cell").isin(cells: _*))
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
    // replay idempotency WITHOUT a registry: vec_ids are unique by
    // contract and a survivor's primary cell is always among its own
    // probed cells, so a replayed (at-least-once) batch finds its own
    // earlier append in this same pruned read and skips it BY ID —
    // the survivor append below is job-atomic (committer-staged), so
    // a crashed write left nothing to double-count. This is the
    // whole crash discipline: re-delivering any batch is a no-op on
    // the stored state.
    // the id-frames below are batch-bounded and each feeds BOTH the
    // stats counts and the survivor anti-join — localCheckpoint so
    // the pair stages run exactly once per ingest, not once per
    // consumer (measured 3x the drain cost at 30x otherwise)
    val replays = probed.filter(col("prank") === 0)
      .join(stored.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select("vec_id").distinct()
      .localCheckpoint(false)
    // stored-first: a newcomer within tau of ANY stored vector in its
    // probed cells drops, whatever the ids say (its own replayed row,
    // if present, is id-excluded by the pair stage)
    val vsStore = VectorOps.probeEdges(probed, stored)
      .filter(col("sim") >= tau)
      .join(replays.withColumnRenamed("vec_id", "v1"),
        Seq("v1"), "left_anti")
      .select(col("v1").as("vec_id")).distinct()
      .localCheckpoint(false)
    // in-batch keep-first: the larger id of every over-tau pair drops
    // (independently of the store check — pairwise drop semantics,
    // exactly [[VectorOps.semDedupProbe]]'s rule)
    val prim = probed.filter(col("prank") === 0)
    val inBatch = VectorOps.probeEdges(probed, prim)
      .filter(col("sim") >= tau)
      .select(greatest(col("v1"), col("v2")).as("vec_id")).distinct()
      .localCheckpoint(false)
    val drops = vsStore.unionByName(inBatch).unionByName(replays)
      .distinct()
    val keep = prim.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .localCheckpoint(false)
    // r15 (guide §1.2, fewer sequential actions): one flag-join
    // aggregate instead of five ~20 ms count jobs of per-batch driver
    // latency. The flag frames (replays / vsStore / inBatch) are
    // distinct id sets, so each left join keeps prim's rows one to
    // one: a batch that repeats a vec_id counts it per row, never
    // fanned out, and appended = rows with no flag = the anti-join.
    val statsRow = prim.select("vec_id")
      .join(replays.withColumn("r", lit(1)), Seq("vec_id"), "left")
      .join(vsStore.withColumn("v", lit(1)), Seq("vec_id"), "left")
      .join(inBatch.withColumn("b", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n"),
        count(col("r")).as("nr"), count(col("v")).as("nv"),
        count(col("b")).as("nb"),
        sum(when(col("r").isNull && col("v").isNull && col("b").isNull,
          1L).otherwise(0L)).as("nk"))
      .head()
    val stats = IngestStats(
      nBatch = statsRow.getLong(0),
      nReplayed = statsRow.getLong(1),
      nDroppedVsStore = statsRow.getLong(2),
      nDroppedInBatch = statsRow.getLong(3),
      nAppended = if (statsRow.isNullAt(4)) 0L else statsRow.getLong(4),
      nCellsTouched = cells.length.toLong)
    // one file per touched cell per batch (the build's repartition
    // discipline) — appends otherwise multiply the listing debt by
    // the task count
    keep.repartition(col("cell"))
      .write.partitionBy("cell").mode("append").saveAsTable(table)
    // earlier reads cached the file listing; appended partitions are
    // invisible through that cache until the table refreshes
    spark.sql(s"REFRESH TABLE $table")
    stats
  }
}
