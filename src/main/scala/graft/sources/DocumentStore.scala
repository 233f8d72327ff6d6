package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed document store (SURVEY.md §7.10's top deferred item): the
  * corpus persisted pre-shuffled on its dedup key, so the dedup scans
  * that run on EVERY ingest batch pay zero exchanges at read time —
  * the write amortizes the one shuffle a 100 TB corpus can't afford
  * per query.
  *
  * Layout: the normalized content digest `h` (the exact-dedup key) is
  * computed once at write time and the table is bucketed + sorted by
  * it. Everything keyed on the digest — duplicate-group census, keeper
  * election, the dedup pipeline's rep selection — then consumes the
  * bucket layout directly: the bucketed scan reports hash
  * distribution on `h`, so the aggregate's Exchange disappears from
  * the plan (proved by DocumentStoreSpec, the same mechanism
  * BucketingSpec proves for lineitem⋈orders).
  */
object DocumentStore {

  val DefaultBuckets = 32

  private[graft] def tableName(prefix: String, dir: String): String =
    prefix + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Where a managed table named `table` lives in the warehouse. */
  private[graft] def warehouseDir(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  /** Drop any catalog entry AND any leftover warehouse directory for
    * `table` — saveAsTable refuses a non-empty managed location it has
    * no catalog entry for (exactly what a prior JVM leaves behind).
    */
  private[graft] def clearStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = warehouseDir(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Stores this JVM has (re)built — the build-once guard behind every
    * store's `ensureBuilt*`. Session-scoped on purpose: a stale store
    * from a previous JVM (the in-memory catalog forgets it, the
    * warehouse directory survives) must be rebuilt, never trusted.
    */
  private val built = scala.collection.mutable.Set.empty[String]

  /** Build `table` once per JVM: the first call clears `table` and its
    * `companions` ([[clearStale]]) and runs `build`; later calls only
    * return `table`. Synchronized, not a concurrent map's
    * getOrElseUpdate: that may evaluate its thunk more than once under
    * concurrency, and a doubled clear+build corrupts the build it
    * guards.
    */
  private[graft] def buildOnce(spark: SparkSession, table: String,
      companions: String*)(build: => Unit): String = {
    built.synchronized {
      if (!built.contains(table)) {
        (table +: companions).foreach(clearStale(spark, _))
        build
        built += table
      }
    }
    table
  }

  /** Build the bucketed store for `dir`'s planted-dup corpus once per
    * JVM (Bench calls this from warmup so timed runs measure the READ
    * side — the build is the one shuffle the layout amortizes).
    */
  def ensureBuilt(spark: SparkSession, dir: String): String = {
    val table = tableName("graft_docstore", dir)
    buildOnce(spark, table)(
      write(graft.ops.DedupOps.corpus(spark, dir), table))
  }

  /** The driver-checked twin of `doc_exact_dedup` over the persisted
    * bucketed store: identical rows (same planted corpus, same census,
    * same oracle SQL), but the digest groupBy rides the bucket layout
    * — zero exchanges below the final order (DocumentStoreSpec proves
    * the plan; the bench entry carries the timing evidence).
    */
  def dupGroupsFor(spark: SparkSession, dir: String): DataFrame =
    dupGroups(spark, ensureBuilt(spark, dir)).orderBy("h")

  /** Persist a (doc_id, text, ...) corpus with the normalized digest
    * precomputed, bucketed by it. Bucket count is a layout decision:
    * at 100 TB size it so one bucket's duplicate census fits an
    * executor core (buckets are the read-side parallelism floor).
    */
  def write(docs: DataFrame, table: String,
      nBuckets: Int = DefaultBuckets): Unit =
    docs
      .withColumn("h", md5(lower(trim(col("text")))))
      .write.bucketBy(nBuckets, "h").sortBy("h")
      .mode("overwrite").saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Duplicate groups over the bucketed store — the zero-exchange
    * twin of [[graft.ops.DedupOps.exactDedup]]'s digest census: same
    * output columns, but the groupBy("h") rides the bucket layout
    * instead of shuffling. Unsorted — callers order (or not) at the
    * edge; an orderBy here would reintroduce a range Exchange above
    * the aggregate and hide what the layout bought.
    */
  def dupGroups(spark: SparkSession, table: String): DataFrame =
    read(spark, table)
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .filter(col("n") > 1)

  /** Keeper election over the store (the dedup pipeline's rep
    * selection, [[graft.ops.DedupOps.digestGroups]]) — also
    * exchange-free on the bucketed layout.
    */
  def digestGroups(spark: SparkSession, table: String): DataFrame =
    read(spark, table)
      .groupBy("h")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("group_n"))

  // ---- incremental ingest ------------------------------------------
  //
  // The other half of the 100 TB contract: corpora GROW. A new ingest
  // batch must update the dedup state by touching the batch and the
  // (digest-sized) census — never by rescanning stored text.

  /** Append an ingest batch in the same bucket layout (the digest is
    * computed at write time exactly as [[write]] does, so old and new
    * files share bucket hashing and stay co-located).
    */
  def append(docs: DataFrame, table: String,
      nBuckets: Int = DefaultBuckets): Unit =
    docs
      .withColumn("h", md5(lower(trim(col("text")))))
      .write.bucketBy(nBuckets, "h").sortBy("h")
      .mode("append").saveAsTable(table)

  /** Materialize the full duplicate census (every digest, including
    * singletons) as its own bucketed table — the persistent dedup
    * state an incremental pipeline carries between batches. Digest +
    * two longs per distinct document: ~10⁻⁴ of corpus bytes.
    */
  def writeCensus(spark: SparkSession, docTable: String,
      censusTable: String, nBuckets: Int = DefaultBuckets): Unit =
    read(spark, docTable)
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .write.bucketBy(nBuckets, "h").sortBy("h")
      .mode("overwrite").saveAsTable(censusTable)

  /** What a [[vacuum]] pass did: which buckets were rewritten and how
    * many duplicate rows it removed.
    */
  case class VacuumStats(affectedBuckets: Seq[Int], removedRows: Long)

  /** Settle the store's at-least-once append debt against the census
    * (the authoritative state — [[graft.streaming.DocsStream]] doc):
    * a crash-replayed micro-batch re-appends its files to the doc
    * store while the registry-guarded census counts it once. This
    * pass compares per-bucket row counts (store vs census `sum(n)`)
    * and rewrites ONLY the buckets that disagree: their part files
    * swap for the full-row-distinct rewrite through
    * [[rewriteAffectedBuckets]]. Untouched buckets' part files are
    * never opened for write (the spec proves their listings survive
    * byte-identical), so the pass is O(disagreeing buckets), not
    * O(corpus).
    *
    * Full-row distinct is exact settlement because replayed appends
    * are byte-identical rows and the ingest contract keeps doc_ids
    * unique across batches (two legitimate duplicates of one text
    * carry different doc_ids, so they survive).
    *
    * The bucket-id expression `pmod(hash(h), n)` is Spark's own
    * bucketing function (Murmur3, seed 42), so the per-bucket census
    * agrees with the physical file layout; the staged-file bucket-id
    * check below fails loudly if that invariant ever broke.
    */
  def vacuum(spark: SparkSession, docTable: String, censusTable: String,
      nBuckets: Int = DefaultBuckets): VacuumStats = {
    val bucketOf = pmod(hash(col("h")), lit(nBuckets))
    val censusCounts = spark.table(censusTable)
      .groupBy(bucketOf.as("b")).agg(sum("n").as("census_n"))
    vacuumKeyed(spark, docTable, "h", censusCounts, nBuckets)
  }

  /** The bucket-granular settle pass itself, parameterized on the
    * bucketing key so other bucketed stores share it — the vector
    * index ([[graft.streaming.VecStream]]) settles its at-least-once
    * append debt against its per-cell registry through exactly this
    * code path. `expected` is (b, census_n): the authoritative row
    * count per PHYSICAL bucket (`pmod(hash(key), n)` — Spark's own
    * bucketing function, so the census agrees with the file layout;
    * the staged-file bucket-id check fails loudly if that invariant
    * ever broke).
    */
  private[graft] def vacuumKeyed(spark: SparkSession, docTable: String,
      keyCol: String, expected: DataFrame,
      nBuckets: Int = DefaultBuckets): VacuumStats = {
    val bucketOf = pmod(hash(col(keyCol)), lit(nBuckets))
    val storeCounts = spark.table(docTable)
      .groupBy(bucketOf.as("b")).agg(count(lit(1)).as("store_n"))
    // ≤ nBuckets rows — a layout-constant collect, like deleteDocs'
    val affected = storeCounts
      .join(expected, Seq("b"), "full_outer")
      .filter(coalesce(col("store_n"), lit(0L)) =!=
        coalesce(col("census_n"), lit(0L)))
      .select("b").collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return VacuumStats(Nil, 0L)
    val (before, after) = rewriteAffectedBuckets(spark, docTable,
      keyCol, affected.toSeq,
      spark.table(docTable)
        .filter(bucketOf.isin(affected: _*))
        .dropDuplicates(),
      nBuckets)
    VacuumStats(affected.toSeq, before - after)
  }

  /** The bucket-granular rewrite every surgical pass here shares
    * ([[vacuumKeyed]]'s settlement, the takedown family's
    * [[deleteByIdKeyed]]): replace the contents of exactly `affected`
    * buckets of a bucketed-by-`keyCol` table with `replacement` (the
    * new rows for those buckets ONLY — a staged part file landing
    * outside them fails loudly), swapping those buckets' part files
    * through [[PartitionSwap.swapTable]] and touching no other
    * bucket's files. Returns (rows before, rows after) over the
    * affected buckets.
    */
  private[graft] def rewriteAffectedBuckets(spark: SparkSession,
      table: String, keyCol: String, affected: Seq[Int],
      replacement: DataFrame,
      nBuckets: Int = DefaultBuckets): (Long, Long) = {
    val affectedSet = affected.toSet
    val bucketOf = pmod(hash(col(keyCol)), lit(nBuckets))
    val affectedRows = spark.table(table)
      .filter(bucketOf.isin(affected: _*)).count()
    // the bucket id a bucketed writer stamps into its part-file name
    val bucketRe = "_(\\d{5})\\.".r
    def bucketIdOf(name: String): Option[Int] =
      bucketRe.findFirstMatchIn(name).map(_.group(1).toInt)
    val stagedRows = PartitionSwap.swapTable(spark, table, "vacuum",
        bucketIdOf(_).exists(affectedSet)) { staging =>
      replacement
        .repartition(nBuckets, col(keyCol))
        .write.bucketBy(nBuckets, keyCol).sortBy(keyCol)
        .mode("overwrite").saveAsTable(staging)
      val stagingDir = tableDir(spark, staging)
      val fs = stagingDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (st <- fs.listStatus(stagingDir);
           b <- bucketIdOf(st.getPath.getName))
        require(affectedSet.contains(b),
          s"staged file ${st.getPath.getName} outside affected buckets " +
            s"$affectedSet — bucket expr / layout mismatch")
      spark.table(staging).count()
    }
    (affectedRows, stagedRows)
  }

  /** What a takedown pass did: which buckets rewrote, rows removed. */
  final case class DeleteStats(affectedBuckets: Seq[Int],
    removedRows: Long)

  /** Targeted row deletion for any bucketed store — the takedown /
    * right-to-be-forgotten pass the whole store family shares
    * ([[graft.sources.TrainingExport.deleteDocs]] is the
    * directory-partitioned precedent; this is its bucket-layout
    * twin). `ids` carries the victim ids in `idCol`; `keyCol` is the
    * table's bucket key, which need not be the id column:
    *
    *  - id IS the bucket key (MinHash doc table, the doclen table):
    *    the locate step is a semi-join on the bucket column itself;
    *  - id is NOT the bucket key (the digest-bucketed corpus, tok-
    *    bucketed postings, cell-bucketed vector index): victims' rows
    *    are FOUND by one column-pruned scan of the (idCol, keyCol)
    *    projection — two skinny columns, never payload text/vectors —
    *    which is the price of locating arbitrary ids in a layout
    *    clustered on something else.
    *
    * Either way the REWRITE is O(affected buckets): survivors of only
    * those buckets anti-join the victim ids and swap in through
    * [[rewriteAffectedBuckets]]; untouched buckets' files are never
    * opened (the spec asserts their listings survive byte-identical).
    * The affected-bucket collect is bounded by nBuckets, a layout
    * constant. Idempotent: re-running with the same ids finds no
    * victim rows and is a no-op.
    */
  private[graft] def deleteByIdKeyed(spark: SparkSession, table: String,
      keyCol: String, idCol: String, ids: DataFrame,
      nBuckets: Int = DefaultBuckets): DeleteStats = {
    val bucketOf = pmod(hash(col(keyCol)), lit(nBuckets))
    val victims = ids.select(col(idCol))
    val affected = spark.table(table).select(col(idCol), col(keyCol))
      .join(victims, Seq(idCol), "left_semi")
      .select(bucketOf.as("b")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return DeleteStats(Nil, 0L)
    val survivors = spark.table(table)
      .filter(bucketOf.isin(affected.toIndexedSeq: _*))
      .join(victims, Seq(idCol), "left_anti")
    val (before, after) = rewriteAffectedBuckets(spark, table, keyCol,
      affected.toSeq, survivors, nBuckets)
    DeleteStats(affected.toSeq, before - after)
  }

  /** Takedown for the document store (+ its census, when one is
    * maintained): victims leave the digest-bucketed corpus through
    * the O(affected-buckets) pass, then the census rows for exactly
    * those buckets are RECOMPUTED from the post-delete store and
    * swapped in — group sizes decrement, the keeper re-elects (min
    * surviving doc_id), and a digest whose last copy left disappears
    * from the census entirely. Census buckets are the same bucket ids
    * as the store's (same key, same hash, same count), so the census
    * rewrite is exactly as surgical as the corpus one.
    */
  def deleteDocs(spark: SparkSession, docTable: String,
      ids: DataFrame, censusTable: Option[String] = None,
      nBuckets: Int = DefaultBuckets): DeleteStats = {
    val stats = deleteByIdKeyed(spark, docTable, "h", "doc_id", ids,
      nBuckets)
    censusTable.foreach { ct =>
      if (stats.affectedBuckets.nonEmpty) {
        val bucketOf = pmod(hash(col("h")), lit(nBuckets))
        val recomputed = spark.table(docTable)
          .filter(bucketOf.isin(stats.affectedBuckets: _*))
          .groupBy("h")
          .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
        rewriteAffectedBuckets(spark, ct, "h", stats.affectedBuckets,
          recomputed, nBuckets)
      }
    }
    stats
  }

  /** The physical directory behind a (possibly db-qualified) managed
    * table, resolved from the catalog.
    */
  private[graft] def tableDir(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
  }

  /** Record a store's layout integer as the marker file `dir/name`
    * (TermIndexStore's impact cap, TrainingExport's shard modulus).
    * Marker names start with `_`: [[PartitionSwap]] never moves them
    * and Spark's readers skip them.
    */
  private[graft] def writeIntMarker(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, name: String, value: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(value.toString.getBytes("UTF-8")) finally os.close()
  }

  /** The layout integer recorded at `dir/name`, None without a marker.
    * The marker is read to EOF (a single `read` may legally return "6"
    * of "64"), and a marker that is not an int fails loudly, naming
    * the marker: a default in its place would silently serve the
    * wrong layout.
    */
  private[graft] def readIntMarker(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, name: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      Some(text.toIntOption.getOrElse(throw new IllegalStateException(
        s"corrupt layout marker $p: '$text' is not an int — the layout " +
          "it records is unknowable; restore the marker or rebuild")))
    }
  }

  /** Whole-table small-file compaction for a bucketed-by-`keyCol`
    * store: every ingest batch appends one-plus part files per bucket,
    * so a long-running stream degrades every later read through
    * file-listing and per-file open cost — the exact failure
    * [[SemDedupStore]]'s cell-repartition fix measured at 30×. The
    * settle pass rewrites the table's rows with ONE writer task per
    * bucket (`repartition(n, key)` is the same Murmur3-pmod hash as
    * `bucketBy`, so each task holds exactly one bucket and writes
    * exactly one file — layout and in-bucket sort order preserved,
    * zero-exchange reads survive), then swaps every part file through
    * [[PartitionSwap.swapTable]].
    */
  private[graft] def compactBucketed(spark: SparkSession, table: String,
      keyCol: String, nBuckets: Int = DefaultBuckets): Unit = {
    // the staging rewrite below re-declares bucketBy(keyCol) +
    // sortBy(keyCol); a table whose catalog entry declares a DIFFERENT
    // spec (extra sort columns, another key, another count) would get
    // files silently violating its own declared layout — fail loudly
    // instead of compacting into a lie
    val spec = spark.sessionState.catalog
      .getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec
    require(spec.exists(s => s.bucketColumnNames == Seq(keyCol)
        && s.sortColumnNames == Seq(keyCol)
        && s.numBuckets == nBuckets),
      s"compactBucketed($table, $keyCol, $nBuckets) must match the " +
        s"table's declared bucket/sort spec, got $spec")
    val n0 = spark.table(table).count()
    // read the table's files RAW (schema pinned from the catalog):
    // a bucketed-table scan reports HashPartitioning(key, n), so
    // Catalyst elides the repartition below as already-satisfied and
    // the writer inherits the fragmented per-file task layout — the
    // very debt this pass exists to settle. The raw read has unknown
    // partitioning, so the one-task-per-bucket exchange survives.
    val raw = spark.read.schema(spark.table(table).schema)
      .parquet(tableDir(spark, table).toString)
    PartitionSwap.swapTable(spark, table, "compact", _ => true) { staging =>
      raw
        .repartition(nBuckets, col(keyCol))
        .write.bucketBy(nBuckets, keyCol).sortBy(keyCol)
        .mode("overwrite").saveAsTable(staging)
      val n1 = spark.table(staging).count()
      require(n0 == n1,
        s"compaction must preserve rows in $table: $n0 -> $n1")
    }
  }

  /** Incremental census update: stored census ⟗ batch census on the
    * digest. With both sides bucketed on `h` at the same count the
    * full-outer merge runs with ZERO exchanges (DocumentStoreSpec
    * asserts it) — so absorbing a batch costs O(batch + census), not
    * O(corpus). Group sizes add; the keeper stays the min doc_id
    * across both sides (`least` skips the side that lacks the digest).
    */
  def mergedCensus(spark: SparkSession, censusTable: String,
      batchCensusTable: String): DataFrame = {
    val stored = spark.table(censusTable)
      .select(col("h"), col("n").as("n_a"), col("keeper").as("k_a"))
    val batch = spark.table(batchCensusTable)
      .select(col("h"), col("n").as("n_b"), col("keeper").as("k_b"))
    stored.join(batch, Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
          .as("n"),
        least(col("k_a"), col("k_b")).as("keeper"))
  }
}
