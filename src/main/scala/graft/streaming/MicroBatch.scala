package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.DocumentStore

/** The micro-batch ingest core every streamed store shares: one drain
  * and one durable versioned registry.
  */
object MicroBatch {

  /** The one drain policy of every streamed ingest entry point:
    * `foreachBatch` over `source`, checkpointed at `checkpoint`, under
    * `Trigger.AvailableNow` — the query drains what is available and
    * terminates, so one entry point serves both continuous ingest and
    * catch-up backfill. `foreachBatch` is at-least-once: after a
    * failure the checkpoint redelivers the last uncommitted batch
    * under the same id, so `onBatch` must make a replayed id
    * harmless — by overwriting a batch-scoped path, by an id-based
    * store discipline, or through a [[VersionedRegistry]].
    */
  def drain(source: DataFrame, checkpoint: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()

  /** A durable, versioned per-base registry of the state a stream
    * folds batch by batch (a census, a per-cell count table). Batch N
    * writes the new state as table `<base>_v<N>`.
    *
    * Crash discipline:
    *  - a version is never dropped before its successor exists, so
    *    no crash window loses the accumulated state;
    *  - a batch id at or below the registered one is a no-op, so a
    *    replay never double-counts;
    *  - the registry is DURABLE: the applied batch id lives in the
    *    version's table name, and the warehouse directory survives a
    *    JVM restart. On first touch of a base, [[recover]] re-registers
    *    the newest `_SUCCESS`-committed `<base>_v<id>` directory (a
    *    write that crashed mid-flight has no marker and is pruned,
    *    never trusted) and prunes the rest. The checkpoint and the
    *    warehouse are ONE unit of state: keep or discard them together;
    *  - the caller's own store write stays at-least-once: a crash
    *    between it and the registry advance leaves the replayed
    *    batch's rows twice in the store, never in the registry. So the
    *    first batch after a recovery ends with `settle` against the
    *    registered version — and, with `settleColdStart`, so does the
    *    first batch of a base with no committed version at all.
    *
    * `bucketKey` is the version layout: bucketed and sorted by that
    * column into [[DocumentStore.DefaultBuckets]] buckets, or plain
    * parquet. [[write]] and [[recover]] both read it, so a recovered
    * version is re-registered exactly as it was written (a bucketed
    * one keeps its zero-exchange merges).
    */
  final class VersionedRegistry(bucketKey: Option[String],
      settleColdStart: Boolean) {

    /** base → (last applied batch id, current version table): a cache
      * over the durable registry, rebuilt by [[recover]].
      */
    private val applied =
      scala.collection.concurrent.TrieMap.empty[String, (Long, String)]

    /** Bases whose entry came from [[recover]] and whose store has not
      * been settled yet. The debt only materializes once the replay
      * re-appends, so settlement runs at the END of the first
      * post-recovery batch, not inside recovery.
      */
    private val recoveredPending =
      scala.collection.concurrent.TrieMap.empty[String, Unit]

    /** Per-base monitors: unrelated bases never serialize on one lock. */
    private val locks =
      scala.collection.concurrent.TrieMap.empty[String, Object]
    private def lockFor(base: String): Object =
      locks.getOrElseUpdate(base, new Object)

    /** The current version if a batch landed in this JVM. */
    def current(base: String): Option[String] = applied.get(base).map(_._2)

    /** The current version, recovered from the warehouse when this JVM
      * has no entry.
      */
    def current(spark: SparkSession, base: String): Option[String] =
      lockFor(base).synchronized(lastApplied(spark, base).map(_._2))

    /** Drop the in-memory state for a base — what a JVM restart does.
      * The durable registry in the warehouse is untouched.
      */
    def reset(base: String): Unit = {
      applied.remove(base)
      recoveredPending.remove(base)
    }

    /** Write `rows` as table `table` in the version layout. */
    def write(rows: DataFrame, table: String): Unit = {
      val w = rows.write.mode("overwrite")
      bucketKey
        .fold(w)(k => w.bucketBy(DocumentStore.DefaultBuckets, k).sortBy(k))
        .saveAsTable(table)
    }

    /** One registry step for `batchId`: a replayed id is a no-op;
      * otherwise `advance` gets the current version (None before the
      * first batch), does the caller's store write and returns the
      * next version's rows, which land in `<base>_v<batchId>`. The
      * registry then points at the new version, prunes its
      * predecessor and settles any recovery debt through `settle`.
      */
    def absorb(spark: SparkSession, base: String, batchId: Long,
        settle: String => Unit)(advance: Option[String] => DataFrame): Unit =
      lockFor(base).synchronized {
        def settleIfRecovered(): Unit =
          if (recoveredPending.remove(base).isDefined)
            applied.get(base).foreach { case (_, cur) => settle(cur) }
        val prev = lastApplied(spark, base)
        if (prev.exists(batchId <= _._1)) {
          // the registry covers this batch, but an EARLIER crash may
          // still have left settleable debt
          settleIfRecovered()
          return
        }
        val rows = advance(prev.map(_._2))
        val target = s"${base}_v$batchId"
        DocumentStore.clearStale(spark, target)
        // `rows` may read the previous version, which outlives this
        // write: it is pruned only after the registry advances
        write(rows, target)
        applied.update(base, (batchId, target))
        // clearStale, not a bare DROP: a recovered version is an
        // external table whose files a DROP alone would leave behind
        prev.foreach { case (_, old) => DocumentStore.clearStale(spark, old) }
        // with no committed version, a pre-crash store write of this
        // same batch is invisible to recovery; a clean cold start
        // settles as a no-op
        if (prev.isEmpty && settleColdStart) settle(target)
        settleIfRecovered()
      }

    /** The registry entry for a base: the cache, else [[recover]]
      * (cached on hit). Call under the base's lock.
      */
    private def lastApplied(spark: SparkSession,
        base: String): Option[(Long, String)] =
      applied.get(base).orElse {
        val r = recover(spark, base)
        r.foreach { v =>
          applied.update(base, v)
          recoveredPending.update(base, ())
        }
        r
      }

    /** Rebuild a base's entry from the warehouse: the newest
      * `_SUCCESS`-committed `<base>_v<id>` directory is re-registered
      * in the version layout; every other version directory (partial
      * or superseded) is pruned.
      */
    private def recover(spark: SparkSession,
        base: String): Option[(Long, String)] = {
      val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(wh)) return None
      val pat = (java.util.regex.Pattern.quote(base.toLowerCase)
        + "_v(\\d+)").r
      val candidates = fs.listStatus(wh).toSeq
        .filter(_.isDirectory)
        .flatMap { st =>
          st.getPath.getName match {
            case pat(id) => Some((id.toLong, st.getPath))
            case _ => None
          }
        }
      val committed = candidates.filter { case (_, p) =>
        fs.exists(new Path(p, "_SUCCESS"))
      }
      if (committed.isEmpty) None
      else {
        val (maxId, dir) = committed.maxBy(_._1)
        val table = s"${base}_v$maxId"
        if (!spark.catalog.tableExists(table)) {
          val schema = spark.read.parquet(dir.toString).schema.toDDL
          val clustered = bucketKey.fold("")(k =>
            s"CLUSTERED BY ($k) SORTED BY ($k) " +
              s"INTO ${DocumentStore.DefaultBuckets} BUCKETS")
          spark.sql(s"CREATE TABLE $table ($schema) USING PARQUET " +
            s"$clustered LOCATION '$dir'")
        }
        candidates.filter(_._1 != maxId).foreach { case (id, _) =>
          DocumentStore.clearStale(spark, s"${base}_v$id")
        }
        Some((maxId, table))
      }
    }
  }
}
