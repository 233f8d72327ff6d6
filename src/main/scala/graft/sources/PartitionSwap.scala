package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, lit}

/** Retire-aside-then-swap: the one way every persisted store replaces
  * part of its data in place — takedowns, vacuum settlement and
  * small-file compaction alike. An ENTRY is the store's unit of
  * replacement: a partition directory (`shard=N`, `cell=N`,
  * `project=P`, `batch=3/shard=N`) or a bucket part file.
  *
  *  - the caller stages the replacement entries first, under the
  *    same names the live root uses;
  *  - each selected live entry renames ASIDE into a retired root
  *    (never delete-before-replace), then each staged entry moves in,
  *    and only then are the staging and retired copies dropped — at
  *    no instant is an entry's data absent from disk;
  *  - a live entry with no staged twin (a partition the delete
  *    emptied) is retired and not replaced, so it simply vanishes;
  *  - entries whose name starts with `_` or `.` never move: commit
  *    markers, checksums and store markers such as
  *    [[TermIndexStore]]'s `_graft_m` stay where they are;
  *  - an interrupted pass leaves the retired copy on disk. A retired
  *    root that already holds files when a swap starts fails the swap
  *    loudly instead of being dropped at its end (it may hold the
  *    only copy of some rows). Path-based stores run [[recover]]
  *    before every pass, which restores such copies first.
  *
  * Row takedowns over a path-partitioned root go through
  * [[takedown]]; catalog tables through [[swapTable]].
  *
  * Every rename reports failure as false — a silent false would
  * either drop an entry or leave victims live, so each step requires.
  */
private[graft] object PartitionSwap {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The movable entries directly under `dir`. */
  private def entries(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** The core: retire `retire` (root-relative) from `live` into
    * `retired`, move `moveIn` from `staged` into `live`, drop the
    * retired copies. Missing entries on either side are skipped.
    */
  private def swapEntries(fs: FileSystem, live: Path, staged: Path,
      retired: Path, retire: Seq[String], moveIn: Seq[String]): Unit = {
    require(!(fs.exists(retired) && fs.listFiles(retired, true).hasNext),
      s"$retired holds a retired copy left by an interrupted swap — " +
        "it may be the only copy of those rows; restore or remove it " +
        "before the next pass")
    for (e <- retire; src = new Path(live, e) if fs.exists(src)) {
      val aside = new Path(retired, e)
      fs.mkdirs(aside.getParent)
      require(fs.rename(src, aside), s"retire failed: $src")
    }
    for (e <- moveIn; src = new Path(staged, e) if fs.exists(src))
      require(fs.rename(src, new Path(live, e)), s"swap failed: $src")
    fs.delete(retired, true)
  }

  /** Swap exactly `partDirs` (root-relative partition paths) from the
    * `staging` root into `root`; retired copies go under
    * `staging/retired`, where [[recover]] finds them.
    */
  def swap(spark: SparkSession, root: String, staging: String,
      partDirs: Seq[String]): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    swapEntries(fs, rootP, new Path(staging), new Path(staging, "retired"),
      partDirs, partDirs)
    fs.delete(new Path(staging), true)
    // the session-level FileStatusCache still holds the PRE-swap
    // listing for this root — a later read would chase retired part
    // files (FAILED_READ_FILE) or silently miss the swapped-in ones
    spark.catalog.refreshByPath(root)
  }

  /** Recovery sweep for an interrupted [[swap]]: every retired
    * partition directory (a dir under `staging/retired` that directly
    * holds files — partition LEAVES, at any nesting depth) whose live
    * twin is absent is renamed back into the root; retired copies
    * whose live directory exists were superseded by a completed swap
    * and drop with the rest of the staging root. Idempotent; no-op
    * when no staging root exists.
    */
  def recover(spark: SparkSession, root: String, staging: String): Unit = {
    val stagingP = new Path(staging)
    val fs = fsOf(spark, stagingP)
    if (!fs.exists(stagingP)) return
    val retired = new Path(stagingP, "retired")
    if (fs.exists(retired)) {
      def leaves(p: Path): Seq[Path] = {
        val st = fs.listStatus(p)
        val hasFiles = st.exists(_.isFile)
        if (hasFiles) Seq(p)
        else st.filter(_.isDirectory).toSeq.flatMap(s => leaves(s.getPath))
      }
      val retiredUri = retired.toUri.getPath
      for (leaf <- leaves(retired)) {
        val rel = leaf.toUri.getPath.stripPrefix(retiredUri)
          .stripPrefix("/")
        val live = new Path(root, rel)
        if (!fs.exists(live)) {
          fs.mkdirs(live.getParent)
          require(fs.rename(leaf, live), s"partition recover failed: $live")
        }
      }
    }
    fs.delete(stagingP, true)
    spark.catalog.refreshByPath(root)
  }

  /** Row takedown for a path-partitioned parquet root: remove every
    * row whose `key` is among `victims`' `key` column, rewriting only
    * the partition directories that hold one. Returns the rows removed.
    *
    *  1. [[recover]] restores anything an interrupted pass stranded
    *     under `<root>_delete_staging`;
    *  2. locate: one scan pruned to `key` and `partCols` finds the
    *     distinct partition tuples holding a victim (bounded by the
    *     layout's partition count);
    *  3. stage: a read pruned to exactly those partitions counts its
    *     rows, anti-joins the victims, counts the survivors and writes
    *     them to `<root>_delete_staging` in the same layout, sorted by
    *     `partCols ++ sortCols`;
    *  4. [[swap]] exactly those partition directories.
    *
    * Untouched partition directories are never opened. Directory names
    * are built the way Spark writes them
    * ([[ExternalCatalogUtils.getPartitionPathString]], so `lab%A` is
    * `project=lab%25A`), and every located directory must exist before
    * anything is staged. Idempotent: a re-run finds no victim rows.
    */
  def takedown(spark: SparkSession, root: String, partCols: Seq[String],
      key: String, victims: DataFrame, sortCols: Seq[String]): Long = {
    val staging = root + "_delete_staging"
    recover(spark, root, staging)
    val ids = victims.select(key)
    val located = spark.read.parquet(root)
      .select((key +: partCols).map(col): _*)
      .join(ids, Seq(key), "left_semi")
      .select(partCols.map(col): _*).distinct()
      .collect().map(r => partCols.indices.map(r.get))
    if (located.isEmpty) return 0L
    val dirs = located.toIndexedSeq.map { vals =>
      partCols.zip(vals).map { case (c, v) =>
        ExternalCatalogUtils.getPartitionPathString(c,
          Option(v).map(String.valueOf).orNull)
      }.mkString("/")
    }.sorted
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    for (d <- dirs)
      require(fs.exists(new Path(rootP, d)),
        s"located partition $d is missing under $root")
    // an OR of per-tuple equalities on the raw typed partition
    // columns: equality on partition columns prunes the listing
    val hit = spark.read.parquet(root).filter(located.toIndexedSeq
      .map(vals => partCols.zip(vals)
        .map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
      .reduce(_ || _))
    val before = hit.count()
    val survivors = hit.join(ids, Seq(key), "left_anti")
    val after = survivors.count()
    survivors
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .parquet(staging)
    swap(spark, root, staging, dirs)
    before - after
  }

  /** [[swapEntries]] for a catalog table: `stage` writes the
    * replacement into the (cleared) staging table `<table>_<op>_staging`
    * and runs the caller's checks; then the live entries `retire`
    * selects rename aside into the sibling directory
    * `<table dir>_<op>_retired`, every staged entry moves in, the
    * staging table drops and the table refreshes. Returns what
    * `stage` returned.
    */
  def swapTable[T](spark: SparkSession, table: String, op: String,
      retire: String => Boolean)(stage: String => T): T = {
    val staging = s"${table}_${op}_staging"
    DocumentStore.clearStale(spark, staging)
    val out = stage(staging)
    // physical locations from the catalog — a db-qualified table may
    // live under a custom database LOCATION, not warehouse/name
    val storeDir = DocumentStore.tableDir(spark, table)
    val stagingDir = DocumentStore.tableDir(spark, staging)
    val fs = fsOf(spark, storeDir)
    swapEntries(fs, storeDir, stagingDir,
      new Path(storeDir.getParent, s"${storeDir.getName}_${op}_retired"),
      entries(fs, storeDir).filter(retire), entries(fs, stagingDir))
    DocumentStore.clearStale(spark, staging)
    spark.sql(s"REFRESH TABLE $table")
    out
  }
}
