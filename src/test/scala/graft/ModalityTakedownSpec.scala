package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.imaging.ImagingModel
import graft.multimodal.BinaryAudio
import graft.sources.{AudioStats, DocumentStore, FrameStats,
  ImagingStore}
import graft.streaming.ImgStream

/** Dataset-level right-to-be-forgotten across the IMAGING/AUDIO
  * modality stores (VERDICT r13 ask #1) — the lifecycle the text and
  * vector stores got in r13, on the reference's own unit of ownership
  * (db_operations.py's datasets). The compliance contract is the
  * TakedownSpec one: (a) only affected layout units rewrite —
  * untouched units' files survive byte-identical; (b) the post-delete
  * store equals a from-scratch build of the kept set; (c) re-running
  * the same delete is a no-op.
  */
class ModalityTakedownSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  /** Recursive file snapshot of a directory: relative path ->
    * (length, modification time).
    */
  private def snapshot(root: String): Map[String, (Long, Long)] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Map.empty
    val it = fs.listFiles(rootP, true)
    val b = Map.newBuilder[String, (Long, Long)]
    val base = rootP.toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      b += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/") ->
        (st.getLen, st.getModificationTime)
    }
    b.result()
  }

  private val bucketRe = "_(\\d{5})\\.".r
  private def bucketIdOf(name: String): Option[Int] =
    bucketRe.findFirstMatchIn(name).map(_.group(1).toInt)

  private def assertBucketsUntouched(table: String, affected: Set[Int],
      before: Map[String, (Long, Long)]): Unit = {
    val after = snapshot(DocumentStore.tableDir(spark, table).toString)
    for ((name, meta) <- before
         if bucketIdOf(name).exists(b => !affected.contains(b)))
      assert(after.get(name) === Some(meta),
        s"untouched-bucket file $name of $table changed or vanished")
    for ((name, _) <- after
         if bucketIdOf(name).exists(b => !affected.contains(b)))
      assert(before.contains(name),
        s"file $name appeared in an untouched bucket of $table")
  }

  private def assertSameRows(actual: DataFrame, expected: DataFrame,
      what: String): Unit = {
    assert(actual.exceptAll(expected).isEmpty &&
      expected.exceptAll(actual).isEmpty,
      s"$what differs from the from-scratch build of the kept set")
  }

  private def dsIds(vals: Long*): DataFrame = {
    import spark.implicits._
    vals.toDF("dataset_id")
  }

  test("FrameStats.deleteDatasets rewrites only victim buckets and " +
      "equals a fresh build of the kept frames") {
    val tmp = tempDir("graft_tkd_fs").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_tkd_fs LOCATION '$tmp'")
    val t = "graft_tkd_fs.stats"
    val t2 = "graft_tkd_fs.stats_fresh"
    try {
      FrameStats.write(spark, sfDir, t)
      val victims = spark.table(t).select("dataset_id").distinct()
        .orderBy("dataset_id").limit(2)
        .collect().map(_.getLong(0))
      val before = snapshot(DocumentStore.tableDir(spark, t).toString)
      val nVictimRows = spark.table(t)
        .filter(col("dataset_id").isin(victims.toIndexedSeq: _*)).count()
      assert(nVictimRows > 0)
      val stats = FrameStats.deleteDatasets(spark, t,
        dsIds(victims.toIndexedSeq: _*))
      assert(stats.removedRows === nVictimRows)
      assertBucketsUntouched(t, stats.affectedBuckets.toSet, before)
      // equals a from-scratch decode of the kept frames — and so does
      // every stored QC twin, since the tails are deterministic reads
      FrameStats.decodeFrames(spark,
          ImagingModel.frames(spark, sfDir)
            .filter(!expr("id div 10").isin(victims.toIndexedSeq: _*)))
        .write.bucketBy(FrameStats.DefaultBuckets, "dataset_id")
        .sortBy("dataset_id").saveAsTable(t2)
      assertSameRows(spark.table(t), spark.table(t2), "FrameStats")
      // idempotent
      assert(FrameStats.deleteDatasets(spark, t,
        dsIds(victims.toIndexedSeq: _*)).removedRows === 0L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      spark.sql("DROP DATABASE IF EXISTS graft_tkd_fs")
    }
  }

  test("AudioStats.deleteDatasets forgets victim clips' moments; " +
      "vacuum settles a re-appended batch") {
    val tmp = tempDir("graft_tkd_au").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_tkd_au LOCATION '$tmp'")
    val t = "graft_tkd_au.stats"
    try {
      AudioStats.write(spark, sfDir, t)
      val pristine = spark.table(t).collect().toSeq
      // vacuum's settle unit is the full row: the pristine table may
      // carry a clip id twice with different bytes (two recordings)
      // but never the same row twice — assert that precondition
      assert(spark.table(t).dropDuplicates().count() === pristine.size)
      // a crash-replayed append: the same clips land twice,
      // bit-identical — vacuum's census-guided rewrite settles it
      val dup = BinaryAudio.withAudioPayload(spark, sfDir)
        .orderBy("clip_id", "payload").limit(3)
        .select("clip_id", "payload")
      AudioStats.append(spark, t, dup)
      assert(spark.table(t).count() === pristine.size + 3)
      AudioStats.vacuum(spark, t)
      val settled = spark.table(t).collect().toSeq
      assert(settled.size === pristine.size &&
        settled.map(_.toString).sorted
          === pristine.map(_.toString).sorted,
        "vacuum must restore the pristine table")
      // takedown: victims leave, untouched buckets byte-identical
      val victims = spark.table(t).select("dataset_id").distinct()
        .orderBy(col("dataset_id").desc).limit(2)
        .collect().map(_.getLong(0))
      val before = snapshot(DocumentStore.tableDir(spark, t).toString)
      val nVictimRows = spark.table(t)
        .filter(col("dataset_id").isin(victims.toIndexedSeq: _*)).count()
      val stats = AudioStats.deleteDatasets(spark, t,
        dsIds(victims.toIndexedSeq: _*))
      assert(stats.removedRows === nVictimRows && nVictimRows > 0)
      assertBucketsUntouched(t, stats.affectedBuckets.toSet, before)
      val fresh = AudioStats.decodeClipsFull(spark,
        BinaryAudio.withAudioPayload(spark, sfDir)
          .filter(!expr("clip_id div 10").isin(victims.toIndexedSeq: _*)))
      assertSameRows(spark.table(t), fresh, "AudioStats")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql("DROP DATABASE IF EXISTS graft_tkd_au")
    }
  }

  test("ImagingStore.deleteDatasets rewrites only the victims' " +
      "project partitions; an interrupted swap recovers") {
    val store = tempDir("graft_tkd_is").toString + "/st"
    ImagingStore.writeFrames(spark, sfDir, store)
    val all = spark.read.parquet(store)
    // victims: one dataset from the project with the most datasets
    // (so the affected partition keeps survivors too)
    val byProject = all.groupBy("project")
      .agg(countDistinct("frames_global_id").as("n"))
      .orderBy(col("n").desc, col("project")).head()
    val project = byProject.getString(0)
    assert(byProject.getLong(1) >= 2, "need a project with >= 2 datasets")
    val victim = all.filter(col("project") === project)
      .agg(min("frames_global_id")).head().getLong(0)
    val nVictimRows = all.filter(col("frames_global_id") === victim).count()
    // `all` captured its file index pre-delete; count it NOW — after
    // the swap its listed files are retired and the scan would throw
    val allCount = all.count()
    val before = snapshot(store)
    val removed = ImagingStore.deleteDatasets(spark, store, dsIds(victim))
    assert(removed === nVictimRows && nVictimRows > 0)
    // untouched projects' files byte-identical; nothing new landed there
    val after = snapshot(store)
    val affectedPrefix = s"project=$project/"
    for ((name, meta) <- before if !name.startsWith(affectedPrefix)
         if name.startsWith("project="))
      assert(after.get(name) === Some(meta),
        s"untouched partition file $name changed or vanished")
    for ((name, _) <- after if !name.startsWith(affectedPrefix)
         if name.startsWith("project="))
      assert(before.contains(name),
        s"file $name appeared in an untouched partition")
    // survivors equal original minus victims
    val kept = spark.read.parquet(store)
    assert(kept.filter(col("frames_global_id") === victim).count() === 0)
    val keptCount = kept.count()
    assert(keptCount === allCount - nVictimRows)
    // idempotent
    assert(ImagingStore.deleteDatasets(spark, store, dsIds(victim)) === 0L)

    // interrupted-swap recovery: retire a live partition aside by hand
    // (the crash state between the two renames) — the next pass's
    // recover sweep must restore it before doing anything else
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = new org.apache.hadoop.fs.Path(store, s"project=$project")
    val retired = new org.apache.hadoop.fs.Path(
      store + "_delete_staging/retired", s"project=$project")
    fs.mkdirs(retired.getParent)
    require(fs.rename(liveDir, retired))
    val beforeRecover = spark.read.parquet(store).count()
    assert(beforeRecover < keptCount, "partition must be missing")
    // a delete of a never-stored dataset: recover runs, swap no-ops
    assert(ImagingStore.deleteDatasets(spark, store,
      dsIds(99999999L)) === 0L)
    assert(spark.read.parquet(store).count() === keptCount,
      "recover must restore the retired partition")
  }

  test("ImgStream.deleteDatasets purges the landing dirs batch-" +
      "partition by batch-partition") {
    val store = tempDir("graft_tkd_ims").toString + "/st"
    val d = ImagingModel.dataSet(spark, sfDir)
      .select(col("id").as("ds_id"),
        expr("split_part(dataset_serial, '-', 1)").as("project"))
    val frames = ImagingModel.frames(spark, sfDir)
      .join(broadcast(d), col("frames_global_id") === col("ds_id"))
      .drop("ds_id")
    (0 until 3).foreach { b =>
      ImgStream.landBatch(spark,
        frames.filter(col("frames_global_id") % 3 === b), store, b.toLong)
    }
    val all = ImgStream.readStreamed(spark, store)
    val victim = frames.agg(min("frames_global_id")).head().getLong(0)
    val nVictimRows = all.filter(col("frames_global_id") === victim).count()
    assert(nVictimRows > 0)
    val allCount = all.count()
    // the victim lands in exactly one (batch, project) pair here, so
    // every OTHER pair's files must survive byte-identical
    val victimPairs = all.filter(col("frames_global_id") === victim)
      .select("batch", "project").distinct()
      .collect().map(r => s"batch=${r.get(0)}/project=${r.getString(1)}/")
      .toSet
    val before = snapshot(s"$store/batches")
    val removed = ImgStream.deleteDatasets(spark, store, dsIds(victim))
    assert(removed === nVictimRows)
    val after = snapshot(s"$store/batches")
    for ((name, meta) <- before
         if !victimPairs.exists(name.startsWith) && name.contains("project="))
      assert(after.get(name) === Some(meta),
        s"untouched batch-partition file $name changed or vanished")
    val kept = ImgStream.readStreamed(spark, store)
    assert(kept.filter(col("frames_global_id") === victim).count() === 0)
    assert(kept.count() === allCount - nVictimRows)
    assert(ImgStream.deleteDatasets(spark, store, dsIds(victim)) === 0L)
  }

  test("ImgStream.deleteStatsDatasets forgets the streamed QC moments") {
    val store = tempDir("graft_tkd_imq").toString + "/q"
    val frames = ImagingModel.frames(spark, sfDir)
    // arrival waves split by DATASET (not frame) so a victim dataset
    // lands in one batch and the untouched-batch check has teeth
    (0 until 3).foreach { b =>
      ImgStream.landStats(spark,
        frames.filter(expr("id div 10") % 3 === b), store, b.toLong)
    }
    val all = ImgStream.readStats(spark, store)
    val victim = all.agg(min("dataset_id")).head().getLong(0)
    val nVictimRows = all.filter(col("dataset_id") === victim).count()
    assert(nVictimRows > 0)
    val allCount = all.count()
    val victimBatches = spark.read.parquet(s"$store/batches")
      .filter(col("dataset_id") === victim)
      .select("batch").distinct()
      .collect().map(r => s"batch=${r.get(0)}/").toSet
    val before = snapshot(s"$store/batches")
    val removed = ImgStream.deleteStatsDatasets(spark, store, dsIds(victim))
    assert(removed === nVictimRows)
    val after = snapshot(s"$store/batches")
    for ((name, meta) <- before if !victimBatches.exists(name.startsWith))
      assert(after.get(name) === Some(meta),
        s"untouched stats-batch file $name changed or vanished")
    val kept = ImgStream.readStats(spark, store)
    assert(kept.filter(col("dataset_id") === victim).count() === 0)
    assert(kept.count() === allCount - nVictimRows)
    // the drift monitor keeps serving the kept set
    assert(ImgStream.statsDrift(spark, store)
      .filter(col("dataset_id") === victim).count() === 0)
    assert(ImgStream.deleteStatsDatasets(spark, store,
      dsIds(victim)) === 0L)
  }

  test("path takedowns reach partitions whose names Spark escapes") {
    import spark.implicits._
    val frames = ImagingModel.frames(spark, sfDir)
    val ids = frames.select("frames_global_id").distinct()
      .orderBy("frames_global_id").limit(6)
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size === 6, "need 6 datasets")
    // two datasets per project, so every affected partition keeps
    // survivors; the first three datasets (one per project) are victims
    val projects = Seq("lab%A", "lab=A", "lab:A")
    val owner = ids.zipWithIndex
      .map { case (id, i) => (id, projects(i % 3)) }
      .toDF("ds_id", "project")
    val rows = frames
      .join(broadcast(owner), col("frames_global_id") === col("ds_id"))
      .drop("ds_id")
    val victims = ids.take(3)
    def check(what: String, read: () => DataFrame,
        delete: () => Long): Unit = {
      val nVictimRows = read()
        .filter(col("frames_global_id").isin(victims: _*)).count()
      val allCount = read().count()
      assert(nVictimRows > 0)
      val removed = delete()
      val kept = read()
      assert(kept.filter(col("frames_global_id").isin(victims: _*))
        .count() === 0, s"$what left victim rows readable")
      assert(removed === nVictimRows && kept.count() === allCount - removed,
        s"$what: returned count must equal the rows actually gone")
    }
    val store = tempDir("graft_tkd_esc").toString + "/st"
    rows.write.partitionBy("project").parquet(store)
    check("ImagingStore.deleteDatasets", () => spark.read.parquet(store),
      () => ImagingStore.deleteDatasets(spark, store, dsIds(victims: _*)))
    val landed = tempDir("graft_tkd_esc_ims").toString + "/st"
    (0 until 2).foreach { b =>
      ImgStream.landBatch(spark,
        rows.filter(col("frames_global_id") % 2 === b), landed, b.toLong)
    }
    check("ImgStream.deleteDatasets",
      () => ImgStream.readStreamed(spark, landed),
      () => ImgStream.deleteDatasets(spark, landed, dsIds(victims: _*)))
  }
}

