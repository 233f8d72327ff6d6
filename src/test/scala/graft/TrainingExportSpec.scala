package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.sources.TrainingExport

class TrainingExportSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{sfDir, spark}

  test("pruning manifest drives the export: drops excluded, weights " +
      "attached, deleteDocs clears the dropped set") {
    import graft.ops.VectorOps
    // dropAbove = 0.9 exercises the DROP branch on the natural corpus
    // (the production 4x-uniform default fires only on real skew)
    val manifest = VectorOps.pruningManifestRaw(spark, sfDir, 0.9)
    val dropped = manifest.filter(col("action") === "drop")
    assert(dropped.count() > 0, "planted threshold must drop cells")
    val pruned = VectorOps.prunedCorpus(spark, sfDir, 0.9)
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // the pruned corpus is exactly total minus the dropped cells' docs
    val expectKept = docs.count() -
      dropped.agg(sum("n_docs")).head().getLong(0)
    assert(pruned.count() === expectKept)
    // every surviving row carries its cell's manifest weight
    val wrongW = pruned.join(
        manifest.select(col("cell"),
          round(col("weight_raw"), 6).as("mw")), "cell")
      .filter(col("weight") =!= col("mw")).count()
    assert(wrongW === 0, "exported weight != manifest weight")
    assert(pruned.filter(col("weight") <= 0.0).count() === 0)

    // export the pruned frame; the shipped corpus matches the manifest
    val out = tempDir("graft_pruned").toString
    TrainingExport.exportCorpus(spark, pruned, out, nShards = 8)
    val shipped = spark.read.parquet(out)
    assert(shipped.count() === expectKept)
    assert(shipped.columns.contains("weight"))
    assert(shipped.select("doc_id").except(pruned.select("doc_id"))
      .count() === 0)

    // takedown path: export EVERYTHING, then deleteDocs the dropped
    // ids — the final layout equals the manifest's kept set
    val out2 = tempDir("graft_pruned2").toString
    TrainingExport.exportCorpus(spark, docs, out2, nShards = 8)
    val droppedIds = docs.select("doc_id")
      .except(pruned.select("doc_id"))
    TrainingExport.deleteDocs(spark, out2, droppedIds, nShards = 8)
    val after = spark.read.parquet(out2)
    assert(after.count() === expectKept)
    assert(after.select("doc_id").except(pruned.select("doc_id"))
      .count() === 0)
  }

  test("quality-weighted pruning: consistent with its two parent " +
      "policies, weights scaled by the exact keep-rate") {
    import graft.ops.VectorOps
    val joint = VectorOps.pruningQuality(spark, sfDir)
    val base = VectorOps.pruningManifest(spark, sfDir)
    // same cell partition, same density numbers as the density-only
    // manifest; dense drops agree cell-for-cell
    val j = joint.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4),
        r.getDouble(5))).toMap
    val b = base.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getString(3),
        r.getDouble(4))).toMap
    assert(j.keySet === b.keySet)
    j.foreach { case (cell, (n, qk, pct, action, w)) =>
      val (bn, bpct, baction, bw) = b(cell)
      assert(n === bn && pct === bpct, s"cell $cell density drifted")
      assert(qk >= 0 && qk <= n, s"cell $cell keep count out of range")
      assert((action == "drop_dense") === (baction == "drop"),
        s"cell $cell density rule drifted")
      if (action == "drop_lowq") assert(qk * 2 < n)
      if (action.startsWith("drop")) assert(w === 0.0)
      else {
        // kept weight = density weight x exact keep-rate (both parents
        // publish rounded; recompute within rounding slack)
        assert(math.abs(w - bw * qk / n) < 2e-6,
          s"cell $cell weight not keep-rate-scaled")
        assert(qk * 2 >= n)
      }
    }
    // the per-cell keep counts tie out to the per-source quality gate
    val totalKeep = graft.ops.TextOps.qualityGate(spark, sfDir)
      .agg(sum("n_keep")).head().getLong(0)
    assert(j.values.map(_._2).sum === totalKeep,
      "cell keep counts don't tie out to the quality gate")

    // the joint export ships exactly the kept cells, with the
    // keep-rate-scaled weights attached row-for-row
    val exported = VectorOps.prunedCorpusQuality(spark, sfDir)
    val expectKept = j.values.collect {
      case (n, _, _, a, _) if a == "keep" => n
    }.sum
    assert(exported.count() === expectKept)
    val wrongW = exported.join(
        joint.select(col("cell"), col("weight").as("mw")), "cell")
      .filter(col("weight") =!= col("mw")).count()
    assert(wrongW === 0, "joint export weight != joint manifest weight")
    assert(exported.filter(col("weight") <= 0.0).count() === 0)
  }

  test("export round-trips, matches the shardStats census, and is " +
      "deterministic") {
    val out = tempDir("graft_export").toString
    TrainingExport.export(spark, sfDir, out)

    val total = graft.tables.Tables.documents(spark, sfDir).count()
    assert(spark.read.parquet(out).count() === total)

    // the manifest must agree with the pre-flight shardStats audit —
    // same shard arithmetic, same per-shard doc counts
    val census = TextOps.shardStats(spark, sfDir)
      .select("shard", "n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val manifest = TrainingExport.manifest(spark, out).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(manifest === census)

    // deterministic: a second export lands the identical assignment
    val out2 = tempDir("graft_export2").toString
    TrainingExport.export(spark, sfDir, out2)
    val m2 = TrainingExport.manifest(spark, out2).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(m2 === manifest)
  }

  test("appendCorpus lands a batch in the existing shard layout " +
      "without rewriting it") {
    val out = tempDir("graft_export_app").toString
    TrainingExport.export(spark, sfDir, out)
    val before = TrainingExport.manifest(spark, out).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // a re-keyed batch of new docs (disjoint doc_ids)
    val batch = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val batchCensus = batch
      .groupBy(TextOps.shardCol(64).cast("int").as("shard"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    TrainingExport.appendCorpus(spark, batch, out)
    val after = TrainingExport.manifest(spark, out).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = (before.keySet ++ batchCensus.keySet).map { k =>
      k -> (before.getOrElse(k, 0L) + batchCensus.getOrElse(k, 0L))
    }.toMap
    assert(after === expected)
  }

  test("compactShards settles append debt and preserves the stream") {
    val out = tempDir("graft_export_frag").toString
    val compacted = tempDir("graft_export_comp").toString
    TrainingExport.export(spark, sfDir, out)
    // two append batches → up to three files per shard directory
    for (off <- Seq(6000000L, 7000000L))
      TrainingExport.appendCorpus(spark,
        graft.tables.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + off), out)
    def filesIn(root: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .groupBy(_.getParent.getFileName.toString).map { case (k, v) =>
          k -> v.size
        }
    }
    assert(filesIn(out).values.max >= 3, "append debt missing")
    TrainingExport.compactShards(spark, out, compacted)
    assert(filesIn(compacted).values.max === 1,
      "compaction must leave one file per shard")
    // parity + the packing stream order survives the merge
    val a = spark.read.parquet(out)
    val b = spark.read.parquet(compacted)
    assert(a.count() === b.count())
    val ord = TrainingExport.readShard(spark, compacted, 11)
      .select("ord").collect().map(_.getString(0)).toSeq
    assert(ord.nonEmpty && ord === ord.sorted)
  }

  test("deleteDocs rewrites only the affected shards") {
    val out = tempDir("graft_export_del").toString
    TrainingExport.export(spark, sfDir, out)
    val total = spark.read.parquet(out).count()
    // victims: three specific docs — their shards are knowable from
    // the same deterministic assignment the sink uses
    val victims = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(1L, 2L, 3L)).select("doc_id")
    val victimShards = victims
      .withColumn("shard", TextOps.shardCol(64))
      .select("shard").distinct().collect().map(_.getLong(0)).toSet
    // snapshot an untouched shard's exact file listing
    val untouched = (0L until 64L).find(!victimShards.contains(_)).get
    def listing(shard: Long): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(out, s"shard=$shard")
      Files.list(p).iterator().asScala.map(_.toString).toSeq.sorted
    }
    val before = listing(untouched)
    TrainingExport.deleteDocs(spark, out, victims)
    // victims gone, everything else intact
    assert(spark.read.parquet(out).count() === total - 3)
    assert(spark.read.parquet(out)
      .filter(col("doc_id").isin(1L, 2L, 3L)).count() === 0)
    // the untouched shard's files were never rewritten — identical
    // part-file names prove the directory was not opened for write
    assert(listing(untouched) === before)
    // affected shards still stream in packing order
    val s0 = victimShards.head
    val ord = TrainingExport.readShard(spark, out, s0.toInt)
      .select("ord").collect().map(_.getString(0)).toSeq
    assert(ord.nonEmpty && ord === ord.sorted)
  }

  test("deleteDocs recovers a shard stranded by an interrupted pass " +
      "instead of destroying its only copy") {
    val out = tempDir("graft_export_crash").toString
    TrainingExport.export(spark, sfDir, out)
    val total = spark.read.parquet(out).count()
    // simulate the crash window: shard 11's live directory was retired
    // aside and the pass died before the staged swap — the retired
    // copy under the staging root is the shard's ONLY copy
    val staging = java.nio.file.Paths.get(out + "_delete_staging")
    Files.createDirectories(staging.resolve("retired"))
    val live = java.nio.file.Paths.get(out, "shard=11")
    val shard11Rows = spark.read.parquet(out)
      .filter(col("shard") === 11).count()
    assert(shard11Rows > 0)
    Files.move(live, staging.resolve("retired/shard=11"))
    assert(spark.read.parquet(out).count() === total - shard11Rows)
    // the next pass must restore shard 11 before touching the staging
    // root (the old Overwrite wiped the retired copy — rows vanished)
    val victims = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(1L, 2L, 3L)).select("doc_id")
    TrainingExport.deleteDocs(spark, out, victims)
    assert(spark.read.parquet(out).count() === total - 3,
      "interrupted-pass shard rows must survive the next takedown")
    assert(spark.read.parquet(out)
      .filter(col("shard") === 11).count() > 0)
    assert(!Files.exists(staging), "staging root must be cleared")
  }

  test("mutating passes obey the export's recorded shard modulus, " +
      "not the caller's") {
    val out = tempDir("graft_export_mod").toString
    // written with a NON-default modulus…
    TrainingExport.exportCorpus(spark,
      graft.tables.Tables.documents(spark, sfDir), out, 32)
    assert(TrainingExport.shardCount(spark, out) === Some(32))
    val total = spark.read.parquet(out).count()
    // …and deleted with the default parameter: the marker must win,
    // or victims hashed mod 64 land in directories that don't exist
    // and survive the takedown
    val victims = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(5L, 17L, 41L)).select("doc_id")
    TrainingExport.deleteDocs(spark, out, victims)
    assert(spark.read.parquet(out).count() === total - 3)
    assert(spark.read.parquet(out)
      .filter(col("doc_id").isin(5L, 17L, 41L)).count() === 0)
  }

  test("readShard prunes partitions at the scan") {
    val out = tempDir("graft_export_prune").toString
    TrainingExport.export(spark, sfDir, out)
    val one = TrainingExport.readShard(spark, out, 7)
    assert(one.count() > 0)
    assert(one.filter(col("shard") =!= 7).count() === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(shard"), plan)
  }

  test("JSONL export round-trips per shard with the parquet layout") {
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val outP = tempDir("graft_export_pq").toString
    val outJ = tempDir("graft_export_jsonl").toString
    TrainingExport.export(spark, sfDir, outP)
    TrainingExport.exportJsonl(spark, docs, outJ)
    assert(TrainingExport.shardCount(spark, outJ) === Some(64))
    // the same docs land in the same shard under both formats, and the
    // JSON round-trip preserves every column value
    val pq = TrainingExport.readShard(spark, outP, 11)
      .select(docs.columns.map(col): _*)
    val jl = TrainingExport.readJsonlShard(spark, outJ, 11, docs.schema)
    assert(jl.count() === pq.count() && jl.count() > 0)
    assert(jl.exceptAll(pq).isEmpty && pq.exceptAll(jl).isEmpty)
    // one line per document, genuine JSONL on disk
    val dirJ = new java.io.File(outJ, "shard=11")
    val lines = dirJ.listFiles().filter(_.getName.endsWith(".txt"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(lines.length.toLong === pq.count())
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("streaming export drains into batch dirs, replays are " +
      "byte-idempotent, compact folds to the canonical layout") {
    val src = tempDir("graft_expsrc").toString
    val ckpt = tempDir("graft_expckpt").toString
    val out = tempDir("graft_expstream").toString + "/ex"
    val docs = graft.tables.Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "source")
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(src + "/f1.parquet")
    docs.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(src + "/f2.parquet")
    val source = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/*.parquet")
    graft.streaming.DocsStream
      .ingestExport(spark, source, out, ckpt).awaitTermination()

    val streamed = TrainingExport.readStreamed(spark, out)
    assert(streamed.count() === docs.count())
    assert(streamed.select("batch").distinct().count() >= 2,
      "maxFilesPerTrigger must have produced >=2 batch directories")
    assert(TrainingExport.shardCount(spark, out) === Some(64))
    // shard pruning works across every batch directory
    val one = streamed.filter(col("shard") === 7)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("(shard"), plan)

    // replaying a batch (same id, same rows) is byte-idempotent —
    // replay the rows that ACTUALLY landed in batch 0 (the file→batch
    // assignment depends on mtime ordering, so doc_id<250 may be
    // either batch)
    val before = streamed.count()
    val batch0Ids = TrainingExport.readStreamed(spark, out)
      .filter(col("batch") === 0).select("doc_id")
    TrainingExport.exportBatch(spark,
      docs.join(batch0Ids, "doc_id"), out, 0L)
    assert(TrainingExport.readStreamed(spark, out).count() === before)

    // compact folds every batch into one canonical export
    val dest = tempDir("graft_expcompact").toString + "/c"
    TrainingExport.compactStreamed(spark, out, dest)
    val canon = spark.read.parquet(dest)
    assert(canon.count() === docs.count())
    val a = canon.select("doc_id", "text", "source")
    assert(a.exceptAll(docs).isEmpty && docs.exceptAll(a).isEmpty)
    intercept[IllegalArgumentException] {
      TrainingExport.compactStreamed(spark, out, out)
    }
  }

  test("a shard file carries the packing stream order") {
    val out = tempDir("graft_export_ord").toString
    TrainingExport.export(spark, sfDir, out)
    // within one shard directory the rows were written sorted by the
    // md5 stream order; reading the single file back preserves it
    val got = TrainingExport.readShard(spark, out, 3)
      .select("ord").collect().map(_.getString(0)).toSeq
    assert(got.nonEmpty && got === got.sorted,
      "shard rows must stream in md5 (packing) order")
  }

  test("streamed-landing takedown rewrites only the victims' " +
      "batch/shard dirs and leaves no trace") {
    val out = tempDir("graft_exptkd").toString + "/ex"
    val docs = graft.tables.Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "source")
    TrainingExport.exportBatch(spark,
      docs.filter(col("doc_id") < 250), out, 0L)
    TrainingExport.exportBatch(spark,
      docs.filter(col("doc_id") >= 250), out, 1L)
    val all = TrainingExport.readStreamed(spark, out)
    val allCount = all.count()
    // one victim per landed batch
    val victims = Seq(3L, 400L)
    val nVictimRows = all
      .filter(col("doc_id").isin(victims: _*)).count()
    assert(nVictimRows === 2)
    val victimPairs = all.filter(col("doc_id").isin(victims: _*))
      .select("batch", "shard").distinct().collect()
      .map(r => s"batch=${r.get(0)}/shard=${r.get(1)}/").toSet
    // recursive file snapshot before the pass
    def snapshot(): Map[String, (Long, Long)] = {
      val rootP = new org.apache.hadoop.fs.Path(s"$out/batches")
      val fs = rootP.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(rootP, true)
      val b = Map.newBuilder[String, (Long, Long)]
      val base = rootP.toUri.getPath
      while (it.hasNext) {
        val st = it.next()
        b += st.getPath.toUri.getPath.stripPrefix(base)
          .stripPrefix("/") -> (st.getLen, st.getModificationTime)
      }
      b.result()
    }
    val before = snapshot()
    import spark.implicits._
    val removed = TrainingExport.deleteStreamedDocs(spark, out,
      victims.toDF("doc_id"))
    assert(removed === nVictimRows)
    val after = snapshot()
    for ((name, meta) <- before
         if !victimPairs.exists(name.startsWith) && name.contains("shard="))
      assert(after.get(name) === Some(meta),
        s"untouched batch/shard file $name changed or vanished")
    val kept = TrainingExport.readStreamed(spark, out)
    assert(kept.filter(col("doc_id").isin(victims: _*)).count() === 0)
    assert(kept.count() === allCount - nVictimRows)
    // the fold to the canonical layout serves only survivors
    val dest = tempDir("graft_exptkd2").toString + "/c"
    TrainingExport.compactStreamed(spark, out, dest)
    assert(spark.read.parquet(dest)
      .filter(col("doc_id").isin(victims: _*)).count() === 0)
    assert(TrainingExport.deleteStreamedDocs(spark, out,
      victims.toDF("doc_id")) === 0L)
  }

  test("a non-integer shard-modulus marker fails loudly, naming the " +
      "marker, before any mutating pass runs") {
    val out = tempDir("graft_export_badmarker")
    Files.write(out.resolve("_graft_nshards"), "6x".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      TrainingExport.shardCount(spark, out.toString))
    assert(e.getMessage.contains("_graft_nshards") &&
      e.getMessage.contains("'6x'"), e.getMessage)
    val victims = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 5L).select("doc_id")
    intercept[IllegalStateException](
      TrainingExport.deleteDocs(spark, out.toString, victims))
  }
}

