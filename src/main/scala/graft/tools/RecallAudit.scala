package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale recall audit (dev tooling, the RECALL_r14 artifact's
  * generator): the committed bench artifacts TIME the recall audits
  * without capturing their VALUES, and at verify scale the fused
  * recall saturates at 1.0 — this runs the discriminating
  * measurements at the perturbed 10×/30× replicas and prints ONE
  * JSON line:
  *
  *  - `hybrid`: per-qid fused-list recall of the scale-path hybrid
  *    vs the exact hybrid (graft.ops.TextOps.hybridRecall) — the
  *    number a RAG deployment actually serves;
  *  - `bm25`: the lexical engine's pruned-vs-full recall at the
  *    recorded M (TextOps.bm25Recall);
  *  - `knn_ivf`: the vector engine's 4-probe-IVF-vs-brute recall
  *    (the hybrid's other input);
  *  - `banded_agreement`: of the banded ranker's top-100 at the
  *    RECORDED r=8 operating point, how many pairs the r=4 top-100
  *    shares (and the jaccard floor of each list) — the tail-only
  *    divergence claim made when r=8 was adopted, measured.
  *
  * Usage: runMain graft.tools.RecallAudit [sfDir]
  */
object RecallAudit {

  private def recallStats(df: DataFrame): (Long, Double, Double) = {
    val r = df.agg(count(lit(1)), round(avg(col("recall")), 4),
      round(min(col("recall")), 4)).head()
    (r.getLong(0), r.getDouble(1), r.getDouble(2))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()

    val hybrid = recallStats(graft.ops.TextOps.hybridRecall(spark, dir))
    // the exact-lexical stored hybrid (MaxScore × IVF+PQ) vs the
    // exact hybrid: RECALL_r14 showed the fused degradation is
    // entirely lexical, so this corner should recover what the
    // capped hybrid loses — leaving only the vector side's PQ cost
    def fusedRecallOf(approx: DataFrame): (Long, Double, Double) = {
      val base = graft.ops.TextOps.hybridTopK(spark, dir)
        .select(col("qid"), col("doc_id"))
      val hx = approx
        .select(col("qid").as("pqid"), col("doc_id").as("pdoc"))
      recallStats(base.join(hx,
          col("qid") === col("pqid") && col("doc_id") === col("pdoc"),
          "left")
        .groupBy("qid")
        .agg((count(col("pdoc")).cast("double") / count(lit(1)))
          .as("recall")))
    }
    val hxExact = fusedRecallOf(
      graft.ops.TextOps.hybridTopKExactStored(spark, dir))
    // the stored capped hybrid under the SAME vector side (IVF+PQ) —
    // the apples-to-apples baseline for the exact-lexical corner:
    // the delta hxExact − hxStored is what lexical exactness buys
    // with the vector engine held constant; what remains below 1.0
    // is the PQ cost both stored corners pay
    val hxStored = fusedRecallOf(
      graft.ops.TextOps.hybridTopKStored(spark, dir))
    // the ceiling-lifted corner: exact lexical × REFINED stored
    // vector (ADC over-fetch + exact rescore)
    val hxRefined = fusedRecallOf(
      graft.ops.TextOps.hybridTopKRefinedStored(spark, dir))
    val bm25 = recallStats(graft.ops.TextOps.bm25Recall(spark, dir))
    // the impact-cap operating CURVE at this scale: mean recall per
    // M ∈ {16, 64, 256} — how the recorded M=256 point holds as the
    // per-term cap covers a shrinking fraction of a growing corpus
    val curve = graft.ops.TextOps.bm25RecallCurve(spark, dir)
      .groupBy("m").agg(round(avg(col("recall")), 4).as("r"))
      .orderBy("m").collect()
      .map(r => s""""m${r.getLong(0)}":${r.getDouble(1)}""")
      .mkString("{", ",", "}")
    // the hybrid's vector engine: 4-probe IVF vs the brute truth
    val brute = graft.ops.VectorOps.knnBrute(spark, dir)
      .select(col("qid"), col("neighbor"))
    val ivf = graft.ops.VectorOps.knnIvf(spark, dir)
      .select(col("qid").as("aqid"), col("neighbor").as("aneighbor"))
    val knnIvf = recallStats(
      brute.join(ivf,
          col("qid") === col("aqid")
            && col("neighbor") === col("aneighbor"), "left")
        .groupBy("qid")
        .agg((count(col("aneighbor")).cast("double") / count(lit(1)))
          .as("recall")))
    // the STORED vector engine (IVF+PQ ADC) vs brute — attributes the
    // stored hybrids' remaining loss to the PQ side explicitly
    val ivfpq = graft.sources.VectorIndex.searchFor(spark, dir)
      .select(col("qid").as("aqid"), col("neighbor").as("aneighbor"))
    val knnIvfPq = recallStats(
      brute.join(ivfpq,
          col("qid") === col("aqid")
            && col("neighbor") === col("aneighbor"), "left")
        .groupBy("qid")
        .agg((count(col("aneighbor")).cast("double") / count(lit(1)))
          .as("recall")))
    // the refined stored engine vs brute — what the rescore recovers
    val refined = graft.sources.VectorIndex.searchRefineFor(spark, dir)
      .select(col("qid").as("aqid"), col("neighbor").as("aneighbor"))
    val knnRefined = recallStats(
      brute.join(refined,
          col("qid") === col("aqid")
            && col("neighbor") === col("aneighbor"), "left")
        .groupBy("qid")
        .agg((count(col("aneighbor")).cast("double") / count(lit(1)))
          .as("recall")))

    // banded-ranker agreement: r=8 (recorded) top-100 vs r=4 top-100
    def top100(r: Int): DataFrame =
      graft.ops.DedupOps.minhashPairsOf(
          graft.ops.DedupOps.corpus(spark, dir), jaccardMin = 0.0,
          bandRows = r)
        .orderBy(col("jaccard").desc, col("doc1"), col("doc2"))
        .limit(100)
    val t8 = top100(8).localCheckpoint(true)
    val t4 = top100(4).localCheckpoint(true)
    val shared = t8.select("doc1", "doc2")
      .join(t4.select("doc1", "doc2"), Seq("doc1", "doc2"), "left_semi")
      .count()
    val floor8 = t8.agg(min("jaccard")).head().getDouble(0)
    val floor4 = t4.agg(min("jaccard")).head().getDouble(0)

    def j(t: (Long, Double, Double)): String =
      s"""{"n_queries":${t._1},"mean_recall":${t._2},"min_recall":${t._3}}"""
    println(s"""{"sf":"$dir","hybrid":${j(hybrid)},""" +
      s""""hybrid_exact_stored":${j(hxExact)},""" +
      s""""hybrid_stored":${j(hxStored)},""" +
      s""""hybrid_refined_stored":${j(hxRefined)},""" +
      s""""knn_ivfpq":${j(knnIvfPq)},""" +
      s""""knn_refine_indexed":${j(knnRefined)},""" +
      s""""bm25":${j(bm25)},"bm25_curve":$curve,""" +
      s""""knn_ivf":${j(knnIvf)},""" +
      s""""banded_agreement":{"shared_of_100":$shared,""" +
      s""""jaccard_floor_r8":$floor8,"jaccard_floor_r4":$floor4}}""")
    spark.stop()
  }
}
