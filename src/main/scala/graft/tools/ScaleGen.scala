package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-up generator for local scale experiments: replicates the
  * sf0.1 tables N× with disjoint key ranges (dims stay fixed, facts
  * grow), preserving join integrity, so Bench can run against an
  * ~sf1-equivalent dataset. Dev tooling only — writes to /tmp.
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir] [outDir] [copies]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfbig")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local()

    def copyDim(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach(copyDim)

    def replicate(name: String, offsets: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val parts = (0 until copies).map { i =>
        offsets.foldLeft(base) { case (df, (c, span)) =>
          df.withColumn(c, col(c) + lit(i * span))
        }
      }
      parts.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    }
    val keySpan = 10000000L
    replicate("orders", Map("o_orderkey" -> keySpan))
    replicate("lineitem", Map("l_orderkey" -> keySpan))
    replicate("events", Map("event_id" -> 10000000L, "user_id" -> 10000L))
    // documents replicate PERTURBED (copy 0 stays exact) — the text
    // twin of the embedding sinusoid below: an exact replica collapses
    // into its source's digest group at the FIRST (exact-dedup) stage,
    // so at 10x/30x the near-dup machinery (LSH bands, containment,
    // MinHashStore probes) would measure a degenerate regime where the
    // interesting near-but-not-exact load never grows with scale. A
    // single token DROPPED at a per-(doc, copy) hashed position keeps
    // each replica a NEAR duplicate of its source: distinct digest
    // (exact dedup can't absorb it), 3-gram shingle Jaccard ~ (n-5)/n
    // (over the LSH confirm threshold for long docs, naturally below
    // it for short ones), so banding recall keeps sub-1.0 signal and
    // candidate volume scales with the corpus. DEGENERATE docs (≤1
    // token) can't drop a token without collapsing every copy to the
    // empty string — identical digests across copies, exactly the
    // exact-dup degeneracy the perturbation exists to avoid — so they
    // APPEND a per-copy token instead: digest stays distinct per copy,
    // the replica stays a near (not exact) duplicate of its source.
    val docBase = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { i =>
      val keyed = docBase.withColumn("doc_id", col("doc_id") + lit(i * 10000L))
      if (i == 0) keyed
      else keyed.withColumn("text", expr(
        s"""CASE WHEN size(split(text, ' ')) > 1 THEN
              array_join(
                filter(split(text, ' '),
                  (x, j) -> j != pmod(doc_id * 2654435761 + $i * 40503,
                                      size(split(text, ' ')))),
                ' ')
            ELSE concat(text, ' c$i') END"""))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    // embeddings replicate PERTURBED (copy 0 stays exact): an exact
    // replica lands in its anchor's own cell by construction, which
    // saturates the recall audits (emb_knn_graph_recall /
    // emb_semdedup_recall read a vacuous 1.0 at 10x/30x) exactly
    // where a routing regression would bite. A small deterministic
    // per-copy sinusoid (±0.02 per component, ~2% of a unit vector's
    // mass) keeps each replica a NEAR neighbor of its source — close
    // enough to exercise dedup and search, far enough that boundary
    // vectors can route to a different cell and the audits keep
    // signal (<1.0) at scale.
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { i =>
      val keyed = base.withColumn("vec_id", col("vec_id") + lit(i * 10000L))
      if (i == 0) keyed
      else keyed.withColumn("embedding",
        expr("transform(embedding, (x, j) -> cast(x + 0.02 * " +
          s"sin(vec_id * 0.618 + j * 2.399 + $i * 1.234) as float))"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    println(s"scale-gen done: $copies x $src -> $out")
    spark.stop()
  }
}
