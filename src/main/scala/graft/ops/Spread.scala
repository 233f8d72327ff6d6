package graft.ops

import org.apache.spark.sql.DataFrame

/** Guide §2.5 parallelism floor for per-row-HEAVY passes over
  * under-split inputs (the O(d²) vector census — [[VectorOps]]).
  *
  * The bench tables are single-file single-row-group parquet, so a
  * scan is ONE task and an expensive per-row pipeline downstream of it
  * runs single-core (r14 measurement: emb_dim_corr spent 3.4 s of its
  * 4.0 s in one 1-task stage). One round-robin exchange of the skinny
  * rows buys full-width parallelism for all of it.
  *
  * Apply ONLY where per-partition work is heavy: the r15 measurement
  * that scoped this helper — flooring the dedup corpus and the BM25/NB
  * tokenizes made those queries 1.2-1.9× SLOWER at bench scale,
  * because 32-way task-setup overhead swamps per-row work as cheap as
  * tokenize/md5.
  *
  * Scale discipline (the r14 verdict's spreadVecs fix): the exchange
  * is a FLOOR, so it only fires when the input is actually under-split
  * — at 100 TB the scan is thousands of splits, `getNumPartitions >=
  * target` holds, and no extra shuffle is inserted. The target follows
  * the session's shuffle parallelism, never a constant;
  * `numShufflePartitions` (not `conf.get(...).toInt`) so a
  * non-numeric setting can't throw.
  */
private[graft] object Spread {
  def floor(df: DataFrame): DataFrame = {
    val target = width(df)
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** The codec paths' unconditional row spread: frame and clip METADATA
    * rows are byte-small, so a scan hands one or two partitions all of
    * the per-row encode/decode work (~50 µs/row) and the codec pass
    * runs single-task. One round-robin exchange of the tiny rows to the
    * session's shuffle parallelism buys the full-core codec stage
    * (75 s → ~3 s at bench scale). Every decode path applies it exactly
    * once, before the payload is built or decoded.
    */
  def rows(df: DataFrame): DataFrame = df.repartition(width(df))

  private def width(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions
}
