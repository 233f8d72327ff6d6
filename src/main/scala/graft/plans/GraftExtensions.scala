package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

import graft.functions.{HyperplaneBits, MinHashSig, QuantileSketchAgg, QuantileSketchEstimate, QuantileSketchUnion, SimHashVotes, ThetaEstimate, ThetaSetOp, ThetaSketchAgg, ThetaState, ThetaUnionAgg, TopKByScore, VecDot, VecL2, WordNGrams}

/** SparkSessionExtensions entry point: registers graft's custom
  * expressions for SQL use, so `SELECT word_ngrams(text, 3)` works in
  * plain spark.sql alongside the Column API. The custom join operators
  * need no extension: the only builders of their logical nodes
  * ([[AsOf.asofJoin]], [[RangeJoinOp.rangeJoin]]) register their
  * planner strategy through [[GraftStrategies.ensureRegistered]].
  *
  * Install with:
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * // or: spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.wordNGramsDescriptor)
    ext.injectFunction(GraftExtensions.hyperplaneBitsDescriptor)
    ext.injectFunction(GraftExtensions.minhashSigDescriptor)
    ext.injectFunction(GraftExtensions.simhashVotesDescriptor)
    ext.injectFunction(GraftExtensions.topKDescriptor)
    ext.injectFunction(GraftExtensions.quantileSketchDescriptor)
    ext.injectFunction(GraftExtensions.quantileSketchUnionDescriptor)
    ext.injectFunction(GraftExtensions.quantileSketchEstimateDescriptor)
    ext.injectFunction(GraftExtensions.thetaSketchDescriptor)
    ext.injectFunction(GraftExtensions.thetaUnionDescriptor)
    ext.injectFunction(GraftExtensions.thetaSetOpDescriptor)
    ext.injectFunction(GraftExtensions.thetaEstimateDescriptor)
    ext.injectFunction(GraftExtensions.vecDotDescriptor)
    ext.injectFunction(GraftExtensions.vecL2Descriptor)
  }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val wordNGramsDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("word_ngrams"),
    new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
    (args: Seq[Expression]) => args match {
      case Seq(text) => WordNGrams(text, 3)
      case Seq(text, n) => WordNGrams(text, intArg(n, "n-gram size"))
      case _ => throw new IllegalArgumentException(
        "word_ngrams(text[, n]) takes 1 or 2 arguments")
    })

  val hyperplaneBitsDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("hyperplane_bits"),
    new ExpressionInfo(classOf[HyperplaneBits].getName, "hyperplane_bits"),
    (args: Seq[Expression]) => args match {
      case Seq(vec) => HyperplaneBits(vec)
      case _ => throw new IllegalArgumentException(
        "hyperplane_bits(embedding) takes 1 argument")
    })

  val minhashSigDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (args: Seq[Expression]) => args match {
      case Seq(base) => MinHashSig(base)
      case Seq(base, n) => MinHashSig(base, intArg(n, "numPerms"))
      case _ => throw new IllegalArgumentException(
        "minhash_sig(base_hash[, num_perms]) takes 1 or 2 arguments")
    })

  val simhashVotesDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_votes"),
    new ExpressionInfo(classOf[SimHashVotes].getName, "simhash_votes"),
    (args: Seq[Expression]) => args match {
      case Seq(h) => SimHashVotes(h)
      case Seq(h, b) => SimHashVotes(h, intArg(b, "bits"))
      case _ => throw new IllegalArgumentException(
        "simhash_votes(token_hash[, bits]) takes 1 or 2 arguments")
    })

  val topKDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("topk_by_score"),
    new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
    (args: Seq[Expression]) => args match {
      case Seq(s, i, k) => TopKByScore(s, i, intArg(k, "k"))
      case _ => throw new IllegalArgumentException(
        "topk_by_score(score, id, k) takes 3 arguments")
    })

  val quantileSketchDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("quantile_sketch_agg"),
    new ExpressionInfo(classOf[QuantileSketchAgg].getName,
      "quantile_sketch_agg"),
    (args: Seq[Expression]) => args match {
      case Seq(c) => QuantileSketchAgg(c, 256)
      case Seq(c, k) => QuantileSketchAgg(c, intArg(k, "sketch k"))
      case _ => throw new IllegalArgumentException(
        "quantile_sketch_agg(value[, k]) takes 1 or 2 arguments")
    })

  val quantileSketchUnionDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("quantile_sketch_union"),
    new ExpressionInfo(classOf[QuantileSketchUnion].getName,
      "quantile_sketch_union"),
    (args: Seq[Expression]) => args match {
      case Seq(c) => QuantileSketchUnion(c)
      case _ => throw new IllegalArgumentException(
        "quantile_sketch_union(sketch) takes 1 argument")
    })

  val quantileSketchEstimateDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("quantile_sketch_estimate"),
    new ExpressionInfo(classOf[QuantileSketchEstimate].getName,
      "quantile_sketch_estimate"),
    (args: Seq[Expression]) => args match {
      case Seq(s, q) => QuantileSketchEstimate(s, q)
      case _ => throw new IllegalArgumentException(
        "quantile_sketch_estimate(sketch, q) takes 2 arguments")
    })

  val thetaSketchDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("theta_sketch_agg"),
    new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
    (args: Seq[Expression]) => args match {
      case Seq(c) => ThetaSketchAgg(c, ThetaState.DefaultK)
      case Seq(c, k) => ThetaSketchAgg(c, intArg(k, "sketch k"))
      case _ => throw new IllegalArgumentException(
        "theta_sketch_agg(value[, k]) takes 1 or 2 arguments")
    })

  val thetaUnionDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("theta_union_agg"),
    new ExpressionInfo(classOf[ThetaUnionAgg].getName, "theta_union_agg"),
    (args: Seq[Expression]) => args match {
      case Seq(c) => ThetaUnionAgg(c)
      case _ => throw new IllegalArgumentException(
        "theta_union_agg(sketch) takes 1 argument")
    })

  val thetaSetOpDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("theta_set_op"),
    new ExpressionInfo(classOf[ThetaSetOp].getName, "theta_set_op"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b, Literal(op, StringType)) =>
        ThetaSetOp(a, b, op.toString)
      case _ => throw new IllegalArgumentException(
        "theta_set_op(a, b, 'union'|'intersect'|'anotb') takes 3 arguments")
    })

  val thetaEstimateDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("theta_estimate"),
    new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
    (args: Seq[Expression]) => args match {
      case Seq(s) => ThetaEstimate(s)
      case _ => throw new IllegalArgumentException(
        "theta_estimate(sketch) takes 1 argument")
    })

  val vecDotDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) => VecDot(a, b)
      case _ => throw new IllegalArgumentException(
        "vec_dot(a, b) takes 2 arguments")
    })

  val vecL2Descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_l2"),
    new ExpressionInfo(classOf[VecL2].getName, "vec_l2"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) => VecL2(a, b)
      case _ => throw new IllegalArgumentException(
        "vec_l2(a, b) takes 2 arguments")
    })

  private val allDescriptors =
    Seq(wordNGramsDescriptor, hyperplaneBitsDescriptor,
      minhashSigDescriptor, simhashVotesDescriptor, topKDescriptor,
      quantileSketchDescriptor, quantileSketchUnionDescriptor,
      quantileSketchEstimateDescriptor, thetaSketchDescriptor,
      thetaUnionDescriptor, thetaSetOpDescriptor, thetaEstimateDescriptor,
      vecDotDescriptor, vecL2Descriptor)

  /** Register on an existing session (tests / REPL convenience). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    allDescriptors.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        ident.funcName, builder, "built-in")
    }
}
