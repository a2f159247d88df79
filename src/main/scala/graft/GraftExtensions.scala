package graft

import graft.functions.JaroWinklerExpression
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * programmatically via `SparkSession.builder().withExtensions(...)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.jaroWinklerDescriptor)
    ext.injectFunction(GraftExtensions.minhashSigDescriptor)
    ext.injectFunction(GraftExtensions.tokenOverlapDescriptor)
    ext.injectFunction(GraftExtensions.spanTextTokensDescriptor)
    ext.injectFunction(GraftExtensions.spanMediaTokensDescriptor)
    ext.injectFunction(GraftExtensions.qdotDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectFunction(GraftExtensions.overlapLongDescriptor)
    ext.injectFunction(GraftExtensions.scorePairDescriptor)
  }
}

object GraftExtensions {
  val jaroWinklerDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinklerExpression].getName, "jaro_winkler"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "jaro_winkler expects exactly 2 arguments")
      JaroWinklerExpression(children.head, children(1))
    })

  val minhashSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[graft.functions.MinhashSigExpression].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "minhash_sig expects (array<string>, k, seedOffset)")
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"minhash_sig $what must be an int literal, got $other")
      }
      graft.functions.MinhashSigExpression(children.head,
        intLit(children(1), "k"), intLit(children(2), "seedOffset"))
    })

  val spanTextTokensDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("span_text_tokens"),
    new ExpressionInfo(classOf[graft.functions.SpanTokensExpression].getName, "span_text_tokens"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "span_text_tokens expects exactly 1 argument")
      graft.functions.SpanTokensExpression(children.head, media = false)
    })

  val spanMediaTokensDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("span_media_tokens"),
    new ExpressionInfo(classOf[graft.functions.SpanTokensExpression].getName, "span_media_tokens"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "span_media_tokens expects exactly 1 argument")
      graft.functions.SpanTokensExpression(children.head, media = true)
    })

  val qdotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("qdot64"),
    new ExpressionInfo(classOf[graft.functions.QDotExpression].getName, "qdot64"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "qdot64 expects exactly 2 arguments")
      graft.functions.QDotExpression(children.head, children(1))
    })

  val tokenOverlapDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_overlap_milli"),
    new ExpressionInfo(classOf[graft.functions.TokenOverlapExpression].getName, "token_overlap_milli"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "token_overlap_milli expects exactly 2 arguments")
      graft.functions.TokenOverlapExpression(children.head, children(1))
    })

  val simhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash16"),
    new ExpressionInfo(classOf[graft.functions.SimhashExpression].getName, "simhash16"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "simhash16 expects exactly 1 argument")
      graft.functions.SimhashExpression(children.head)
    })

  val overlapLongDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("overlap_milli_long"),
    new ExpressionInfo(classOf[graft.functions.OverlapLongExpression].getName, "overlap_milli_long"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "overlap_milli_long expects exactly 2 arguments")
      graft.functions.OverlapLongExpression(children.head, children(1))
    })

  /** score_pair(10 data cols, 11 config literals) — the whole-pair scoring
    * kernel as one native expression (see ScorePairExpression). The config
    * scalars ride as trailing literals so ONE registered name serves every
    * ScoreConfig; the builder folds them back into a ScoreConfig here.
    * exclusivePrefix reaches the kernel only as a nonEmpty on/off switch
    * (the x_ids arrays are pre-extracted in PairScoring.featuresTokenized),
    * so a boolean literal carries it.
    */
  val scorePairDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("score_pair"),
    new ExpressionInfo(classOf[graft.functions.ScorePairExpression].getName, "score_pair"),
    (children: Seq[Expression]) => {
      require(children.length == 21,
        "score_pair expects 10 data columns + 11 config literals")
      import org.apache.spark.sql.catalyst.expressions.Literal
      def dbl(e: Expression, what: String): Double = e match {
        case Literal(v: Double, _) => v
        case Literal(v: Int, _) => v.toDouble
        case other => throw new IllegalArgumentException(s"score_pair $what must be a numeric literal, got $other")
      }
      def int(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"score_pair $what must be an int literal, got $other")
      }
      def bool(e: Expression, what: String): Boolean = e match {
        case Literal(v: Boolean, _) => v
        case other => throw new IllegalArgumentException(s"score_pair $what must be a boolean literal, got $other")
      }
      val c = children
      val cfg = graft.operators.PairScoring.ScoreConfig(
        prescreenOverlap = dbl(c(10), "prescreenOverlap"),
        gammaText = dbl(c(11), "gammaText"),
        conflictTextFloor = dbl(c(12), "conflictTextFloor"),
        minMediaEvidence = int(c(13), "minMediaEvidence"),
        alignWeight = dbl(c(14), "alignWeight"),
        alignDecay = dbl(c(15), "alignDecay"),
        alignBlend = dbl(c(16), "alignBlend"),
        alignCostCo = dbl(c(17), "alignCostCo"),
        alignCostAOnly = dbl(c(18), "alignCostAOnly"),
        alignCostBOnly = dbl(c(19), "alignCostBOnly"),
        exclusivePrefix = if (bool(c(20), "exclusiveEnabled")) "x:" else "")
      graft.functions.ScorePairExpression(c.take(10), cfg)
    })

  /** Idempotently register the functions into an EXISTING session (for
    * sessions built without `spark.sql.extensions`); afterwards they are
    * usable from SQL and via `call_function("jaro_winkler", a, b)`.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Seq(jaroWinklerDescriptor, minhashSigDescriptor, tokenOverlapDescriptor,
        spanTextTokensDescriptor, spanMediaTokensDescriptor, qdotDescriptor,
        simhashDescriptor, overlapLongDescriptor, scorePairDescriptor).foreach {
      case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
