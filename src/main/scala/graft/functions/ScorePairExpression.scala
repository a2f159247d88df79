package graft.functions

import graft.operators.PairScoring
import graft.operators.PairScoring.ScoreConfig
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whole-pair scorer: the complete per-pair kernel
  * (PairScoring.scorePairIds — prescreen, JW+Levenshtein text channel,
  * sorted-merge weighted Jaccard, LCS alignment, M7 veto, blend) as ONE
  * codegen'd Catalyst expression returning the 6-field channel struct.
  *
  * This removes the scoring stage's typed Dataset boundary: the round-3
  * mapPartitions path deserialized every 13-field candidate row to a Scala
  * tuple and re-serialized a ScoredPair per pair — per-pair tuple + case
  * class + 10 array-object allocations that the stage census showed as
  * ~1.4× task-CPU inflation at 4 threads (allocation churn is memory
  * bandwidth). Here the pair row never leaves Tungsten: ids/block_key pass
  * through untouched, the kernel reads primitive array copies
  * (toLongArray/toDoubleArray = memcpy, no boxing) and one String per
  * side, and the struct lands back in the UnsafeRow in the same
  * WholeStageCodegen span. The six field extractions above this expression
  * share one evaluation via ProjectExec subexpression elimination.
  *
  * The typed mapPartitions path stays in PairScoring as the executable
  * spec; PairScoringSpec asserts native == typed on every candidate pair.
  *
  * Children (10): txt_a, tok_ids_a, m_ids_a, m_ws_a, x_ids_a, then the
  * same five for side b — the hash-encoded feature encoding of
  * PairScoring.featuresTokenized. The ScoreConfig scalars arrive as literals via
  * the registry builder (GraftExtensions.scorePairDescriptor), so one
  * registered function serves any config.
  */
case class ScorePairExpression(children: Seq[Expression], cfg: ScoreConfig)
    extends Expression {

  override def dataType: DataType = ScorePairExpression.schema
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "score_pair"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want: Seq[DataType] = Seq(StringType, ArrayType(LongType), ArrayType(LongType),
      ArrayType(DoubleType), ArrayType(LongType))
    val got = children.map(_.dataType)
    val ok = got.length == 10 && got.zip(want ++ want).forall {
      case (ArrayType(a, _), ArrayType(b, _)) => a == b
      case (a, b) => a == b
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"score_pair requires 2×(string, array<long>, array<long>, array<double>, array<long>), got $got")
  }

  override def eval(input: InternalRow): Any = {
    val vs = new Array[Any](10)
    var i = 0
    while (i < 10) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v
      i += 1
    }
    ScorePairExpression.score(cfg,
      vs(0).asInstanceOf[UTF8String], vs(1).asInstanceOf[ArrayData],
      vs(2).asInstanceOf[ArrayData], vs(3).asInstanceOf[ArrayData], vs(4).asInstanceOf[ArrayData],
      vs(5).asInstanceOf[UTF8String], vs(6).asInstanceOf[ArrayData],
      vs(7).asInstanceOf[ArrayData], vs(8).asInstanceOf[ArrayData], vs(9).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cfgRef = ctx.addReferenceObj("scoreCfg", cfg)
    val cs = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    val anyNull =
      if (nullable) cs.map(_.isNull).mkString(" || ") else "false"
    val resultCode =
      s"""$javaType ${ev.value} = null;
         |boolean ${ev.isNull} = $anyNull;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.ScorePairExpression.score($cfgRef,
         |    ${cs.map(_.value).mkString(", ")});
         |}""".stripMargin
    ev.copy(code = code"""
      ${cs.map(_.code).reduce(_ + _)}
      $resultCode""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ScorePairExpression {

  /** Channel struct: mirrors ScoredPair minus the id/block columns. */
  val schema: StructType = StructType(Seq(
    StructField("sim_text", DoubleType, nullable = false),
    StructField("sim_media", DoubleType, nullable = false),
    StructField("sim_align", DoubleType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("media_usable", BooleanType, nullable = false),
    StructField("vetoed", BooleanType, nullable = false)))

  /** Static entry point referenced from generated code. */
  def score(cfg: ScoreConfig,
            txtA: UTF8String, tokA: ArrayData, miA: ArrayData, mwA: ArrayData, xA: ArrayData,
            txtB: UTF8String, tokB: ArrayData, miB: ArrayData, mwB: ArrayData, xB: ArrayData): InternalRow = {
    val (st, sm, sal, sc, mu, vt) = PairScoring.scorePairIds(
      txtA.toString, tokA.toLongArray(), miA.toLongArray(), mwA.toDoubleArray(), xA.toLongArray(),
      txtB.toString, tokB.toLongArray(), miB.toLongArray(), mwB.toDoubleArray(), xB.toLongArray(),
      cfg)
    new GenericInternalRow(Array[Any](st, sm, sal, sc, mu, vt))
  }

  /** Column builder: data columns + the config riding as literals. */
  def scorePairNative(cfg: ScoreConfig,
                      dataCols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    require(dataCols.length == 10, "score_pair expects 10 data columns")
    call_function("score_pair",
      dataCols ++ Seq(
        lit(cfg.prescreenOverlap), lit(cfg.gammaText), lit(cfg.conflictTextFloor),
        lit(cfg.minMediaEvidence), lit(cfg.alignWeight), lit(cfg.alignDecay),
        lit(cfg.alignBlend), lit(cfg.alignCostCo), lit(cfg.alignCostAOnly),
        lit(cfg.alignCostBOnly), lit(cfg.exclusivePrefix.nonEmpty)): _*)
  }
}
