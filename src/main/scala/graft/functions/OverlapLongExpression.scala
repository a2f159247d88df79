package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen'd MULTISET overlap ratio over two array<long> columns,
  * milli-scaled: floor(1000 · |A ⊓ B| / max(|A|,|B|)).
  *
  * The long-id twin of TokenOverlapExpression: round 3 dictionary-encodes
  * scoring tokens to 64-bit hashes before the pair shuffle (see
  * PairScoring.featuresTokenized), so the candidate prescreen compares 8-byte
  * primitives instead of UTF8String bytes — no HashMap, no boxing: both
  * sides are copied to primitive arrays, sorted, and merge-walked
  * (O(n log n) on n ≤ maxTokens=64 beats hashing at this size and touches
  * no heap objects).
  *
  * Reference analogue: the pre-scoring top-station intersection prefilter,
  * Model.scala:432-441.
  */
case class OverlapLongExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "overlap_milli_long"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"overlap_milli_long requires (array<long>, array<long>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    OverlapLongExpression.overlapMilli(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.OverlapLongExpression.overlapMilli($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object OverlapLongExpression {

  /** Multiset intersection size of two long arrays via sort + merge walk. */
  def multisetIntersect(x: Array[Long], y: Array[Long]): Int = {
    java.util.Arrays.sort(x)
    java.util.Arrays.sort(y)
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter
  }

  /** Static entry point referenced from generated code. */
  def overlapMilli(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 || nb == 0) return 0
    // toLongArray copies out of the Tungsten row; arrays here are ≤
    // maxTokens (64), so both copies are cache-resident
    val inter = multisetIntersect(a.toLongArray(), b.toLongArray())
    (1000L * inter / math.max(na, nb)).toInt
  }

  def overlapMilliLong(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("overlap_milli_long", a, b)
}
