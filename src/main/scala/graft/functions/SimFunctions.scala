package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Shared scalar kernel for interpreted eval and generated code. */
object SimMath {

  /** Σ floor(x_i · y_i · 2^30) over two equal-length numeric arrays —
    * bit-identical to the `aggregate(zip_with(...FLOOR(x*y*2^30)...))`
    * tree it replaces (same double multiply order, same floor-then-
    * truncate). Precondition: non-null elements (embedding vectors) and
    * equal lengths — QDotLong returns NULL on a length mismatch before
    * this kernel runs (matching the HOF tree, whose zip_with yields a
    * NULL slot that poisons the aggregate).
    */
  def qdot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Long = {
    val n = Math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += Math.floor(x * y * 1.073741824e9).toLong
      i += 1
    }
    acc
  }
}

/** Codegen-native quantized dot product: one fused loop inside
  * whole-stage codegen instead of an interpreted higher-order-function
  * tree. Spark's ArrayAggregate/ZipWith never participate in codegen
  * (they are lambda-interpreted even inside a WholeStageCodegen span), so
  * on pair-scoring paths — O(n·cell) evaluations in the similarity
  * module — the HOF tree costs ~µs per pair where this costs ~ns.
  * Null-intolerant binary over array&lt;float&gt; / array&lt;double&gt;.
  */
case class QDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "qdot_long"

  // NULL on a length mismatch (below) even with non-null inputs
  override def nullable: Boolean = true

  /** Reject non array&lt;float|double&gt; inputs at analysis time — an
    * unchecked type would otherwise surface as a runtime cast failure
    * deep inside codegen, and a silently coerced one as a plausible
    * wrong number.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false // analysis guarantees ArrayType(DoubleType) otherwise
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else SimMath.qdot(aa, bb, isFloatArr(left), isFloatArr(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SimMath.qdot(
         |    $a, $b, ${isFloatArr(left)}, ${isFloatArr(right)});
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): QDotLong = copy(left = l, right = r)
}

/** A vector's nearest centroid as struct&lt;dist_q: bigint, cid: int&gt;:
  * `RoundKernels.nearest` over the centroids `means` (ids `cids`, in
  * ascending order, so equal distances go to the lowest cid), with
  * dist_q its `RoundKernels.distQ`. NULL for a null vector or one whose
  * length is not the centroids'.
  */
case class NearestCentroid(child: Expression, cids: Seq[Int],
    means: Seq[Seq[Double]]) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("dist_q", LongType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) if cids.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"array<float> or array<double> and a centroid, got ${t.catalogString} " +
      s"and ${cids.size} centroids")
  }

  @transient private lazy val cents = means.map(_.toArray).toArray
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The result row for `v`, or null. */
  def assign(v: ArrayData): InternalRow =
    if (v.numElements() != cents(0).length) null
    else {
      val j = RoundKernels.nearest(v, isFloat, 0, cents)
      InternalRow(RoundKernels.distQ(v, isFloat, 0, cents(j)), cids(j))
    }

  override protected def nullSafeEval(v: Any): Any = assign(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $self.assign($v);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

object SimFunctions {
  /** Column-level quantized dot: Σ floor(x_i·y_i·2^30) as BIGINT. */
  def qdotLong(a: Column, b: Column): Column =
    GraftInternal.column(QDotLong(GraftInternal.expr(a), GraftInternal.expr(b)))

  /** Column-level nearest centroid (see NearestCentroid). */
  def nearestCentroid(v: Column, cids: Seq[Int], means: Seq[Seq[Double]]): Column =
    GraftInternal.column(NearestCentroid(GraftInternal.expr(v), cids, means))
}
