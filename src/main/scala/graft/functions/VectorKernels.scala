package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}

/** Hot-loop kernels for the §2.12 pipelines, kept as static-forwarder
  * objects callable from generated Java. These exist because the
  * higher-order-function formulation (aggregate/zip_with lambdas,
  * per-call regex tokenization) is interpreted per element — measured
  * 179 s / 60 s on the sf0.1 bench — while a primitive loop over
  * ArrayData is codegen-friendly and ~20× faster at identical
  * semantics (same left-to-right fold order, so identical floats).
  */
object VectorKernelUtil {
  /** Sequential dot product — same fold order as
    * aggregate(zip_with(a, b, *), 0.0, +). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Jaccard of two SORTED DISTINCT string arrays via linear merge —
    * equal by construction to the token-set Jaccard. */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** [[sortedJaccard]] with sound early abandon against a threshold:
    * returns the EXACT Jaccard whenever it could reach `tau`, and
    * -1.0 as soon as it provably cannot. J ≥ tau ⟺ the intersection
    * reaches ceil(tau·(|A|+|B|)/(1+tau)); the reachable intersection
    * is bounded by inter-so-far + the shorter remaining suffix, so
    * the merge bails the moment that bound drops below the target
    * (one integer compare per step; the 1e-9 slack makes the float
    * ceiling conservative — a boundary pair is never abandoned, its
    * exact j is computed and the caller's `>= tau` filter decides). */
  def sortedJaccardMin(a: ArrayData, b: ArrayData, tau: Double): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val needed = math.ceil(tau * (na + nb) / (1.0 + tau) - 1e-9).toInt
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < needed) return -1.0
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}

/** `vec_dot(array<double>, array<double>) -> double` */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true // element nullability irrelevant
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernelUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernelUtil.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** `sorted_jaccard(array<string>, array<string>) -> double` over
  * sorted distinct arrays. */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] && right.dataType.isInstanceOf[ArrayType]
        && left.dataType.asInstanceOf[ArrayType].elementType == StringType
        && right.dataType.asInstanceOf[ArrayType].elementType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_jaccard requires (array<string>, array<string>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernelUtil.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernelUtil.sortedJaccard($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccard =
    copy(left = l, right = r)
}

/** `sorted_jaccard_min(array<string>, array<string>, tauLiteral) ->
  * double`: exact Jaccard, or -1.0 once it provably cannot reach
  * `tau` (sound early abandon — see VectorKernelUtil.sortedJaccardMin).
  * `tau` is a literal baked into the generated code. */
case class SortedJaccardMin(left: Expression, right: Expression, tau: Double)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] && right.dataType.isInstanceOf[ArrayType]
        && left.dataType.asInstanceOf[ArrayType].elementType == StringType
        && right.dataType.asInstanceOf[ArrayType].elementType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_jaccard_min requires (array<string>, array<string>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard_min"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernelUtil.sortedJaccardMin(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tau)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernelUtil.sortedJaccardMin($a, $b, ${tau}D)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccardMin =
    copy(left = l, right = r)
}

/** An IVF coarse quantizer as ONE plan value: the k centroid vectors
  * and their squared norms. It prints as its shape, so a plan that
  * ranks cells carries one short token instead of k×dim literals. */
final class Centroids(val rows: Array[Array[Double]]) extends Serializable {
  /** |c|² per cell, the same left-to-right sum the ranking always used. */
  val normSq: Array[Double] = rows.map(c => c.map(x => x * x).sum)
  @transient private lazy val data: Array[ArrayData] =
    rows.map(c => UnsafeArrayData.fromPrimitiveArray(c))

  /** Every cell id ranked by (−2·v·c + |c|², cell id), ascending, with
    * Spark's double order (−0.0 = 0.0, NaN last). A null `v` leaves
    * every score null, which ranks the cells by id alone. */
  def rank(v: ArrayData): ArrayData = {
    val ids = Array.tabulate(rows.length)(identity)
    if (v != null) {
      val d = Array.tabulate(rows.length)(c =>
        -2.0 * VectorKernelUtil.dot(v, data(c)) + normSq(c))
      // insertion sort of the ids by score: k is small, and moving an
      // id only past strictly greater scores keeps ties in id order
      var i = 1
      while (i < ids.length) {
        val id = ids(i)
        var j = i - 1
        while (j >= 0 && SQLOrderingUtil.compareDoubles(d(ids(j)), d(id)) > 0) {
          ids(j + 1) = ids(j); j -= 1
        }
        ids(j + 1) = id
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  override def toString: String =
    s"centroids[${rows.length}x${rows.headOption.map(_.length).getOrElse(0)}]"
}

/** `ivf_cells(v, centroids) -> array<int>`: every cell id of the
  * quantizer, nearest first (see [[Centroids.rank]]). Never null. */
case class IvfCells(child: Expression, centroids: Centroids) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_cells requires array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_cells"

  override def eval(input: InternalRow): Any =
    centroids.rank(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cent = ctx.addReferenceObj("centroids", centroids, classOf[Centroids].getName)
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $cent.rank(${v.isNull} ? null : ${v.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)
}
