package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native codegen'd vector-distance kernels (r19 optimization).
  *
  * The ANN family's squared-L2 / dot folds were interpreted higher-order
  * functions — `aggregate(zip_with(slice(a,s,16), slice(b,s,16), (x,y) ->
  * (x-y)*(x-y)), 0.0, +)` — a lambda dispatch per element. PQ encoding
  * runs that fold |vectors| × |codewords| × |subspaces| times; k-means
  * assignment runs it |vectors| × |centroids| times — the exact shape the
  * r15/r18 lessons nativized for cosine/minhash/ngrams. These expressions
  * generate one primitive loop inside whole-stage codegen.
  *
  * SEMANTIC PARITY with the HOF forms is bit-exact and pinned in
  * VectorMathSpec:
  *  - doubles accumulate in array index order — the same IEEE
  *    sub/mul/add sequence as the sequential `aggregate` fold, so
  *    DuckDB-oracle parity carries over unchanged;
  *  - element types may be float or double per side (the HOF forms cast
  *    per element; trained centroids are f64 means over f32 vectors);
  *  - `zip_with` null-pads the shorter side, the padded product is NULL,
  *    and `acc + NULL` poisons the fold — hence: slices of UNEQUAL
  *    length give NULL, any NULL element in the zipped range gives NULL;
  *  - an empty zipped range gives the fold seed, 0.0;
  *  - NULL array / start / length inputs give NULL.
  */
object VectorMath {

  /** Squared L2 over the 1-based `[start, start+len)` slices of two
    * float/double arrays — `aggregate(zip_with(slice(a,start,len),
    * slice(b,start,len), (x,y)->(x-y)*(x-y)), 0.0, +)` as one generated
    * loop. */
  def slice_l2sq(a: Column, b: Column, start: Column, len: Column): Column =
    ExpressionUtils.column(SliceL2Sq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(start), ExpressionUtils.expression(len)))

  /** Full-array squared L2 — `aggregate(zip_with(a, b,
    * (x,y)->(x-y)*(x-y)), 0.0, +)`. */
  def l2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.lit
    slice_l2sq(a, b, lit(1), lit(Int.MaxValue))
  }

  /** Sequential-fold dot product of two float/double arrays —
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` (the RHP
    * hyperplane projection's shape: elements promote to double, products
    * accumulate in index order). */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(Dot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** float/double array element read as double — shared by both kernels.
    * Verified at analysis by ExpectsInputTypes, so the match is total. */
  private[graft] def getter(e: Expression): (ArrayData, Int) => Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => (a, i) => a.getFloat(i).toDouble
      case _         => (a, i) => a.getDouble(i)
    }

  private[graft] def genGet(e: Expression, arr: String, idx: String): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($idx)"
      case _         => s"$arr.getDouble($idx)"
    }

  private[graft] val FloatOrDoubleArray =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
}

/** See [[VectorMath.slice_l2sq]]. `start` is 1-based and must be positive
  * (the only form the engine uses; `slice` would additionally accept
  * negative from-the-end starts — unsupported here, fails loudly). */
case class SliceL2Sq(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(VectorMath.FloatOrDoubleArray, VectorMath.FloatOrDoubleArray,
      IntegerType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "slice_l2sq"

  override def nullSafeEval(av: Any, bv: Any, sv: Any, lv: Any): Any = {
    val s = sv.asInstanceOf[Int]
    val l = lv.asInstanceOf[Int]
    require(s > 0, s"slice_l2sq: start must be positive, got $s")
    require(l >= 0, s"slice_l2sq: length must be non-negative, got $l")
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val getX = VectorMath.getter(first)
    val getY = VectorMath.getter(second)
    // slice lengths under slice() semantics (start past the end -> empty)
    val nx = math.max(0L, math.min(x.numElements().toLong - (s - 1), l.toLong)).toInt
    val ny = math.max(0L, math.min(y.numElements().toLong - (s - 1), l.toLong)).toInt
    if (nx != ny) return null // zip_with pads the short side with NULL
    var acc = 0.0
    var i = 0
    while (i < nx) {
      val j = s - 1 + i
      if (x.isNullAt(j) || y.isNullAt(j)) return null // NULL poisons the fold
      val d = getX(x, j) - getY(y, j)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, s, l) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($s <= 0) throw new IllegalArgumentException(
         |  "slice_l2sq: start must be positive, got " + $s);
         |if ($l < 0) throw new IllegalArgumentException(
         |  "slice_l2sq: length must be non-negative, got " + $l);
         |int $nx = (int) java.lang.Math.max(0L,
         |  java.lang.Math.min((long) $a.numElements() - ($s - 1), (long) $l));
         |int $ny = (int) java.lang.Math.max(0L,
         |  java.lang.Math.min((long) $b.numElements() - ($s - 1), (long) $l));
         |if ($nx != $ny) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $nx; $i++) {
         |    int $j = $s - 1 + $i;
         |    if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    double $d = ${VectorMath.genGet(first, a, j)}
         |      - ${VectorMath.genGet(second, b, j)};
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): SliceL2Sq =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** See [[VectorMath.dot]]. */
case class Dot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(VectorMath.FloatOrDoubleArray, VectorMath.FloatOrDoubleArray)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val getX = VectorMath.getter(left)
    val getY = VectorMath.getter(right)
    val nx = x.numElements()
    if (nx != y.numElements()) return null // zip_with NULL padding
    var acc = 0.0
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getX(x, i) * getY(y, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${VectorMath.genGet(left, a, i)} * ${VectorMath.genGet(right, b, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot =
    copy(left = newLeft, right = newRight)
}
