package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst dot product over two array columns of the same element
  * type (SURVEY.md §2.D5-D7, D34; r13 logreg):
  *
  *  - float: the embedding-similarity kernel, a left-to-right double fold
  *    (`float_vec_dot`, DoubleType);
  *  - int: the quantized (int8-code) ANN scoring kernel, an exact long
  *    accumulator, so the result is bit-identical on every engine and the
  *    quantized ranking is hash-checkable end to end (`int_vec_dot`,
  *    LongType);
  *  - double: the logreg z = w·x kernel, a left-to-right double fold
  *    (`double_vec_dot`, DoubleType).
  *
  * The composable route (`zip_with` + `aggregate`) allocates a zipped
  * ArrayData per row and evaluates a lambda per element; the dot product is
  * the innermost loop of every similarity scan, so it gets one fused
  * codegen'd loop, no per-element boxing, no intermediate array. The
  * explicit 129-term `element_at` chain the double kernel replaced was a
  * ~900-node expression tree whose analysis the DRIVER re-paid 1-2 s per GD
  * step; one node plans in microseconds. Fold order and null semantics are
  * IDENTICAL to the HOF and chain formulations, so the DuckDB oracles verify
  * every kernel bit-for-bit. The hyperplane projections learned the same
  * lesson: see `PlaneProj`.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  @transient private lazy val elementType: Option[DataType] =
    if (!left.resolved) None
    else left.dataType match {
      case ArrayType(t, _) => Some(t)
      case _ => None
    }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(t, _), ArrayType(u, _))
          if t == u && (t == FloatType || t == IntegerType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float>, array<int> or array<double> " +
          s"arguments of one element type, got ${left.dataType.catalogString} " +
          s"and ${right.dataType.catalogString}")
    }
  override def dataType: DataType =
    if (elementType.contains(IntegerType)) LongType else DoubleType
  override def prettyName: String = elementType match {
    case Some(FloatType) => "float_vec_dot"
    case Some(IntegerType) => "int_vec_dot"
    case Some(DoubleType) => "double_vec_dot"
    case _ => "vec_dot"
  }
  // a null ELEMENT or length mismatch yields NULL even when both array
  // inputs are non-null, so this must not inherit input nullability —
  // with nullable=false Spark's codegen would constant-fold isNull away
  // and emit garbage for those rows
  override def nullable: Boolean = true

  // Null semantics mirror the HOF fold this replaces (zip_with pads the
  // shorter array with null and aggregate propagates it): a length
  // mismatch or any null element yields NULL, never a silently truncated
  // or zero-filled product.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    elementType match {
      case Some(IntegerType) =>
        var s = 0L
        while (i < n) {
          if (x.isNullAt(i) || y.isNullAt(i)) return null
          s += x.getInt(i).toLong * y.getInt(i).toLong
          i += 1
        }
        s
      case Some(FloatType) =>
        var s = 0.0
        while (i < n) {
          if (x.isNullAt(i) || y.isNullAt(i)) return null
          s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
          i += 1
        }
        s
      case _ =>
        var s = 0.0
        while (i < n) {
          if (x.isNullAt(i) || y.isNullAt(i)) return null
          s += x.getDouble(i) * y.getDouble(i)
          i += 1
        }
        s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val (acc, term) = elementType match {
        case Some(IntegerType) =>
          (s"long $s = 0L;", s"(long) $x.getInt($i) * (long) $y.getInt($i)")
        case Some(FloatType) =>
          (s"double $s = 0.0;", s"(double) $x.getFloat($i) * (double) $y.getFloat($i)")
        case _ =>
          (s"double $s = 0.0;", s"$x.getDouble($i) * $y.getDouble($i)")
      }
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $acc
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $term;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native ±1 hyperplane projection of a float-array column: the double
  * `Σ_d (double) v[d] · sign(plane, d)` over the first `dim` elements, with
  * the md5-derived signs of `graft.llm.Ann.planeSign` (computed once per
  * (plane, dim), held by index so expression equality stays structural).
  * It replaces a literal chain of `dim` `element_at · cast · multiply`
  * terms joined by adds — ~380 nodes per plane, ~3,000 per LSH bucket id,
  * which every serving read re-analysed before its first job — with one
  * node and one codegen'd loop.
  *
  * The value is the chain's bit for bit: the same left-to-right fold
  * starting from the first term, the same ±1.0 multiply. Its null and
  * bounds semantics are the chain's too: the fold stops at the first null
  * element (NULL), and an array shorter than `dim` fails like
  * `element_at` past the end (ANSI) or yields NULL (non-ANSI).
  */
private[graft] case class PlaneProj(child: Expression, plane: Int, dim: Int,
                                     failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {
  require(dim >= 1, s"PlaneProj needs dim >= 1, got $dim")

  @transient private lazy val signs: Array[Double] = graft.llm.Ann.planeSigns(plane, dim)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${t.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "plane_proj"
  // a null element or (non-ANSI) short array is NULL for a non-null input
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var d = 0
    while (d < dim) {
      if (d >= n) {
        if (failOnError) throw GraftPlanBridge.elementAtIndexError(d + 1, n)
        return null
      }
      if (x.isNullAt(d)) return null
      val t = x.getFloat(d).toDouble * signs(d)
      s = if (d == 0) t else s + t
      d += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sg = ctx.addReferenceObj("signs", signs, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      val sgn = ctx.freshName("sgn")
      val short =
        if (failOnError)
          s"throw org.apache.spark.sql.classic.GraftPlanBridge.elementAtIndexError($d + 1, $n);"
        else s"${ev.isNull} = true; break;"
      s"""
         |int $n = $x.numElements();
         |double[] $sgn = $sg;
         |double $s = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  if ($d >= $n) { $short }
         |  if ($x.isNullAt($d)) { ${ev.isNull} = true; break; }
         |  double $t = (double) $x.getFloat($d) * $sgn[$d];
         |  $s = $d == 0 ? $t : $s + $t;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorOps {
  /** Dot product of two array columns of one element type: a left-to-right
    * double fold for float and double arrays, an exact long for int arrays.
    */
  def dot(a: Column, b: Column): Column =
    GraftPlanBridge.column(
      VecDot(GraftPlanBridge.expression(a), GraftPlanBridge.expression(b)))

  /** `v`'s projection onto ±1 hyperplane `plane` over its first `dim`
    * elements (`PlaneProj`).
    */
  private[graft] def planeProj(v: Column, plane: Int, dim: Int): Column =
    GraftPlanBridge.column(PlaneProj(GraftPlanBridge.expression(v), plane, dim))
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)` or
  * spark.sql.extensions=graft.functions.GraftExtensions registers the
  * engine's native functions under their SQL names in every new session.
  * Scala callers never need it: the Column wrappers build the expressions
  * directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private val functions = Seq(
    fn("graft_fdot", classOf[VecDot])(a => VecDot(a(0), a(1))),
    fn("graft_idot", classOf[VecDot])(a => VecDot(a(0), a(1))),
    fn("graft_ddot", classOf[VecDot])(a => VecDot(a(0), a(1))),
    fn("graft_tokens", classOf[GraftTokens])(a => GraftTokens(a(0))),
    fn("graft_bpe_segs", classOf[GraftBpeSegs])(a => GraftBpeSegs(a(0))),
    fn("graft_punct_count", classOf[GraftPunctCount])(a => GraftPunctCount(a(0))),
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(a =>
      new BloomFilterAggregate(a(0), a(1), a(2))),
    fn("graft_bloom_contains", classOf[BloomFilterMightContain])(a =>
      BloomFilterMightContain(a(0), a(1))))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}
