package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `dot_product(a, b)` — sequential-fold dot product over two double
  * arrays as a native Catalyst expression (SURVEY.md §2.3 EX6).
  *
  * Bit-identical to the HOF form it replaces
  * (`aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,x) => acc+x)`):
  * left-to-right accumulation in index order, null when either array is
  * null, when lengths differ (zip_with pads the shorter side with null →
  * null product poisons the sum) or when any element is null. The HOF
  * tree is `CodegenFallback` — ~128 interpreted nodes per row for dim-64
  * vectors; this is a fused multiply-add loop inside whole-stage codegen.
  *
  * `ImplicitCastInputTypes` inserts the `array<float> → array<double>`
  * cast, so float embedding columns widen BEFORE multiplication exactly
  * as `VectorFns.asDouble` did (reproducible vs. the DuckDB oracle).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // array<float> is accepted NATIVELY (r19 optimization): the embedding
  // tables store float vectors, and the previous array<double>-only
  // signature made ImplicitCastInputTypes materialize a widened COPY of
  // both arrays per evaluated row — in the kNN pair stage that is two
  // 64-element allocations per candidate PAIR, and it dominated the
  // stage's CPU (OPTIMIZATION_r19.md §1: 15 s executor time per pair
  // stage at sf0.1). Widening now happens per ELEMENT inside the fused loop —
  // (double)f[i] is the exact same IEEE value the cast produced, so
  // results are bit-identical. Double stays first so any OTHER numeric
  // array still implicitly casts to double exactly as before.
  override def inputTypes: Seq[GraftBridge.AbstractDataType] =
    Seq(DotProductExpr.acceptedTypes, DotProductExpr.acceptedTypes)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // null also for NON-null inputs: length mismatch or a null element.
  // Without this override a not-null-filtered child made the expression
  // claim non-nullable and the generated `isNull = true` branch failed
  // Janino compilation, dropping the projection to interpreted mode
  // (the SimhashExpr bug, same class — see that scaladoc).
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpr.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $tmp = graft.functions.expressions.DotProductExpr.dot($a, ${isFloat(left)}, $b, ${isFloat(right)});
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {

  /** Input-type menu: double arrays (historic form), float arrays read
    * natively (no per-row widening copy); anything else casts to double
    * exactly as before (double listed first, so implicitCast picks it).
    */
  val acceptedTypes: GraftBridge.AbstractDataType =
    GraftBridge.typeCollection(ArrayType(DoubleType), ArrayType(FloatType))

  /** Static entry point shared by interpreted eval and generated code.
    * Returns null (not 0) on length mismatch / null elements — matching
    * the declarative zip_with/aggregate semantics this replaces. The
    * float paths widen each element with the same (double) conversion
    * an up-front array cast performed — identical IEEE results.
    */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
    } else if (!aFloat && !bFloat) {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
    } else {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val av = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val bv = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += av * bv
        i += 1
      }
    }
    acc
  }

  /** Double-only historic form (kept for direct callers). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double =
    dot(a, false, b, false)

  /** Column-API form backed by the native expression. */
  def dotNative(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
    classOf[DotProductExpr].getName, null, "dot_product",
    "_FUNC_(a, b) - sequential-fold dot product of two double arrays; null on length mismatch.",
    "", "", "", "", "", "", "scala_udf")

  val identifier = org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product")

  def builder(children: Seq[Expression]): Expression = children match {
    case Seq(a, b) => DotProductExpr(a, b)
    case _ => throw new IllegalArgumentException(
      s"dot_product expects 2 arguments, got ${children.size}")
  }
}
