package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, BinaryExpression, EvalMode, Expression, ExpressionInfo, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path (SURVEY §7.5 —
  * the first genuinely custom Expression work; everything else in the
  * engine composes built-ins on purpose).
  *
  * The ANN/near-dup family (q23/q24/q32/q33) computes integer dot
  * products per CANDIDATE PAIR — the quadratic inner loop of the whole
  * bench. Composed as `aggregate(zip_with(a, b, _*_), 0, _+_)` that
  * loop materializes a 64-element intermediate array per pair and
  * walks the fold through Catalyst's higher-order-function machinery.
  * These expressions fuse it into a single codegen'd multiply-add
  * loop: no intermediate array, stays inside WholeStageCodegen.
  *
  * Both evaluate strictly left-to-right, the same order as the
  * `aggregate` fold they replace, so results are bit-identical (the
  * integer form is order-free anyway; the double form matters for
  * q24's plane projections).
  *
  * Exposure is the public path end to end: expressions are registered
  * in the session `FunctionRegistry` (directly via
  * [[VectorFunctions.register]], or at session build via
  * [[GraftExtensions]]) and invoked with `call_function` — no use of
  * Spark-private Column internals.
  */
abstract class DotProductBase extends BinaryExpression with Serializable {
  protected def elemType: DataType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == elemType && r == elemType =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two ARRAY<$elemType> arguments, " +
            s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullIntolerant: Boolean = true
}

/** dot(a, b) over ARRAY<BIGINT> → BIGINT. Array elements are assumed
  * non-null (every producer in this engine is a `transform` over
  * non-null input); a null ARRAY yields null; MISMATCHED lengths throw
  * (a ragged pair is a caller bug — silent truncation would return a
  * plausible-looking partial dot product). */
case class DotProductLong(left: Expression, right: Expression) extends DotProductBase {
  protected def elemType: DataType = LongType
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |${ev.value} = 0L; // nullSafeCodeGen pre-inits to the -1 placeholder
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_long: array lengths differ (" + $n + " vs " + $b.numElements() + ")");
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) over ARRAY<DOUBLE> → DOUBLE, strict left-to-right IEEE
  * accumulation (deterministic: same operands, same order, every run). */
case class DotProductDouble(left: Expression, right: Expression) extends DotProductBase {
  protected def elemType: DataType = DoubleType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_double"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |${ev.value} = 0.0; // nullSafeCodeGen pre-inits to the -1 placeholder
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_double: array lengths differ (" + $n + " vs " + $b.numElements() + ")");
         |}
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** Column-API and SQL-registry surface for the expressions above. */
object VectorFunctions {

  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot_long" -> (es => DotProductLong(es(0), es(1))),
    "graft_dot_double" -> (es => DotProductDouble(es(0), es(1))),
    // fused ANN kernels — see graft.functions.AnnKernels
    "graft_quant_e4" -> (es => QuantE4(es(0))),
    "graft_rank_cells_cos" -> (es => RankCellsCos(es(0), es(1), es(2))),
    "graft_jl_proj" -> (es => JlProject(es(0), es(1))),
    "graft_rank_cells_l2" -> (es => RankCellsL2(es(0), es(1))),
    "graft_pq_encode" -> (es => PqEncode(es(0), es(1), es(2), es(3))),
    "graft_pq_lut" -> (es => PqLut(es(0), es(1), es(2), es(3))),
    "graft_pq_adc" -> (es => PqAdc(es(0), es(1))))

  /** Idempotently register the functions on an existing session
    * (createOrReplace); callers that build their own session can use
    * [[GraftExtensions]] instead. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Fused integer dot product (codegen'd; see [[DotProductLong]]).
    * Requires [[register]] (or [[GraftExtensions]]) on the session. */
  def dotLong(a: Column, b: Column): Column = call_function("graft_dot_long", a, b)

  /** Fused double dot product (codegen'd; see [[DotProductDouble]]). */
  def dotDouble(a: Column, b: Column): Column = call_function("graft_dot_double", a, b)

  // fused ANN kernels (codegen'd; see graft.functions.AnnKernels) —
  // same registration requirement as dotLong/dotDouble.
  def quantE4(v: Column): Column = call_function("graft_quant_e4", v)
  def rankCellsCos(q: Column, s2: Column, cents: Column): Column =
    call_function("graft_rank_cells_cos", q, s2, cents)
  def jlProj(q: Column, signs: Column): Column =
    call_function("graft_jl_proj", q, signs)
  def rankCellsL2(q: Column, cents: Column): Column =
    call_function("graft_rank_cells_l2", q, cents)
  def pqEncode(q: Column, cell: Column, cents: Column, cb: Column): Column =
    call_function("graft_pq_encode", q, cell, cents, cb)
  def pqLut(q: Column, cell: Column, cents: Column, cb: Column): Column =
    call_function("graft_pq_lut", q, cell, cents, cb)
  def pqAdc(lut: Column, codes: Column): Column =
    call_function("graft_pq_adc", lut, codes)
}

/** Optimizer rule: rewrite the DECLARATIVE dot-product idiom
  *
  *   `aggregate(zip_with(a, b, (x, y) -> x * y), 0, (s, x) -> s + x)`
  *
  * into the fused codegen'd [[DotProductLong]]/[[DotProductDouble]] —
  * so a user who writes the natural higher-order-function form gets
  * the no-intermediate-array multiply-add loop automatically. This is
  * the engine's one `Rule[LogicalPlan]`: everywhere else composition
  * of built-ins is the point, but here the composed form materializes
  * a length-n array per CANDIDATE PAIR inside the ANN inner loop —
  * the measured hot spot VectorExpressions exists for.
  *
  * Match conditions (all required — anything else is left alone):
  *  - zip lambda is exactly `x * y` over its own two variables, merge
  *    is exactly `acc + x`, finish is the identity (what
  *    `functions.aggregate` emits when no finish is given); Multiply/
  *    Add commute, so variable order is free;
  *  - zero is literal 0 of the matching element type;
  *  - both inputs are ARRAY<BIGINT> / ARRAY<DOUBLE> with
  *    containsNull = false (a null element would null the fold, while
  *    the fused loop assumes dense vectors);
  *  - arithmetic is LEGACY eval mode: under ANSI the composed form
  *    throws on Long overflow, the fused loop wraps — skipping the
  *    rewrite preserves ANSI semantics exactly.
  *
  * Contract note: on RAGGED pairs `zip_with` pads with null (the fold
  * returns null) while the fused expression THROWS — the same
  * fail-loud contract every direct caller of graft_dot_* already
  * accepts. The rule ships only through [[GraftExtensions]], so a
  * session opts into that contract explicitly. */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isIdentity(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      v.exprId == a.exprId
    case _ => false
  }

  private def isPairProduct(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(
        m @ Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      m.evalMode == EvalMode.LEGACY &&
        Set(x.exprId, y.exprId) == Set(a.exprId, b.exprId)
    case _ => false
  }

  private def isSumMerge(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(
        m @ Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      m.evalMode == EvalMode.LEGACY &&
        Set(x.exprId, y.exprId) == Set(a.exprId, b.exprId)
    case _ => false
  }

  private def denseArrayOf(e: Expression, et: DataType): Boolean = e.dataType match {
    case ArrayType(t, containsNull) => t == et && !containsNull
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(l, r, prod: LambdaFunction),
        Literal(0L, LongType), merge: LambdaFunction, finish: LambdaFunction)
        if isPairProduct(prod) && isSumMerge(merge) && isIdentity(finish) &&
          denseArrayOf(l, LongType) && denseArrayOf(r, LongType) =>
      DotProductLong(l, r)
    case ArrayAggregate(
        ZipWith(l, r, prod: LambdaFunction),
        Literal(z, DoubleType), merge: LambdaFunction, finish: LambdaFunction)
        if z == 0.0d && isPairProduct(prod) && isSumMerge(merge) && isIdentity(finish) &&
          denseArrayOf(l, DoubleType) && denseArrayOf(r, DoubleType) =>
      DotProductDouble(l, r)
  }
}

/** `spark.sql.extensions` injection point: sessions built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` get the
  * vector functions AND the [[DotProductRewrite]] optimizer rule out
  * of the box. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "graft_dot_long"),
      (es: Seq[Expression]) => DotProductLong(es(0), es(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_double"),
      new ExpressionInfo(classOf[DotProductDouble].getName, "graft_dot_double"),
      (es: Seq[Expression]) => DotProductDouble(es(0), es(1))))
    // fused ANN kernels — see graft.functions.AnnKernels
    ext.injectFunction((
      new FunctionIdentifier("graft_quant_e4"),
      new ExpressionInfo(classOf[QuantE4].getName, "graft_quant_e4"),
      (es: Seq[Expression]) => QuantE4(es(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_rank_cells_cos"),
      new ExpressionInfo(classOf[RankCellsCos].getName, "graft_rank_cells_cos"),
      (es: Seq[Expression]) => RankCellsCos(es(0), es(1), es(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_jl_proj"),
      new ExpressionInfo(classOf[JlProject].getName, "graft_jl_proj"),
      (es: Seq[Expression]) => JlProject(es(0), es(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_rank_cells_l2"),
      new ExpressionInfo(classOf[RankCellsL2].getName, "graft_rank_cells_l2"),
      (es: Seq[Expression]) => RankCellsL2(es(0), es(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (es: Seq[Expression]) => PqEncode(es(0), es(1), es(2), es(3))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_lut"),
      new ExpressionInfo(classOf[PqLut].getName, "graft_pq_lut"),
      (es: Seq[Expression]) => PqLut(es(0), es(1), es(2), es(3))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (es: Seq[Expression]) => PqAdc(es(0), es(1))))
    GearFunctions.inject(ext)
    StringSimFunctions.inject(ext)
    ext.injectOptimizerRule(_ => DotProductRewrite)
  }
}
