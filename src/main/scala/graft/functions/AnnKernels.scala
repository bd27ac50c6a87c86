package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Fused codegen'd kernels for the ANN family's per-row hot loops.
  * The in-row formulations avoid K·|V|-row shuffles, but written as
  * Catalyst higher-order functions their arithmetic would run in
  * lambda bodies, which are INTERPRETED — ArrayTransform / ArraySort /
  * ArrayAggregate never enter whole-stage codegen, so every vector
  * would pay per-element lambda dispatch plus one intermediate array
  * per HOF layer (q114's encode walks 16 subspaces × 64 codebook
  * entries × one 4-element zip+fold each — 1024 interpreted folds and
  * 2048 transient arrays PER ROW). Each kernel below fuses one HOF
  * composition into a single JVM loop reached through a codegen'd
  * call (the [[DotProductLong]] precedent), so the enclosing
  * projection stays inside WholeStageCodegen and the loop JITs.
  *
  * Exactness: every kernel reproduces the retired HOF composition's
  * arithmetic bit-for-bit — integer ops are the same Long ops, the
  * cosine replays Spark's exact `round(…, 0)` semantics
  * (scala.math.BigDecimal HALF_UP with NaN/Inf passthrough, then the
  * legacy double→long cast), and sorts use the identical (field1,
  * field2) ascending struct order with first-minimum tie-breaks.
  * The DuckDB oracle re-gates every consumer.
  *
  * Dense-array contract (the graft_dot_* convention): element values
  * are assumed non-null — every producer in this engine is a quant /
  * projection map over non-null input; a null ARRAY argument yields
  * null (nullIntolerant). [[PqAdc]], whose LUT indexing would read a
  * wrong entry on a malformed input, checks its inputs and throws.
  */
object AnnKernels {

  /** Spark `round(d, 0)` for doubles, verbatim: NaN/Inf pass through,
    * else decimal HALF_UP (RoundBase's DoubleType branch). */
  @inline private[graft] def round0(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else scala.math.BigDecimal(d)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** cosE6 verbatim: round(1e6·dot / (√sa·√sb), 0) cast long (legacy
    * double→long = truncate toward zero, NaN→0, ±Inf→Long.Max/Min —
    * exactly scala's Double#toLong). */
  @inline private[graft] def cosE6(dot: Long, sa: Long, sb: Long): Long =
    round0(1e6 * dot.toDouble /
      (math.sqrt(sa.toDouble) * math.sqrt(sb.toDouble))).toLong

  /** In-place insertion sort of parallel (a, b) arrays by (a, b)
    * ascending — the struct array_sort order for two non-null longs.
    * K ≤ 16 everywhere this is used. */
  private[functions] def sortPairs(a: Array[Long], b: Array[Long]): Unit = {
    var i = 1
    while (i < a.length) {
      val ka = a(i); val kb = b(i)
      var j = i - 1
      while (j >= 0 && (a(j) > ka || (a(j) == ka && b(j) > kb))) {
        a(j + 1) = a(j); b(j + 1) = b(j); j -= 1
      }
      a(j + 1) = ka; b(j + 1) = kb
      i += 1
    }
  }

  private[functions] def pairsToRows(a: Array[Long], b: Array[Long]): ArrayData = {
    val rows = new Array[Any](a.length)
    var i = 0
    while (i < a.length) {
      rows(i) = new GenericInternalRow(Array[Any](a(i), b(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Parse an array<struct<_1: long, _2: array<long>>> literal into
    * (longs, vectors) parallel arrays, preserving element order. */
  private[functions] def parsePanel(lit: ArrayData): (Array[Long], Array[Array[Long]]) = {
    val n = lit.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val st = lit.getStruct(i, 2)
      ids(i) = st.getLong(0)
      vecs(i) = st.getArray(1).toLongArray()
      i += 1
    }
    (ids, vecs)
  }
}

/** quant_e4(v) ≡ transform(v, x -> cast(round(x * 10000.0, 0) as
  * bigint)) over ARRAY<DOUBLE> — the e4 fixed-point quantization at
  * the head of every vector query, fused out of the interpreted
  * ArrayTransform lambda. Same per-element semantics: multiply, Spark
  * round(…, 0) (BigDecimal HALF_UP, NaN/∞ passthrough), legacy
  * double→long cast. Output declared dense (containsNull = false —
  * the kernel never writes nulls), which lets DotProductRewrite fuse
  * declarative dot folds over quantized vectors downstream. */
case class QuantE4(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_quant_e4"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) |
           ArrayType(org.apache.spark.sql.types.FloatType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE> or ARRAY<FLOAT>, got " +
          child.dataType.simpleString)
    }

  // the parquet embeddings are ARRAY<FLOAT>; the retired lambda cast
  // each element to double first (exact IEEE widening) — replicated
  @transient private lazy val fromFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  def kernel(va: ArrayData): ArrayData = {
    val n = va.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (fromFloat) va.getFloat(i).toDouble else va.getDouble(i)
      out(i) = AnnKernels.round0(x * 10000.0).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quantE4", this, classOf[QuantE4].getName)
    defineCodeGen(ctx, ev, v => s"$ref.kernel($v)")
  }

  override protected def withNewChildInternal(c: Expression): QuantE4 =
    copy(child = c)
}

/** rank_cells_cos(q, s2, cents) ≡
  * array_sort(transform(cents, c ->
  *   struct(0 - cosE6(dot(q, c.cq), s2, c.cs2) as ncos, c.c_id)))
  * over cents: array<struct<c_id, cq, cs2>> (the one-row broadcast
  * centroid panel). Used by q33/q191/q231/q241's in-row cell ranking. */
case class RankCellsCos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def prettyName: String = "graft_rank_cells_cos"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ncos", LongType), StructField("c_id", LongType))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), LongType,
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _),
              StructField(_, LongType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, BIGINT, " +
          s"ARRAY<STRUCT<BIGINT, ARRAY<BIGINT>, BIGINT>>), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
    }

  def kernel(qa: ArrayData, s2: Long, cents: ArrayData): ArrayData = {
    val k = cents.numElements()
    val n = qa.numElements()
    val ncos = new Array[Long](k)
    val cid = new Array[Long](k)
    var i = 0
    while (i < k) {
      val c = cents.getStruct(i, 3)
      val cq = c.getArray(1)
      var dot = 0L
      var j = 0
      while (j < n) { dot += qa.getLong(j) * cq.getLong(j); j += 1 }
      ncos(i) = 0L - AnnKernels.cosE6(dot, s2, c.getLong(2))
      cid(i) = c.getLong(0)
      i += 1
    }
    AnnKernels.sortPairs(ncos, cid)
    AnnKernels.pairsToRows(ncos, cid)
  }

  override def nullSafeEval(q: Any, s2: Any, cents: Any): Any =
    kernel(q.asInstanceOf[ArrayData], s2.asInstanceOf[Long],
      cents.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rankCellsCos", this, classOf[RankCellsCos].getName)
    nullSafeCodeGen(ctx, ev, (q, s2, cents) =>
      s"${ev.value} = $ref.kernel($q, $s2, $cents);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RankCellsCos =
    copy(first = f, second = s, third = t)
}

/** jl_proj(q, signs) ≡ array(dot(q, signs[0]), …, dot(q, signs[J-1]))
  * — the 16-dim JL projection, one fused pass instead of J interpreted
  * zip_with+aggregate folds. `signs` must be a foldable literal
  * array<array<long>>. Output is dense (containsNull = false), which
  * also lets [[DotProductRewrite]] fuse downstream dots over it. */
case class JlProject(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "graft_jl_proj"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _))
          if right.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, foldable ARRAY<ARRAY<BIGINT>>)")
    }

  @transient private lazy val signs: Array[Array[Long]] = {
    val lit = right.eval(null).asInstanceOf[ArrayData]
    val out = new Array[Array[Long]](lit.numElements())
    var i = 0
    while (i < out.length) { out(i) = lit.getArray(i).toLongArray(); i += 1 }
    out
  }

  def kernel(qa: ArrayData): ArrayData = {
    val q = qa.toLongArray()
    val y = new Array[Long](signs.length)
    var j = 0
    while (j < signs.length) {
      val s = signs(j)
      var acc = 0L
      var i = 0
      while (i < q.length) { acc += q(i) * s(i); i += 1 }
      y(j) = acc
      j += 1
    }
    new GenericArrayData(y)
  }

  override def nullSafeEval(q: Any, s: Any): Any = kernel(q.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jlProject", this, classOf[JlProject].getName)
    nullSafeCodeGen(ctx, ev, (q, _) => s"${ev.value} = $ref.kernel($q);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JlProject = copy(left = l, right = r)
}

/** rank_cells_l2(q, cents) ≡
  * array_sort(transform(cents, c -> struct(subL2(q, c._2) as d2, c._1)))
  * over the q114 literal centroid panel array<struct<_1, _2>>. */
case class RankCellsL2(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "graft_rank_cells_l2"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d2", LongType), StructField("c_id", LongType))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _))), _))
          if right.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, foldable " +
          s"ARRAY<STRUCT<BIGINT, ARRAY<BIGINT>>>)")
    }

  @transient private lazy val (centIds, centVecs) =
    AnnKernels.parsePanel(right.eval(null).asInstanceOf[ArrayData])

  def kernel(qa: ArrayData): ArrayData = {
    val q = qa.toLongArray()
    val k = centIds.length
    val d2 = new Array[Long](k)
    val cid = new Array[Long](k)
    var i = 0
    while (i < k) {
      val cv = centVecs(i)
      var acc = 0L
      var j = 0
      while (j < q.length) { val d = q(j) - cv(j); acc += d * d; j += 1 }
      d2(i) = acc
      cid(i) = centIds(i)
      i += 1
    }
    AnnKernels.sortPairs(d2, cid)
    AnnKernels.pairsToRows(d2, cid)
  }

  override def nullSafeEval(q: Any, c: Any): Any = kernel(q.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rankCellsL2", this, classOf[RankCellsL2].getName)
    nullSafeCodeGen(ctx, ev, (q, _) => s"${ev.value} = $ref.kernel($q);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RankCellsL2 = copy(left = l, right = r)
}

/** Shared parsing/loops for the two PQ quaternary kernels: children
  * are (q, cell, centsLit, flatCbLit) where centsLit is the q114
  * coarse panel (position-indexable: sorted c_ids 0..K-1) and
  * flatCbLit the flat (subspace start offset, entry subvector)
  * codebook in (m, code) order. */
abstract class PqResidualKernel extends QuaternaryExpression with Serializable {
  def first: Expression; def second: Expression
  def third: Expression; def fourth: Expression
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(LongType, _), LongType,
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _))), _),
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(LongType, _), _, _))), _))
          if third.foldable && fourth.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, BIGINT, foldable panel, " +
          s"foldable flat codebook)")
    }

  @transient protected lazy val centVecs: Array[Array[Long]] =
    AnnKernels.parsePanel(third.eval(null).asInstanceOf[ArrayData])._2
  /** (starts, entries) of the flat codebook, literal order preserved. */
  @transient protected lazy val (cbStarts, cbEntries) =
    AnnKernels.parsePanel(fourth.eval(null).asInstanceOf[ArrayData])

  /** All flat-codebook squared distances of the residual q − cent(cell)
    * — dflatOn∘residual fused, no intermediate arrays. */
  protected final def subDists(qa: ArrayData, cell: Long): Array[Long] = {
    val q = qa.toLongArray()
    val cv = centVecs(cell.toInt)
    val n = cbStarts.length
    val out = new Array[Long](n)
    var e = 0
    while (e < n) {
      val start = cbStarts(e).toInt
      val sub = cbEntries(e)
      var acc = 0L
      var j = 0
      while (j < sub.length) {
        val d = (q(start + j) - cv(start + j)) - sub(j)
        acc += d * d
        j += 1
      }
      out(e) = acc
      e += 1
    }
    out
  }
}

/** pq_encode(q, cell, cents, cb) ≡ the q114 index-side chain
  * residual → dflatOn → per-block argmin codes, fused: array<int> of
  * one code per subspace block (first minimum wins — the
  * array_position tie rule, lowest code id). Block boundaries are the
  * runs of equal start offsets in the flat codebook. */
case class PqEncode(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends PqResidualKernel {
  override def prettyName: String = "graft_pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def kernel(qa: ArrayData, cell: Long): ArrayData = {
    val d = subDists(qa, cell)
    // block = consecutive entries sharing a start offset (m-major order)
    val codes = scala.collection.mutable.ArrayBuffer[Int]()
    var e = 0
    while (e < d.length) {
      val start = cbStarts(e)
      var best = e
      var i = e
      while (i < d.length && cbStarts(i) == start) {
        if (d(i) < d(best)) best = i // strict: first minimum wins
        i += 1
      }
      codes += (best - e)
      e = i
    }
    new GenericArrayData(codes.toArray)
  }

  override def nullSafeEval(q: Any, cell: Any, c: Any, cb: Any): Any =
    kernel(q.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, (q, cell, _, _) =>
      s"${ev.value} = $ref.kernel($q, $cell);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): PqEncode =
    copy(first = f, second = s, third = t, fourth = q)
}

/** pq_lut(q, cell, cents, cb) ≡ the q114 query-side chain
  * residual → dflatOn, fused: the full flat ADC lookup table
  * (array<long>, one squared distance per codebook entry). */
case class PqLut(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends PqResidualKernel {
  override def prettyName: String = "graft_pq_lut"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def kernel(qa: ArrayData, cell: Long): ArrayData =
    new GenericArrayData(subDists(qa, cell))

  override def nullSafeEval(q: Any, cell: Any, c: Any, cb: Any): Any =
    kernel(q.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
    nullSafeCodeGen(ctx, ev, (q, cell, _, _) =>
      s"${ev.value} = $ref.kernel($q, $cell);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): PqLut =
    copy(first = f, second = s, third = t, fourth = q)
}

/** pq_adc(lut, codes) ≡ Σ_m lut[m·K + codes[m]] with
  * K = |lut| / |codes| — the 16-lookup ADC fold, fused. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "graft_pq_adc"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, ARRAY<INT>)")
    }

  /** Fails, rather than returning a number, on a malformed input: no
    * codes, a LUT whose length is not a multiple of the code count, a
    * code outside `[0, K)`, a null code, or a null LUT entry that a
    * code selects. Only the `m` selected entries are checked: the
    * others do not reach the sum. */
  def kernel(lut: ArrayData, codes: ArrayData): Long = {
    val m = codes.numElements()
    val n = lut.numElements()
    if (m == 0 || n % m != 0) throw new IllegalArgumentException(
      s"$prettyName: LUT length $n is not a multiple of the code count $m (> 0)")
    val k = n / m
    var acc = 0L
    var i = 0
    while (i < m) {
      if (codes.isNullAt(i)) throw new IllegalArgumentException(s"$prettyName: null code $i")
      val c = codes.getInt(i)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"$prettyName: code $c at $i is outside [0, $k)")
      val j = i * k + c
      if (lut.isNullAt(j)) throw new IllegalArgumentException(s"$prettyName: null LUT entry $j")
      acc += lut.getLong(j)
      i += 1
    }
    acc
  }

  override def nullSafeEval(lut: Any, codes: Any): Any =
    kernel(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    nullSafeCodeGen(ctx, ev, (lut, codes) =>
      s"${ev.value} = $ref.kernel($lut, $codes);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdc = copy(left = l, right = r)
}
