package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer dot product over fixed-point embedding vectors — the hot
  * inner kernel of the whole ANN/dedup family (Similarity.scala).
  *
  * Why a native expression and not column algebra: Spark's higher-order
  * functions (`aggregate`/`zip_with`) evaluate their lambda interpreted,
  * per-element boxed — measured ~25x slower than flat arithmetic (r3).
  * The r3-r4 answer was a 64-term UNROLLED `element_at` sum, which is
  * whole-stage-codegen'd and fast to RUN but expensive to COMPILE: every
  * stage embedding it hands janino ~1 KLoC of distinct source, and the
  * ANN suite compiles four-plus such stages per query — at bench scale
  * (2k vectors) compilation dominated execution. This expression instead
  * generates ONE static call, `VecMath.dot(a, b)`; the loop lives in
  * pre-compiled bytecode the JIT unrolls/vectorizes, generated source
  * stays tiny, and the expression still sits INSIDE whole-stage codegen
  * (no row-boundary break, no boxing). At 100 TB the per-row cost is
  * identical to the unrolled form; the per-stage compile tax is gone.
  */
object VecMath {

  /** Exact integer dot; both arrays must be non-null LongType of equal
    * length (the fixed-point embedding contract, Similarity.Scale).
    *
    * The length check is load-bearing, not defensive noise: `vec_dot` is
    * registered session-wide, and on `UnsafeArrayData` an out-of-bounds
    * `getLong` does NOT throw — it reads adjacent row memory, i.e. a
    * mismatched call would return silently wrong numbers. The branch is
    * one compare per ROW (not per element), invisible next to the loop.
    */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: length mismatch (${n} vs ${b.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Bit-packed hyperplane sign pattern: bit k of the result is set iff
    * the signed sum `Σ_i (±v_i)` for plane k is >= 0, where plane k's
    * signs are encoded in `masks(k)` (bit i set = +1 for coordinate i,
    * clear = -1; [[Similarity.Dim]] = 64 coordinates fit one Long
    * exactly). Replaces the unrolled per-plane CASE/signed-sum strings —
    * a 2-band × 8-plane signature was ~1 KLoC of generated source; this
    * is one static call, loops JIT-compiled, same exact integer result.
    */
  def signBits(v: ArrayData, masks: Array[Long]): Long = {
    if (v.numElements() < 64)
      throw new IllegalArgumentException(
        s"vec_signbits: needs a 64-element vector, got ${v.numElements()}" +
          " (short input would read out-of-bounds unsafe memory)")
    var out = 0L
    var k = 0
    while (k < masks.length) {
      val m = masks(k)
      var s = 0L
      var i = 0
      while (i < 64) {
        val x = v.getLong(i)
        s += (if (((m >> i) & 1L) == 1L) x else -x)
        i += 1
      }
      if (s >= 0L) out |= (1L << k)
      k += 1
    }
    out
  }

  /** Hashing-trick bincount: one pass over the token-hash array, out[h %
    * dims] += sign(h) with sign = (h/dims) % 2 * 2 - 1 — the row-local
    * embedding kernel `chunkDenseRowLocal` rides. The higher-order-
    * function form (`transform(dims, i -> aggregate(hs, ...))`) evaluates
    * 64×|tokens| interpreted lambdas per chunk — measured 64 s for
    * stream_chunk_ann's ingest at sf0.1; this one static call is the
    * same O(|tokens|) loop the batch groupBy performs, in JIT bytecode.
    * Hashes are 60-bit non-negative by contract (floorMod below matches
    * `%` exactly there), but `vec_hashbin` is a registered SQL function
    * callable on ANY array<bigint> — floorMod keeps a stray negative
    * hash a deterministic bin instead of an executor AIOOBE deep in
    * generated code.
    */
  def hashBin(hs: ArrayData, dims: Int): ArrayData = {
    val out = new Array[Long](dims)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      out(Math.floorMod(h, dims.toLong).toInt) += Math.floorMod(h / dims, 2L) * 2 - 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ±1 plane rows -> sign-mask encoding for [[signBits]]. */
  def planeMasks(planes: Seq[Seq[Long]]): Array[Long] =
    planes.map(_.zipWithIndex.foldLeft(0L) {
      case (m, (s, i)) => if (s > 0L) m | (1L << i) else m
    }).toArray

  /** Row-local top-`n` quantizer cells by (cosine DESC, c_id ASC) — the
    * kernel behind `vec_top_cells` (r16). `cents` is the WHOLE quantizer
    * as one array of `(c_id, cv, cn)` structs (field ordinals passed by
    * the expression, resolved by name at plan time); per cell the cosine
    * is `dot / (sqrt(nrm) * sqrt(cn))` in EXACTLY the arithmetic order
    * of the crossJoin form it replaces (one long→double cast, one IEEE
    * multiply of two correctly-rounded sqrts, one IEEE divide), so the
    * selected cells and reported cosines are bit-identical to
    * `assignNearest`'s `max_by(struct(ccos, -c_id))` / the oracle's
    * `row_number() OVER (ORDER BY ccos DESC, c_id)` — Round16Spec pins
    * both. The selection is one insertion pass, loop in pre-compiled
    * bytecode (the [[dot]] rationale: higher-order-function lambdas
    * evaluate interpreted, ~25x slower).
    */
  def topCells(v: ArrayData, nrm: Long, cents: ArrayData, n: Int,
      idOrd: Int, cvOrd: Int, cnOrd: Int): ArrayData = {
    val k = cents.numElements()
    val m = if (n < k) n else k
    val cos = new Array[Double](m)
    val ids = new Array[Long](m)
    var size = 0
    val qn = java.lang.Math.sqrt(nrm.toDouble)
    var i = 0
    while (i < k) {
      val cell = cents.getStruct(i, 3)
      val cid = cell.getLong(idOrd)
      val c = dot(v, cell.getArray(cvOrd)).toDouble /
        (qn * java.lang.Math.sqrt(cell.getLong(cnOrd).toDouble))
      // insertion position by (cos DESC, c_id ASC); bail early when the
      // candidate ranks below the current n-th
      if (size < m || c > cos(size - 1) ||
          (c == cos(size - 1) && cid < ids(size - 1))) {
        var p = if (size < m) size else m - 1
        while (p > 0 && (c > cos(p - 1) || (c == cos(p - 1) && cid < ids(p - 1)))) {
          cos(p) = cos(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        cos(p) = c; ids(p) = cid
        if (size < m) size += 1
      }
      i += 1
    }
    val rows = new Array[Any](size)
    i = 0
    while (i < size) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(cos(i), ids(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Row-local nearest PQ codebook entry by (L2 ASC, code ASC) — the
    * kernel behind `vec_best_code` (r16). `entries` is ONE subspace's
    * codebook as an array of `(code, cv, cn)` structs; the metric is the
    * exact integer `|x|² − 2·x·c + |c|²` of the broadcast-join form it
    * replaces, so code and qerr are bit-identical to `pqCodesFrom`'s
    * `min_by(struct(d2, code))`.
    */
  def bestCode(x: ArrayData, xn: Long, entries: ArrayData,
      codeOrd: Int, cvOrd: Int, cnOrd: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val k = entries.numElements()
    var bestCode = 0
    var bestD2 = 0L
    var has = false
    var i = 0
    while (i < k) {
      val e = entries.getStruct(i, 3)
      val code = e.getInt(codeOrd)
      val d2 = xn - 2L * dot(x, e.getArray(cvOrd)) + e.getLong(cnOrd)
      if (!has || d2 < bestD2 || (d2 == bestD2 && code < bestCode)) {
        has = true; bestCode = code; bestD2 = d2
      }
      i += 1
    }
    if (!has) null
    else org.apache.spark.sql.catalyst.InternalRow(bestCode, bestD2)
  }
}

/** `vec_hashbin(hs, dims)`: hashing-trick bincount, one static call.
  * `dims` is plan-build-time config (a folded literal), not a child —
  * the VecSignBits pattern.
  */
case class VecHashBin(child: Expression, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_hashbin needs array<bigint> input, got ${other.catalogString}")
  }
  override protected def nullSafeEval(hs: Any): Any =
    VecMath.hashBin(hs.asInstanceOf[ArrayData], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, hs => s"graft.functions.VecMath.hashBin($hs, $dims)")
  override protected def withNewChildInternal(newChild: Expression): VecHashBin =
    copy(child = newChild)
  override def prettyName: String = "vec_hashbin"
}

object VecHashBin {
  def fromArgs(args: Seq[Expression]): VecHashBin = {
    require(args.length == 2 && args(1).foldable,
      "vec_hashbin(hs, dims) needs a foldable dims literal")
    VecHashBin(args(0), args(1).eval().asInstanceOf[Number].intValue())
  }
}

/** `vec_signbits(v, masks)`: bit-packed hyperplane signs, one static call.
  * `masks` is plan-build-time config (a folded array literal), not a child.
  *
  * `masks` is a `Seq[Long]`, NOT `Array[Long]`: case-class equality over an
  * array is referential, which would make two semantically identical
  * expressions never `semanticEquals` — silently defeating Catalyst
  * canonicalization (common-subexpression elimination, exchange/plan
  * reuse), the very machinery the compile-time-reduction rationale leans
  * on. The primitive `long[]` the kernel needs is materialized once per
  * expression instance.
  */
case class VecSignBits(child: Expression, masks: Seq[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  @transient private lazy val maskArr: Array[Long] = masks.toArray
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_signbits needs array<bigint> input, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    VecMath.signBits(v.asInstanceOf[ArrayData], maskArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signMasks", maskArr, "long[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VecMath.signBits($v, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): VecSignBits =
    copy(child = newChild)
  override def prettyName: String = "vec_signbits"
}

object VecSignBits {
  def fromArgs(args: Seq[Expression]): VecSignBits = {
    require(args.length == 2 && args(1).foldable,
      "vec_signbits(v, masks) needs a foldable mask array")
    val masks = args(1).eval() match {
      case a: ArrayData => a.toLongArray().toIndexedSeq
      case other => throw new IllegalArgumentException(s"bad masks: $other")
    }
    VecSignBits(args(0), masks)
  }
}

/** `vec_top_cells(v, nrm, cents, n)`: the row-local quantizer argmax/top-N
  * (see [[VecMath.topCells]]) — returns `array<struct<ccos double, c_id
  * bigint>>` of the `n` best cells by (cosine DESC, c_id ASC). `cents` is
  * an `array<struct<…>>` column whose `c_id`/`cv`/`cn` fields are resolved
  * BY NAME at plan time (ordinal config, not positional guesswork); `n` is
  * plan-build-time config like VecSignBits' masks. One static call per
  * row; the quantizer loop lives in pre-compiled bytecode.
  */
case class VecTopCells(vec: Expression, nrm: Expression, cents: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types.{StructType, DoubleType}

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents

  private lazy val centStruct: StructType =
    cents.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val idOrd = centStruct.fieldIndex("c_id")
  @transient private lazy val cvOrd = centStruct.fieldIndex("cv")
  @transient private lazy val cnOrd = centStruct.fieldIndex("cn")

  override def dataType: DataType = ArrayType(
    new StructType().add("ccos", DoubleType, nullable = false)
      .add("c_id", LongType, nullable = false),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType, cents.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(s: StructType, _))
          if Seq("c_id", "cv", "cn").forall(f => s.fieldNames.contains(f)) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, q, c) => TypeCheckResult.TypeCheckFailure(
        "vec_top_cells needs (array<bigint>, bigint, array<struct{c_id, cv, cn}>), got " +
          s"${v.catalogString}, ${q.catalogString}, ${c.catalogString}")
    }

  override protected def nullSafeEval(v: Any, q: Any, c: Any): Any =
    VecMath.topCells(v.asInstanceOf[ArrayData], q.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], n, idOrd, cvOrd, cnOrd)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, q, c) =>
      s"graft.functions.VecMath.topCells($v, $q, $c, $n, $idOrd, $cvOrd, $cnOrd)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VecTopCells =
    copy(vec = newFirst, nrm = newSecond, cents = newThird)
  override def prettyName: String = "vec_top_cells"
}

object VecTopCells {
  def fromArgs(args: Seq[Expression]): VecTopCells = {
    require(args.length == 4 && args(3).foldable,
      "vec_top_cells(v, nrm, cents, n) needs a foldable n literal")
    VecTopCells(args(0), args(1), args(2),
      args(3).eval().asInstanceOf[Number].intValue())
  }
}

/** `vec_best_code(x, xn, entries)`: the row-local PQ argmin (see
  * [[VecMath.bestCode]]) — returns `struct<code int, d2 bigint>` of the
  * nearest codebook entry by (exact integer L2 ASC, code ASC); `entries`
  * field ordinals resolved by name like [[VecTopCells]].
  */
case class VecBestCode(vec: Expression, nrm: Expression, entries: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types.{StructType, IntegerType}

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = entries

  private lazy val entryStruct: StructType =
    entries.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val codeOrd = entryStruct.fieldIndex("code")
  @transient private lazy val cvOrd = entryStruct.fieldIndex("cv")
  @transient private lazy val cnOrd = entryStruct.fieldIndex("cn")

  override def dataType: DataType =
    new StructType().add("code", IntegerType, nullable = false)
      .add("d2", LongType, nullable = false)

  // an EMPTY (non-null) entry list has no nearest code: the result is null
  // even when every child is non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType, entries.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(s: StructType, _))
          if Seq("code", "cv", "cn").forall(f => s.fieldNames.contains(f)) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, q, c) => TypeCheckResult.TypeCheckFailure(
        "vec_best_code needs (array<bigint>, bigint, array<struct{code, cv, cn}>), got " +
          s"${v.catalogString}, ${q.catalogString}, ${c.catalogString}")
    }

  override protected def nullSafeEval(v: Any, q: Any, c: Any): Any =
    VecMath.bestCode(v.asInstanceOf[ArrayData], q.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], codeOrd, cvOrd, cnOrd)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, q, c) =>
      s"""${ev.value} = graft.functions.VecMath.bestCode($v, $q, $c, $codeOrd, $cvOrd, $cnOrd);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VecBestCode =
    copy(vec = newFirst, nrm = newSecond, entries = newThird)
  override def prettyName: String = "vec_best_code"
}

object VecBestCode {
  def fromArgs(args: Seq[Expression]): VecBestCode = {
    require(args.length == 3,
      "vec_best_code(x, xn, entries) takes exactly three args")
    VecBestCode(args(0), args(1), args(2))
  }
}

/** `vec_dot(a, b)`: codegen emits a single static call (see [[VecMath]]). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs two array<bigint> args, got ${l.catalogString}, ${r.catalogString}")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecMath.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}
