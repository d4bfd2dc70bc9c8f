// Lives under org.apache.spark.sql so it can use the private[sql] pieces a
// native expression needs (AbstractDataType for ExpectsInputTypes,
// ExpressionUtils for Expression <-> Column). Nothing else from Spark
// internals is touched.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Cosine similarity between two `array<float>` embedding columns, as a
  * native Catalyst expression with whole-stage codegen: one fused pass over
  * both arrays accumulating dot product and both norms in doubles — no
  * boxing, no intermediate arrays (a `zip_with`+`aggregate` formulation
  * allocates two ArrayData per row; this allocates nothing).
  *
  * Numerics contract (relied on by the DuckDB oracle): each accumulator is a
  * strict left-to-right IEEE-754 double fold over `float`→`double` exact
  * widenings, so results are bit-identical to any engine that folds in index
  * order. Returns null for null/zero-norm/length-mismatched inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = (double) $x.getFloat($i);
         |    final double $yv = (double) $y.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Scalar (int8) quantization of an `array<float>` embedding: the vector is
  * L2-normalized and each coordinate rounded to `round(127 * x / ||x||)` ∈
  * [-127, 127], returned as `array<int>`. Normalizing first means ONE global
  * scale (1/127) serves the whole corpus — no per-dimension calibration
  * statistics to compute, store, or keep in sync between corpus and query
  * quantization — and integer dot products of codes rank pairs by cosine.
  *
  * Numerics contract (relied on by the DuckDB oracle): the norm is a strict
  * left-to-right double fold of x²; rounding is half-away-from-zero (SQL
  * `round`, not Java's half-up `Math.round` — they differ on negative
  * halves). A zero-norm vector quantizes to all zeros.
  */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_int8"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var nx = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      nx += xv * xv
      i += 1
    }
    val nrm = math.sqrt(nx)
    val out = new Array[Int](n)
    if (nrm != 0.0) {
      i = 0
      while (i < n) {
        val v = 127.0 * (x.getFloat(i).toDouble / nrm)
        out(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toInt
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val nx = ctx.freshName("nx")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $x.numElements();
         |double $nx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double ${v}0 = (double) $x.getFloat($i);
         |  $nx += ${v}0 * ${v}0;
         |}
         |final double $nrm = java.lang.Math.sqrt($nx);
         |final int[] $out = new int[$n];
         |if ($nrm != 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $v = 127.0 * (((double) $x.getFloat($i)) / $nrm);
         |    $out[$i] = (int) ($v >= 0 ? java.lang.Math.floor($v + 0.5)
         |                              : java.lang.Math.ceil($v - 0.5));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact integer dot product of two `array<int>` code vectors (the scoring
  * primitive for int8-quantized similarity search): a single fused loop
  * accumulating into a long — overflow-free for any realistic code width
  * (127² · dims ≪ 2⁶³) and bit-identical across engines because no floating
  * point is involved. Returns null on length mismatch.
  */
case class DotInt(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_int"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((long) $x.getInt($i)) * ((long) $y.getInt($i));
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Packs `array<int>` small-integer codes (each in [-128, 127] — int8
  * codes from [[QuantizeInt8]], or PQ entry ids from `Similarity.pqPack`)
  * into a `binary` column — one byte per element, so the stored/shuffled/
  * cached codes really are 4× smaller than `array<int>` (whose on-wire
  * layout is 4 bytes per element plus array headers). [[PqAdcPacked]]
  * scores packed PQ codes directly, so they are never unpacked into
  * arrays at query time.
  */
case class PackInt8(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pack_int8"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = x.getInt(i).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $x.numElements();
         |final byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) $x.getInt($i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC (asymmetric distance computation) scoring of a packed PQ code
  * against a per-query lookup table: `code` is one byte per subspace (the
  * codebook entry index, from `Similarity.pqPack`), `lut` is the flattened
  * `array<long>` of partial dots indexed `sub * J + entry` (from
  * `Similarity.pqLut`), with J inferred as `lut.length / code.length`.
  * Score = Σ_sub lut[sub * J + code[sub]] — the whole PQ scan is this one
  * m-iteration lookup loop per (query, corpus) pair, no vector math at
  * query time. Exact long arithmetic; returns null when the LUT length is
  * not a positive multiple of the code length or an entry is out of range.
  */
case class PqAdcPacked(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.BinaryType, ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_packed"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val code = a.asInstanceOf[Array[Byte]]
    val lut = b.asInstanceOf[ArrayData]
    val m = code.length
    if (m == 0 || lut.numElements() % m != 0) return null
    val j = lut.numElements() / m
    var score = 0L
    var s = 0
    while (s < m) {
      val e = code(s) & 0xff
      if (e >= j) return null
      score += lut.getLong(s * j + e)
      s += 1
    }
    score
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (code, lut) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val e = ctx.freshName("e")
      val score = ctx.freshName("score")
      val bad = ctx.freshName("bad")
      s"""
         |final int $m = $code.length;
         |if ($m == 0 || $lut.numElements() % $m != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $j = $lut.numElements() / $m;
         |  long $score = 0L;
         |  boolean $bad = false;
         |  for (int $s = 0; $s < $m; $s++) {
         |    final int $e = $code[$s] & 0xff;
         |    if ($e >= $j) { $bad = true; break; }
         |    $score += $lut.getLong($s * $j + $e);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $score; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All PREFIX cosines of two `array<float>` embeddings in ONE fused pass —
  * the Matryoshka-audit kernel: element j is
  * `cosine_sim(slice(a, 1, dims(j)), slice(b, 1, dims(j)))` and the LAST
  * element is the full-dimension cosine, every one BIT-EQUAL to
  * [[CosineSimilarity]] over the sliced arrays (prefix dot/norm sums are
  * snapshots of the same strict left-to-right double fold, so equality is
  * by construction, and SimilaritySpec pins it). Replaces |dims|+1
  * separate corpus scans with one: the accumulators pass each prefix
  * boundary anyway on the way to the full dimension.
  *
  * Per-element null contract mirrors the sliced composition exactly: an
  * element is null when the two SLICED lengths differ (only possible on
  * length-mismatched inputs) or the sliced denominator is zero (a
  * zero-norm prefix). `dims` must be strictly increasing and positive.
  */
case class PrefixCosines(left: Expression, right: Expression,
    dims: Seq[Int]) extends BinaryExpression with ExpectsInputTypes {
  require(dims.nonEmpty, "need at least one prefix dim")
  require(dims.forall(_ >= 1) && dims == dims.sorted &&
    dims.distinct.size == dims.size,
    s"prefix dims must be strictly increasing positive ints: $dims")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "prefix_cosines"

  /** Public bridge for the generated code (the NativeUnaryCodegen
    * pattern, binary form).
    */
  def evalPair(a: Any, b: Any): Any = nullSafeEval(a, b)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    val out = new Array[Any](dims.length + 1)
    var dot = 0.0
    var sx = 0.0
    var sy = 0.0
    var i = 0
    var j = 0
    def snap(): Any = {
      val denom = math.sqrt(sx) * math.sqrt(sy)
      if (denom == 0.0) null else Double.box(dot / denom)
    }
    while (i < n) {
      // snapshot BEFORE consuming element i when a prefix boundary ends
      // here (boundary m consumed elements 0..m-1)
      while (j < dims.length && dims(j) == i) {
        out(j) = snap()
        j += 1
      }
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      sx += xv * xv
      sy += yv * yv
      i += 1
    }
    while (j < dims.length) {
      // boundaries at or past min(nx, ny): the sliced lengths are
      // min(m, nx) vs min(m, ny) — equal iff nx == ny (the slices
      // saturate to the full vectors) OR m == min(nx, ny) (the shorter
      // side is exactly consumed and the longer one slices down to it)
      out(j) = if (nx == ny || dims(j) == n) snap() else null
      j += 1
    }
    out(dims.length) = if (nx == ny) snap() else null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("prefixCos", this, classOf[PrefixCosines].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.evalPair($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for vector math. */
object VectorFunctions {

  /** Cosine similarity of two `array<float>` columns (see [[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** All prefix cosines + the full cosine in one pass (see [[PrefixCosines]]). */
  def prefixCosines(a: Column, b: Column, dims: Seq[Int]): Column =
    ExpressionUtils.column(PrefixCosines(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), dims))

  /** Int8 codes of an `array<float>` column (see [[QuantizeInt8]]). */
  def quantizeInt8(v: Column): Column =
    ExpressionUtils.column(QuantizeInt8(ExpressionUtils.expression(v)))

  /** Exact integer dot product of two `array<int>` columns (see [[DotInt]]). */
  def dotInt(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotInt(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Pack int8 codes into a binary column (see [[PackInt8]]). */
  def packInt8(codes: Column): Column =
    ExpressionUtils.column(PackInt8(ExpressionUtils.expression(codes)))

  /** ADC score of a packed PQ code against a flattened per-query LUT (see
    * [[PqAdcPacked]]).
    */
  def pqAdcPacked(code: Column, lut: Column): Column =
    ExpressionUtils.column(
      PqAdcPacked(ExpressionUtils.expression(code), ExpressionUtils.expression(lut)))
}
