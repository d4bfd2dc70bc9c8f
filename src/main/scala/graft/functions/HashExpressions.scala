// Native signature expressions. Under org.apache.spark.sql so ExpectsInputTypes
// (private[sql] AbstractDataType) is reachable — same rationale as
// VectorExpressions.scala.
package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** md5-derived hashing shared by the signature expressions — bit-compatible
  * with the column-level formulations in graft.functions.TextFunctions
  * (`hash32` = first 8 md5 hex digits, `fingerprint64` = first 15) so DuckDB
  * oracles keep reproducing every signature with
  * `('0x' || substring(md5(x), 1, n))::BIGINT`.
  */
private[graft] object Md5Hash {
  private val tl = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 8 hex digits of md5 as a long in [0, 2^32). */
  def hash32(bytes: Array[Byte]): Long = {
    val d = tl.get(); d.reset()
    val h = d.digest(bytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** [[hash32]] over a byte-range — the allocation-free form for callers
    * hashing many slices of one buffer (per-gram hashing in
    * [[CharNgramMd5DimCounts]]): same digest, no per-slice copy.
    */
  def hash32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = tl.get(); d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** First 15 hex digits of md5 as a long in [0, 2^60). */
  def hash60(bytes: Array[Byte]): Long = {
    val d = tl.get(); d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    // 14 hex digits so far; one more nibble (the high nibble of byte 7)
    (v << 4) | ((h(7) & 0xf0L) >> 4)
  }

  /** Full 128-bit md5 as two longs: (hex digits 1–16, hex digits 17–32),
    * bit-identical to DuckDB `('0x' || substring(md5(x), 1|17, 16))::UBIGINT`.
    */
  def hash128(bytes: Array[Byte]): (Long, Long) = {
    val d = tl.get(); d.reset()
    val h = d.digest(bytes)
    var w0 = 0L
    var w1 = 0L
    var i = 0
    while (i < 8) { w0 = (w0 << 8) | (h(i) & 0xffL); i += 1 }
    while (i < 16) { w1 = (w1 << 8) | (h(i) & 0xffL); i += 1 }
    (w0, w1)
  }

  def hash32(s: String): Long = hash32(s.getBytes(StandardCharsets.UTF_8))
  def hash60(s: String): Long = hash60(s.getBytes(StandardCharsets.UTF_8))
  def hash128(s: String): (Long, Long) = hash128(s.getBytes(StandardCharsets.UTF_8))
}

/** The word k-gram loop every gram kernel reads: the space-joined grams of
  * `k` consecutive tokens, gram i starting at token i, and ONE whole-text
  * gram when there are fewer than `k` tokens — the contract of
  * graft.functions.TextFunctions.wordShingles.
  */
private[graft] object WordGrams {
  def words(toks: ArrayData): Array[String] =
    Array.tabulate(toks.numElements())(i => toks.getUTF8String(i).toString)

  def apply(words: Array[String], k: Int): Array[String] = {
    val n = words.length
    if (n < k) Array(words.mkString(" "))
    else {
      val out = new Array[String](n - k + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        out(i) = sb.toString
        i += 1
      }
      out
    }
  }
}

/** MinHash signature over word k-shingles of a token array, as one compiled
  * loop. Equivalent to the HOF pipeline
  * `transform(sequence(...), j -> aggregate(transform(shingleSet, md5...), min(...)))`
  * (graft.operators.Dedup.minHashSignature) but ~100× faster: higher-order
  * expressions evaluate interpreted per element, this runs
  * O(shingles × numHashes) long ops in a JVM loop.
  *
  * Hash family (identical to the column formulation):
  * h = md5-first-8-hex(shingle) ∈ [0,2^32); sig[j] = min over shingles of
  * (a_j * h + b_j) mod P, a_j = ((j+1)*1103515245 + 12345) mod AMod + 1,
  * b_j = ((j+1)*69069 + 362437) mod P, P = 4294967311 (prime > 2^32),
  * AMod = 1073741789 (prime < 2^30, keeps a*h < 2^62).
  */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with NativeUnaryCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes() = {
    require(child.dataType == ArrayType(StringType) ||
      child.dataType == ArrayType(StringType, containsNull = true),
      s"minhash_signature expects array<string> tokens, got ${child.dataType}")
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private val P = 4294967311L
  private val AMod = 1073741789L

  override protected def nullSafeEval(input: Any): Any = {
    // distinct k-shingles; docs shorter than k yield one whole-text shingle
    val shingles =
      WordGrams(WordGrams.words(input.asInstanceOf[ArrayData]), shingleK).distinct
    val sig = Array.fill(numHashes)(P)
    shingles.foreach { s =>
      val h = Md5Hash.hash32(s)
      var j = 0
      while (j < numHashes) {
        val a = ((j + 1).toLong * 1103515245L + 12345L) % AMod + 1L
        val b = ((j + 1).toLong * 69069L + 362437L) % P
        val v = (a * h + b) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over a token array (with multiplicity): per-bit votes of
  * md5-derived 60-bit token fingerprints, bit set where the vote is positive.
  * Compiled replacement for the aggregate/zip_with HOF formulation in
  * graft.operators.Dedup.simHash — identical output.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](60)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val h = Md5Hash.hash60(toks.getUTF8String(i).toString)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 128-bit SimHash over a token array (with multiplicity): per-bit vote sum
  * of full-md5 token hashes, emitted as `array<long>` `[w0, w1]` — w0's bit b
  * is the vote sign of bit b of md5 hex digits 1–16, w1 of digits 17–32
  * (each word bit-compatible with DuckDB's UBIGINT recompute). The 100 TB
  * variant of [[SimHash60]]: twice the signature width means block keys up
  * to 32/64 bits for the same hamming tolerance, keeping pigeonhole buckets
  * small at 10^9+ documents.
  */
case class SimHash128(child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash128"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](128)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val (w0, w1) = Md5Hash.hash128(toks.getUTF8String(i).toString)
      var b = 0
      while (b < 64) {
        if (((w0 >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        if (((w1 >> b) & 1L) == 1L) votes(64 + b) += 1 else votes(64 + b) -= 1
        b += 1
      }
      i += 1
    }
    val out = new Array[Long](2)
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out(0) |= (1L << b)
      if (votes(64 + b) > 0) out(1) |= (1L << b)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-random-projection bucket over an array<float> embedding: bit j is the
  * sign of dot(plane_j, vec) with deterministic md5-derived hyperplanes
  * plane_j[d] = hash32("plane:j:d") / 2^31 - 1 — the salt and planes the
  * DuckDB oracles replay, but the plane components are computed once per (bits, dims) and
  * cached, not re-hashed per row.
  */
case class SrpBucket(child: Expression, bits: Int)
    extends UnaryExpression with NativeUnaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "srp_bucket"

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def planes(dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dims, d =>
      Array.tabulate(bits, d)((j, dim) =>
        Md5Hash.hash32(s"plane:$j:$dim").toDouble / 2147483648.0 - 1.0))

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val dims = vec.numElements()
    val ps = planes(dims)
    var bucket = 0L
    var j = 0
    while (j < bits) {
      val p = ps(j)
      var dot = 0.0
      var d = 0
      while (d < dims) { dot += vec.getFloat(d).toDouble * p(d); d += 1 }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss random projection of an `array<float>` embedding to
  * `outDims` dimensions with a Rademacher (±1) matrix: out_j = Σ_d s_jd·x_d,
  * s_jd = +1 when md5-hash32("jl:j:d") is even, −1 otherwise — the signs
  * are content-addressed, so corpus and queries project identically on any
  * cluster with no matrix to distribute, and the DuckDB oracle can replay
  * them. Each accumulator is a strict left-to-right double fold (d order)
  * cast to float at the end — bit-stable across engines. Distance-preserving
  * in expectation (JL lemma); re-rank survivors in the original space when
  * exactness matters.
  */
case class JlProject(child: Expression, outDims: Int)
    extends UnaryExpression with NativeUnaryCodegen {
  require(outDims > 0, s"outDims must be positive, got $outDims")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "jl_project"

  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def signs(dims: Int): Array[Array[Double]] =
    signCache.computeIfAbsent(dims, d =>
      Array.tabulate(outDims, d)((j, dim) =>
        if (Md5Hash.hash32(s"jl:$j:$dim") % 2 == 0) 1.0 else -1.0))

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val dims = vec.numElements()
    val ss = signs(dims)
    val out = new Array[Float](outDims)
    var j = 0
    while (j < outDims) {
      val s = ss(j)
      var acc = 0.0
      var d = 0
      while (d < dims) { acc += s(d) * vec.getFloat(d).toDouble; d += 1 }
      out(j) = acc.toFloat
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** POSITIONAL word k-gram md5 hashes of a token array, one compiled pass:
  * output[i] hashes the space-joined gram starting at token i (docs
  * shorter than k yield ONE whole-text hash), with `bits` = 60 the
  * first 15 md5 hex digits (`shingle_fps60` — bit-identical to
  * `posexplode(wordShingles(text,k))` + `TextFunctions.fingerprint64(gram)`)
  * and `bits` = 32 the first 8 (`shingle_fps32` — `TextFunctions.hash32`,
  * the [0, 2^32) domain of the KMV overlap sketch's estimator). DuckDB
  * replays both with `('0x' || substring(md5(gram), 1, n))::BIGINT`, but
  * here the gram strings never leave the loop (no per-gram UTF8String in
  * the plan, no interpreted lambda). Non-distinct by design: the
  * profile/mask operators need every occurrence with its position;
  * `array_distinct` of the 60-bit form is the shingle fingerprint set the
  * dedup joins read.
  */
case class ShingleFps(child: Expression, shingleK: Int, bits: Int)
    extends UnaryExpression with NativeUnaryCodegen {
  require(bits == 32 || bits == 60, s"bits must be 32 or 60, got $bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = s"shingle_fps$bits"

  override protected def nullSafeEval(input: Any): Any = {
    val grams = WordGrams(WordGrams.words(input.asInstanceOf[ArrayData]), shingleK)
    val out = new Array[Long](grams.length)
    var i = 0
    while (i < grams.length) {
      out(i) = if (bits == 60) Md5Hash.hash60(grams(i)) else Md5Hash.hash32(grams(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints (Schleimer/Wilkens/Aiken, SIGMOD'03) over a token
  * array, one compiled pass: ordered word k-shingles → md5-32 hashes →
  * minimum of every `window`-wide sliding window → distinct (first-seen
  * order). Docs with <= window shingles contribute their global minimum.
  * Bit-identical to the HOF formulation this replaces
  * (graft.operators.Dedup.winnowFingerprints's oracle).
  */
case class WinnowFingerprints(child: Expression, shingleK: Int, window: Int)
    extends UnaryExpression with NativeUnaryCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = WordGrams(WordGrams.words(input.asInstanceOf[ArrayData]), shingleK)
      .map(Md5Hash.hash32(_))
    val m = hashes.length
    val fps = new java.util.LinkedHashSet[java.lang.Long]()
    if (m <= window) {
      var mn = Long.MaxValue
      var i = 0
      while (i < m) { if (hashes(i) < mn) mn = hashes(i); i += 1 }
      fps.add(mn)
    } else {
      var i = 0
      while (i <= m - window) {
        var mn = Long.MaxValue
        var j = i
        while (j < i + window) { if (hashes(j) < mn) mn = hashes(j); j += 1 }
        fps.add(mn)
        i += 1
      }
    }
    val arr = new Array[Long](fps.size)
    val it = fps.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined chunking of a token array — one compiled pass. A chunk
  * boundary opens BEFORE token i (0-based, i ≥ 1) when the 32-bit hash of
  * the k-gram STARTING at i satisfies `hash & (2^maskBits - 1) == 0`:
  * boundaries are a pure function of local content, so inserting or
  * deleting a token reshapes only the chunks it touches — unlike
  * fixed-stride windows, where one insertion shifts every downstream
  * segment (the rsync/LBFS boundary idea, applied to token streams for
  * chunk-level dedup). Expected chunk length ≈ 2^maskBits tokens.
  *
  * Output: array<struct<start_tok, n_tok, chunk_text>> with 1-based
  * start positions; docs shorter than k tokens (or empty) yield one
  * whole-text chunk. Gram hashing is bit-identical to `shingle_fps32`,
  * so DuckDB replays the boundary rule with the same md5-prefix modulus.
  */
case class CdcChunks(child: Expression, shingleK: Int, maskBits: Int)
    extends UnaryExpression with NativeUnaryCodegen {
  require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
  require(maskBits >= 1 && maskBits <= 30,
    s"maskBits must be in [1, 30], got $maskBits")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start_tok", IntegerType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any = {
    val words = WordGrams.words(input.asInstanceOf[ArrayData])
    val n = words.length
    val mask = (1 << maskBits) - 1
    val starts = scala.collection.mutable.ArrayBuffer(0)
    // gram 0 is no boundary, and a doc shorter than k has only that one
    val grams = WordGrams(words, shingleK)
    var i = 1
    while (i < grams.length) {
      if ((Md5Hash.hash32(grams(i)) & mask) == 0L) starts += i
      i += 1
    }
    val rows = new Array[Any](starts.length)
    var c = 0
    while (c < starts.length) {
      val s = starts(c)
      val e = if (c + 1 < starts.length) starts(c + 1) else n
      val text = words.slice(s, e).mkString(" ")
      rows(c) = org.apache.spark.sql.catalyst.InternalRow(
        s + 1, e - s, UTF8String.fromString(text))
      c += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level entry points. */
object HashFunctions {
  def winnowFingerprints(tokens: Column, shingleK: Int, window: Int): Column =
    ExpressionUtilsShim.column(
      WinnowFingerprints(ExpressionUtilsShim.expr(tokens), shingleK, window))
  def shingleFps60(tokens: Column, shingleK: Int): Column =
    ExpressionUtilsShim.column(
      ShingleFps(ExpressionUtilsShim.expr(tokens), shingleK, 60))
  def shingleFps32(tokens: Column, shingleK: Int): Column =
    ExpressionUtilsShim.column(
      ShingleFps(ExpressionUtilsShim.expr(tokens), shingleK, 32))
  def cdcChunks(tokens: Column, shingleK: Int, maskBits: Int): Column =
    ExpressionUtilsShim.column(
      CdcChunks(ExpressionUtilsShim.expr(tokens), shingleK, maskBits))
  def minHashSignature(tokens: Column, shingleK: Int, numHashes: Int): Column =
    ExpressionUtilsShim.column(MinHashSignature(ExpressionUtilsShim.expr(tokens), shingleK, numHashes))
  def simHash60(tokens: Column): Column =
    ExpressionUtilsShim.column(SimHash60(ExpressionUtilsShim.expr(tokens)))
  def simHash128(tokens: Column): Column =
    ExpressionUtilsShim.column(SimHash128(ExpressionUtilsShim.expr(tokens)))
  def srpBucket(vec: Column, bits: Int): Column =
    ExpressionUtilsShim.column(SrpBucket(ExpressionUtilsShim.expr(vec), bits))
  def jlProject(vec: Column, outDims: Int): Column =
    ExpressionUtilsShim.column(JlProject(ExpressionUtilsShim.expr(vec), outDims))
}

private object ExpressionUtilsShim {
  import org.apache.spark.sql.classic.ExpressionUtils
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
