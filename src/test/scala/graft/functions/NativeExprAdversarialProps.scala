package graft.functions

import scala.collection.mutable

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types._

/** Adversarial-input properties for the native expression layer \u2014 the
  * codegen paths the ASCII oracle corpus never stresses. Two families:
  *
  *  1. every unary text/hash expression must produce IDENTICAL results
  *     through the codegen'd unsafe projection and the interpreted `eval`
  *     path on strings full of surrogate pairs, LONE surrogates (invalid
  *     UTF-16), zero-width characters, combining marks, and bidi controls
  *     \u2014 and must never throw on them (a crawl corpus contains all of
  *     these);
  *  2. `m_add` (MapUnionLastWin) must match a reference LAST_WIN model at
  *     any arity and nesting, null-propagate, and keep codegen ==
  *     interpreted through the split-function path at wide arity (200
  *     children exercises ctx.splitExpressionsWithCurrentInputs).
  */
object NativeExprAdversarialProps extends Properties("NativeExprAdversarial") {

  // ---------------------------------------------- adversarial string gen

  private val atoms: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf(" ", "\t", "\n", "\r", "  ", ""),
    Gen.oneOf("\u200b", "\u200c", "\u200d", "\ufeff"), // zero-width
    Gen.oneOf("\u0301", "\u0308", "\u20dd"), // combining marks
    Gen.oneOf("\u202e", "\u2066", "\u2069"), // bidi controls
    Gen.oneOf("\ud83d\ude00", "\ud835\udd18", // astral surrogate pairs
      "\ud83c\udff3\ufe0f\u200d\ud83c\udf08"), // ZWJ flag sequence
    Gen.oneOf("\ud800", "\udc00", "\ud83d"), // LONE surrogates
    Gen.oneOf("the", "und", "der", "la", "le", "de")) // stopword hits
  private val weird: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, atoms)).map(_.mkString)
  // the signature expressions take pre-tokenized array<string> input
  private val weirdTokens: Gen[Seq[String]] =
    Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, atoms))

  /** codegen'd unsafe projection == interpreted eval (converted to Scala so
    * Unsafe vs Generic container classes compare by value), and neither
    * path throws.
    */
  private def agreeOn[A](inputType: DataType, gen: Gen[A])(
      mk: Expression => Expression): Prop = {
    val expr = mk(BoundReference(0, inputType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val outConv = CatalystTypeConverters.createToScalaConverter(expr.dataType)
    val inConv = CatalystTypeConverters.createToCatalystConverter(inputType)
    forAll(gen) { v =>
      val row = InternalRow(inConv(v))
      outConv(proj(row).get(0, expr.dataType)) == outConv(expr.eval(row))
    }
  }
  private def agreeStr(mk: Expression => Expression): Prop =
    agreeOn(StringType, weird)(mk)
  private def agreeToks(mk: Expression => Expression): Prop =
    agreeOn(ArrayType(StringType), weirdTokens)(mk)

  property("TextStats codegen == interpreted on adversarial Unicode") =
    agreeStr(TextStats(_))
  property("MinHashSignature codegen == interpreted on adversarial Unicode") =
    agreeToks(MinHashSignature(_, shingleK = 3, numHashes = 16))
  property("SimHash60 codegen == interpreted on adversarial Unicode") =
    agreeToks(SimHash60(_))
  property("SimHash128 codegen == interpreted on adversarial Unicode") =
    agreeToks(SimHash128(_))
  property("WinnowFingerprints codegen == interpreted on adversarial Unicode") =
    agreeToks(WinnowFingerprints(_, shingleK = 3, window = 4))
  property("ShingleFps60 codegen == interpreted on adversarial Unicode") =
    agreeToks(ShingleFps(_, shingleK = 3, bits = 60))
  property("ShingleFps32 codegen == interpreted on adversarial Unicode") =
    agreeToks(ShingleFps(_, shingleK = 3, bits = 32))
  property("CdcChunks codegen == interpreted on adversarial Unicode") =
    agreeToks(CdcChunks(_, shingleK = 3, maskBits = 2))
  property("NfcNormalize codegen == interpreted on adversarial Unicode") =
    agreeStr(NfcNormalize(_))
  property("LangScores codegen == interpreted on adversarial Unicode") =
    agreeStr(LangScores(_))
  property("CharNgrams codegen == interpreted on adversarial Unicode") =
    agreeStr(CharNgrams(_, n = 3))
  property("CharNgramDimCounts codegen == interpreted on adversarial " +
      "Unicode (incl. lone surrogates through the UTF-8 byte walk)") =
    agreeStr(CharNgramDimCounts(_, n = 3, dims = 16))

  /** CharNgramDimCounts must equal the per-gram model: total count ==
    * number of grams (max(1, cps−n+1) — short/empty text is ONE
    * whole-text gram), each dim within [0, dims). Valid-UTF-16 only for
    * the count identity (lone surrogates replace differently between the
    * String gram path and the byte-walk; the codegen==interpreted
    * property above covers those).
    */
  property("CharNgramDimCounts count/range model on valid Unicode") = {
    val validAtoms = atoms.suchThat(s =>
      !s.exists(ch => Character.isSurrogate(ch)))
    val valid = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, validAtoms)).map(_.mkString)
    forAll(valid) { s =>
      val expr = CharNgramDimCounts(
        BoundReference(0, StringType, nullable = true), n = 3, dims = 16)
      val out = expr.eval(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val rows = (0 until out.numElements())
        .map(i => out.getStruct(i, 2))
      val total = rows.map(_.getLong(1)).sum
      val cps = s.codePointCount(0, s.length)
      val grams = math.max(1, cps - 3 + 1).toLong
      total == grams && rows.forall(r =>
        r.getInt(0) >= 0 && r.getInt(0) < 16 && r.getLong(1) > 0) &&
        rows.map(_.getInt(0)) == rows.map(_.getInt(0)).sorted
    }
  }

  // ------------------------------------- shingle fingerprint gram model

  /** Valid-UTF-16 tokens for the gram models — lone surrogates take
    * different replacement-char paths in String.getBytes vs UTF8String,
    * which the codegen==interpreted properties cover. Non-ASCII, empty
    * tokens and tokens holding a space are all in.
    */
  private val gramTokens: Gen[Seq[String]] =
    Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
        Gen.oneOf("the", "über", "😀", "a b", ""))))
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  private def fp60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
  /** Positional space-joined k-grams, the whole text when shorter than k —
    * the TextFunctions.wordShingles model. */
  private def grams(toks: Seq[String], k: Int): Seq[String] =
    if (toks.length < k) Seq(toks.mkString(" "))
    else toks.sliding(k).map(_.mkString(" ")).toSeq

  private def shingleFps(toks: Seq[String], k: Int, bits: Int): Seq[Long] = {
    val expr = ShingleFps(
      BoundReference(0, ArrayType(StringType), nullable = true), k, bits)
    val inConv = CatalystTypeConverters.createToCatalystConverter(ArrayType(StringType))
    val outConv = CatalystTypeConverters.createToScalaConverter(expr.dataType)
    outConv(expr.eval(InternalRow(inConv(toks)))).asInstanceOf[Seq[Long]]
  }

  /** shingle_fps60 must equal the HOF formulation it replaces: positional
    * grams hashed with fingerprint64's md5-60 truncation. */
  property("ShingleFps60 == positional gram + fingerprint64 model") =
    forAll(gramTokens) { toks =>
      shingleFps(toks, 3, 60) == grams(toks, 3).map(fp60)
    }

  /** shingle_fps32 must equal the same positional-gram model under the
    * hash32 (first-8-md5-hex) fold — the contract the overlap_sketch
    * DuckDB oracle replays.
    */
  property("ShingleFps32 == positional gram + hash32 model") =
    forAll(gramTokens) { toks =>
      shingleFps(toks, 3, 32) == grams(toks, 3).map(h32)
    }

  /** The dedup joins' shingle fingerprint set, `array_distinct` of the
    * 60-bit form, must equal fp60 of the DISTINCT shingle strings in
    * first-occurrence order (the set the joins read before they went
    * native): the same size and the same elements. Covers docs shorter
    * than k (k up to 5 against up to 9 tokens), empty tokens and
    * non-ASCII text.
    */
  property("distinct ShingleFps60 == fp60 of the distinct shingle strings") =
    forAll(gramTokens, Gen.chooseNum(1, 5)) { (toks, k) =>
      val set = ArrayDistinct(ShingleFps(
        BoundReference(0, ArrayType(StringType), nullable = true), k, 60))
      val got = CatalystTypeConverters.createToScalaConverter(set.dataType)(
        set.eval(InternalRow(CatalystTypeConverters
          .createToCatalystConverter(ArrayType(StringType))(toks))))
      got == grams(toks, k).distinct.map(fp60)
    }

  // --------------------------------------------------- m_add properties

  private val mt = MapType(StringType, StringType)
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(mt)

  private val keyGen = Gen.oneOf("a", "b", "c", "d", "\u00e9",
    "\ud83d\ude00k", "\u200bz")
  private val mapGen: Gen[Seq[(String, String)]] = for {
    n <- Gen.chooseNum(0, 5)
    kv <- Gen.listOfN(n, Gen.zip(keyGen, Gen.alphaNumStr.map(_.take(4))))
  } yield kv

  /** Reference model: first occurrence wins position, last wins value. */
  private def model(ms: Seq[Seq[(String, String)]]): Seq[(String, String)] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    ms.foreach(_.foreach { case (k, v) => out.put(k, v) })
    out.toSeq
  }

  private def pairs(md: MapData): Seq[(String, String)] = {
    val ks = md.keyArray(); val vs = md.valueArray()
    (0 until md.numElements()).map(i =>
      (ks.getUTF8String(i).toString, vs.getUTF8String(i).toString))
  }

  private def lit(m: Seq[(String, String)]): Expression =
    org.apache.spark.sql.catalyst.expressions.Literal
      .create(toCatalyst(m.foldLeft(
        mutable.LinkedHashMap.empty[String, String]) { case (acc, (k, v)) =>
          acc.put(k, v); acc }), mt)

  property("m_add matches the LAST_WIN model at any arity") = {
    val msGen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, mapGen))
    forAll(msGen) { ms =>
      // Literal maps already dedup per-map (scala map semantics), so the
      // model gets the same per-child deduped views
      val deduped = ms.map(m => model(Seq(m)))
      val got = MapUnionLastWin(deduped.map(lit)).eval(null)
      pairs(got.asInstanceOf[MapData]) == model(deduped)
    }
  }

  property("m_add nesting flattens: m_add(m_add(a,b),c) == m_add(a,b,c)") =
    forAll(Gen.listOfN(3, mapGen)) { case Seq(a, b, c) =>
      val (da, db, dc) = (model(Seq(a)), model(Seq(b)), model(Seq(c)))
      val nested = MapUnionLastWin(Seq(
        MapUnionLastWin(Seq(lit(da), lit(db))), lit(dc))).eval(null)
      val flat = MapUnionLastWin(Seq(lit(da), lit(db), lit(dc))).eval(null)
      pairs(nested.asInstanceOf[MapData]) == pairs(flat.asInstanceOf[MapData])
    }

  property("m_add null child nulls the result at any position") =
    forAll(Gen.chooseNum(0, 3), Gen.listOfN(4, mapGen)) { (pos, ms) =>
      val kids = ms.map(m => lit(model(Seq(m)))).updated(pos,
        org.apache.spark.sql.catalyst.expressions.Literal.create(null, mt))
      MapUnionLastWin(kids).eval(null) == null
    }

  property("m_add codegen == interpreted at arities 1/3/7/40/200 " +
      "(200 exercises the split-function path)") = {
    val arities = Seq(1, 3, 7, 40, 200)
    val compiled = arities.map { n =>
      val expr = MapUnionLastWin(
        (0 until n).map(i => BoundReference(i, mt, nullable = true)))
      (n, expr, GenerateUnsafeProjection.generate(Seq(expr)))
    }
    forAll(Gen.listOfN(8, mapGen), Gen.chooseNum(0, 1000)) { (pool, salt) =>
      compiled.forall { case (n, expr, proj) =>
        val maps = (0 until n).map(i =>
          toCatalyst(model(Seq(pool(
            (i + salt) % pool.length))).toMap))
        val row = InternalRow.fromSeq(maps)
        val gen = proj(row).get(0, mt).asInstanceOf[MapData]
        val interp = expr.eval(row).asInstanceOf[MapData]
        pairs(gen) == pairs(interp)
      }
    }
  }
}
