package graft.functions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.{PackInt8, PqAdcPacked}
import org.apache.spark.sql.types._

/** Properties tying the packed-binary scoring expressions to their array
  * forms — evaluated through the interpreted `eval` path (the DataFrame
  * specs cover the codegen path), so both execution modes of each
  * expression are pinned to the same arithmetic.
  */
object VectorExprProps extends Properties("VectorExpressions") {

  private def ints(xs: Seq[Int]) =
    Literal.create(xs, ArrayType(IntegerType))
  private def longs(xs: Seq[Long]) =
    Literal.create(xs, ArrayType(LongType))
  private def bin(b: Array[Byte]) = Literal.create(b, BinaryType)

  property("PackInt8 round-trips signed int8 codes byte for byte") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127))) { code =>
      PackInt8(ints(code)).eval(null).asInstanceOf[Array[Byte]]
        .map(_.toInt).toList == code
    }

  private val adcCase: Gen[(List[Int], Int, List[Long])] = for {
    m <- Gen.chooseNum(1, 6)
    j <- Gen.chooseNum(1, 9)
    code <- Gen.listOfN(m, Gen.chooseNum(0, j - 1))
    lut <- Gen.listOfN(m * j, Gen.chooseNum(-100000L, 100000L))
  } yield (code, j, lut)

  property("PqAdcPacked equals the per-subspace lookup sum") =
    forAll(adcCase) { case (code, j, lut) =>
      val packed = PackInt8(ints(code)).eval(null).asInstanceOf[Array[Byte]]
      val want = code.zipWithIndex.map { case (e, s) => lut(s * j + e) }.sum
      PqAdcPacked(bin(packed), longs(lut)).eval(null) == want
    }

  property("PqAdcPacked nulls on out-of-range entries and bad LUT sizes") =
    forAll(adcCase) { case (code, j, lut) =>
      val tooBig = PackInt8(ints(code.updated(0, j))).eval(null)
        .asInstanceOf[Array[Byte]] // entry == j is one past the table
      val overRange = PqAdcPacked(bin(tooBig), longs(lut)).eval(null) == null
      // growing the code by one byte breaks lut.length % code.length
      // whenever the LUT is non-trivial (m*j not divisible by m+1 is the
      // common case; skip the coincidental divisible draws)
      val stretched = PackInt8(ints(0 :: code)).eval(null).asInstanceOf[Array[Byte]]
      val badSize = lut.size % (code.size + 1) != 0 &&
        PqAdcPacked(bin(stretched), longs(lut)).eval(null) != null
      overRange && !badSize
    }
}
