package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One-pass covariance moments: row count, per-dimension quantized sums,
  * and the flattened d×d outer-product sums — ALL exact longs, so the
  * aggregation is order-free however Spark partitions it. (n = moments(0),
  * S_i = moments(1+i), P_ij = moments(1+d+i·d+j).)
  */
case class CovMomentsBuf(moments: Array[Long])

/** Aggregates `array<float>` vectors into exact integer covariance moments
  * at 2^bits fixed point: q_i = round(x_i·2^bits) per the
  * [[graft.operators.EmbeddingStats]] quantization stance, then
  * n / Σq_i / Σq_i·q_j accumulate in one O(d²)-per-row pass over a
  * primitive long buffer — the map-side-combine shape: every partition
  * reduces to ONE (1+d+d²)-long buffer before the exchange, and vectors
  * never shuffle. Overflow bound (ANSI throws past it): with unit-scale
  * inputs P_ij ≤ n·2^2bits, so bits ≤ (62 − log2 n)/2 — 20 bits covers
  * 4·10⁶ rows, 16 bits covers 10⁹.
  */
case class CovMomentsAggregator(bits: Int)
    extends Aggregator[Seq[Float], CovMomentsBuf, CovMomentsBuf] {
  require(bits > 0 && bits < 31, s"bits out of range: $bits")
  private val scale = math.pow(2, bits)

  override def zero: CovMomentsBuf = CovMomentsBuf(Array.emptyLongArray)

  private def alloc(d: Int) = new Array[Long](1 + d + d * d)

  override def reduce(b: CovMomentsBuf, v: Seq[Float]): CovMomentsBuf = {
    if (v == null) return b
    val d = v.length
    val m = if (b.moments.isEmpty) alloc(d) else b.moments
    require(m.length == 1 + d + d * d,
      s"embedding length mismatch: $d vs buffer ${m.length}")
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      // HALF-AWAY-FROM-ZERO, matching SQL round() in Spark AND DuckDB
      // (math.round is half-toward-+inf and disagrees on negative .5s;
      // x·2^bits is exact for float x, so the .5 case really occurs)
      val t = v(i).toDouble * scale
      q(i) = (if (t >= 0) math.floor(t + 0.5) else math.ceil(t - 0.5)).toLong
      i += 1
    }
    m(0) += 1L
    i = 0
    while (i < d) {
      m(1 + i) = math.addExact(m(1 + i), q(i))
      val row = 1 + d + i * d
      var j = 0
      while (j < d) {
        // multiplyExact too: an unchecked q(i)*q(j) wraps silently on
        // non-unit-scale inputs and defeats the throws-past-the-bound
        // contract the addExact guard promises
        m(row + j) = math.addExact(m(row + j),
          math.multiplyExact(q(i), q(j)))
        j += 1
      }
      i += 1
    }
    CovMomentsBuf(m)
  }

  override def merge(a: CovMomentsBuf, b: CovMomentsBuf): CovMomentsBuf =
    if (a.moments.isEmpty) b
    else if (b.moments.isEmpty) a
    else {
      require(a.moments.length == b.moments.length,
        s"buffer length mismatch: ${a.moments.length} vs ${b.moments.length}")
      var i = 0
      while (i < a.moments.length) {
        a.moments(i) = math.addExact(a.moments(i), b.moments(i))
        i += 1
      }
      a
    }

  override def finish(r: CovMomentsBuf): CovMomentsBuf = r

  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  override def bufferEncoder: Encoder[CovMomentsBuf] = enc
  override def outputEncoder: Encoder[CovMomentsBuf] = enc
}

object VectorAgg {
  /** `covMoments(bits)(embeddingCol)` → struct(moments: array<long>) of
    * exact covariance moments (see [[CovMomentsAggregator]]).
    */
  def covMoments(bits: Int): Column => Column = {
    val f = udaf(CovMomentsAggregator(bits))
    (v: Column) => f(v)
  }
}
