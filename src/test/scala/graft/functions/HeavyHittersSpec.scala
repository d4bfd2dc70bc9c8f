package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The heavy-hitters column form ([[FrequencySketch.mgTopK]], the one
  * Misra-Gries aggregator) end to end through Spark's aggregation:
  * partial buffers, shuffle merge, null handling and output order.
  * FrequencySketchSpec/Props drive the aggregator object directly.
  */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // 1000 terms: "hot" 400×, "warm" 300×, "mild" 200×, t0..t99 1× each
  private def terms = (Seq.fill(400)("hot") ++ Seq.fill(300)("warm") ++
    Seq.fill(200)("mild") ++ (0 until 100).map(i => s"t$i"))
    .toDF("term").repartition(8)

  private def topK(df: DataFrame, k: Int): Array[(String, Long)] =
    df.agg(FrequencySketch.mgTopK(k, k)(col("term")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select($"e._1", $"e._2").as[(String, Long)].collect()

  test("exact when capacity >= distinct terms, partitioning-invariant") {
    val exact = terms.groupBy("term").count().as[(String, Long)].collect().toMap
    assert(topK(terms.repartition(1), 200).toMap === exact)
    assert(topK(terms.repartition(8), 200).toMap === exact)
  }

  test("MG guarantee: terms above n/(capacity+1) survive, counts never overestimate") {
    val n = 1000L
    val capacity = 9 // threshold n/(k+1) = 100 — hot/warm/mild must survive
    val out = topK(terms, capacity).toMap
    assert(out.size <= capacity)
    assert(out.contains("hot") && out.contains("warm") && out.contains("mild"), out)
    val exact = Map("hot" -> 400L, "warm" -> 300L, "mild" -> 200L)
    exact.foreach { case (t, c) =>
      assert(out(t) <= c, s"$t overestimated: ${out(t)} > $c")
      assert(out(t) >= c - n / (capacity + 1), s"$t underestimated past bound")
    }
  }

  test("nulls are ignored; empty input yields empty summary") {
    val withNulls = Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("term")
    assert(topK(withNulls, 10).toMap === Map("a" -> 2L, "b" -> 1L))
    assert(topK(Seq.empty[String].toDF("term"), 10).isEmpty)
  }

  test("finish orders by (-count, term)") {
    val out = topK(Seq("b", "a", "b", "c", "a", "b").toDF("term"), 10)
    assert(out.toSeq === Seq(("b", 3L), ("a", 2L), ("c", 1L)))
  }
}
