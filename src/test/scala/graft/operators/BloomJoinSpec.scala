package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = (0L until 2000L)
    .map(i => (i, s"doc body number $i"))
    .toDF("id", "text")
  // needles: 20 texts present in the corpus + 5 absent ones
  private lazy val needles = ((0L until 100L by 5).map(i => s"doc body number $i")
    ++ (0 until 5).map(i => s"missing needle $i"))
    .toDF("ntext")

  test("bloomAntiJoin equals plain left_anti, preserves all columns") {
    val got = Dedup.bloomAntiJoin(corpus, col("text"), needles, col("ntext"))
    assert(got.columns.toSeq === Seq("id", "text"))
    val want = corpus.join(needles, col("text") === col("ntext"), "left_anti")
      .select("id").as[Long].collect().sorted
    assert(got.select("id").as[Long].collect().sorted.toSeq === want.toSeq)
    assert(want.length === 1980)
  }

  test("bloom probe prunes the non-matching bulk before the join") {
    import org.apache.spark.sql.graft.BloomFunctions
    // build the same bloom the operator builds and measure pass-through
    val n = needles.count()
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, 0.01)
    val bytes = needles
      .select(BloomFunctions.bloomAgg(BloomFunctions.keyHash(col("ntext")), n, bits))
      .head.getAs[Array[Byte]](0)
    val pass = corpus
      .filter(BloomFunctions.mightContain(bytes, BloomFunctions.keyHash(col("text"))))
      .count()
    // 20 true matches; fpp=1% of the other 1980 rows ≈ 20 — allow slack
    assert(pass >= 20 && pass < 100, s"bloom passed $pass of 2000 rows")
  }

  test("empty needle set: anti is identity") {
    val none = needles.limit(0)
    assert(Dedup.bloomAntiJoin(corpus, col("text"), none, col("ntext")).count() === 2000)
  }

  test("fpp is validated") {
    // the operator's bloom, sized for BloomFpp at the needle count, passes
    // about that share of non-members — and never drops a member
    import org.apache.spark.sql.graft.BloomFunctions
    val members = (0 until 1000).map(i => s"needle $i").toDF("k")
    val bytes = Dedup.buildBloom(members, col("k")).get
    def passed(df: org.apache.spark.sql.DataFrame) = df
      .filter(BloomFunctions.mightContain(bytes, BloomFunctions.keyHash(col("k"))))
      .count()
    assert(passed(members) === 1000L)
    val probes = (0 until 20000).map(i => s"probe $i").toDF("k")
    val rate = passed(probes) / 20000.0
    assert(rate >= Dedup.BloomFpp / 4 && rate <= 2 * Dedup.BloomFpp,
      s"measured fpp $rate for a bloom sized at ${Dedup.BloomFpp}")
  }
}
